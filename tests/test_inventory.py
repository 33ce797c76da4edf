"""Gap/completeness detection and verify's prune pipeline over archive-tree
fixtures, planned by ``core.inventory_plan`` on the parsed listing.

Mirrors the reference's e2e scenarios (``storage/mod.rs:290-610`` gap
cases; ``verify.rs:373-457`` dup/overlap handling; ``verify.rs:237-267``
small-range islands) with golden assertions on the resulting work lists.
"""

import os

import pytest
from pyspark.sql import functions as F

from dshackle_archive_spark.core import DataKind, Range, range_file_path, single_file_path
from dshackle_archive_spark.core import inventory_plan as IP
from dshackle_archive_spark.operators import inventory as INV
from dshackle_archive_spark.sources import archive as ARC


def make_tree(root, specs):
    """specs: list of (height_or_range, kind, hash?) -> touch files."""
    for spec in specs:
        rng, kind = spec[0], spec[1]
        h = spec[2] if len(spec) > 2 else None
        if isinstance(rng, int):
            rel = single_file_path(rng, kind, block_hash=h)
        else:
            rel = range_file_path(rng, kind)
        p = os.path.join(root, "eth", rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").close()


def inv_for(tmp_path, specs):
    make_tree(str(tmp_path), specs)
    return ARC.list_inventory(str(tmp_path), "eth")


def missing(tmp_path, specs, lo, hi, kinds=("blocks", "transactions")):
    return sorted(IP.missing_ranges(inv_for(tmp_path, specs), Range(lo, hi), kinds))


def no_live_hash(height):
    raise AssertionError(f"no fork at {height}: the live chain must not be asked")


B, T, R = DataKind.BLOCKS, DataKind.TRANSACTIONS, DataKind.TRACES


def test_complete_singles_no_gaps(tmp_path):
    # scenario 1: fully complete range, singles only
    specs = [(h, k) for h in range(100, 110) for k in (B, T)]
    assert missing(tmp_path, specs, 100, 109) == []


def test_missing_one_table_one_height(tmp_path):
    # scenario 2
    specs = [(h, B) for h in range(100, 110)] + [(h, T) for h in range(100, 110) if h != 105]
    assert missing(tmp_path, specs, 100, 109) == [("transactions", 105, 105)]


def test_full_gap(tmp_path):
    # scenario 3: height with no files at all
    specs = [(h, k) for h in (100, 101, 103) for k in (B, T)]
    assert missing(tmp_path, specs, 100, 103) == [
        ("blocks", 102, 102),
        ("transactions", 102, 102),
    ]


def test_large_gap_across_level2_dirs(tmp_path):
    # scenario 4: gap spanning level-2 dirs (999..2001)
    specs = [(h, B) for h in (998, 999, 2002)]
    assert missing(tmp_path, specs, 998, 2002, kinds=("blocks",)) == [
        ("blocks", 1000, 2001)
    ]


def test_range_file_missing_twin(tmp_path):
    # scenario 5: range file missing its txes twin
    specs = [(Range(1000, 1999), B)]
    assert missing(tmp_path, specs, 1000, 1999) == [("transactions", 1000, 1999)]


def test_mixed_single_and_range_coverage(tmp_path):
    # scenario 6
    specs = [(Range(1000, 1999), B), (Range(1000, 1999), T)] + [
        (h, k) for h in range(2000, 2003) for k in (B, T)
    ]
    assert missing(tmp_path, specs, 1000, 2004) == [
        ("blocks", 2003, 2004),
        ("transactions", 2003, 2004),
    ]


def test_empty_archive_everything_missing(tmp_path):
    os.makedirs(tmp_path / "eth", exist_ok=True)
    assert missing(tmp_path, [], 5, 9) == [
        ("blocks", 5, 9),
        ("transactions", 5, 9),
    ]


def test_missing_ranges_clip_to_scope_and_order_by_height(tmp_path):
    # coverage reaching past both scope edges is clipped; the work list is
    # height-major, kind-minor
    specs = [(Range(0, 999), B), (Range(2000, 2999), B), (Range(0, 999), T)]
    assert IP.missing_ranges(inv_for(tmp_path, specs), Range(500, 2499),
                             ("transactions", "blocks")) == [
        ("blocks", 1000, 1999),
        ("transactions", 1000, 2499),
    ]


def test_foreign_files_ignored(spark, tmp_path):
    make_tree(str(tmp_path), [(100, B)])
    os.makedirs(tmp_path / "eth" / "000000000", exist_ok=True)
    open(tmp_path / "eth" / "README.md", "w").close()
    open(tmp_path / "eth" / "000000000" / "notes.txt", "w").close()
    assert [f.path for f in ARC.list_inventory(str(tmp_path), "eth")] == [
        single_file_path(100, B)
    ]
    assert ARC.inventory_df(spark, str(tmp_path), "eth").count() == 1


def test_group_ranges_counts_each_kind(spark, tmp_path):
    # J3 pivot: a duplicated blocks file and a missing txes twin show up in
    # the per-kind counts
    make_tree(str(tmp_path), [(100, B), (100, T), (101, B)])
    inv = ARC.inventory_df(spark, str(tmp_path), "eth")
    dup = inv.filter(F.col("start") == 100).filter(F.col("kind") == "blocks").withColumn(
        "path", F.concat(F.col("path"), F.lit(".copy"))
    )
    groups = INV.group_ranges(inv.unionByName(dup), kinds=("blocks", "transactions"))
    got = sorted((r["start"], r["n_blocks"], r["n_transactions"]) for r in groups.collect())
    assert got == [(100, 2, 1), (101, 1, 0)]
    row = groups.filter(F.col("start") == 101).first()
    assert row["path_blocks"] == single_file_path(101, B) and row["path_transactions"] is None


def test_duplicate_same_kind_same_range(tmp_path):
    # scenario 7: duplicate same-kind file for one range (fork singles carry
    # distinct hashes → not duplicates; same (range,hash) twice is)
    files = inv_for(tmp_path, [(100, B), (100, T)])
    # inject a duplicate row for the same (range, hash, kind) as a second path
    dup = [f._replace(path=f.path + ".copy") for f in files if f.kind == "blocks"]
    plan = IP.plan_verify(files + dup, ("blocks", "transactions"), no_live_hash)
    assert plan.failures == [{"start": 100, "end": 100, "reason": "duplicate"}]
    # only the duplicated kind's files are pruned; nothing survives
    assert sorted(f.path for f in plan.pruned) == sorted(
        [single_file_path(100, B), single_file_path(100, B) + ".copy"]
    )
    assert plan.survivors == [] and plan.groups_total == 1


def test_incomplete_groups_flags(tmp_path):
    files = inv_for(tmp_path, [(100, B), (100, T), (101, B)])
    plan = IP.plan_verify(files, ("blocks", "transactions"), no_live_hash)
    assert plan.failures == [{"start": 101, "end": 101, "reason": "incomplete"}]
    assert [f.path for f in plan.pruned] == [single_file_path(101, B)]
    assert sorted((f.start, f.kind) for f in plan.survivors) == [
        (100, "blocks"), (100, "transactions")
    ]


def test_dedup_largest_covering(tmp_path):
    # scenario 8: overlapping ranges → keep the widest
    specs = [(Range(1000, 1999), B), (Range(1000, 1099), B), (Range(1050, 1149), B)]
    plan = IP.plan_verify(inv_for(tmp_path, specs), ("blocks",), no_live_hash)
    keep = sorted((f.start, f.end) for f in plan.survivors)
    drop = sorted((f.start, f.end) for f in plan.pruned if f.reason == "overlap_loser")
    assert keep == [(1000, 1999)]
    assert drop == [(1000, 1099), (1050, 1149)]


def test_touching_ranges_are_not_overlap_rivals(tmp_path):
    specs = [(Range(1000, 1099), B), (Range(1100, 1199), B), (Range(1100, 1149), B)]
    plan = IP.plan_verify(inv_for(tmp_path, specs), ("blocks",), no_live_hash)
    assert sorted((f.start, f.end) for f in plan.survivors) == [(1000, 1099), (1100, 1199)]
    assert [(f.start, f.end) for f in plan.pruned] == [(1100, 1149)]


def test_prune_precedence_fork_before_overlap_before_incomplete(tmp_path):
    # fork before overlap: the dead single has the lower hash, so W3 alone
    # would keep it over the live one
    live, dead = "b" * 64, "a" * 64
    specs = [(500, B, live), (500, B, dead), (Range(600, 699), B), (Range(600, 649), B)]
    asked = []

    def block_hash(h):
        asked.append(h)
        return live

    plan = IP.plan_verify(inv_for(tmp_path / "fork", specs), ("blocks",), block_hash)
    assert asked == [500]  # one lookup per forked height, nothing else
    assert sorted((f["start"], f["end"], f["reason"]) for f in plan.failures) == [
        (500, 500, "fork_loser"),
        (600, 649, "overlap_loser"),
    ]
    assert sorted((f.start, f.end, f.hash) for f in plan.survivors) == [
        (500, 500, live), (600, 699, None)
    ]
    # overlap before incomplete: the narrower group is complete, but loses
    # to the wider one, which then lacks its txes twin
    specs = [
        (Range(600, 699), B), (Range(600, 649), B), (Range(600, 649), T),
        (Range(700, 799), B),
    ]
    plan = IP.plan_verify(inv_for(tmp_path / "overlap", specs), ("blocks", "transactions"),
                          no_live_hash)
    assert sorted((f["start"], f["end"], f["reason"]) for f in plan.failures) == [
        (600, 649, "overlap_loser"),
        (600, 699, "incomplete"),
        (700, 799, "incomplete"),
    ]
    assert plan.survivors == []


@pytest.mark.xfail(strict=True, reason="known defect: a hashed block single and its "
                   "unhashed txes twin form rival groups, so verify prunes both")
def test_hashed_block_single_keeps_its_txes_twin(tmp_path):
    # the layout streaming writes: hash-named block singles, unhashed txes
    live = "b" * 64
    specs = [(500, B, live), (500, T), (501, B, live), (501, T)]
    plan = IP.plan_verify(inv_for(tmp_path, specs), ("blocks", "transactions"),
                          lambda h: live)
    assert plan.pruned == []


def test_merge_small_ranges(tmp_path):
    specs = [(Range(100, 104), B), (Range(105, 109), B), (Range(200, 204), B), (Range(300, 1299), B)]
    plan = IP.plan_verify(inv_for(tmp_path, specs), ("blocks",), no_live_hash)
    got = sorted((s, e, len(members)) for (s, e), members in plan.islands.items())
    assert got == [(100, 109, 2), (200, 204, 1), (300, 1299, 1)]
    assert plan.island_ends == [109, 204, 1299]
    assert plan.path_island[range_file_path(Range(105, 109), B)] == (100, 109)


def test_compact_gate_verdicts(tmp_path):
    specs = (
        [(h, k) for h in range(0, 10) for k in (B, T)]             # passes
        + [(Range(10, 19), B), (Range(10, 19), T)]                 # already compacted
        + [(h, B) for h in range(20, 30)] + [(Range(25, 34), T)]   # crosses a boundary
        + [(h, k) for h in range(40, 50) for k in (B, T) if (h, k) != (44, T)]
        + [(h, k) for h in range(50, 60) for k in (B, T)]          # + a copy of 55
        + [(Range(60, 69), B)] + [(h, T) for h in range(60, 70)]   # blocks kept as-is
    )
    files = inv_for(tmp_path, specs)
    files.append(IP.InvFile(single_file_path(55, B, fmt="parquet"), "blocks", 55, 55))
    plan = IP.plan_compact(files, Range(0, 79), 10, ("blocks", "transactions"))
    assert plan.verdicts == [
        (0, 9, None),
        (10, 19, "already compacted"),
        (20, 29, "file range crosses chunk boundary"),
        (30, 39, "file range crosses chunk boundary"),
        (40, 49, "transactions does not exactly cover the chunk"),
        (50, 59, "duplicate files in chunk"),
        (60, 69, None),
        (70, 79, "blocks does not exactly cover the chunk"),
    ]
    assert plan.passing == [(0, 9), (60, 69)]
    assert plan.exact_kinds == {0: set(), 60: {"blocks"}}
    assert sorted(plan.sources) == [(0, "blocks"), (0, "transactions"), (60, "transactions")]
    assert len(plan.sources[(60, "transactions")]) == 10
    # partial chunks at the scope edges are never candidates (C2)
    assert [v[:2] for v in IP.plan_compact(files, Range(5, 24), 10, ("blocks",)).verdicts] == [
        (10, 19)
    ]


def test_delete_files_dry_run(spark, tmp_path):
    make_tree(str(tmp_path), [(100, B)])
    rel = "eth/" + single_file_path(100, B)
    res = ARC.delete_files(str(tmp_path), [rel], dry_run=True)
    assert res.deleted == [rel] and os.path.exists(tmp_path / rel)
    res = ARC.delete_files(str(tmp_path), [rel], dry_run=False)
    assert res.deleted == [rel] and not os.path.exists(tmp_path / rel)


def test_hadoop_listing_matches_oswalk(spark, tmp_path):
    specs = [(h, k) for h in range(100, 105) for k in (B, T)] + [(Range(1000, 1999), B)]
    make_tree(str(tmp_path), specs)
    base = str(tmp_path / "eth")
    assert ARC.list_archive_files_hadoop(spark, base) == ARC.list_archive_files(base)
    assert ARC.list_archive_files_hadoop(spark, str(tmp_path / "missing")) == []


def test_hadoop_inventory_matches_python(spark, tmp_path):
    HASH64 = "b" * 64
    specs = [(100, B), (100, T), (Range(1000, 1999), B), (205, B, HASH64)]
    make_tree(str(tmp_path), specs)
    py = sorted(
        (r["path"], r["kind"], r["start"], r["end"], r["hash"])
        for r in ARC.inventory_df(spark, str(tmp_path), "eth").collect()
    )
    jvm = sorted(
        (r["path"], r["kind"], r["start"], r["end"], r["hash"])
        for r in ARC.inventory_df_hadoop(spark, str(tmp_path), "eth").collect()
    )
    assert py == jvm and len(py) == 4
    hashes = [h for *_x, h in py if h]
    assert hashes == [HASH64]


def test_observe_metrics(spark, tmp_path):
    from dshackle_archive_spark.operators.metrics import ThroughputLog, observe_table
    from dshackle_archive_spark.sources.fetcher import FetchPolicy, fetch_blocks
    from dshackle_archive_spark.sources.mock_chain import MockChain

    chain = MockChain(head_height=10_000)
    df = fetch_blocks(spark, chain, Range(0, 49), FetchPolicy(parallel=2))
    observed, obs = observe_table(df, "fetch", payload_cols=["json"])
    n = observed.count()
    assert n == 50
    got = obs.get
    assert got["n_items"] == 50 and got["bytes_json"] > 50 * 50

    log = ThroughputLog()
    for i in range(7):
        log.record(i, n_rows=100, seconds=0.5)
    s = log.sliding(5)
    assert s["n_samples"] == 5 and s["rows"] == 500 and abs(s["rows_per_sec"] - 200.0) < 1e-9


def test_salted_agg_matches_plain(spark, sf_dir):
    from dshackle_archive_spark.operators.skew import salted_agg
    from dshackle_archive_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    plain = {
        (r["event_type"],): (r["n"], r["mx"])
        for r in ev.groupBy("event_type")
        .agg(F.count("value").alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    salted = {
        (r["event_type"],): (r["n"], r["mx"])
        for r in salted_agg(
            ev, ["event_type"], {"n": ("count", "value"), "mx": ("max", "value")}, salt=8
        ).collect()
    }
    assert salted == plain


def test_salted_broadcast_left_matches_plain(spark, sf_dir):
    from dshackle_archive_spark.operators.skew import salted_broadcast_left
    from dshackle_archive_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = sorted(
        (r["o_orderkey"], r["c_name"]) for r in o.join(c, "o_custkey", "left").collect()
    )
    salted = sorted(
        (r["o_orderkey"], r["c_name"])
        for r in salted_broadcast_left(o, c, ["o_custkey"], salt=8).collect()
    )
    assert salted == plain


def test_salted_join_hotkeys_matches_plain(spark, sf_dir):
    """Targeted hot-key salting must be row-for-row equivalent to the
    plain equi-join (inner AND left, duplicate dim keys included), and
    must actually spread the hot key over multiple salts on the big
    side."""
    from dshackle_archive_spark.operators.skew import salted_join_hotkeys

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_suppkey", "l_quantity")
    )
    # dim with a duplicate row for one hot key to exercise multiplicity
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )
    hot = [r["l_suppkey"] for r in
           li.groupBy("l_suppkey").count().orderBy("count", ascending=False)
           .limit(2).collect()]
    dup = supp.filter(F.col("s_suppkey") == hot[0])
    dim = supp.union(dup).withColumnRenamed("s_suppkey", "l_suppkey")

    for how in ("inner", "left"):
        plain = sorted(
            (tuple(r) for r in li.join(dim, "l_suppkey", how).collect()),
            key=repr,
        )
        salted = sorted(
            (tuple(r) for r in
             salted_join_hotkeys(li, dim, "l_suppkey", hot, salt=8, how=how)
             .collect()),
            key=repr,
        )
        assert salted == plain, how

    # the hot key's big-side rows really fan out over >1 salt value
    from dshackle_archive_spark.operators.skew import salted_join_hotkeys as _
    big_s = li.withColumn(
        "_salt",
        F.when(
            F.array_contains(F.array(*[F.lit(k) for k in hot]), F.col("l_suppkey")),
            F.pmod(F.xxhash64(*li.columns), F.lit(8)).cast("int"),
        ).otherwise(F.lit(0)),
    )
    n_salts = (
        big_s.filter(F.col("l_suppkey") == hot[0])
        .select("_salt").distinct().count()
    )
    assert n_salts > 1


def test_salted_join_hotkeys_edge_cases(spark):
    """Degenerate inputs must still be plain-join equivalent: empty hot
    list (pure pass-through), hot keys absent from either side, salt=1
    (replication-free), and an unsupported join type must refuse."""
    import pytest as _pytest

    from dshackle_archive_spark.operators.skew import salted_join_hotkeys

    big = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (3, 30), (3, 31), (3, 32)],
        "k long, v long",
    )
    dim = spark.createDataFrame([(1, 100), (3, 300), (4, 400)], "k long, w long")

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    for how in ("inner", "left"):
        plain = rows(big.join(dim, "k", how))
        for hot, salt in ([], 4), ([99], 4), ([1, 3], 1), ([1, 2, 3, 4], 6):
            got = rows(salted_join_hotkeys(big, dim, "k", hot, salt, how))
            assert got == plain, (how, hot, salt)

    with _pytest.raises(ValueError):
        salted_join_hotkeys(big, dim, "k", [1], 4, how="full")
