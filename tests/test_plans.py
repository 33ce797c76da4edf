"""End-to-end workflow tests: archive → verify → compact → fix on the mock
chain, with golden file-inventory assertions (the reference's e2e test style,
``compact.rs:798-1119``, ``verify.rs:950-1212``, ``storage/mod.rs:290-610``).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from dshackle_archive_spark.core import DataKind, Range, parse_filename
from dshackle_archive_spark.plans.archive_plan import archive, archive_single_blocks
from dshackle_archive_spark.plans.compact_plan import compact
from dshackle_archive_spark.plans.fix_plan import fix
from dshackle_archive_spark.plans.verify_plan import verify
from dshackle_archive_spark.sources.archive import delete_files, inventory_df, list_archive_files
from dshackle_archive_spark.sources.fetcher import FetchPolicy
from dshackle_archive_spark.sources.mock_chain import MockChain

BT = (DataKind.BLOCKS, DataKind.TRANSACTIONS)
POLICY = FetchPolicy(parallel=4)
CHAIN = MockChain(head_height=10_000)


def tree(root, chain=CHAIN):
    return list_archive_files(os.path.join(str(root), chain.blockchain_id.lower()))


def test_archive_range(spark, tmp_path):
    res = archive(spark, CHAIN, str(tmp_path), Range(100, 349), tables=BT, chunk=100, policy=POLICY)
    assert res.written == 6 and res.skipped == 0  # 3 chunks × 2 kinds
    got = tree(tmp_path)
    assert got == [
        "000000000/range-000000100_000000199.blocks.parquet",
        "000000000/range-000000100_000000199.txes.parquet",
        "000000000/range-000000200_000000299.blocks.parquet",
        "000000000/range-000000200_000000299.txes.parquet",
        # partial trailing piece advertises only the heights it contains
        "000000000/range-000000300_000000349.blocks.parquet",
        "000000000/range-000000300_000000349.txes.parquet",
    ]
    # content: blocks have the right heights; txes match the mock tx lists
    bdf = spark.read.parquet(str(tmp_path / "eth" / "000000000" / "range-000000100_000000199.blocks.parquet"))
    assert bdf.count() == 100
    heights = [r["height"] for r in bdf.select("height").orderBy("height").collect()]
    assert heights == list(range(100, 200))
    tdf = spark.read.parquet(str(tmp_path / "eth" / "000000000" / "range-000000100_000000199.txes.parquet"))
    expected_tx = sum(len(CHAIN.tx_ids(h)) for h in range(100, 200))
    assert tdf.count() == expected_tx
    # notifications: one per written file
    assert res.notifications.count() == 6
    n = res.notifications.filter(F.col("type") == "blocks").orderBy("heightStart").collect()
    assert [(r["heightStart"], r["heightEnd"], r["run"]) for r in n] == [
        (100, 199, "archive"), (200, 299, "archive"), (300, 349, "archive")
    ]


def test_archive_idempotent_no_overwrite(spark, tmp_path):
    archive(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT, chunk=100, policy=POLICY)
    res2 = archive(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT, chunk=100, policy=POLICY)
    assert res2.written == 0 and res2.skipped == 2  # S13 keep-existing


def test_verify_clean_archive_ok(spark, tmp_path):
    archive(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BT, chunk=100, policy=POLICY)
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BT)
    assert rep.failures == [] and rep.deleted == []
    assert rep.groups_total == 2 and rep.groups_ok == 2


def test_verify_detects_missing_txes_file(spark, tmp_path):
    archive(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BT, chunk=100, policy=POLICY)
    delete_files(str(tmp_path / "eth"), ["000000000/range-000000200_000000299.txes.parquet"])
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BT)
    assert any(f["reason"] == "incomplete" and f["start"] == 200 for f in rep.failures)
    # without fix_clean nothing is deleted
    assert rep.deleted == []
    rep2 = verify(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BT, fix_clean=True)
    assert rep2.deleted == ["000000000/range-000000200_000000299.blocks.parquet"]


def test_verify_detects_broken_chain(spark, tmp_path):
    class BrokenChain(MockChain):
        def block(self, height, fork=False):
            blk = super().block(height, fork)
            if height == 150:
                blk["parent"] = "WRONG"
            return blk

    chain = BrokenChain(head_height=10_000)
    archive(spark, chain, str(tmp_path), Range(100, 199), tables=BT, chunk=100, policy=POLICY)
    # the blocks file carries the wrong parent; verify against the TRUE chain
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT, dry_run=True)
    bad = [f for f in rep.failures if f["reason"] == "blocks_content"]
    assert len(bad) == 1 and bad[0]["broken_links"] == 1
    # dry-run: delete list reported but files kept
    assert rep.dry_run and len(rep.deleted) == 2
    assert len(tree(tmp_path)) == 2


def test_verify_detects_missing_tx_rows(spark, tmp_path):
    class ShortTxChain(MockChain):
        def tx_ids(self, height):
            ids = super().tx_ids(height)
            return ids[:-1] if height == 120 else ids

    # archive with a provider that drops one tx; blocks json still promises it
    class ShortTxOnlyForTxes(MockChain):
        pass

    chain = MockChain(head_height=10_000)
    archive(spark, chain, str(tmp_path), Range(100, 199), tables=(DataKind.BLOCKS,), chunk=100, policy=POLICY)
    short = ShortTxChain(head_height=10_000)
    archive(spark, short, str(tmp_path), Range(100, 199), tables=(DataKind.TRANSACTIONS,), chunk=100, policy=POLICY)
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT, dry_run=True)
    bad = [f for f in rep.failures if f["reason"] == "txes_content"]
    assert len(bad) == 1 and bad[0]["n_missing"] == 1 and bad[0]["n_unexpected"] == 0


def test_verify_fork_resolution(spark, tmp_path):
    fork_chain = MockChain(head_height=10_000, fork_at=frozenset({205}))
    archive_single_blocks(
        spark, fork_chain, str(tmp_path), Range(200, 209),
        tables=(DataKind.BLOCKS,), policy=POLICY, forks=True,
    )
    files = tree(tmp_path)
    assert len(files) == 11  # 10 heights + 1 fork twin at 205
    rep = verify(spark, CHAIN, str(tmp_path), Range(200, 209), tables=(DataKind.BLOCKS,))
    assert any(f["reason"] == "fork_loser" for f in rep.failures)
    assert len(tree(tmp_path)) == 10
    # the losing (F205) file is gone, canonical B205 kept
    survivors = [parse_filename(p) for p in tree(tmp_path)]
    h205 = [fi for fi in survivors if fi.range.start == 205]
    assert len(h205) == 1


def test_compact_singles_to_range(spark, tmp_path):
    archive_single_blocks(
        spark, CHAIN, str(tmp_path), Range(100, 299), tables=BT, policy=POLICY
    )
    assert len(tree(tmp_path)) == 400  # 200 heights × 2 kinds
    res = compact(spark, str(tmp_path), "ETH", Range(100, 299), tables=BT, chunk=100,
                  block_json_schema=CHAIN.block_json_schema)
    assert res.compacted_chunks == [(100, 199), (200, 299)]
    got = tree(tmp_path)
    assert got == [
        "000000000/range-000000100_000000199.blocks.parquet",
        "000000000/range-000000100_000000199.txes.parquet",
        "000000000/range-000000200_000000299.blocks.parquet",
        "000000000/range-000000200_000000299.txes.parquet",
    ]
    # rewritten content is complete and ordered
    bdf = spark.read.parquet(str(tmp_path / "eth" / "000000000" / "range-000000100_000000199.blocks.parquet"))
    assert bdf.count() == 100
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BT)
    assert rep.failures == []


def test_compact_refuses_partial_chunk(spark, tmp_path):
    # scenario 12: partial trailing chunk must remain uncompacted
    archive_single_blocks(
        spark, CHAIN, str(tmp_path), Range(100, 249), tables=BT, policy=POLICY
    )
    res = compact(spark, str(tmp_path), "ETH", Range(100, 299), tables=BT, chunk=100)
    assert res.compacted_chunks == [(100, 199)]
    assert [(s, e) for s, e, _ in res.skipped_chunks] == [(200, 299)]
    # 200..249 singles still there
    singles_left = [p for p in tree(tmp_path) if "range-" not in p]
    assert len(singles_left) == 100  # 50 heights × 2 kinds


def test_compact_skips_gap_chunk(spark, tmp_path):
    archive_single_blocks(spark, CHAIN, str(tmp_path), Range(100, 149), tables=BT, policy=POLICY)
    archive_single_blocks(spark, CHAIN, str(tmp_path), Range(151, 199), tables=BT, policy=POLICY)
    res = compact(spark, str(tmp_path), "ETH", Range(100, 199), tables=BT, chunk=100)
    assert res.compacted_chunks == []
    assert "does not exactly cover" in res.skipped_chunks[0][2]


def test_fix_rearchives_missing(spark, tmp_path):
    archive(spark, CHAIN, str(tmp_path), Range(100, 499), tables=BT, chunk=100, policy=POLICY)
    delete_files(str(tmp_path / "eth"), [
        "000000000/range-000000200_000000299.txes.parquet",
        "000000000/range-000000300_000000399.blocks.parquet",
        "000000000/range-000000300_000000399.txes.parquet",
    ])
    res = fix(spark, CHAIN, str(tmp_path), Range(100, 499), tables=BT, chunk=100, policy=POLICY)
    assert sorted(res.missing) == [
        ("blocks", 300, 399),
        ("transactions", 200, 399),
    ]
    # archive tree fully restored
    assert len(tree(tmp_path)) == 8
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 499), tables=BT)
    assert rep.failures == []


def test_fix_dry_run_reports_only(spark, tmp_path):
    archive(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT, chunk=100, policy=POLICY)
    delete_files(str(tmp_path / "eth"), ["000000000/range-000000100_000000199.txes.parquet"])
    res = fix(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT, chunk=100,
              policy=POLICY, dry_run=True)
    assert res.missing == [("transactions", 100, 199)]
    assert res.archived == [] and len(tree(tmp_path)) == 1


def test_full_three_table_lifecycle_with_traces(spark, tmp_path):
    BTT = (DataKind.BLOCKS, DataKind.TRANSACTIONS, DataKind.TRACES)
    archive(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BTT, chunk=100, policy=POLICY)
    assert len(tree(tmp_path)) == 6
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BTT)
    assert rep.failures == []
    # break a trace payload: drop the traces file, re-archive with a provider
    # that nulls trace JSON (P5 violation on the traces table)
    delete_files(str(tmp_path / "eth"), [
        "000000000/range-000000100_000000199.traces.parquet"])

    class NullTraceChain(MockChain):
        def trace_json(self, txid):
            return b"null"

    archive(spark, NullTraceChain(head_height=10_000), str(tmp_path), Range(100, 199),
            tables=(DataKind.TRACES,), chunk=100, policy=POLICY)
    rep2 = verify(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BTT, dry_run=True)
    assert any(f["reason"] == "traces_content" for f in rep2.failures)


def test_compact_three_tables(spark, tmp_path):
    BTT = (DataKind.BLOCKS, DataKind.TRANSACTIONS, DataKind.TRACES)
    archive_single_blocks(spark, CHAIN, str(tmp_path), Range(500, 599), tables=BTT, policy=POLICY)
    res = compact(spark, str(tmp_path), "ETH", Range(500, 599), tables=BTT, chunk=100,
                  block_json_schema=CHAIN.block_json_schema)
    assert res.compacted_chunks == [(500, 599)]
    assert sorted(tree(tmp_path)) == [
        "000000000/range-000000500_000000599.blocks.parquet",
        "000000000/range-000000500_000000599.traces.parquet",
        "000000000/range-000000500_000000599.txes.parquet",
    ]
    rep = verify(spark, CHAIN, str(tmp_path), Range(500, 599), tables=BTT)
    assert rep.failures == []


def test_cli_verify_roundtrip(spark, tmp_path):
    """CLI surface smoke: archive then verify via main() with JSON output."""
    import json as _json

    from dshackle_archive_spark import cli

    archive(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT, chunk=100, policy=POLICY)
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main([
            "verify", "--dir", str(tmp_path), "--range", "100..199",
            "--provider", "mock", "--mock-head", "10000", "--master", "local[4]",
        ])
    assert rc == 0
    out = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["groups"] == 1 and out["ok"] == 1 and out["failures"] == []


def test_cli_scope_and_tables_parsing():
    """CLI plan-time parsing: --tail tip margin, table aliases, errors."""
    import argparse

    import pytest as _pytest

    from dshackle_archive_spark import cli

    ns = argparse.Namespace(range=None, tail=100)
    rng = cli._scope(ns, MockChain(head_height=10_000))
    # tail N = last N blocks holding back 4 unsettled tip blocks
    assert (rng.start, rng.end) == (9_897, 9_996)

    ns2 = argparse.Namespace(range="5..9", tail=None)
    assert cli._scope(ns2, None) == Range(5, 9)

    assert cli._tables("blocks,txes,traces") == (
        DataKind.BLOCKS, DataKind.TRANSACTIONS, DataKind.TRACES)
    assert cli._tables("tx, block") == (DataKind.TRANSACTIONS, DataKind.BLOCKS)
    with _pytest.raises(SystemExit):
        cli._tables("nope")
    with _pytest.raises(SystemExit):
        cli._scope(argparse.Namespace(range="9..5", tail=None), None)


def test_notifications_jsonl_sink(spark, tmp_path):
    """S15: one JSON line per archived file, written via the engine sink."""
    from dshackle_archive_spark.sources import ref_layout

    res = archive(spark, CHAIN, str(tmp_path), Range(100, 299), tables=BT, chunk=100, policy=POLICY)
    # re-wrap the notification rows as a DataFrame (ArchiveResult keeps them)
    wr = res.notifications.withColumn("skipped", F.lit(False)).withColumn("n_rows", F.lit(0))
    out_dir = ref_layout.write_notifications(wr, str(tmp_path), "testrun")
    back = spark.read.json(out_dir)
    assert back.count() == 4
    rows = back.select("type", "heightStart", "heightEnd", "run").collect()
    assert {(r["type"], r["heightStart"], r["heightEnd"]) for r in rows} == {
        ("blocks", 100, 199), ("blocks", 200, 299),
        ("transactions", 100, 199), ("transactions", 200, 299),
    }
    assert all(r["run"] == "archive" for r in rows)


def test_register_temp_views_testdata(spark, sf_dir):
    from dshackle_archive_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf_dir)
    n = spark.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
    assert n > 0
    joined = spark.sql(
        "SELECT count(*) AS n FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
    ).collect()[0]["n"]
    assert joined == spark.sql("SELECT count(*) AS n FROM orders").collect()[0]["n"]


def _no_tx_chain():
    # defined per-call so cloudpickle serializes the class by value (a
    # module-level test class is pickled by reference, which Spark workers
    # can't import)
    class NoTxChain(MockChain):
        """Every block is transaction-less — the reference still creates
        (empty) txes/traces files for the range (table.rs unconditional
        create)."""

        def tx_ids(self, height):
            return []

    return NoTxChain(head_height=10_000)


def test_archive_emits_empty_chunk_files(spark, tmp_path):
    chain = _no_tx_chain()
    res = archive(spark, chain, str(tmp_path), Range(100, 299), tables=BT, chunk=100, policy=POLICY)
    assert res.written == 4 and res.skipped == 0
    got = tree(tmp_path, chain)
    assert got == [
        "000000000/range-000000100_000000199.blocks.parquet",
        "000000000/range-000000100_000000199.txes.parquet",
        "000000000/range-000000200_000000299.blocks.parquet",
        "000000000/range-000000200_000000299.txes.parquet",
    ]
    tdf = spark.read.parquet(
        str(tmp_path / "eth" / "000000000" / "range-000000100_000000199.txes.parquet")
    )
    assert tdf.count() == 0
    assert "height" in tdf.columns and "txid" in tdf.columns  # typed empty schema
    # verify converges: the empty file satisfies group completeness
    rep = verify(spark, chain, str(tmp_path), Range(100, 299), tables=BT)
    assert rep.failures == [] and rep.deleted == []
    # and fix finds nothing to do
    res2 = fix(spark, chain, str(tmp_path), Range(100, 299), tables=BT, chunk=100,
               policy=POLICY, dry_run=True)
    assert res2.missing == []


def test_single_blocks_emit_empty_height_files(spark, tmp_path):
    chain = _no_tx_chain()
    archive_single_blocks(spark, chain, str(tmp_path), Range(100, 104), tables=BT, policy=POLICY)
    got = tree(tmp_path, chain)
    assert len(got) == 10  # 5 heights × 2 kinds, txes files present though empty
    for h in range(100, 105):
        assert f"000000000/000000000/{h:09d}.txes.parquet" in got


def test_verify_duplicate_deletes_only_duplicated_kind(spark, tmp_path):
    """verify.rs RangeGroupError::Duplicate deletes the duplicate files of the
    duplicated kind only — the innocent txes file of the group survives."""
    import shutil

    archive(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT, chunk=100, policy=POLICY)
    d = tmp_path / "eth" / "000000000"
    # same (range, hash, kind) under a second extension = a true duplicate
    shutil.copy(d / "range-000000100_000000199.blocks.parquet",
                d / "range-000000100_000000199.blocks.avro")
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT)
    assert any(f["reason"] == "duplicate" for f in rep.failures)
    assert sorted(rep.deleted) == [
        "000000000/range-000000100_000000199.blocks.avro",
        "000000000/range-000000100_000000199.blocks.parquet",
    ]
    # the txes file of the group is untouched
    assert (d / "range-000000100_000000199.txes.parquet").exists()


def test_compact_issues_constant_jobs(spark, tmp_path):
    """The compaction gate + rewrite is O(1) Spark jobs per kind regardless of
    chunk count (the reference loops chunks; Spark job launches must not —
    ~100 ms each means a 1,000-chunk scope would serialize minutes of pure
    scheduling). Compare job counts for a 1-chunk vs a 5-chunk compact."""
    sc = spark.sparkContext

    def count_jobs(root, rng):
        group = f"compact-jobs-{rng.start}-{rng.end}"
        sc.setJobGroup(group, "count compact jobs")
        try:
            res = compact(spark, root, "ETH", rng, tables=BT, chunk=100,
                          block_json_schema=CHAIN.block_json_schema)
        finally:
            sc.setJobGroup(None, None)
        return res, len(sc.statusTracker().getJobIdsForGroup(group))

    small = tmp_path / "small"
    big = tmp_path / "big"
    archive_single_blocks(spark, CHAIN, str(small), Range(0, 99), tables=BT, policy=POLICY)
    archive_single_blocks(spark, CHAIN, str(big), Range(0, 499), tables=BT, policy=POLICY)
    res1, jobs1 = count_jobs(str(small), Range(0, 99))
    res5, jobs5 = count_jobs(str(big), Range(0, 499))
    assert res1.compacted_chunks == [(0, 99)]
    assert res5.compacted_chunks == [(0, 99), (100, 199), (200, 299), (300, 399), (400, 499)]
    # 5× the chunks must NOT mean 5× the jobs (the old per-chunk loop issued
    # ~6 jobs/chunk); allow a little AQE stage-count jitter
    assert jobs5 <= jobs1 + 4, f"1 chunk: {jobs1} jobs, 5 chunks: {jobs5} jobs"
    rep = verify(spark, CHAIN, str(big), Range(0, 499), tables=BT)
    assert rep.failures == []


def test_fix_batches_gaps_into_one_job_per_kind(spark, tmp_path):
    """A fragmented archive (10 gaps) is re-archived in one fetch+write job
    per kind — not one archive() per gap (fix.rs loops; job launches must
    not: a 10-gap fix at ~2 jobs/gap would issue 20+)."""
    archive(spark, CHAIN, str(tmp_path), Range(0, 999), tables=BT, chunk=50, policy=POLICY)
    victims = [
        f"000000000/range-{s:09d}_{s + 49:09d}.txes.parquet" for s in range(0, 1000, 100)
    ]
    delete_files(str(tmp_path / "eth"), victims)
    sc = spark.sparkContext
    sc.setJobGroup("fix-jobs", "count fix jobs")
    try:
        res = fix(spark, CHAIN, str(tmp_path), Range(0, 999), tables=BT, chunk=50,
                  policy=POLICY)
    finally:
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("fix-jobs"))
    assert [(k, s, e) for k, s, e in res.missing] == [
        ("transactions", s, s + 49) for s in range(0, 1000, 100)
    ]
    assert len(tree(tmp_path)) == 40  # all 10 gap files restored
    assert jobs < 10, f"fix issued {jobs} jobs for 10 gaps"
    rep = verify(spark, CHAIN, str(tmp_path), Range(0, 999), tables=BT)
    assert rep.failures == []


def test_dry_run_fix_and_compact_launch_no_spark_job(spark, tmp_path):
    """Planning runs on the driver over the parsed listing: a dry-run fix
    (gap work list) and a dry-run compact (chunk gate) launch 0 Spark
    jobs and touch no file."""
    archive_single_blocks(spark, CHAIN, str(tmp_path), Range(0, 199), tables=BT, policy=POLICY)
    delete_files(str(tmp_path / "eth"), ["000000000/000000000/000000005.txes.parquet"])
    before = tree(tmp_path)
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, "count dry-run jobs")
        try:
            res = fn()
        finally:
            sc.setJobGroup(None, None)
        return res, len(sc.statusTracker().getJobIdsForGroup(group))

    fres, fix_jobs = jobs("fix-dry", lambda: fix(
        spark, CHAIN, str(tmp_path), Range(0, 199), tables=BT, dry_run=True))
    cres, compact_jobs = jobs("compact-dry", lambda: compact(
        spark, str(tmp_path), "ETH", Range(0, 199), tables=BT, chunk=100, dry_run=True))
    assert fres.missing == [("transactions", 5, 5)] and fres.archived == []
    assert cres.skipped_chunks == [(0, 99, "transactions does not exactly cover the chunk")]
    assert cres.compacted_chunks == [] and cres.written == [] and cres.deleted == []
    assert (fix_jobs, compact_jobs) == (0, 0)
    assert tree(tmp_path) == before


def test_verify_merges_small_ranges_into_islands(spark, tmp_path):
    """W4 (verify.rs:237-267): adjacent ≤10-block groups are content-checked
    as one island — a parent-hash break BETWEEN two 10-block files is
    invisible to per-group windows and must still be caught."""

    class BoundaryBreakChain(MockChain):
        def block(self, height, fork=False):
            blk = super().block(height, fork)
            if height == 150:  # first block of the [150,159] file
                blk["parent"] = "WRONG"
            return blk

    chain = BoundaryBreakChain(head_height=10_000)
    # 10-block range files: [100,109] ... [190,199] — all groups <= 10 blocks
    archive(spark, chain, str(tmp_path), Range(100, 199), tables=BT, chunk=10, policy=POLICY)
    assert len(tree(tmp_path)) == 20
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT, dry_run=True)
    bad = [f for f in rep.failures if f["reason"] == "blocks_content"]
    assert len(bad) == 1 and bad[0]["broken_links"] == 1
    # the whole merged island [100,199] is the failing unit
    assert bad[0]["start"] == 100 and bad[0]["end"] == 199
    # every member group's files are in the delete list
    assert len(rep.deleted) == 20 and rep.groups_ok == 0


def test_notification_payloads_match_reference_schema(spark, tmp_path):
    """S16: the notification payload stream is the reference's Notification
    JSON (notify/mod.rs:12-35) as a `value` string column — the shape every
    message connector (Pulsar/Kafka) consumes; broker = format + options."""
    from dshackle_archive_spark.sources.notify import (
        notification_json_df,
        send_notifications,
        stream_notifications,
    )

    res = archive(spark, CHAIN, str(tmp_path), Range(100, 199), tables=BT,
                  chunk=100, policy=POLICY, run="archive")
    wr = res.notifications.withColumn("skipped", F.lit(False)).withColumn("n_rows", F.lit(0))
    vals = [json.loads(r["value"]) for r in notification_json_df(wr).collect()]
    assert len(vals) == 2
    for v in vals:
        # exact reference field set and order (serde struct order)
        assert list(v) == ["version", "ts", "blockchain", "type", "run",
                           "heightStart", "heightEnd", "location", "maturity"]
        assert v["version"] == "https://schema.emrld.io/dshackle-archive/notify"
        assert v["blockchain"] == "ETH" and v["run"] == "archive"
        assert v["maturity"] is None  # explicit null, like serde's Option
        assert v["heightStart"] == 100 and v["heightEnd"] == 199
        assert "T" in v["ts"] and v["ts"].endswith("Z")
    assert {v["type"] for v in vals} == {"blocks", "transactions"}

    # batch send through a real Spark sink (json = the S15 directory shape;
    # pulsar/kafka are the same call with a connector format string)
    out = str(tmp_path / "notif_out")
    send_notifications(wr, "json", path=out)
    assert spark.read.json(out).count() == 2

    # streaming delivery wiring: payload stream → checkpointed memory sink
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 2).load()
        .select(
            F.lit("https://schema.emrld.io/dshackle-archive/notify").alias("version"),
            F.col("timestamp").alias("ts"),
            F.lit("ETH").alias("blockchain"),
            F.lit("blocks").alias("type"),
            F.lit("stream").alias("run"),
            F.col("value").alias("heightStart"),
            F.col("value").alias("heightEnd"),
            F.concat(F.lit("f"), F.col("value")).alias("location"),
            F.lit(None).cast("string").alias("maturity"),
        )
    )
    from dshackle_archive_spark.sources.notify import stream_notifications as sn
    q = sn(stream, "memory", str(tmp_path / "_nckpt"), query_name="notif_stream")
    try:
        import time as _time
        deadline = _time.time() + 30
        while _time.time() < deadline and not spark.sql("SELECT * FROM notif_stream").count():
            _time.sleep(0.3)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM notif_stream").collect()
    assert rows and all(json.loads(r["value"])["run"] == "stream" for r in rows)


def test_layout_sink_writes_through_filesystem_uri(spark, tmp_path):
    """S12: the task writer resolves URI roots through pyarrow.fs — no
    rename, one atomic object PUT. Exercised with file:// backing; s3://,
    gs://, hdfs:// take the identical code path."""
    from dshackle_archive_spark.sources import ref_layout
    from dshackle_archive_spark.sources.fetcher import fetch_blocks

    df = fetch_blocks(spark, CHAIN, Range(100, 149), POLICY)
    uri_root = f"file://{tmp_path}"
    wr = ref_layout.write_range_files(
        df, uri_root, "ETH", DataKind.BLOCKS, chunk=50, requested=Range(100, 149))
    rows = wr.collect()
    assert [(r["heightStart"], r["heightEnd"], r["skipped"]) for r in rows] == [
        (100, 149, False)
    ]
    local = tmp_path / "eth" / "000000000" / "range-000000100_000000149.blocks.parquet"
    assert local.exists()
    assert spark.read.parquet(str(local)).count() == 50
    # S13 idempotent skip works through the URI path too
    wr2 = ref_layout.write_range_files(
        df, uri_root, "ETH", DataKind.BLOCKS, chunk=50, requested=Range(100, 149))
    assert [r["skipped"] for r in wr2.collect()] == [True]


def test_verify_driver_inventory_bound_is_enforced(spark, tmp_path, monkeypatch):
    """Round-11 task: the per-chunk driver-state invariant is now LOUD.
    verify collects only chunk-scale metadata (path lists, group keys);
    with an absurdly small ceiling the collect fails with a RuntimeError
    naming the knob instead of silently materializing a fleet-scale list,
    and the LIMIT pushdown means it fails after cap+1 rows. At the default
    ceiling the same archive verifies clean."""
    from dshackle_archive_spark.plans.verify_plan import VERIFY_DRIVER_ROWS_ENV

    archive(spark, CHAIN, str(tmp_path), Range(100, 499), tables=BT,
            chunk=100, policy=POLICY)
    monkeypatch.setenv(VERIFY_DRIVER_ROWS_ENV, "2")  # 4 chunks > 2
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_VERIFY_MAX_DRIVER_ROWS"):
        verify(spark, CHAIN, str(tmp_path), Range(100, 499), tables=BT)
    monkeypatch.delenv(VERIFY_DRIVER_ROWS_ENV)
    rep = verify(spark, CHAIN, str(tmp_path), Range(100, 499), tables=BT)
    assert rep.failures == [] and rep.groups_ok == 4
