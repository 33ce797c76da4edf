"""``verify`` — integrity audit with destructive repair (reference
``src/command/verify.rs:409-477`` lifecycle, SURVEY §3.3).

Steps 1-5 and the W4 grouping are planned on the driver from the parsed
archive listing (``core.inventory_plan.plan_verify``, no Spark job); the
only calls out are the live-chain hash lookups for forked heights. Spark
runs the content check (step 6) and nothing else:

1. inventory in scope (P2 range-intersection filter)
2. duplicate same-kind files per (range, hash) → deleted (J3 dup rule)
3. fork resolution for single-block groups: keep the hash matching the live
   chain, delete losers (J4)
4. overlapping ranges → keep largest covering (W3)
5. completeness: groups missing expected kinds → skipped (or deleted with
   ``fix_clean``) (A4)
6. content verification per surviving W4 island, the read data joined to a
   broadcast path → island frame built from the plan:
   blocks — dup heights (A5), count==range (A6), parent-hash chain linkage
   (W1), payload non-empty/non-"null" (P5), head hash vs live chain (J5);
   txes/traces — txid set equality both directions vs the tx lists parsed
   out of the blocks' JSON (J1/J2), payload null checks
7. failing islands → every member group's files on the delete list,
   honoring dry-run
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core.filenames import DataKind
from ..core.inventory_plan import VerifyPlan, in_scope, plan_verify
from ..core.ranges import Range
from ..sources.archive import delete_files, list_inventory


@dataclass
class VerifyReport:
    scope: Range
    groups_total: int = 0
    groups_ok: int = 0
    failures: list[dict] = field(default_factory=list)  # per failing group
    deleted: list[str] = field(default_factory=list)  # physically removed
    # snapshot mode removes nothing from disk — losers drop out of the new
    # manifest and persist until vacuum, so they are reported here, not
    # under ``deleted``
    pruned_from_snapshot: list[str] = field(default_factory=list)
    dry_run: bool = False
    snapshot_version: int | None = None


def _payload_invalid(col: str) -> F.Column:
    c = F.col(col)
    return c.isNull() | (F.length(c) == 0) | (c.cast("string") == "null")


VERIFY_DRIVER_ROWS_ENV = "SPARK_GRAFT_VERIFY_MAX_DRIVER_ROWS"
DEFAULT_VERIFY_DRIVER_ROWS = 100_000


def _check_driver_rows(n: int, what: str) -> None:
    """The driver-state ceiling (``$SPARK_GRAFT_VERIFY_MAX_DRIVER_ROWS``,
    default 100k — two orders above any disciplined chunk). verify plans
    on the driver from the in-scope files, and verify is meant to run per
    chunk (≤ ~1000 files per chunk at reference layout): an unchunked
    fleet-scale scope fails loudly here instead of building a huge plan
    and delete list."""
    from ..core.env import env_int

    cap = env_int(VERIFY_DRIVER_ROWS_ENV, DEFAULT_VERIFY_DRIVER_ROWS)
    if n > cap:
        raise RuntimeError(
            f"verify driver inventory for {what} exceeds {cap} rows — verify "
            "is designed to run per-chunk; narrow the scope (--range-chunk) "
            f"or raise ${VERIFY_DRIVER_ROWS_ENV}"
        )


def _bounded_collect(df: DataFrame, what: str) -> list:
    """Collect under the driver-state ceiling; the cap is pushed into the
    plan as a LIMIT, so an absurd scope fails after cap+1 rows."""
    from ..core.env import env_int

    rows = df.limit(env_int(VERIFY_DRIVER_ROWS_ENV, DEFAULT_VERIFY_DRIVER_ROWS) + 1).collect()
    _check_driver_rows(len(rows), what)
    return rows


def _read_kind(spark, base: str, plan: VerifyPlan, kind: str) -> DataFrame | None:
    """The surviving files of ``kind``, each row tagged with its W4 island
    as ``g_start``/``g_end``. Basenames are unique within a kind (they
    encode range+hash), so the tag is a broadcast HASH join on the basename
    against the plan's path → island map."""
    from ..sources.avro_io import read_archive_data

    paths = [f.path for f in plan.survivors if f.kind == kind]
    if not paths:
        return None
    df = read_archive_data(spark, [os.path.join(base, p) for p in paths], kind)
    tags = spark.createDataFrame(
        [(p.rsplit("/", 1)[-1], *plan.path_island[p]) for p in paths],
        "_base string, g_start long, g_end long",
    )
    df = df.withColumn("_base", F.element_at(F.split(F.col("_path"), "/"), -1))
    return df.join(F.broadcast(tags), "_base", "left").drop("_base")


def verify_native(
    spark: SparkSession,
    provider,
    root: str,
    rng: Range,
    chunk: int = 1000,
) -> DataFrame:
    """Content verification over the native partitioned-parquet layout.

    The same checks as the file-layout verify — dup heights (A5), count ==
    range (A6), parent-hash linkage (W1), payload validity (P5), head-hash
    confirmation (J5), txid set equality (J1) — expressed over the
    partitioned ``blocks``/``transactions`` tables, grouped by aligned chunk.
    Returns one row per chunk with failure counters and an ``ok`` verdict;
    partition pruning bounds every scan to the requested range.
    """
    from ..sources.archive import read_table

    blocks = read_table(spark, root, provider.blockchain_id, "blocks", rng)
    txes = read_table(spark, root, provider.blockchain_id, "transactions", rng)
    ck = (F.floor(F.col("height") / chunk) * chunk).cast("long")
    w = Window.partitionBy("g_start").orderBy("height")
    b = blocks.withColumn("g_start", ck)
    linked = b.withColumn("prev_id", F.lag("blockId").over(w)).withColumn(
        "broken",
        F.when(
            F.col("prev_id").isNotNull() & (F.col("parentId") != F.col("prev_id")), 1
        ).otherwise(0),
    )
    ends = linked.groupBy("g_start").agg(F.max("height").alias("g_end"))
    lookup = spark.createDataFrame(
        [(int(r["g_end"]), provider.block_hash(int(r["g_end"])))
         for r in _bounded_collect(ends, "chunk-end list")],
        "g_end long, live_hash string",
    )
    blocks_stat = (
        linked.groupBy("g_start")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("height").alias("n_heights"),
            F.max("height").alias("g_end"),
            F.sum("broken").alias("broken_links"),
            F.sum(F.when(_payload_invalid("json"), 1).otherwise(0)).alias("bad_json"),
            F.max(F.struct("height", "blockId")).alias("top"),
        )
        .join(F.broadcast(lookup), "g_end", "left")
    )
    tx_field = getattr(provider, "tx_list_field", "transactions")
    expected = b.select(
        "g_start",
        F.explode_outer(
            F.from_json(F.col("json").cast("string"), provider.block_json_schema)[
                tx_field
            ]
        ).alias("txid"),
    ).filter(F.col("txid").isNotNull())
    actual = txes.withColumn("g_start", ck).select("g_start", "txid")
    tx_missing = (
        expected.join(actual, ["g_start", "txid"], "left_anti")
        .groupBy("g_start")
        .agg(F.count("*").alias("tx_missing"))
    )
    tx_unexpected = (
        actual.join(expected, ["g_start", "txid"], "left_anti")
        .groupBy("g_start")
        .agg(F.count("*").alias("tx_unexpected"))
    )
    return (
        blocks_stat.join(tx_missing, "g_start", "left")
        .join(tx_unexpected, "g_start", "left")
        .fillna(0, ["tx_missing", "tx_unexpected"])
        .withColumn(
            "ok",
            (F.col("n_rows") == F.col("n_heights"))
            & (F.col("broken_links") == 0)
            & (F.col("bad_json") == 0)
            & (F.col("top.blockId") == F.col("live_hash"))
            & (F.col("tx_missing") == 0)
            & (F.col("tx_unexpected") == 0),
        )
        .select(
            "g_start", "g_end", "n_rows", "n_heights", "broken_links", "bad_json",
            "tx_missing", "tx_unexpected", "ok",
        )
    )


def verify(
    spark: SparkSession,
    provider,
    root: str,
    rng: Range,
    tables: tuple[DataKind, ...] = (DataKind.BLOCKS, DataKind.TRANSACTIONS),
    fix_clean: bool = False,
    dry_run: bool = False,
    snapshot: bool = False,
) -> VerifyReport:
    blockchain = provider.blockchain_id
    base = os.path.join(root, blockchain.lower())
    kinds = tuple(k.value for k in tables)
    report = VerifyReport(scope=rng, dry_run=dry_run)
    to_delete: set[str] = set()

    files = in_scope(list_inventory(root, blockchain), rng)
    _check_driver_rows(len(files), "in-scope files")
    plan = plan_verify(files, kinds, provider.block_hash)
    report.groups_total = plan.groups_total
    report.failures.extend(plan.failures)
    failed_group_keys: set[tuple[int, int]] = set()
    for f in plan.pruned:
        if f.reason != "incomplete" or fix_clean:
            to_delete.add(f.path)
        failed_group_keys.add((f.start, f.end))

    # 6. content verification
    bad_groups: DataFrame | None = None
    bdf = _read_kind(spark, base, plan, "blocks") if "blocks" in kinds else None
    expected = None
    if bdf is not None:
        # several aggregate branches (stats, expected txids, payload checks)
        # consume the same read+group join — cache it once
        bdf = bdf.cache()
        w = Window.partitionBy("g_start", "g_end").orderBy("height")
        linked = bdf.withColumn("prev_id", F.lag("blockId").over(w)).withColumn(
            "broken",
            F.when(
                F.col("prev_id").isNotNull() & (F.col("parentId") != F.col("prev_id")), 1
            ).otherwise(0),
        )
        # J5 head-hash confirmation against the live chain
        head_lookup = spark.createDataFrame(
            [(h, provider.block_hash(h)) for h in plan.island_ends],
            "g_end long, live_hash string",
        )
        blocks_stat = (
            linked.groupBy("g_start", "g_end")
            .agg(
                F.count("*").alias("n_rows"),
                F.countDistinct("height").alias("n_heights"),
                F.sum("broken").alias("broken_links"),
                F.sum(F.when(_payload_invalid("json"), 1).otherwise(0)).alias("bad_json"),
                F.max(F.struct("height", "blockId")).alias("top"),
            )
            .join(F.broadcast(head_lookup), "g_end", "left")
            .withColumn(
                "blocks_ok",
                (F.col("n_rows") == F.col("n_heights"))  # A5 no dup heights
                & (F.col("n_heights") == F.col("g_end") - F.col("g_start") + 1)  # A6
                & (F.col("broken_links") == 0)  # W1
                & (F.col("bad_json") == 0)  # P5
                & (F.col("top.blockId") == F.col("live_hash")),  # J5
            )
        )
        bad_groups = blocks_stat.filter(~F.col("blocks_ok"))
        # expected txids from the blocks' own JSON payloads (P4); the tx-list
        # key is per-chain — ETH "transactions", BTC "tx"
        tx_field = getattr(provider, "tx_list_field", "transactions")
        expected = (
            bdf.select(
                "g_start",
                "g_end",
                F.explode_outer(
                    F.from_json(F.col("json").cast("string"), provider.block_json_schema)[
                        tx_field
                    ]
                ).alias("txid"),
            )
            .filter(F.col("txid").isNotNull())
            .cache()
        )

    def tx_check(kind: str, payload_cols: list[str]) -> DataFrame | None:
        tdf = _read_kind(spark, base, plan, kind)
        if tdf is None or expected is None:
            return None
        # four aggregate branches below share this read — cache it
        actual = tdf.select("g_start", "g_end", "txid", *payload_cols).cache()
        missing = (
            expected.join(actual, ["g_start", "g_end", "txid"], "left_anti")
            .groupBy("g_start", "g_end")
            .agg(F.count("*").alias("n_missing"))
        )
        unexpected = (
            actual.join(expected, ["g_start", "g_end", "txid"], "left_anti")
            .groupBy("g_start", "g_end")
            .agg(F.count("*").alias("n_unexpected"))
        )
        bad_payload_cond = None
        for c in payload_cols:
            cc = _payload_invalid(c)
            bad_payload_cond = cc if bad_payload_cond is None else (bad_payload_cond | cc)
        dups = (
            actual.groupBy("g_start", "g_end", "txid")
            .agg(F.count("*").alias("c"))
            .filter("c > 1")
            .groupBy("g_start", "g_end")
            .agg(F.count("*").alias("n_dup"))
        )
        payload = (
            actual.groupBy("g_start", "g_end")
            .agg(F.sum(F.when(bad_payload_cond, 1).otherwise(0)).alias("n_bad_payload"))
        )
        stat = (
            expected.select("g_start", "g_end")
            .distinct()
            .join(missing, ["g_start", "g_end"], "left")
            .join(unexpected, ["g_start", "g_end"], "left")
            .join(dups, ["g_start", "g_end"], "left")
            .join(payload, ["g_start", "g_end"], "left")
            .fillna(0, ["n_missing", "n_unexpected", "n_dup", "n_bad_payload"])
        )
        return stat.filter(
            (F.col("n_missing") > 0)
            | (F.col("n_unexpected") > 0)
            | (F.col("n_dup") > 0)
            | (F.col("n_bad_payload") > 0)
        )

    failing_keys: list[tuple[int, int]] = []
    if bad_groups is not None:
        for r in bad_groups.collect():
            failing_keys.append((r["g_start"], r["g_end"]))
            report.failures.append(
                {
                    "start": r["g_start"],
                    "end": r["g_end"],
                    "reason": "blocks_content",
                    "broken_links": r["broken_links"],
                    "bad_json": r["bad_json"],
                }
            )
    if "transactions" in kinds:
        bad_tx = tx_check("transactions", ["json", "raw"])
        if bad_tx is not None:
            for r in bad_tx.collect():
                failing_keys.append((r["g_start"], r["g_end"]))
                report.failures.append(
                    {
                        "start": r["g_start"],
                        "end": r["g_end"],
                        "reason": "txes_content",
                        "n_missing": r["n_missing"],
                        "n_unexpected": r["n_unexpected"],
                    }
                )
    if "traces" in kinds:
        bad_tr = tx_check("traces", ["traceJson", "stateDiffJson"])
        if bad_tr is not None:
            for r in bad_tr.collect():
                failing_keys.append((r["g_start"], r["g_end"]))
                report.failures.append(
                    {"start": r["g_start"], "end": r["g_end"], "reason": "traces_content"}
                )

    # 7. failing islands → delete all their member groups' files
    failing = set(failing_keys)
    for f in plan.survivors:
        if plan.path_island[f.path] in failing:
            to_delete.add(f.path)
            failed_group_keys.add((f.start, f.end))

    report.groups_ok = report.groups_total - len(failed_group_keys)
    if snapshot and not dry_run:
        # fork MERGE (T5 transactional upgrade): every pruned file — fork
        # losers, duplicates, overlap losers — leaves the archive in ONE
        # manifest swap; a reader pinned mid-query keeps a consistent chain.
        # Files stay on disk for older pins until vacuum.
        from ..sources import snapshots as SNAP
        from ..sources.archive import list_archive_files

        cur = SNAP.load_snapshot(base)
        if cur is None:
            cur = SNAP.publish_snapshot(
                base, sorted(list_archive_files(base)), note="adopt pre-verify"
            )
        if to_delete:
            # optimistic-commit loop: a concurrent compact/curate publish
            # between our inventory read and this swap costs a retry, not
            # a torn archive (the prune intent re-applies to the new base)
            snap = SNAP.merge_replace_with_retry(
                base,
                remove=sorted(to_delete),
                add=[],
                note=f"verify prune {rng.start}..{rng.end}",
            )
            report.snapshot_version = snap.version
        else:
            report.snapshot_version = cur.version
        report.pruned_from_snapshot = sorted(to_delete)
    else:
        res = delete_files(base, sorted(to_delete), dry_run=dry_run)
        report.deleted = res.deleted
    if bdf is not None:
        bdf.unpersist()
    if expected is not None:
        expected.unpersist()
    return report
