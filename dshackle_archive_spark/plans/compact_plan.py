"""``compact`` — merge single-block files into range files (reference
``src/command/compact.rs``, SURVEY §3.3 tail).

Spark shape: classic small-file compaction with a completeness gate, fully
batched — the job count is O(1) per kind, independent of how many chunks the
scope spans (the reference loops chunk-by-chunk, ``compact.rs:48-117``, which
is fine for its microsecond loop bodies but would serialize ~100 ms Spark job
launches; a 1M-block scope is 1,000 chunks).

1. aligned chunks only (C2 — compaction never builds partial range files,
   ``compact.rs:48``)
2. the gate (``verify_files``, ``compact.rs:221-243``) runs on the driver,
   over the parsed archive listing (``core.inventory_plan.plan_compact``):
   requested kinds complete, group ranges exactly covering the chunk, no
   boundary-crossing files, no duplicates, not already compacted (an
   exact-range file for every REQUESTED kind — foreign kinds don't count).
   It also yields each passing chunk's source files, so planning launches
   no Spark job and a dry run launches none at all
3. rewrite: ONE action reads every passing chunk's source files of every
   kind and writes one range file per (chunk, kind) (the chunk key is the
   shuffle key, so 1,000 chunks land as 1,000 parallel tasks)
4. reconciliation (J6/A7) for ALL chunks in one grouped job: copied heights
   must form exactly one island equal to the chunk; txids promised by copied
   blocks == txids copied. Failing chunks roll back their outputs.
5. delete source files of successfully compacted chunks
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.filenames import DataKind
from ..core.inventory_plan import plan_compact
from ..core.ranges import Range
from ..sources import ref_layout
from ..sources.archive import delete_files, list_inventory


@dataclass
class CompactResult:
    compacted_chunks: list[tuple[int, int]] = field(default_factory=list)
    skipped_chunks: list[tuple[int, int, str]] = field(default_factory=list)
    written: list[str] = field(default_factory=list)
    deleted: list[str] = field(default_factory=list)  # physically removed
    # snapshot mode: compacted-away sources leave the manifest but stay on
    # disk until vacuum — reported here, never under ``deleted``
    pruned_from_snapshot: list[str] = field(default_factory=list)
    snapshot_version: int | None = None


def compact(
    spark: SparkSession,
    root: str,
    blockchain: str,
    rng: Range,
    tables: tuple[DataKind, ...] = (DataKind.BLOCKS, DataKind.TRANSACTIONS),
    chunk: int = 1000,
    dry_run: bool = False,
    block_json_schema=None,
    tx_list_field: str = "transactions",
    snapshot: bool = False,
    fmt: str = "parquet",
    compression: str = "zstd",
) -> CompactResult:
    from ..sources.avro_io import read_archive_data

    base = os.path.join(root, blockchain.lower())
    kinds = tuple(k.value for k in tables)
    result = CompactResult()

    plan = plan_compact(list_inventory(root, blockchain), rng, chunk, kinds)
    result.skipped_chunks.extend(plan.skipped)
    passing = plan.passing
    if not passing or dry_run:
        return result

    passing_ids = sorted(s // chunk for s, _ in passing)
    exact_kinds, sources = plan.exact_kinds, plan.sources

    # phase B: ONE read+write action across every kind and passing chunk
    copied: dict[str, DataFrame] = {}
    rewritten_ids: dict[str, list[int]] = {}
    writes: DataFrame | None = None
    for kind in kinds:
        todo = [
            s // chunk
            for s, _ in passing
            if kind not in exact_kinds.get(s, set())
        ]
        if not todo:
            continue
        paths = [os.path.join(base, p) for c in todo for p in sources.get((c * chunk, kind), [])]
        df = read_archive_data(spark, paths, kind).drop("_path")
        # P1: trim file overlap to the passing chunks (an IN-set on chunk id)
        df = df.filter(F.floor(F.col("height") / chunk).isin(passing_ids))
        copied[kind] = df
        rewritten_ids[kind] = todo
        wr = ref_layout.write_range_files(
            df,
            root,
            blockchain,
            DataKind(kind),
            chunk=chunk,
            run="compact",
            overwrite=True,
            domain=todo,
            fmt=fmt,
            compression=compression,
        )
        writes = wr if writes is None else writes.unionByName(wr)
    rows = writes.collect()  # a passing chunk lacks an exact file of some kind
    for kind in rewritten_ids:
        result.written.extend(
            r["location"] for r in rows if r["type"] == kind and not r["skipped"]
        )

    # phase C: J6/A7 reconciliation for ALL chunks in one grouped job
    bad_ids: set[int] = set()
    out_blocks = copied.get("blocks")
    if out_blocks is not None:
        cid = F.floor(F.col("height") / chunk).alias("cid")
        # A7: copied heights must form exactly one island == chunk (for
        # integer heights: distinct count == chunk AND min/max at bounds)
        a7 = out_blocks.select(cid, "height").groupBy("cid").agg(
            F.countDistinct("height").alias("n_heights"),
            F.min("height").alias("h_min"),
            F.max("height").alias("h_max"),
        )
        stat = a7
        if block_json_schema is not None and "transactions" in copied:
            # J6: txids promised by copied blocks == txids actually copied
            promised = out_blocks.select(
                cid,
                F.explode_outer(
                    F.from_json(F.col("json").cast("string"), block_json_schema)[
                        tx_list_field
                    ]
                ).alias("txid"),
            ).filter(F.col("txid").isNotNull())
            actual = copied["transactions"].select(cid, "txid")
            missing = (
                promised.join(actual, ["cid", "txid"], "left_anti")
                .groupBy("cid")
                .agg(F.count("*").alias("n_missing"))
            )
            unexpected = (
                actual.join(promised, ["cid", "txid"], "left_anti")
                .groupBy("cid")
                .agg(F.count("*").alias("n_unexpected"))
            )
            stat = (
                a7.join(missing, "cid", "left")
                .join(unexpected, "cid", "left")
                .fillna(0, ["n_missing", "n_unexpected"])
            )
        else:
            stat = a7.withColumn("n_missing", F.lit(0)).withColumn(
                "n_unexpected", F.lit(0)
            )
        stat_rows = stat.collect()
        for r in stat_rows:
            c_start = int(r["cid"]) * chunk
            ok = (
                r["n_heights"] == chunk
                and r["h_min"] == c_start
                and r["h_max"] == c_start + chunk - 1
                and r["n_missing"] == 0
                and r["n_unexpected"] == 0
            )
            if not ok:
                bad_ids.add(int(r["cid"]))
        # a rewritten blocks chunk that produced NO rows at all never appears
        # in `stat` — that's also a reconciliation failure
        bad_ids |= set(rewritten_ids.get("blocks", [])) - {
            int(r["cid"]) for r in stat_rows
        }

    to_delete: list[str] = []
    for s, e in passing:
        cid = s // chunk
        if cid in bad_ids:
            # roll back this chunk's outputs (reference: delete-on-drop of
            # uncommitted files) so singles remain the only coverage
            tag = f"range-{s:09d}_{e:09d}"
            bad_abs = [p for p in result.written if tag in p]
            delete_files(base, [os.path.relpath(p, base) for p in bad_abs], dry_run=dry_run)
            result.written = [p for p in result.written if tag not in p]
            result.skipped_chunks.append((s, e, "reconciliation failed"))
        else:
            for kind in kinds:
                # a kind already held in its exact target file was neither
                # rewritten nor are its other files touched (keep-as-is)
                if kind in exact_kinds.get(s, set()):
                    continue
                to_delete.extend(sources.get((s, kind), []))
            result.compacted_chunks.append((s, e))
    if snapshot:
        # transactional commit (T5 upgrade): the consumed singles leave the
        # ARCHIVE atomically — one manifest swap replaces them with the new
        # range files — but stay on DISK until vacuum's retention window
        # expires, so readers pinned to an older snapshot keep working.
        from ..sources import snapshots as SNAP
        from ..sources.archive import list_archive_files

        cur = SNAP.load_snapshot(base)
        if cur is None:
            # first snapshot: adopt the full pre-compact listing as v1 so
            # the merge has a base (metadata-scale walk)
            pre = sorted(set(list_archive_files(base)) - {
                os.path.relpath(p, base) for p in result.written
            })
            cur = SNAP.publish_snapshot(base, pre, note="adopt pre-compact")
        added = sorted(os.path.relpath(p, base) for p in result.written)
        # optimistic-commit loop: a concurrent verify/curate publish between
        # the source listing and this swap costs a retry, never a torn swap
        snap = SNAP.merge_replace_with_retry(
            base,
            remove=sorted(to_delete),
            add=added,
            note=f"compact {rng.start}..{rng.end}",
            # keep the manifest's min/max skipping index current: one
            # distributed stats job over just the new range files
            add_stats=(
                SNAP.file_stats(spark, base, added, ["height"]) if added else None
            ),
        )
        result.snapshot_version = snap.version
        parent = SNAP.load_snapshot(base, snap.parent)  # the actual CAS base
        result.pruned_from_snapshot = sorted(
            set(to_delete) & set(parent.files if parent else cur.files)
        )
        return result
    res = delete_files(base, sorted(to_delete), dry_run=dry_run)
    result.deleted.extend(res.deleted)
    return result
