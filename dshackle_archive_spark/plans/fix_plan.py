"""``fix`` — detect and re-archive missing data (reference
``src/command/fix.rs:39-69``).

Planning runs on the driver: the gap work list is
``core.inventory_plan.missing_ranges`` over the parsed archive listing (a
sort-and-sweep per kind, no Spark job), so a dry run launches no job at all.
Spark runs only the repair: every missing range of every kind is re-fetched
and written in ONE action (``overwrite=False`` so racing writers keep
existing files, S13), narrowed to the missing kinds (``only_include``, P6).
The reference loops gap by gap — fine for its in-process writes, but a
fragmented archive (thousands of small gaps) would serialize thousands of
~100 ms Spark job launches; here the gap list is the partition domain of the
one write job.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..core.filenames import DataKind
from ..core.inventory_plan import missing_ranges
from ..core.ranges import Range, merge_ranges
from ..sources import ref_layout
from ..sources.archive import list_inventory
from ..sources.fetcher import FetchPolicy, fetch_blocks, fetch_table_for_heights
from .archive_plan import ArchiveResult


@dataclass
class FixResult:
    missing: list[tuple[str, int, int]]
    archived: list[ArchiveResult] = field(default_factory=list)
    snapshot_version: int | None = None


def fix(
    spark: SparkSession,
    provider,
    root: str,
    rng: Range,
    tables: tuple[DataKind, ...] = (DataKind.BLOCKS, DataKind.TRANSACTIONS, DataKind.TRACES),
    chunk: int = 1000,
    policy: FetchPolicy = FetchPolicy(),
    dry_run: bool = False,
    snapshot: bool = False,
    fmt: str = "parquet",
    compression: str = "zstd",
) -> FixResult:
    files = list_inventory(root, provider.blockchain_id)
    work = missing_ranges(files, rng, tuple(k.value for k in tables))
    results: list[ArchiveResult] = []
    if work and not dry_run:
        by_kind: dict[str, list[Range]] = {}
        for kind, lo, hi in work:
            by_kind.setdefault(kind, []).append(Range(lo, hi))
        writes: DataFrame | None = None
        for kind, ranges in by_kind.items():
            merged = merge_ranges(ranges)
            # file pieces: gaps cut at absolute chunk boundaries, so restored
            # files carry exactly the reference's names for those gaps
            pieces = [p for r in merged for p in r.split_chunks(chunk, aligned=False)]
            dk = DataKind(kind)
            if dk == DataKind.BLOCKS:
                df = fetch_blocks(spark, provider, merged, policy)
            else:
                df = fetch_table_for_heights(spark, provider, merged, dk.value, policy)
            wr = ref_layout.write_piece_files(
                df,
                root,
                provider.blockchain_id,
                dk,
                pieces,
                run="fix",
                overwrite=False,
                fmt=fmt,
                compression=compression,
            )
            writes = wr if writes is None else writes.unionByName(wr)
        # one action writes every kind (as archive does); results split per kind
        all_rows = writes.collect()
        for kind in by_kind:
            rows = [r for r in all_rows if r["type"] == kind]
            notif = ref_layout.notifications_df(
                spark.createDataFrame(rows, ref_layout.WRITE_RESULT_SCHEMA)
            )
            results.append(
                ArchiveResult(
                    notifications=notif,
                    written=sum(1 for r in rows if not r["skipped"]),
                    skipped=sum(1 for r in rows if r["skipped"]),
                    files=[r["location"] for r in rows if not r["skipped"]],
                )
            )
    out = FixResult(missing=work, archived=results)
    if snapshot and not dry_run:
        # add-only manifest commit: the repaired files join the archive in
        # one swap, so a reader re-pinning mid-fix sees either the gap or
        # the full repair — never a partially restored kind
        import os

        from ..sources import snapshots as SNAP
        from ..sources.archive import list_archive_files

        from ..sources.ref_layout import strip_userinfo

        base = os.path.join(root, provider.blockchain_id.lower())
        cur = SNAP.load_snapshot(base)
        # result locations are credential-stripped; relativize against the
        # equally-stripped base so URI dirs with userinfo still line up
        new_files = sorted(
            os.path.relpath(f, strip_userinfo(base)) for r in results for f in r.files
        )
        if cur is None:
            pre = sorted(set(list_archive_files(base)) - set(new_files))
            cur = SNAP.publish_snapshot(base, pre, note="adopt pre-fix")
        # add-only merge, but still CAS'd: a concurrent publish costs a retry
        snap = SNAP.merge_replace_with_retry(
            base, remove=[], add=new_files,
            note=f"fix {rng.start}..{rng.end}",
        )
        out.snapshot_version = snap.version
    return out
