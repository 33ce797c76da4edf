#!/usr/bin/env python
"""Metadata-scale stress probe: the 100 TB control plane, measured.

A 100 TB archive at ~1 MB/block and 1000-block range files is ~10⁸ heights
and ~10⁶ files — the INVENTORY is what verify/fix/compact plan over. Their
planning runs on the driver (``core.inventory_plan``), so this script feeds
the planner a synthesized 1.05M-file listing with planted defects (no disk)
and asserts exact results:

- listing parse: 1.05M archive paths → ``InvFile`` rows
- verify prune pipeline (J3 grouping, duplicates, W3, A4, W4 islands) over
  the 1.05M files (3 kinds × 350k ranges, planted missing-kind holes and
  duplicate files)
- W3 alone over 385k overlapping block groups
- fix's A3 gap work list over the same listing
- compact gate verdicts for 10⁴ chunks against the same listing

and, as before, the one data-plane operator of the set on Spark:

- A3  gaps_direct over 10⁸ covered heights with planted gaps

Prints one JSON line of wall times.
Run: ``python examples/stress_metadata.py`` (env: SPARK_GRAFT_CPUS).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dshackle_archive_spark.core.filenames import DataKind, range_file_path
from dshackle_archive_spark.core.inventory_plan import (
    InvFile,
    missing_ranges,
    parse_listing,
    plan_compact,
    plan_verify,
)
from dshackle_archive_spark.core.ranges import Range

N_RANGES = 350_000          # × 3 kinds ≈ 1.05M inventory rows
N_HEIGHTS = 100_000_000
CHUNK = 1000
KINDS = ("blocks", "transactions", "traces")


def build_paths() -> list[str]:
    """1.05M archive paths with planted defects: every 1000th range is
    missing its traces file; every 2500th range has a duplicate
    transactions file (a second format of the same range)."""
    paths = []
    for i in range(N_RANGES):
        rng = Range(i * CHUNK, i * CHUNK + CHUNK - 1)
        for k in KINDS:
            if k == "traces" and i % 1000 == 0:
                continue
            paths.append(range_file_path(rng, DataKind(k), fmt="parquet"))
            if k == "transactions" and i % 2500 == 0:
                paths.append(range_file_path(rng, DataKind(k), fmt="avro"))
    return paths


def timed(label, fn, out):
    t0 = time.perf_counter()
    res = fn()
    dt = round(time.perf_counter() - t0, 3)
    out[label] = {"seconds": dt}
    print(f"  {label}: {dt} s", file=sys.stderr)
    return res


def no_forks(height):
    raise AssertionError(f"unexpected fork lookup at {height}")


def planner(out: dict) -> None:
    paths = build_paths()
    files = timed("listing_parse_1M_paths", lambda: parse_listing(paths), out)
    del paths
    out["n_inventory_files"] = len(files)

    plan = timed("verify_prune_pipeline_1M_files",
                 lambda: plan_verify(files, KINDS, no_forks), out)
    reasons = [f["reason"] for f in plan.failures]
    # 140 duplicated ranges (70 of them also lack traces: duplicates win),
    # 350 - 70 = 280 incomplete ranges, every other range verifies alone
    assert reasons.count("duplicate") == N_RANGES // 2500, reasons.count("duplicate")
    assert reasons.count("incomplete") == N_RANGES // 1000 - N_RANGES // 5000
    assert len(plan.islands) == N_RANGES - len(reasons)
    del plan

    # W3 over overlapping ranges: every 10th range also has a half-offset
    # shadow range, so each shadow forms a 3-group island with 2 losers
    blocks = [f for f in files if f.kind == "blocks"]
    shadow = [InvFile(f.path + ".shadow", "blocks", f.start + CHUNK // 2, f.end + CHUNK // 2)
              for f in blocks if f.start % (10 * CHUNK) == 0]
    w3 = timed("w3_overlap_losers_385k_groups",
               lambda: plan_verify(blocks + shadow, ("blocks",), no_forks), out)
    assert len(w3.failures) == 2 * len(shadow), len(w3.failures)
    del w3, blocks, shadow

    work = timed("fix_gap_list_1M_files",
                 lambda: missing_ranges(files, Range(0, N_RANGES * CHUNK - 1), KINDS), out)
    assert work == [("traces", i, i + CHUNK - 1) for i in range(0, N_RANGES * CHUNK, 10**6)]

    # compact gate: 10⁴ chunk verdicts against the 1.05M-file listing
    cp = timed("compact_gate_10k_chunks",
               lambda: plan_compact(files, Range(0, 10_000 * CHUNK - 1), CHUNK,
                                    ("blocks", "transactions")), out)
    assert len(cp.verdicts) == 10_000
    assert {why for *_, why in cp.verdicts} == {"already compacted"}


def data_plane(out: dict, cpus: str) -> None:
    from pyspark.sql import functions as F

    from dshackle_archive_spark.operators.intervals import gaps_direct
    from dshackle_archive_spark.session import get_spark

    spark = get_spark("stress-metadata", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    # A3 at 10⁸ heights: drop 1000 fixed-width holes of 37 heights each
    heights = spark.range(N_HEIGHTS).filter(
        ~((F.col("id") % 100_000 >= 50_000) & (F.col("id") % 100_000 < 50_037))
    ).select(F.col("id").alias("height"))
    n_gaps = timed(
        "a3_gaps_direct_100M_heights",
        lambda: gaps_direct(heights, 0, N_HEIGHTS - 1).count(),
        out,
    )
    assert n_gaps == N_HEIGHTS // 100_000, n_gaps
    spark.stop()


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    out: dict = {"n_inventory_files": None, "n_heights": N_HEIGHTS}
    t_all = time.perf_counter()
    planner(out)
    data_plane(out, cpus)
    out["total_seconds"] = round(time.perf_counter() - t_all, 1)
    out["cpus"] = int(cpus)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
