"""J3 group assembly over a file-inventory DataFrame.

The fix, compact and verify workflows plan on the driver over the parsed
listing (``core.inventory_plan``): the inventory is one row per ≤1000-block
file, and a Spark job per metadata step costs more than the loop.
``group_ranges`` is the DataFrame form of the J3 pivot, for callers that
hold the inventory as a DataFrame (``sources.archive.inventory_df`` /
``inventory_df_hadoop``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ALL_KINDS = ("blocks", "transactions", "traces")


def group_ranges(inv: DataFrame, kinds: tuple[str, ...] = ALL_KINDS) -> DataFrame:
    """J3: assemble per-range groups {blocks?, txes?, traces?} from the inventory.

    Output: one row per (start, end, hash) with per-kind path and file count.
    Multiple same-kind files for one range (``n_<kind> > 1``) are an error
    state the caller turns into a delete list (``verify.rs:434-457``).
    """
    pivoted = (
        inv.groupBy("start", "end", "hash")
        .pivot("kind", list(kinds))
        .agg(F.min("path").alias("path"), F.count("path").alias("n"))
    )
    # pivot with multiple aggs names columns "<kind>_path" / "<kind>_n"
    for k in kinds:
        pivoted = pivoted.withColumnRenamed(f"{k}_path", f"path_{k}").withColumnRenamed(
            f"{k}_n", f"n_{k}"
        )
        pivoted = pivoted.withColumn(f"n_{k}", F.coalesce(F.col(f"n_{k}"), F.lit(0)))
    return pivoted
