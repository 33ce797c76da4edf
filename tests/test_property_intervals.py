"""Property-based interval-kernel tests (the reference's randomized style,
``block_seq.rs:393-454``): the plain-Python kernel is the model; random
inputs must always agree with brute-force set semantics, and the distributed
kernel must agree with the Python kernel."""

from hypothesis import given, settings
from hypothesis import strategies as st

from dshackle_archive_spark.core import Range, merge_ranges, subtract_ranges

ranges_st = st.lists(
    st.tuples(st.integers(0, 300), st.integers(0, 60)).map(
        lambda t: Range(t[0], t[0] + t[1])
    ),
    max_size=12,
)


def as_set(ranges):
    out = set()
    for r in ranges:
        out.update(range(r.start, r.end + 1))
    return out


@given(ranges_st)
@settings(max_examples=200, deadline=None)
def test_merge_matches_set_semantics(rs):
    merged = merge_ranges(rs)
    # same covered heights
    assert as_set(merged) == as_set(rs)
    # maximal and disjoint: strictly increasing with gaps ≥ 2
    for a, b in zip(merged, merged[1:]):
        assert a.end + 1 < b.start


@given(ranges_st, ranges_st)
@settings(max_examples=200, deadline=None)
def test_subtract_matches_set_semantics(base, cuts):
    result = subtract_ranges(base, cuts)
    assert as_set(result) == as_set(base) - as_set(cuts)
    for a, b in zip(result, result[1:]):
        assert a.end + 1 < b.start


# the fix planner's shape: a few requested ranges minus many short files,
# cuts straddling base edges and spanning several bases
many_cuts_st = st.lists(
    st.tuples(st.integers(0, 400), st.integers(0, 5)).map(
        lambda t: Range(t[0], t[0] + t[1])
    ),
    max_size=80,
)


@given(ranges_st, many_cuts_st)
@settings(max_examples=300, deadline=None)
def test_subtract_sweep_matches_height_set_difference(base, cuts):
    result = subtract_ranges(base, cuts)
    assert as_set(result) == as_set(base) - as_set(cuts)
    assert result == sorted(result)
    for a, b in zip(result, result[1:]):
        assert a.end + 1 < b.start


@given(ranges_st, st.integers(1, 97))
@settings(max_examples=100, deadline=None)
def test_chunk_split_partitions_exactly(rs, chunk):
    for r in rs:
        pieces = r.split_chunks(chunk)
        # pieces cover exactly r, in order, without overlap
        assert pieces[0].start == r.start and pieces[-1].end == r.end
        for a, b in zip(pieces, pieces[1:]):
            assert a.end + 1 == b.start
        # every interior boundary is chunk-aligned
        for p in pieces[1:]:
            assert p.start % chunk == 0
        aligned = r.split_chunks(chunk, aligned=True)
        for p in aligned:
            assert p.start % chunk == 0 and len(p) == chunk
            assert r.contains_range(p)


def test_distributed_islands_matches_python_model(spark):
    import random

    rnd = random.Random(42)
    for trial in range(3):
        heights = sorted(rnd.sample(range(0, 2000), 400))
        df = spark.createDataFrame([(h,) for h in heights], "height long")
        from dshackle_archive_spark.operators.intervals import islands

        got = sorted(
            (r["start"], r["end"]) for r in islands(df, bucket=64).collect()
        )
        model = [(r.start, r.end) for r in merge_ranges([Range(h, h) for h in heights])]
        assert got == model


def test_chain_validation_order_independent(spark):
    """Reference block_seq.rs:393-454 intent: random input orderings always
    reconstruct the same canonical chain verdict. Spark's lag window sorts by
    height, so row order must never matter — including with a fork row."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rnd = random.Random(7)
    links = [(h, f"B{h}", f"B{h-1}") for h in range(100, 140)]
    links[20] = (120, "B120", "WRONG")  # one broken link
    for _ in range(3):
        shuffled = links[:]
        rnd.shuffle(shuffled)
        df = spark.createDataFrame(shuffled, "height long, blockId string, parentId string")
        w = Window.orderBy("height")
        broken = (
            df.withColumn("prev", F.lag("blockId").over(w))
            .filter(F.col("prev").isNotNull() & (F.col("parentId") != F.col("prev")))
            .collect()
        )
        assert [r["height"] for r in broken] == [120]
