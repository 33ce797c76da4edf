"""The benchmark's workloads, driven through the public package API.

Each workload function records spans on ``ctx.tracer`` and raw figures in
``ctx.figures``; ``metrics.py`` turns them into the printed metrics. An
*operation* is one timed workflow call, stream batch or query: it is
attempted once and fails if it raises or its check (``checks.py``, run after
the timed call) finds a problem.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import checks
from harness import Tracer, dir_bytes
from synth_chain import SynthChain

from dshackle_archive_spark.core.filenames import DataKind, parse_filename
from dshackle_archive_spark.core.ranges import Range
from dshackle_archive_spark.sources.archive import list_archive_files

CHAIN = "ETH"
ALL_KINDS = (DataKind.BLOCKS, DataKind.TRANSACTIONS, DataKind.TRACES)
STREAM_KINDS = (DataKind.BLOCKS, DataKind.TRANSACTIONS)  # CLI stream/verify default

# archive_follow, backfill phase: 1200 heights over three range files per
# kind (BULK_EDGE + 1000 + BULK_EDGE heights, chunk 1000)
BULK_EDGE = 100
# archive_follow, live phase: the virtual head advances at TIP_RATE blocks/s
# for at least TIP_WINDOW_S, enough for one full compaction chunk. The rate is
# about half the highest the engine sustained when this benchmark was
# defined (~21 blocks/s in back-to-back 64-height batches, 4 cores)
TIP_RATE = 10.0
TIP_WINDOW_S = 10.5
COMPACT_CHUNK = 100
# query_mix: the registry queries, grouped by family, over the project's
# sf0.01 test tables (TESTDATA.md), run by one analyst per core. A copy of
# the tables ships with the benchmark, which reads only inside its checkout.
QUERY_TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables_sf0.01")
QUERY_CLIENTS = len(os.sched_getaffinity(0))
QUERY_FAMILIES = {
    "range_gap": ["a1_islands", "a3_gap_detection", "w1_chain_linkage",
                  "e4_set_equality_check", "j7_range_chunk_assignment", "j8_asof_join"],
    "tpch": ["h3_shipping_priority", "h5_local_supplier_volume", "h21_sole_blamed_supplier"],
    "dedup": ["d2_minhash_lsh_dedup", "d4_embedding_neardup", "x34_duplicated_span_extents"],
    "vector": ["v3_ivf_topk", "v8_pq_topk"],
    "text": ["x29_hybrid_rrf_retrieval", "x11_tfidf_top_terms"],
    "graph": ["d11_pagerank", "d19_kcore_prune"],
}
QUERY_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings")


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work_dir: str
    seed: int
    seconds: float
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    figures: dict = field(default_factory=dict)

    def op(self, name: str, fn, check=None, **attrs):
        """One timed operation; ``check(result)`` runs after the span."""
        self.attempted += 1
        try:
            with self.tracer.span(name, **attrs):
                res = fn()
        except Exception as e:  # a raising workflow call is a failed operation
            self.failed += 1
            self.problems.append(f"{name}: raised {type(e).__name__}: {e}"[:500])
            return None
        found = check(res) if check is not None else []
        if found:
            self.failed += 1
            self.problems.extend(f"{name}: {p}" for p in found)
        return res


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _trace_fetch(ctx: Ctx, provider, rng: Range, kinds) -> None:
    """Traced run only: materialise each fetch stage on its own (count is
    the no-op sink) so the fetch layer gets a self time and a row count."""
    from dshackle_archive_spark.sources import fetcher

    for kind in kinds:
        with ctx.tracer.span(f"sources.fetcher.{kind.value}") as sp:
            if kind == DataKind.BLOCKS:
                df = fetcher.fetch_blocks(ctx.spark, provider, rng)
            else:
                df = fetcher.fetch_table_for_heights(ctx.spark, provider, rng, kind.value)
            sp.attrs["rows"] = df.count()


def _trace_inventory(ctx: Ctx, root: str, kinds) -> None:
    """Traced run only: the inventory listing and range grouping verify and
    compact start from, each materialised on its own."""
    from dshackle_archive_spark.operators.inventory import group_ranges
    from dshackle_archive_spark.sources.archive import inventory_df

    with ctx.tracer.span("sources.archive.inventory") as sp:
        inv = inventory_df(ctx.spark, root, CHAIN).cache()
        sp.attrs["files_listed"] = inv.count()
    with ctx.tracer.span("operators.inventory.group_ranges") as sp:
        sp.attrs["groups"] = group_ranges(inv, kinds=tuple(k.value for k in kinds)).count()
    inv.unpersist()


# -- archive_follow -----------------------------------------------------------

def etl_inputs(seed: int) -> tuple[SynthChain, Range, int]:
    """One chain: a backfill span ``[a-100, a+1099]`` (a aligned to 1000),
    then a live head starting right after it, with fork twins at ~2% of the
    live heights."""
    a = 1_000_000 + 1000 * (seed % 97)
    bulk = Range(a - BULK_EDGE, a + 1000 + BULK_EDGE - 1)
    start = bulk.end + 1
    provider = SynthChain(seed, start, fork_span=(start, start + 100_000),
                          rate_per_s=TIP_RATE)
    return provider, bulk, start


def _damage(chain_dir: str, bulk: Range, seed: int) -> set[tuple[str, int, int]]:
    """Delete one range file per kind, each from a seeded one of the two
    100-height edge chunks, so the repair volume is the same for every
    seed."""
    chunks = bulk.split_chunks(1000)
    edges = (chunks[0], chunks[-1])
    damaged = {(k.value, edges[(seed >> i) & 1].start, edges[(seed >> i) & 1].end)
               for i, k in enumerate(ALL_KINDS)}
    for rel in list_archive_files(chain_dir):
        fi = parse_filename(rel)
        if fi and (fi.kind.value, fi.range.start, fi.range.end) in damaged:
            os.remove(os.path.join(chain_dir, rel))
    return damaged


def _backfill(ctx: Ctx, provider: SynthChain, root: str, bulk: Range) -> None:
    """archive the backfill span, damage it, fix it."""
    from dshackle_archive_spark.plans.archive_plan import archive
    from dshackle_archive_spark.plans.fix_plan import fix

    chain_dir = os.path.join(root, CHAIN.lower())
    expected = checks.expected_keys(provider, range(bulk.start, bulk.end + 1),
                                    [k.value for k in ALL_KINDS])
    f = ctx.figures
    f["bulk_blocks"] = len(bulk)
    if ctx.tracer.traced:
        _trace_fetch(ctx, provider, bulk, ALL_KINDS)
    ctx.op(
        "plans.archive_plan.archive",
        lambda: archive(ctx.spark, provider, root, bulk, tables=ALL_KINDS, chunk=1000),
        lambda _: checks.check_archive(checks.archive_keys(chain_dir), expected),
    )
    f["archive_bytes"] = dir_bytes(chain_dir)
    f["archive_files"] = len(list_archive_files(chain_dir))

    damaged = _damage(chain_dir, bulk, ctx.seed)
    f["fix_blocks"] = sum(e - s + 1 for _, s, e in damaged)
    if ctx.tracer.traced:
        _trace_inventory(ctx, root, ALL_KINDS)
    fixed = ctx.op(
        "plans.fix_plan.fix",
        lambda: fix(ctx.spark, provider, root, bulk, tables=ALL_KINDS, chunk=1000),
        lambda res: checks.check_fix(res, damaged)
        + checks.check_archive(checks.archive_keys(chain_dir), expected),
    )
    f["fix_missing_ranges"] = len(fixed.missing) if fixed is not None else 0


def _follow(ctx: Ctx, provider: SynthChain, root: str, start: int) -> Range | None:
    """Open loop: the head advances with the clock whether or not the engine
    keeps up; ``stream_batch`` runs back to back while blocks are due.
    Returns the streamed span, or None if nothing was streamed."""
    from dshackle_archive_spark.sources.fetcher import FetchPolicy
    from dshackle_archive_spark.streaming.stream_plan import StreamState, stream_batch

    chain_dir = os.path.join(root, CHAIN.lower())
    f = ctx.figures
    before = set(list_archive_files(chain_dir))
    state = StreamState(last_archived=start - 1)  # resume right below the head
    window = max(ctx.seconds, TIP_WINDOW_S)
    last_due = start + int(window * TIP_RATE)  # last height due in the window
    lags: list[float] = []
    provider.start_clock()
    while state.last_archived < last_due:
        lo = state.last_archived + 1
        wait = provider.head_time(lo) - time.time()
        if wait > 0:  # caught up: idle until the next block is due
            time.sleep(wait)
        res = ctx.op(
            "streaming.stream_plan.stream_batch",
            lambda: stream_batch(ctx.spark, provider, root, state, STREAM_KINDS,
                                 FetchPolicy(), "latest") or True,
            lo=lo,
        )
        done = time.time()
        if res is None:
            break  # a raising batch leaves the state where it was
        lags.extend(done - provider.head_time(h) for h in range(lo, state.last_archived + 1))
    new = [p for p in list_archive_files(chain_dir) if p not in before]
    f["stream_blocks"] = state.last_archived - start + 1
    f["stream_lags"] = lags
    f["stream_files"] = len(new)
    f["stream_bytes"] = sum(os.path.getsize(os.path.join(chain_dir, p)) for p in new)
    f["stream_ok_blocks"] = 0
    if state.last_archived < start:  # the first batch raised
        return None
    span = Range(start, state.last_archived)

    if ctx.tracer.traced:
        _trace_fetch(ctx, provider, span, STREAM_KINDS)
    problems = _check_span(provider, chain_dir, span)
    if problems:
        ctx.failed += 1
        ctx.problems.extend(f"stream output: {p}" for p in problems)
    f["stream_ok_blocks"] = 0 if problems else len(span)
    return span


def _check_span(provider: SynthChain, chain_dir: str, span: Range) -> list[str]:
    """Every streamed height keeps its canonical block, its fork twin where
    there is one, and its txes: no more rows, no fewer."""
    observed = {k: [x for x in v if x[0] >= span.start]
                for k, v in checks.archive_keys(chain_dir).items()}
    expected = checks.expected_keys(provider, range(span.start, span.end + 1),
                                    ["blocks", "transactions"], forks=True)
    return checks.check_archive(observed, expected)


def _compact(ctx: Ctx, provider: SynthChain, root: str, span: Range) -> None:
    """Compact the streamed span into aligned chunks. The check wants
    exactly the full chunks compacted and the span's rows unchanged."""
    from dshackle_archive_spark.plans.compact_plan import compact

    chain_dir = os.path.join(root, CHAIN.lower())
    f = ctx.figures
    full_chunks = [(c.start, c.end) for c in span.split_chunks(COMPACT_CHUNK, aligned=True)]
    f["compact_blocks"] = sum(e - s + 1 for s, e in full_chunks)
    if ctx.tracer.traced:
        _trace_inventory(ctx, root, STREAM_KINDS)
    compacted = ctx.op(
        "plans.compact_plan.compact",
        lambda: compact(ctx.spark, root, CHAIN, span, tables=STREAM_KINDS,
                        chunk=COMPACT_CHUNK, block_json_schema=provider.block_json_schema),
        lambda res: checks.check_compact(res, full_chunks)
        + _check_span(provider, chain_dir, span),
    )
    if compacted is not None:
        n_done = len(compacted.compacted_chunks)
        f["compact_chunks_ratio"] = n_done / max(1, n_done + len(compacted.skipped_chunks))
        f["compact_bytes_rewritten"] = sum(os.path.getsize(p) for p in compacted.written)


def archive_follow(ctx: Ctx, provider: SynthChain, bulk: Range, start: int) -> None:
    """Backfill + repair, then follow the live head, then the maintenance
    pass: compact the streamed span, verify the backfill span.

    verify leaves the streamed span out: at the seed it deletes streamed
    singles and compacted chunks that hold a fork twin (README.md, "Known
    seed defect"; ``test_verify_keeps_streamed_canonical_blocks``). Its
    inventory still lists the streamed files."""
    from dshackle_archive_spark.plans.verify_plan import verify

    root = _fresh(os.path.join(ctx.work_dir, "archive"))
    chain_dir = os.path.join(root, CHAIN.lower())
    f = ctx.figures
    _backfill(ctx, provider, root, bulk)
    span = _follow(ctx, provider, root, start)
    f["compact_blocks"] = 0
    if span is not None:
        _compact(ctx, provider, root, span)

    heights = range(bulk.start, bulk.end + 1)

    def verify_check(report):
        bad = checks.failing_heights(checks.archive_keys(chain_dir), provider, heights)
        f["verify_blocks"] = len(heights)
        f["verify_ok_blocks"] = len(heights) - len(bad)
        f["verify_groups_ok"] = report.groups_ok
        f["verify_groups_total"] = report.groups_total
        if not bad:
            return []
        return [f"{len(bad)} of {len(heights)} heights ({min(bad)}..{max(bad)}) lost their "
                f"canonical block or txes, or kept a fork loser; verify deleted "
                f"{len(report.deleted)} files"]

    if ctx.tracer.traced:
        _trace_inventory(ctx, root, STREAM_KINDS)
    ctx.op("plans.verify_plan.verify",
           lambda: verify(ctx.spark, provider, root, bulk), verify_check)


# -- query_mix ----------------------------------------------------------------

def query_inputs() -> str:
    """The fixed sf0.01 analyst tables; the seed sets only the query order."""
    return QUERY_TABLES_DIR


def query_warmup(spark, tables_dir: str) -> None:
    """Untimed: one fixed query before the mix. The session's first query
    pays several seconds of one-time costs; without this they would land on
    whichever queries the seed puts first."""
    from dshackle_archive_spark import queries as Q

    Q.registry()["a1_islands"](spark, tables_dir).toArrow()


def query_order(seed: int) -> list[str]:
    keys = [k for ks in QUERY_FAMILIES.values() for k in ks]
    random.Random(seed).shuffle(keys)
    return keys


def oracle_rows(tables_dir: str, keys: list[str]) -> dict[str, tuple[list, list]]:
    """Each query's DuckDB twin over the same parquet files."""
    import duckdb

    from dshackle_archive_spark import queries as Q

    sql = Q.oracles()
    con = duckdb.connect()
    try:
        for t in QUERY_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{tables_dir}/{t}.parquet')")
        out = {}
        for k in keys:
            cur = con.execute(sql[k])
            out[k] = ([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def query_pass(ctx: Ctx, tables_dir: str, keys: list[str], oracle: dict) -> float:
    """One pass: QUERY_CLIENTS analysts each take the next query of the
    seeded order as soon as their previous one returns (closed loop). A
    result is fetched to the client as Arrow (the analyst's sink); results
    are compared with their oracle after the pass. Returns the pass's wall
    time."""
    from concurrent.futures import ThreadPoolExecutor

    from dshackle_archive_spark import queries as Q
    from dshackle_archive_spark.core.checkpoint import release_all_pinned

    reg = Q.registry()

    def run(k: str):
        with ctx.tracer.span(f"queries.{k}"):
            return reg[k](ctx.spark, tables_dir).toArrow()

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=QUERY_CLIENTS) as pool:
        futures = [(k, pool.submit(run, k)) for k in keys]
    wall = time.perf_counter() - t0
    # released only between passes: a release frees every pinned RDD of the
    # session, including those of queries still running
    with ctx.tracer.span("core.checkpoint.release"):
        release_all_pinned(ctx.spark)
    for k, fut in futures:
        ctx.attempted += 1
        err = fut.exception()
        if err is not None:
            problems = [f"raised {type(err).__name__}: {err}"[:500]]
        else:
            t = fut.result()
            rows = list(zip(*(c.to_pylist() for c in t.columns)))
            problems = checks.check_query(k, t.column_names, rows, *oracle[k])
        if problems:
            ctx.failed += 1
            ctx.problems.extend(f"queries.{k}: {p}" for p in problems)
    return wall


def query_mix(ctx: Ctx, tables_dir: str) -> None:
    """Passes over the seeded order until ``ctx.seconds`` has elapsed (at
    least one)."""
    keys = query_order(ctx.seed)
    oracle = oracle_rows(tables_dir, keys)
    passes = []
    t_end = time.perf_counter() + ctx.seconds
    while not passes or time.perf_counter() < t_end:
        passes.append(query_pass(ctx, tables_dir, keys, oracle))
    ctx.figures["query_passes"] = passes
    ctx.figures["queries"] = len(keys)
