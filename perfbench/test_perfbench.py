"""Tests of the benchmark itself. Only the seed-defect test starts a Spark
session.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import pickle
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
from harness import Span, Tracer  # noqa: E402
from synth_chain import SynthChain  # noqa: E402
from workloads import Ctx, _check_span  # noqa: E402

from dshackle_archive_spark.core.ranges import Range  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")


def _payload(c: SynthChain, h: int) -> bytes:
    out = [c.block_json(h), c.block_json(h, fork=True)]
    for t in c.tx_ids(h):
        d = c.tx_details(h, t)
        out += [d["json"], d["raw"], d["receiptJson"], c.trace_json(t), c.state_diff_json(t)]
    return b"".join(out)


def test_provider_is_deterministic_per_seed():
    a, b, other = SynthChain(5, 100), SynthChain(5, 100), SynthChain(6, 100)
    for h in (1, 17, 99):
        assert _payload(a, h) == _payload(b, h)
        assert _payload(a, h) != _payload(other, h)
    assert SynthChain(5, 0, fork_span=(0, 5000)).fork_at == \
        SynthChain(5, 0, fork_span=(0, 5000)).fork_at


def test_provider_pickles_and_payloads_are_json():
    c = SynthChain(3, 100, fork_span=(0, 1000))
    c._buffers()
    c2 = pickle.loads(pickle.dumps(c))
    assert c2._raw is None  # the buffer is re-derived, not shipped
    assert _payload(c2, 42) == _payload(c, 42)
    for t in c.tx_ids(7):
        for blob in (c.tx_json(7, t), c.receipt_json(t), c.trace_json(t), c.state_diff_json(t)):
            json.loads(blob)
    assert json.loads(c.block_json(7))["transactions"] == c.tx_ids(7)
    assert 0.01 < len(c.fork_at) / 1000 < 0.04


def test_provider_parent_links_and_clock():
    c = SynthChain(1, 500, rate_per_s=10.0)
    assert c.block(10)["parent"] == c.block_hash(9)
    assert c.block_hash(10) != c.block_hash(10, fork=True)
    assert c.head() == 500
    c.start_clock(now=0.0)
    assert c.head_time(520) == pytest.approx(2.0)


def _write_archive(chain_dir: str, c: SynthChain, lo: int, hi: int) -> None:
    """Range files in the engine's layout, holding only the key columns."""
    os.makedirs(chain_dir, exist_ok=True)
    hs = list(range(lo, hi + 1))
    pq.write_table(pa.table({"height": hs, "blockId": [c.block_hash(h) for h in hs]}),
                   os.path.join(chain_dir, f"range-{lo:09d}_{hi:09d}.blocks.parquet"))
    txs = [(h, t) for h in hs for t in c.tx_ids(h)]
    tbl = pa.table({"height": [h for h, _ in txs], "txid": [t for _, t in txs]})
    pq.write_table(tbl, os.path.join(chain_dir, f"range-{lo:09d}_{hi:09d}.txes.parquet"))


def test_archive_check_passes_then_fails_on_a_deleted_file(tmp_path):
    c = SynthChain(9, 100)
    d = str(tmp_path / "eth")
    _write_archive(d, c, 0, 9)
    _write_archive(d, c, 10, 19)
    exp = checks.expected_keys(c, range(0, 20), ["blocks", "transactions"])
    assert checks.check_archive(checks.archive_keys(d), exp) == []
    os.remove(os.path.join(d, "range-000000010_000000019.txes.parquet"))
    assert checks.check_archive(checks.archive_keys(d), exp)
    assert checks.failing_heights(checks.archive_keys(d), c, range(0, 20)) == set(range(10, 20))


def test_tip_check_flags_a_kept_fork_loser(tmp_path):
    c = SynthChain(2, 0, fork_span=(0, 2000))
    h = min(c.fork_at)
    d = str(tmp_path / "eth")
    _write_archive(d, c, h, h)
    assert checks.failing_heights(checks.archive_keys(d), c, [h]) == set()
    pq.write_table(pa.table({"height": [h], "blockId": [c.block_hash(h, fork=True)]}),
                   os.path.join(d, f"{h:09d}.{c.block_hash(h, fork=True)}.block.parquet"))
    assert checks.failing_heights(checks.archive_keys(d), c, [h]) == {h}


def test_query_check_fails_on_a_dropped_row():
    rows = [(1, "a", 2.5), (2, "b", None)]
    assert checks.check_query("q", ["k", "s", "v"], rows, ["k", "s", "v"], list(rows)) == []
    assert checks.check_query("q", ["k", "s", "v"], rows[:1], ["k", "s", "v"], rows)
    assert checks.check_query("q", ["k", "s", "v"], [(1, "a", 2.6), rows[1]],
                              ["k", "s", "v"], rows)


class _Fix:
    def __init__(self, missing):
        self.missing = missing


def test_fix_check_wants_exactly_the_damaged_files():
    dmg = {("blocks", 0, 499), ("traces", 500, 999)}
    assert checks.check_fix(_Fix(sorted(dmg)), dmg) == []
    assert checks.check_fix(_Fix([("blocks", 0, 499)]), dmg)


def test_compact_check():
    class R:
        compacted_chunks = [(0, 99)]
    assert checks.check_compact(R(), [(0, 99)]) == []
    assert checks.check_compact(R(), [(0, 99), (100, 199)])


def test_span_check_fails_on_a_dropped_or_duplicated_row(tmp_path):
    c = SynthChain(4, 100)
    d = str(tmp_path / "eth")
    _write_archive(d, c, 0, 9)  # before the span: ignored
    _write_archive(d, c, 10, 19)
    span = Range(10, 19)
    assert _check_span(c, d, span) == []
    txes = os.path.join(d, "range-000000010_000000019.txes.parquet")
    full = pq.read_table(txes)
    pq.write_table(full.slice(1), txes)
    assert _check_span(c, d, span)
    pq.write_table(pa.concat_tables([full, full.slice(0, 1)]), txes)
    assert _check_span(c, d, span)


def test_metric_names_are_valid_and_match_benchmark_json():
    names = list(metrics.END_TO_END) + list(metrics.PER_LAYER)
    assert all(NAME_RE.match(n) and len(n) <= 64 for n in names)
    assert len(set(names)) == len(names)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def _fake_ctx(workload: str, streamed: bool = True) -> Ctx:
    t = Tracer("test", traced=True)

    def add(name, secs, **attrs):
        t.spans.append(Span(name, 0.0, None, end=secs, jobs=3, attrs=attrs))

    f = {}
    if workload == "archive_follow":
        add(metrics.ARCHIVE, 4.0)
        add(metrics.FIX, 2.0)
        add(metrics.BATCH, 1.5, lo=100)
        add(metrics.VERIFY, 9.0)
        f.update(bulk_blocks=1200, archive_bytes=6e7, archive_files=9, fix_blocks=300,
                 fix_missing_ranges=3, stream_blocks=0, stream_ok_blocks=0,
                 stream_lags=[], compact_blocks=0, verify_ok_blocks=1200,
                 stream_files=0, stream_bytes=0)
        if streamed:
            add(metrics.BATCH, 1.2, lo=112)
            add(metrics.COMPACT, 3.0)
            f.update(stream_blocks=20, stream_ok_blocks=20,
                     stream_lags=[0.5 + i / 10 for i in range(20)],
                     stream_files=40, stream_bytes=1e6)
    else:
        for k in ("a1_islands", "h3_shipping_priority"):
            add(f"queries.{k}", 0.8)
        add("core.checkpoint.release", 0.01)
        f.update(query_passes=[1.6], queries=2)
    add("session.get_spark", 5.0)
    return Ctx(None, t, "", 1, 10.0, attempted=3, figures=f)


@pytest.mark.parametrize("workload", ["archive_follow", "query_mix"])
def test_traced_and_untraced_runs_emit_the_same_end_to_end_names(workload):
    ctx = _fake_ctx(workload)
    detail, result = metrics.build(workload, ctx, 6.0, 900.0)
    assert detail["latency_p90_s"] > 0 and detail["peak_rss_mb"] == 900.0
    assert list(result["metrics"]) == list(metrics.END_TO_END)
    assert all(v["value"] > 0 for v in result["metrics"].values())
    per_layer = metrics.traced(result, detail, ctx)
    assert list(per_layer["metrics"]) == list(metrics.PER_LAYER)
    traced_e2e = [k[len("traced."):] for k in per_layer["metrics"] if k.startswith("traced.")]
    assert traced_e2e == list(result["metrics"])
    assert (per_layer["attempted"], per_layer["failed"]) == (result["attempted"], result["failed"])
    json.dumps(per_layer)


def test_a_raising_first_batch_still_yields_a_result():
    ctx = _fake_ctx("archive_follow", streamed=False)
    ctx.failed = 1
    detail, result = metrics.build("archive_follow", ctx, 6.0, 900.0)
    assert detail["latency_p50_s"] == 0.0 and detail["latency_samples"] == 0
    assert result["failed"] == 1 and list(result["metrics"]) == list(metrics.END_TO_END)
    json.dumps(metrics.traced(result, detail, ctx))


@pytest.mark.xfail(strict=True, raises=AssertionError,
                   reason="seed defect: verify deletes canonical streamed singles")
def test_verify_keeps_streamed_canonical_blocks(tmp_path):
    """The streamed span is left out of archive_follow's verify because of
    this defect (README.md). Once it passes, widen that verify to the
    streamed span and drop the xfail."""
    from dshackle_archive_spark.core.filenames import DataKind
    from dshackle_archive_spark.plans.archive_plan import archive_single_blocks
    from dshackle_archive_spark.plans.verify_plan import verify
    from harness import start_session, stop_session

    c = SynthChain(5, 1_000_000, fork_span=(200, 209))
    span = Range(200, 209)
    kinds = (DataKind.BLOCKS, DataKind.TRANSACTIONS)
    spark = start_session(Tracer("defect", traced=False))
    try:
        archive_single_blocks(spark, c, str(tmp_path), span, tables=kinds, forks=True)
        verify(spark, c, str(tmp_path), span, tables=kinds)
    finally:
        stop_session(spark)
    observed = checks.archive_keys(os.path.join(str(tmp_path), "eth"))
    assert checks.failing_heights(observed, c, range(span.start, span.end + 1)) == set()
