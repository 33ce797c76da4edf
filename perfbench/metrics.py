"""Turn a finished run's spans and figures into the printed metrics.

End-to-end metrics (``--trace 0``) are the same three names on every
workload, each read the way that workload's user sees it:

- ``setup_s``: the cold set-up (JVM launch, session start, input build).
- ``work_s``: wall time of the timed calls. archive_follow: archive, fix,
  every stream batch, compact and verify; query_mix: one pass over the mix
  by one client per core (median over passes).
- ``throughput_per_s``: checked items per second of the workload's write
  or query calls: blocks written by archive, fix and the stream batches per
  second of those calls (archive_follow); matching queries per second of a
  pass (query_mix). Items whose output failed its check count zero.

Latency percentiles (per live block from its appearance at the virtual
head to the return of the ``stream_batch`` that wrote it; per query) and
the driver JVM's peak RSS swing by a quarter or more between runs on a
shared 4-core host, so they are reported, not gated: on the detail line and
in the traced run's per-layer set (``e2e.latency_p50_s``,
``e2e.latency_p90_s``, ``jvm.peak_rss_mb``), next to the figures named
after single workflows (``e2e.archive_blocks_per_s`` ...).
"""

from __future__ import annotations

from harness import median, quantile
from workloads import QUERY_FAMILIES

END_TO_END = {
    "setup_s": "s",
    "work_s": "s",
    "throughput_per_s": "1/s",
}

WORKFLOW_FIGURES = {
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "archive_blocks_per_s": "1/s",
    "archive_bytes_per_block": "B",
    "verify_blocks_per_s": "1/s",
    "fix_blocks_per_s": "1/s",
    "stream_blocks_per_s": "1/s",
    "compact_blocks_per_s": "1/s",
    "query_mix_s": "s",
}

_KEYS = [k for ks in QUERY_FAMILIES.values() for k in ks]
PER_LAYER = {
    "jvm.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "setup.warmup_s": "s",
    "sources.fetcher.blocks_s": "s",
    "sources.fetcher.transactions_s": "s",
    "sources.fetcher.traces_s": "s",
    "sources.fetcher.rows": "count",
    "sources.ref_layout.write_s": "s",
    "sources.ref_layout.files": "count",
    "sources.ref_layout.bytes": "B",
    "sources.archive.inventory_s": "s",
    "sources.archive.files_listed": "count",
    "operators.inventory.group_ranges_s": "s",
    "operators.inventory.groups": "count",
    "plans.archive_plan.s": "s",
    "plans.archive_plan.spark_jobs": "count",
    "plans.verify_plan.s": "s",
    "plans.verify_plan.spark_jobs": "count",
    "plans.verify_plan.stages": "count",
    "plans.verify_plan.tasks": "count",
    "plans.verify_plan.groups_ok_ratio": "ratio",
    "plans.fix_plan.s": "s",
    "plans.fix_plan.spark_jobs": "count",
    "plans.fix_plan.missing_ranges": "count",
    "plans.compact_plan.s": "s",
    "plans.compact_plan.spark_jobs": "count",
    "plans.compact_plan.chunks_compacted_ratio": "ratio",
    "plans.compact_plan.bytes_rewritten": "B",
    "streaming.stream_plan.batch_s": "s",
    "streaming.stream_plan.heights_per_batch": "count",
    "streaming.stream_plan.spark_jobs_per_batch": "count",
    "core.checkpoint.release_s": "s",
    **{f"queries.{fam}_s": "s" for fam in QUERY_FAMILIES},
    **{f"queries.{k}_s": "s" for k in _KEYS},
    **{f"queries.{k}.spark_jobs": "count" for k in _KEYS},
    **{f"e2e.{k}": u for k, u in WORKFLOW_FIGURES.items()},
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}

ARCHIVE, VERIFY, FIX = "plans.archive_plan.archive", "plans.verify_plan.verify", "plans.fix_plan.fix"
COMPACT, BATCH = "plans.compact_plan.compact", "streaming.stream_plan.stream_batch"


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def _ok(ctx, span: str, items: int) -> int:
    """``items`` if no operation named ``span`` failed its check, else 0."""
    return 0 if any(p.startswith(span + ":") for p in ctx.problems) else items


def _workflow_figures(workload: str, ctx) -> dict:
    t, f = ctx.tracer, ctx.figures
    out = dict.fromkeys(WORKFLOW_FIGURES, 0.0)
    if workload == "archive_follow":
        lat = f["stream_lags"]
        out["archive_blocks_per_s"] = _div(_ok(ctx, ARCHIVE, f["bulk_blocks"]), t.total(ARCHIVE))
        out["archive_bytes_per_block"] = _div(f["archive_bytes"], f["bulk_blocks"])
        out["fix_blocks_per_s"] = _div(_ok(ctx, FIX, f["fix_blocks"]), t.total(FIX))
        out["stream_blocks_per_s"] = _div(f["stream_ok_blocks"], t.total(BATCH))
        out["compact_blocks_per_s"] = _div(_ok(ctx, COMPACT, f["compact_blocks"]),
                                           t.total(COMPACT))
        out["verify_blocks_per_s"] = _div(f.get("verify_ok_blocks", 0), t.total(VERIFY))
    else:
        lat = [sp.seconds for sp in t.spans if sp.name.startswith("queries.")]
        out["query_mix_s"] = median(f["query_passes"])
    out["latency_p50_s"] = quantile(lat, 0.5)
    out["latency_p90_s"] = quantile(lat, 0.9)
    out["latency_samples"] = len(lat)
    return out


def build(workload: str, ctx, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    """(detail, result) for one finished run."""
    t, f = ctx.tracer, ctx.figures
    wf = _workflow_figures(workload, ctx)
    if workload == "archive_follow":
        work = sum(t.total(n) for n in (ARCHIVE, FIX, BATCH, COMPACT, VERIFY))
        written = (_ok(ctx, ARCHIVE, f["bulk_blocks"]) + _ok(ctx, FIX, f["fix_blocks"])
                   + f["stream_ok_blocks"])
        throughput = _div(written, t.total(ARCHIVE) + t.total(FIX) + t.total(BATCH))
    else:
        work = wf["query_mix_s"]
        n_bad = len({p.split(":")[0] for p in ctx.problems if p.startswith("queries.")})
        throughput = _div(f["queries"] - n_bad, work)
    values = {
        "setup_s": setup_s,
        "work_s": work,
        "throughput_per_s": throughput,
    }
    calls = {}
    for sp in t.spans:
        calls.setdefault(sp.name, []).append(round(sp.seconds, 4))
    detail = {
        "workload": workload,
        "peak_rss_mb": rss_mb,
        "calls_s": calls,
        **wf,
        **{k: v for k, v in f.items() if not isinstance(v, list)},
        "problems": ctx.problems[:20],
        "metrics": values,
    }
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()},
    }
    return detail, result


def traced(result: dict, detail: dict, ctx) -> dict:
    """The per-layer result of a traced run (same correctness counts)."""
    t, f = ctx.tracer, ctx.figures
    v = dict.fromkeys(PER_LAYER, 0.0)
    v["jvm.peak_rss_mb"] = detail["peak_rss_mb"]
    v["session.get_spark_s"] = t.total("session.get_spark")
    v["setup.warmup_s"] = t.total("setup.warmup")
    fetch_s = 0.0
    rows = 0
    for kind in ("blocks", "transactions", "traces"):
        name = f"sources.fetcher.{kind}"
        v[f"{name}_s"] = t.total(name)
        fetch_s += v[f"{name}_s"]
        rows += sum(sp.attrs.get("rows", 0) for sp in t.spans if sp.name == name)
    v["sources.fetcher.rows"] = rows
    # the fetch spans were extra materialisations outside the write calls,
    # so the writer's share is the write calls minus them
    v["sources.ref_layout.write_s"] = max(0.0, t.total(ARCHIVE) + t.total(BATCH) - fetch_s)
    v["sources.ref_layout.files"] = f.get("archive_files", 0) + f.get("stream_files", 0)
    v["sources.ref_layout.bytes"] = f.get("archive_bytes", 0) + f.get("stream_bytes", 0)
    inv = [sp for sp in t.spans if sp.name == "sources.archive.inventory"]
    v["sources.archive.inventory_s"] = sum(sp.seconds for sp in inv)
    v["sources.archive.files_listed"] = sum(sp.attrs["files_listed"] for sp in inv)
    grp = [sp for sp in t.spans if sp.name == "operators.inventory.group_ranges"]
    v["operators.inventory.group_ranges_s"] = sum(sp.seconds for sp in grp)
    v["operators.inventory.groups"] = sum(sp.attrs["groups"] for sp in grp)
    for span, key in ((ARCHIVE, "archive_plan"), (VERIFY, "verify_plan"),
                      (FIX, "fix_plan"), (COMPACT, "compact_plan")):
        v[f"plans.{key}.s"] = t.total(span)
        v[f"plans.{key}.spark_jobs"] = t.total(span, "jobs")
    v["plans.verify_plan.stages"] = t.total(VERIFY, "stages")
    v["plans.verify_plan.tasks"] = t.total(VERIFY, "tasks")
    v["plans.verify_plan.groups_ok_ratio"] = _div(f.get("verify_groups_ok", 0),
                                                  f.get("verify_groups_total", 0))
    v["plans.fix_plan.missing_ranges"] = f.get("fix_missing_ranges", 0)
    v["plans.compact_plan.chunks_compacted_ratio"] = f.get("compact_chunks_ratio", 0.0)
    v["plans.compact_plan.bytes_rewritten"] = f.get("compact_bytes_rewritten", 0)
    batches = [sp for sp in t.spans if sp.name == BATCH]
    if batches:
        ends = [sp.attrs["lo"] for sp in batches[1:]] + [f["stream_blocks"] + batches[0].attrs["lo"]]
        v["streaming.stream_plan.batch_s"] = median([sp.seconds for sp in batches])
        v["streaming.stream_plan.heights_per_batch"] = median(
            [e - sp.attrs["lo"] for sp, e in zip(batches, ends)])
        v["streaming.stream_plan.spark_jobs_per_batch"] = median(
            [t.subtree_total(i, "jobs") for i, sp in enumerate(t.spans) if sp.name == BATCH])
    v["core.checkpoint.release_s"] = t.total("core.checkpoint.release")
    passes = max(1, len(f.get("query_passes", [])))
    for fam, keys in QUERY_FAMILIES.items():
        v[f"queries.{fam}_s"] = sum(t.total(f"queries.{k}") for k in keys) / passes
        for k in keys:
            v[f"queries.{k}_s"] = t.total(f"queries.{k}") / passes
            v[f"queries.{k}.spark_jobs"] = t.total(f"queries.{k}", "jobs") / passes
    for k in WORKFLOW_FIGURES:
        v[f"e2e.{k}"] = detail[k]
    for k in END_TO_END:
        v[f"traced.{k}"] = result["metrics"][k]["value"]
    return {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v[k], "unit": u} for k, u in PER_LAYER.items()},
    }
