"""Metrics of one run, computed from its op records, spans and
set-up timings. Names and units match BENCHMARK.json; `live_lake`
and the error rate add the report-only metrics in `REPORT_ONLY`."""

from __future__ import annotations

import statistics

from stats import MIN_BEYOND, beyond, percentile, tail_percentile
from tracing import self_times

# every workload reports these; they are BENCHMARK.json's end_to_end
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "queries_per_s": "1/s",
    "query_p50_s": "s",
    "query_p90_s": "s",
}
# printed in the report line only: they do not apply to every workload,
# or are 0 on a healthy run (live_lake only, except error_rate)
REPORT_ONLY = {
    "error_rate": "share",
    "write_p50_s": "s",
    "write_p90_s": "s",
    "rows_ingested_per_s": "rows/s",
    "write_amplification": "ratio",
    "space_amplification": "ratio",
}
# self time per calling op, by span-name prefix
SPAN_METRICS = {
    "tables.table_s": "tables.",
    "plans.build_s": "plans.build",
    "plans.collect_s": "plans.collect",
    "operators.build_s": "operators.",
    "sources.classify_s": "sources.classify",
    "lakehouse.append_s": "lakehouse.append",
    "lakehouse.ivm_refresh_s": "lakehouse.ivm_refresh",
    "lakehouse.merge_s": "lakehouse.merge",
    "lakehouse.compact_s": "lakehouse.compact",
    "lakehouse.expire_s": "lakehouse.expire",
    "lakehouse.scan_s": "lakehouse.scan",
    "sql_gateway.sql_s": "sql_gateway.sql",
}
# Spark counters, mean per traced op
COUNTER_METRICS = {
    "spark.jobs_per_op": ("jobs", "count"),
    "spark.stages_per_op": ("stages", "count"),
    "spark.tasks_per_op": ("tasks", "count"),
    "spark.outside_jobs_s": ("outside_jobs_s", "s"),
    "spark.executor_cpu_s": ("executor_cpu_s", "s"),
    "spark.executor_offcpu_s": ("executor_offcpu_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
    "spark.input_bytes": ("input_bytes", "bytes"),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", "bytes"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "spark.spill_bytes": ("spill_bytes", "bytes"),
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    **{k: "s" for k in SPAN_METRICS},
    **{k: u for k, (_, u) in COUNTER_METRICS.items()},
    "lakehouse.commits": "count",
    "lakehouse.files_planned_ratio": "ratio",
    "lakehouse.files_live_peak": "count",
    "lakehouse.manifest_bytes_written": "bytes",
    "trace.overhead_share": "share",
}


def _latencies(records) -> list[float]:
    """Failed ops enter as +inf: a failure never shortens a timing."""
    return [r.latency if r.ok else float("inf") for r in records]


def _timing(name: str, records) -> dict:
    lat = _latencies(records)
    n = len(lat)
    return {
        f"{name}_p50_s": percentile(lat, 0.5) if n else None,
        f"{name}_p90_s": percentile(lat, 0.9) if n else None,
        f"{name}_samples": n,
        f"{name}_beyond_p90": beyond(n, 0.9) if n else 0,
        f"{name}_tail_q": tail_percentile(n, MIN_BEYOND),
    }


def window(ctx) -> float:
    ends = [r.end for r in ctx.records]
    return max(ends) - ctx.extra["window_start"] if ends else float("nan")


def end_to_end(ctx, peak_rss_mb: float) -> tuple[dict, dict]:
    """(metrics, detail): every END_TO_END and applicable REPORT_ONLY
    metric, plus sample counts and set-up parts."""
    reads = [r for r in ctx.records if r.kind == "read"]
    writes = [r for r in ctx.records if r.kind == "write"]
    win = window(ctx)
    detail = {
        "window_s": win,
        **_timing("query", reads),
        # per op name, so that e.g. JVM and Python-worker queries of the
        # corpus can be told apart
        "median_s_by_op": {
            n: statistics.median(r.latency for r in ctx.records if r.name == n and r.ok)
            for n in sorted({r.name for r in ctx.records if r.ok})
        },
    }
    m = {
        "setup_s": ctx.setup["fixtures_s"] + ctx.setup["get_spark_s"]
        + ctx.setup["warmup_s"],
        "peak_rss_mb": peak_rss_mb,
        "queries_per_s": sum(r.ok for r in reads) / win,
        "query_p50_s": detail.pop("query_p50_s"),
        "query_p90_s": detail.pop("query_p90_s"),
        "error_rate": sum(not r.ok for r in ctx.records) / max(1, len(ctx.records)),
    }
    if writes:
        t = _timing("write", writes)
        m["write_p50_s"] = t.pop("write_p50_s")
        m["write_p90_s"] = t.pop("write_p90_s")
        detail.update(t)
        x = ctx.extra
        m["rows_ingested_per_s"] = x["rows_ingested"] / win
        m["write_amplification"] = (
            x["bytes_committed"] + x["manifest_bytes_written"]) / max(1, x["input_bytes"])
        m["space_amplification"] = x["warehouse_bytes"] / max(1, x["live_bytes"])
        detail["write_ops"] = {
            n: sum(r.name == n for r in writes) for n in sorted({r.name for r in writes})}
    return m, detail


def tracing_overhead(records) -> float:
    """Tracing overhead: per op name, median traced latency over median
    untraced latency, weighted by the untraced medians."""
    num = den = 0.0
    for name in {r.name for r in records}:
        tr = [r.latency for r in records if r.name == name and r.ok and r.traced]
        un = [r.latency for r in records if r.name == name and r.ok and not r.traced]
        if tr and un:
            num += statistics.median(tr) - statistics.median(un)
            den += statistics.median(un)
    return num / den if den else 0.0


def by_op(records, selfs: dict[int, dict[str, float]]) -> dict:
    """Per op name: traced, untraced and failed counts, the median
    latency of traced and of untraced ops, the mean self time per span
    name over the traced ops, and their mean Spark counters."""
    out = {}
    for name in sorted({r.name for r in records}):
        mine = [r for r in records if r.name == name]
        tr = [r for r in mine if r.ok and r.traced]
        un = [r for r in mine if r.ok and not r.traced]
        span_self: dict[str, float] = {}
        for r in tr:
            for span, v in selfs.get(r.op_id, {}).items():
                span_self[span] = span_self.get(span, 0.0) + v / len(tr)
        with_counters = [r.counters for r in tr if r.counters]
        out[name] = {
            "traced": len(tr),
            "untraced": len(un),
            "failed": sum(not r.ok for r in mine),
            "median_traced_s": statistics.median(r.latency for r in tr) if tr else None,
            "median_untraced_s": statistics.median(r.latency for r in un) if un else None,
            "self_s_by_span": dict(sorted(span_self.items(), key=lambda kv: -kv[1])),
            "spark": {k: statistics.fmean(c[k] for c in with_counters)
                      for k in with_counters[0]} if with_counters else {},
        }
    return out


def per_layer(ctx) -> tuple[dict, dict]:
    """(metrics, detail): every PER_LAYER metric (0 where the layer is
    not on the workload's path), plus the per-op-name breakdown, the
    self time per layer and the largest excess of an op's summed self
    times over its wall time."""
    spans = ctx.tracer.spans
    selfs = self_times(spans)
    traced = [r for r in ctx.records if r.traced]
    walls = {s.sid: s.end - s.start for s in spans if s.parent is None}
    m = {
        "session.get_spark_s": ctx.setup["get_spark_s"],
        "session.warmup_s": ctx.setup["warmup_s"],
    }
    for metric, prefix in SPAN_METRICS.items():
        per_op = [
            sum(v for k, v in ops.items() if k.startswith(prefix))
            for ops in selfs.values()
            if any(k.startswith(prefix) for k in ops)
        ]
        m[metric] = statistics.fmean(per_op) if per_op else 0.0
    for metric, (key, _) in COUNTER_METRICS.items():
        vals = [r.counters[key] for r in traced if r.counters]
        m[metric] = statistics.fmean(vals) if vals else 0.0
    tw = [r for r in traced if r.kind == "write"]
    m["lakehouse.commits"] = (
        statistics.fmean(r.info.get("commits", 0) for r in tw) if tw else 0.0)
    ratios = [r.info["planned_ratio"] for r in traced if "planned_ratio" in r.info]
    m["lakehouse.files_planned_ratio"] = statistics.fmean(ratios) if ratios else 0.0
    m["lakehouse.files_live_peak"] = ctx.extra.get("files_live_peak", 0)
    writes = [r for r in ctx.records if r.kind == "write"]
    m["lakehouse.manifest_bytes_written"] = (
        ctx.extra.get("manifest_bytes_written", 0) / len(writes) if writes else 0.0)
    m["trace.overhead_share"] = tracing_overhead(ctx.records)
    # acceptance check: per op, self times sum to at most the op's wall
    worst = max(
        (sum(ops.values()) - walls[op] for op, ops in selfs.items() if op in walls),
        default=0.0,
    )
    by_layer: dict[str, float] = {}
    for ops in selfs.values():
        for name, v in ops.items():
            layer = "client" if name.startswith("op.") else name.split(".")[0]
            by_layer[layer] = by_layer.get(layer, 0.0) + v
    n_ops = max(1, len(walls))
    detail = {
        "traced_ops": len(traced),
        "untraced_ops": len(ctx.records) - len(traced),
        "by_op": by_op(ctx.records, selfs),
        "self_s_per_op_by_layer": {k: v / n_ops for k, v in sorted(by_layer.items())},
        "selftime_excess_s": worst,
    }
    return m, detail
