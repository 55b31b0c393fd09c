"""Per-layer metrics of a traced run, derived from the recorded spans.

Every metric is per measured operation (a week of the weekly batch, a
run-farm request with its status polls, a weather cycle, a curation pass)
unless its name says otherwise. Workloads that never enter a layer report
0 for it; NOTES.md maps each metric to the end-to-end metric it should
move.
"""

from __future__ import annotations

import statistics

from perfbench.measure import percentile
from perfbench.tracing import Span, outermost, self_times

CURATION = (
    "docs_curation_funnel",
    "embeddings_semdedup_prune",
    "embeddings_knn_ivf",
    "docs_hybrid_rrf_search",
)


def _sum(spans: list[Span], name: str) -> float:
    return sum(s.dur for s in spans if s.name == name)


def _calls(spans: list[Span], name: str) -> int:
    return sum(s.name == name for s in spans)


def layer_metrics(tracer, samples, op_stats, op_wall_s: float,
                  untraced_latency: float | None) -> dict:
    all_spans = tracer.spans
    spans = [s for s in all_spans if s.op is not None]
    n = max(len(samples), 1)
    selfs = self_times(all_spans)

    def per_op(x: float) -> float:
        return x / n

    def m(value, unit):
        return {"value": value, "unit": unit}

    out = {}
    gs = [s.dur for s in all_spans if s.name == "session.get_spark"]
    out["session.get_spark_s"] = m(statistics.median(gs) if gs else 0.0, "s")
    out["catalog.table_calls"] = m(per_op(_calls(spans, "catalog.table")), "count")

    builds = outermost(spans, "weekly.build")
    out["weekly.build_calls"] = m(per_op(len(builds)), "count")
    out["weekly.build_s"] = m(per_op(sum(s.dur for s in builds)), "s")

    rsf = [s for s in spans if s.name == "on_demand.run_single_farm"]
    out["on_demand.run_single_farm_s"] = m(per_op(sum(s.dur for s in rsf)), "s")
    jobs_in = [s.attrs["jobs"] for s in rsf if s.attrs]
    out["on_demand.spark_jobs_per_call"] = m(statistics.mean(jobs_in) if jobs_in else 0.0, "count")

    so = [s for s in spans if s.name == "sinks.staged_overwrite"]
    out["sinks.staged_overwrite_calls"] = m(per_op(len(so)), "count")
    out["sinks.staged_overwrite_s"] = m(per_op(sum(s.dur for s in so)), "s")
    for fn in ("read_or_empty", "replace_by_key", "merge_upsert"):
        out[f"sinks.{fn}_s"] = m(per_op(_sum(spans, f"sinks.{fn}")), "s")
    rows = sum((s.attrs or {}).get("rows", 0) for s in so)
    out["sinks.rows_written"] = m(per_op(rows), "count")
    out["sinks.bytes_written"] = m(per_op(sum((s.attrs or {}).get("bytes", 0) for s in so)), "bytes")
    useful = sum(st["useful_rows"] for st in op_stats)
    out["sinks.write_useful_ratio"] = m(useful / rows if rows else 0.0, "ratio")

    out["manifest.record_s"] = m(
        per_op(_sum(spans, "manifest.record_step") + _sum(spans, "manifest.finish")), "s"
    )
    out["runner.run_weekly_batch_s"] = m(per_op(_sum(spans, "runner.run_weekly_batch")), "s")
    out["runner.run_collector_s"] = m(per_op(_sum(spans, "runner.run_collector")), "s")
    out["runner.self_s"] = m(
        per_op(sum(selfs[s.id] for s in spans if s.name.startswith("runner."))), "s"
    )

    rf = [s for s in spans if s.name == "api.handle_run_farm"]
    out["api.handle_run_farm_self_s"] = m(per_op(sum(selfs[s.id] for s in rf)), "s")
    hs = [s for s in spans if s.name == "api.handle_status"]
    out["api.handle_status_s"] = m(statistics.median([s.dur for s in hs]) if hs else 0.0, "s")
    out["api.http_overhead_ms"] = m(_http_overhead_ms(spans), "ms")

    weather = outermost(spans, "weather.")
    out["weather.build_s"] = m(per_op(sum(s.dur for s in weather)), "s")
    for q in CURATION:
        for part in ("build", "exec"):
            out[f"curation.{q}.{part}_s"] = m(per_op(_sum(spans, f"curation.{q}.{part}")), "s")

    for k in ("jobs", "stages", "tasks"):
        out[f"spark.{k}"] = m(per_op(sum(st[k] for st in op_stats)), "count")
    builds = builds + weather + [s for s in spans if s.name.startswith("curation.")
                                 and s.name.endswith(".build")]
    build_s = sum(s.dur for s in builds)
    out["plan_build_share"] = m(build_s / op_wall_s if op_wall_s else 0.0, "ratio")

    # Traced minus untraced latency when an untraced run of the same
    # workload, seed, sources and window left its result; otherwise the
    # time the tracer's hooks spent inside the operations (a lower bound).
    # The difference of two runs carries the latency's run-to-run spread,
    # so the hooks' own time is reported beside it.
    hook_s = per_op(_sum(spans, "trace.hook"))
    out["trace.hook_s"] = m(hook_s, "s")
    traced = percentile([s.latency_s for s in samples], 50)
    if untraced_latency is not None:
        out["trace.overhead_s"] = m(traced - untraced_latency, "s")
    else:
        out["trace.overhead_s"] = m(hook_s, "s")
    return out


def install_hooks(tracer, counter) -> None:
    """Counts taken at layer boundaries: what each staged overwrite wrote,
    and how many Spark jobs each on-demand engine call ran."""
    import os

    import pyarrow.parquet as pq

    def written(state, args, kwargs):
        path = kwargs.get("path") or args[2]
        rows = nbytes = 0
        for dirpath, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    full = os.path.join(dirpath, f)
                    rows += pq.ParquetFile(full).metadata.num_rows
                    nbytes += os.path.getsize(full)
        return {"rows": rows, "bytes": nbytes}

    def jobs_before(args, kwargs):
        return counter.max_id()

    def jobs_after(state, args, kwargs):
        return {"jobs": counter.max_id() - state}

    tracer.hooks["sinks.staged_overwrite"] = (None, written)
    tracer.hooks["on_demand.run_single_farm"] = (jobs_before, jobs_after)


def _http_overhead_ms(spans: list[Span]) -> float:
    """Median over requests of client latency minus the handler span it
    contains (client spans are ``http.*``, handler spans ``api.handle_*``)."""
    clients = [s for s in spans if s.name.startswith("http.")]
    handlers = [s for s in spans if s.name.startswith("api.handle_")]
    gaps = []
    for c in clients:
        inner = [h for h in handlers if h.start >= c.start and h.end <= c.end]
        if inner:
            gaps.append((c.dur - sum(h.dur for h in inner)) * 1000)
    return statistics.median(gaps) if gaps else 0.0
