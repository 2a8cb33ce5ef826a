"""Per-layer metrics of a traced run. Every workload reports every
metric; a layer a workload does not run reports 0 with ``n=0``."""

from __future__ import annotations

import statistics

from perfbench.analytics import headline
from perfbench.common import median, percentile, self_times
from perfbench.streams import STREAMS


def names() -> dict[str, str]:
    """Metric name → unit, in report order."""
    out = {
        "session.start_s": "s",
        "session.driver_rss_mb": "MB",
        "web.self_ms.p50": "ms",
        "web.response_bytes.p50": "B",
        "app.self_ms.p50": "ms",
        "app.size_ms.max": "ms",
        "dao.catalog_ms.p50": "ms",
        "dao.build_ms.p50": "ms",
        "dao.collect_ms.p50": "ms",
        "dao.register_views_ms.p50": "ms",
        "dao.calls_per_op": "count",
        "warehouse.files": "count",
        "warehouse.partitions": "count",
        "spark.jobs_per_op": "count",
        "spark.stages_per_op": "count",
        "spark.tasks_per_op": "count",
        "spark.failed_tasks": "count",
        "catalyst.analysis_ms": "ms",
        "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms",
        "queries.build_ms.cold": "ms",
        "queries.exec_ms.cold": "ms",
        "queries.build_ms.steady": "ms",
        "queries.exec_ms.steady": "ms",
        "queries.plan_cache_hit_ratio": "1",
    }
    for q in headline():
        out[f"queries.{q}.cold_ms"] = "ms"
        out[f"queries.{q}.steady_ms"] = "ms"
    out.update({
        "sources.spool_write_ms": "ms",
        "sources.parse_enrich_ms": "ms",
        "sources.dropped_rows": "count",
        "ingest.triggers": "count",
        "ingest.trigger_ms.p50": "ms",
        "ingest.add_batch_ms.p50": "ms",
        "ingest.latest_offset_ms.p50": "ms",
        "ingest.query_planning_ms.p50": "ms",
        "ingest.wal_commit_ms.p50": "ms",
        "ingest.files_written": "count",
        "ingest.compact_ms": "ms",
        "ingest.files_after_compact": "count",
    })
    for s in STREAMS:
        out[f"streams.{s}.trigger_ms.p50"] = "ms"
        out[f"streams.{s}.add_batch_ms.p50"] = "ms"
        out[f"streams.{s}.jobs_per_trigger"] = "count"
        out[f"streams.{s}.state_dirs"] = "count"
        out[f"streams.{s}.state_bytes"] = "B"
    out["trace.overhead_pct"] = "%"
    return out


def _p50(xs):
    return (percentile(xs, 50.0), len(xs)) if xs else (0.0, 0)


def per_layer(workload: str, out: dict, tracer, spark, session_s: float,
              rss_mb: float) -> dict:
    units = names()
    vals: dict[str, tuple[float, int]] = {k: (0.0, 0) for k in units}
    vals["session.start_s"] = (session_s, 1)
    vals["session.driver_rss_mb"] = (rss_mb, 1)
    jobs = out.get("jobs") or []
    if jobs:
        n = len(jobs)
        vals["spark.jobs_per_op"] = (sum(j["jobs"] for j in jobs) / n, n)
        vals["spark.stages_per_op"] = (sum(j["stages"] for j in jobs) / n, n)
        vals["spark.tasks_per_op"] = (sum(j["tasks"] for j in jobs) / n, n)
        vals["spark.failed_tasks"] = (float(sum(j["failed"] for j in jobs)), n)
    if workload == "serve":
        _serve(vals, out, tracer)
    else:
        _analytics(vals, out)
    return {k: {"value": float(v), "unit": units[k], "n": n}
            for k, (v, n) in vals.items()}


def _serve(vals, out, tracer) -> None:
    spans = tracer.spans
    st = self_times(spans)
    by_id = {s.sid: s for s in spans}
    vals["web.self_ms.p50"] = _p50([st[s.sid] * 1e3 for s in spans if s.name.startswith("web.")])
    vals["web.response_bytes.p50"] = _p50(out["response_bytes"])
    vals["app.self_ms.p50"] = _p50([st[s.sid] * 1e3 for s in spans if s.name.startswith("app.")])
    sizes = [s.dur * 1e3 for s in spans if s.name == "app.size"]
    vals["app.size_ms.max"] = (max(sizes), len(sizes)) if sizes else (0.0, 0)
    dao = [s for s in spans if s.name.startswith("dao.")]
    vals["dao.catalog_ms.p50"] = _p50(
        [s.dur * 1e3 for s in dao if s.name in ("dao.tables", "dao.table_exists")])
    from perfbench.serve import DAO_BUILD, DAO_RESULT

    build = {f"dao.{m}" for m in DAO_BUILD}
    # outermost builder spans only: _fact() inside table() is one build
    vals["dao.build_ms.p50"] = _p50([
        s.dur * 1e3 for s in dao
        if s.name in build and not (s.parent in by_id and by_id[s.parent].name in build)])
    vals["dao.collect_ms.p50"] = _p50(
        [st[s.sid] * 1e3 for s in dao if s.name in {f"dao.{m}" for m in DAO_RESULT}])
    vals["dao.register_views_ms.p50"] = _p50(
        [s.dur * 1e3 for s in dao if s.name == "dao.register_views"])
    reqs = [s for s in spans if s.name.startswith("web.")]
    top_dao = [s for s in dao if not (s.parent in by_id and by_id[s.parent].name.startswith("dao."))]
    if reqs:
        vals["dao.calls_per_op"] = (len(top_dao) / len(reqs), len(reqs))
    wh = out["warehouse"]
    vals["warehouse.files"] = (wh["files"], 1)
    vals["warehouse.partitions"] = (wh["partitions"], 1)
    # ingest (the setup's warehouse build)
    writes = [s for s in spans if s.name == "sources.spool_write_total"]
    if writes:
        vals["sources.spool_write_ms"] = (writes[0].dur * 1e3, out["ingest_rows"])
    if "parse_enrich_ms" in out:
        vals["sources.parse_enrich_ms"] = (out["parse_enrich_ms"], 1)
    vals["sources.dropped_rows"] = (out["checks"]["dropped"], 1)
    prog = [p for p in out["ingest"]["progress"] if p["numInputRows"] > 0]
    vals["ingest.triggers"] = (len(prog), len(prog))
    for key, metric in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                        ("latestOffset", "latest_offset_ms"),
                        ("queryPlanning", "query_planning_ms"), ("walCommit", "wal_commit_ms")):
        vals[f"ingest.{metric}.p50"] = _p50([p["durationMs"].get(key, 0) for p in prog])
    vals["ingest.files_written"] = (wh["files"], 1)
    comp = out.get("compact")
    if comp:
        vals["ingest.compact_ms"] = (comp["compact_ms"], 1)
        vals["ingest.files_after_compact"] = (comp["after_files"], 1)
    un, tr = out["overhead"]  # per-route medians, paired
    if un and tr:
        vals["trace.overhead_pct"] = (100.0 * (sum(tr) / sum(un) - 1.0), len(tr))


def _analytics(vals, out) -> None:
    lay = out["layer"]
    cat = lay["catalyst"]
    for ph in ("analysis", "optimization", "planning"):
        vals[f"catalyst.{ph}_ms"] = (sum(c[ph] for c in cat), len(cat))
    cold = lay["cold"]
    vals["queries.build_ms.cold"] = (sum(v[0][0] for v in cold.values()) * 1e3, len(cold))
    vals["queries.exec_ms.cold"] = (sum(v[0][1] for v in cold.values()) * 1e3, len(cold))
    steady = [x for v in lay["steady"].values() for x in v]
    vals["queries.build_ms.steady"] = _p50([b * 1e3 for b, _ in steady])
    vals["queries.exec_ms.steady"] = _p50([e * 1e3 for _, e in steady])
    if lay["repeats"]:
        vals["queries.plan_cache_hit_ratio"] = (lay["hits"] / lay["repeats"], lay["repeats"])
    for q, v in cold.items():
        vals[f"queries.{q}.cold_ms"] = ((v[0][0] + v[0][1]) * 1e3, 1)
    for q, v in lay["steady"].items():
        vals[f"queries.{q}.steady_ms"] = (statistics.median(b + e for b, e in v) * 1e3, len(v))
    sres = out.get("streams") or {}
    for s in STREAMS:
        r = sres.get(s)
        if not r:
            continue
        vals[f"streams.{s}.trigger_ms.p50"] = _p50(r["trigger_ms"])
        vals[f"streams.{s}.add_batch_ms.p50"] = _p50(r["add_batch_ms"])
        if r["triggers"]:
            vals[f"streams.{s}.jobs_per_trigger"] = (r["jobs"] / r["triggers"], r["triggers"])
        vals[f"streams.{s}.state_dirs"] = (r["state_dirs"], 1)
        vals[f"streams.{s}.state_bytes"] = (r["state_bytes"], 1)
    un, tr = out["overhead"]
    if un and tr:
        vals["trace.overhead_pct"] = (100.0 * (median(tr) / median(un) - 1.0), len(tr))
