"""``serve`` workload: the reference's read path (web → app → dao).

Setup builds the warehouse with the shipped ingest (``UdpSpool`` →
``start_file_ingest``), leaves it uncompacted with several files per
(service, date) partition, starts ``BallconeHTTPServer``, calls each
route once (its cold call; ``/`` also fills the size cache) and warms
the JVM up with :data:`WARM_REQUESTS` requests from ``nproc`` clients.
The timed phase is a closed loop: one client on one keep-alive
connection sends a fixed, seeded plan of requests back to back, each
as soon as the previous one has completed. Every response is compared
with an answer computed in plain Python from the generator's own
records.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import subprocess
import sys
import time
import urllib.parse
from collections import Counter, defaultdict

from perfbench import gen
from perfbench.common import OpRecord, Tracer, job_counts, median, mix_p50, nproc

#: Timed requests per second of ``--seconds``: about what one client
#: completes per second on a 4-core box, so the timed phase lasts about
#: ``--seconds`` there (README.md, "Load").
REQUESTS_PER_S = 2.5
#: Clients of the timed phase. One: each request then runs alone, so
#: its latency is the program's, not the queue's (README.md, "Load").
CLIENTS = 1
#: Seed of the load: route order and each request's service and window.
#: The run's ``--seed`` draws the data the requests read.
LOAD_SEED = 1
#: Closed-loop warm-up requests (nproc clients) after the cold pass. The
#: read path's per-route latency falls steeply for its first ~80 requests
#: as the JVM warms up and is still a little above its level at ~100
#: (README.md, "Warm-up"); the timed requests start past that.
WARM_REQUESTS = 100
#: Warehouse shape.
ROWS = 12_000
DAYS = 7
WAVES = 3  # spool files → files per (service, date) partition
#: Page views per 10 and the requests each issues. The routes per view
#: follow the reference UI's page flow (SURVEY.md §3.2): a service page
#: is the page request plus the two Chart.js fetches its template makes
#: (``/count`` and ``/average``), so those three routes always come in
#: equal numbers. The views per 10 are an assumption, not a measurement
#: (no request log exists): service pages are what the UI is for, the
#: dashboard is the landing page visited once per few service pages,
#: and no page issues ``count_group`` or ``/sql`` (an API for scripts
#: and a console for operators), so each gets the smallest share.
PAGE_VIEWS = [
    ("dashboard", 2, ("root",)),
    ("service page", 6, ("service", "count", "average")),
    ("count_group API", 1, ("count_group",)),
    ("SQL console", 1, ("sql",)),
]
#: Route mix (kind, share of requests), derived from PAGE_VIEWS.
_REQS = sum(v * len(kinds) for _p, v, kinds in PAGE_VIEWS)
MIX = [(k, v / _REQS) for _p, v, kinds in PAGE_VIEWS for k in kinds]
KINDS = [k for k, _ in MIX]


# --------------------------------------------------------------------- #
# requests and their expected answers                                   #
# --------------------------------------------------------------------- #


def plan_requests(n: int, seed: int = LOAD_SEED) -> list[tuple[str, str, dict]]:
    """``n`` requests as (kind, url, params). The routes are stratified
    (each kind gets its weight's share) and shuffled. The load is the
    same in every run: which requests read 3 or 7 days of the biggest
    or the smallest service would otherwise decide the median more than
    the code does."""
    rng = random.Random(seed)
    shares = [(n * w, k) for k, w in MIX]
    counts = {k: int(x) for x, k in shares}
    for _frac, k in sorted(((x - int(x), k) for x, k in shares), reverse=True)[
        : n - sum(counts.values())
    ]:
        counts[k] += 1
    kinds = [k for k in KINDS for _ in range(counts[k])]
    rng.shuffle(kinds)
    return [draw_request(rng, kind) for kind in kinds]


def draw_request(rng: random.Random, kind: str) -> tuple[str, str, dict]:
    """(kind, url, params) — services skewed, stop from recent days."""
    svc = rng.choices(gen.SERVICES, gen.SERVICE_WEIGHTS)[0]
    stop = gen.END_DAY - dt.timedelta(days=rng.choice([0, 0, 1, 1, 2, 3]))
    days = rng.choice([3, 7])
    p = {"service": svc, "stop": stop, "days": days}
    if kind == "sql":
        p["sql"] = _sql(svc, stop)
    return kind, request_url(kind, svc, stop, days), p


def _sql(svc: str, day: dt.date) -> str:
    return (
        "SELECT count(*) AS n FROM access_log WHERE service = "
        f"'{svc}' AND date = DATE'{day.isoformat()}'"
    )


def request_url(kind: str, svc: str, stop: dt.date, days: int) -> str:
    win = f"stop={stop.isoformat()}&days={days}"
    if kind == "root":
        return f"/?day={stop.isoformat()}"
    if kind == "service":
        return f"/services/{svc}?{win}"
    if kind == "count":
        return f"/services/{svc}/count/ip?{win}"
    if kind == "average":
        return f"/services/{svc}/average/generation_time?{win}"
    if kind == "count_group":
        return f"/services/{svc}/count_group/path?distinct=ip&limit=5&{win}"
    return "/sql?" + urllib.parse.urlencode({"sql": _sql(svc, stop)})


class Expected:
    """Answers per route computed from the generator's valid records."""

    def __init__(self, records: list[dict]):
        self.rows = [r for r in records if r["kind"] == "ok"]
        self.by_svc: dict[str, list[dict]] = defaultdict(list)
        for r in self.rows:
            self.by_svc[r["service"]].append(r)
        self.services = sorted(self.by_svc)
        self._memo: dict[str, object] = {}

    def _window(self, svc, stop, days):
        start = stop - dt.timedelta(days=days - 1)
        return [r for r in self.by_svc[svc] if start <= r["date"] <= stop]

    @staticmethod
    def _count(rows, distinct_ip: bool):
        per: dict = defaultdict(list)
        for r in rows:
            per[r["date"]].append(r["ip"])
        return {
            d: (len(set(v)) if distinct_ip else len(v)) for d, v in sorted(per.items())
        }

    @staticmethod
    def _average(svc, rows):
        per: dict = defaultdict(list)
        for r in rows:
            per[r["date"]].append(r["generation_time"])
        return {
            "table": svc,
            "field": "generation_time",
            "elements": [
                {"date": d.isoformat(), "avg": math.fsum(v) / len(v),
                 "sum": math.fsum(v), "count": len(v)}
                for d, v in sorted(per.items())
            ],
        }

    @staticmethod
    def _top(rows, group: str, distinct: bool, limit: int):
        per: dict = defaultdict(lambda: defaultdict(list))
        for r in rows:
            per[r["date"]][r[group]].append(r["ip"])
        out = []
        for d in sorted(per):
            counted = [
                (g, len(set(ips)) if distinct else len(ips))
                for g, ips in per[d].items()
            ]
            # count desc, then group asc with NULL last
            counted.sort(key=lambda gc: (-gc[1], gc[0] is None, gc[0] or ""))
            out += [
                {"date": d.isoformat(), "group": g, "count": c}
                for g, c in counted[:limit]
            ]
        return out

    def answer(self, kind: str, p: dict):
        key = json.dumps([kind, {k: str(v) for k, v in p.items()}], sort_keys=True)
        if key not in self._memo:
            self._memo[key] = self._answer(kind, p)
        return self._memo[key]

    def _answer(self, kind: str, p: dict):
        svc, stop, days = p["service"], p["stop"], p["days"]
        if kind == "root":
            uniq = {
                s: len({r["ip"] for r in self.by_svc[s] if r["date"] == stop})
                for s in self.services
            }
            return {
                "current_page": "root",
                "services": self.services,
                "dashboard": sorted(
                    ([s, u] for s, u in uniq.items()), key=lambda x: (-x[1], x[0])
                ),
            }
        rows = self._window(svc, stop, days)
        if kind == "count":
            return {
                "table": svc, "field": "ip", "distinct": True, "ascending": True,
                "group": None,
                "elements": [
                    {"date": d.isoformat(), "group": None, "count": c}
                    for d, c in self._count(rows, True).items()
                ],
            }
        if kind == "average":
            return self._average(svc, rows)
        if kind == "count_group":
            return {
                "table": svc, "field": "ip", "distinct": True, "ascending": False,
                "group": "path", "elements": self._top(rows, "path", True, 5),
            }
        if kind == "service":
            visits = self._count(rows, False)
            unique = self._count(rows, True)
            return {
                "current_page": "service",
                "current_service": svc,
                "services": self.services,
                "overview": {
                    d.isoformat(): {"visits": visits[d], "unique": unique[d]}
                    for d in visits
                },
                "time": self._average(svc, rows),
                "paths": self._top(rows, "path", False, 5),
                "browsers": self._top(rows, "browser_name", False, 5),
            }
        n = sum(1 for r in self.by_svc[svc] if r["date"] == stop)
        return {
            "current_page": "sql", "services": self.services, "sql": p["sql"],
            "columns": ["n"], "rows": [[n]],
        }


def same(got, want, path="$") -> str:
    """'' when ``got`` matches ``want`` (floats to 1e-9 relative; keys
    of ``got`` absent from ``want`` are not compared), else where not."""
    if isinstance(want, dict):
        if not isinstance(got, dict):
            return path
        for k, v in want.items():
            if k not in got:
                return f"{path}.{k} missing"
            bad = same(got[k], v, f"{path}.{k}")
            if bad:
                return bad
        return ""
    if isinstance(want, list):
        if not isinstance(got, list) or len(got) != len(want):
            return f"{path} length"
        for i, (g, w) in enumerate(zip(got, want)):
            bad = same(g, w, f"{path}[{i}]")
            if bad:
                return bad
        return ""
    if isinstance(want, float) and not isinstance(want, bool):
        ok = isinstance(got, (int, float)) and math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-12)
        return "" if ok else f"{path}: {got!r} != {want!r}"
    return "" if got == want and type(got) is type(want) else f"{path}: {got!r} != {want!r}"


# --------------------------------------------------------------------- #
# warehouse build (the shipped ingest)                                  #
# --------------------------------------------------------------------- #


def build_warehouse(spark, work: str, datagrams: list[bytes], tracer: Tracer) -> dict:
    from ballcone_spark.sources.udp_bridge import UdpSpool
    from ballcone_spark.streaming.ingest import start_file_ingest

    spool = os.path.join(work, "spool")
    data = os.path.join(work, "warehouse", "data")
    with tracer.span("sources.spool_write_total"):
        for k in range(WAVES):
            sp = UdpSpool(spool, roll_seconds=1e9, roll_bytes=1 << 40,
                          name_prefix=f"wave{k:02d}")
            for dg in datagrams[k::WAVES]:
                sp.write(dg)
            sp.close()
    with tracer.span("ingest.drain"):
        q = start_file_ingest(
            spark, spool, data, os.path.join(work, "ingest-ckpt"),
            available_now=True, max_files_per_trigger=1, clean_source=None,
        )
        q.awaitTermination()
    return {"spool": spool, "data": data, "progress": list(q.recentProgress)}


def warehouse_shape(data: str) -> dict:
    files = parts = 0
    for root, _dirs, fs in os.walk(data):
        n = sum(1 for f in fs if f.endswith(".parquet"))
        if n and "date=" in os.path.basename(root):
            parts += 1
            files += n
    return {"files": files, "partitions": parts}


# --------------------------------------------------------------------- #
# closed-loop client                                                    #
# --------------------------------------------------------------------- #


LOADGEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "loadgen.py")


def run_requests(port: int, plan: list[tuple[str, str, dict]],
                 clients: int, first_id: int = 0) -> list[tuple[OpRecord, bytes]]:
    """Send each planned (kind, url, params) from the load-generator
    process (``loadgen.py``) with ``clients`` closed-loop clients and
    return (record, body) per request. Request ``i`` carries op id
    ``first_id + i``."""
    req = {"port": port, "clients": clients,
           "plan": [[url, first_id + i] for i, (_k, url, _p) in enumerate(plan)]}
    proc = subprocess.run([sys.executable, LOADGEN], input=json.dumps(req),
                          capture_output=True, text=True, check=True)
    out = []
    for (kind, _u, _p), (op_id, sent, done, status, detail, body) in zip(
        plan, json.loads(proc.stdout)
    ):
        ok = status == 200
        rec = OpRecord(op_id, kind, sent, done, ok,
                       detail or ("" if ok else f"HTTP {status}"))
        out.append((rec, body.encode()))
    return out


# --------------------------------------------------------------------- #
# tracing hooks                                                         #
# --------------------------------------------------------------------- #

DAO_CATALOG = ("tables", "table_exists")
DAO_BUILD = ("_fact", "table", "select_df", "select_average_df",
             "select_count_df", "select_count_group_df")
DAO_RESULT = ("select_average", "select_count", "select_count_group", "select")
DAO_OTHER = ("register_views", "run_safe", "size")
APP = ("dashboard", "overview", "top_paths", "top_browsers", "sql", "size")


def traced_ops(plan: list) -> set[int]:
    """Op ids (plan indices) a traced run traces: every other request of
    each route, starting with its first, so a route with one request is
    still traced. The rest run untraced in the same window, for
    ``trace.overhead_pct``."""
    seen: Counter = Counter()
    out = set()
    for i, (kind, _url, _p) in enumerate(plan):
        if seen[kind] % 2 == 0:
            out.add(i)
        seen[kind] += 1
    return out


def instrument(tracer: Tracer, server, sc, traced: set[int]) -> None:
    """Wrap the handler entry points, ``Ballcone.*`` and ``SparkDAO.*``
    with spans. A request whose op id is in ``traced`` records them and
    gets its own Spark job group; any other passes through."""
    from ballcone_spark.app import Ballcone
    from ballcone_spark.dao import SparkDAO

    for m in DAO_CATALOG + DAO_BUILD + DAO_RESULT + DAO_OTHER:
        tracer.wrap(SparkDAO, m, f"dao.{m}")
    for m in APP:
        tracer.wrap(Ballcone, m, f"app.{m}")
    handler = server._httpd.RequestHandlerClass
    for verb in ("do_GET", "do_POST"):
        fn = getattr(handler, verb)

        def entry(self, _fn=fn, _verb=verb):
            op = self.headers.get("X-Perfbench-Op", "-")
            on = op.isdigit() and int(op) in traced
            if on:
                sc.setJobGroup(f"perfbench-op-{op}", "perfbench serve request")
            with tracer.sampled(on), tracer.span(f"web.{_verb}", op=op):
                return _fn(self)

        setattr(handler, verb, entry)


# --------------------------------------------------------------------- #
# the workload                                                          #
# --------------------------------------------------------------------- #


def run(ctx) -> dict:
    """ctx: seed, seconds, trace, work, spark, t_process, tracer."""
    from ballcone_spark.app import Ballcone
    from ballcone_spark.dao import SparkDAO
    from ballcone_spark.web import BallconeHTTPServer

    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    datagrams, records = gen.access_log(ctx.seed, ROWS, DAYS)
    expected = Expected(records)
    wh = build_warehouse(spark, work, datagrams, tracer)
    shape = warehouse_shape(wh["data"])
    app = Ballcone(SparkDAO(spark, os.path.join(work, "warehouse")))
    server = BallconeHTTPServer(app, days=7).start()
    plan = plan_requests(round(REQUESTS_PER_S * ctx.seconds))
    try:
        # one sequential call per route (its cold time; "/" also fills
        # the 300 s size cache), then WARM_REQUESTS from nproc clients
        first = [(k, request_url(k, gen.SERVICES[0], gen.END_DAY, 7), {}) for k in KINDS]
        cold = {r.kind: r.latency_s for r, _ in run_requests(server.port, first, 1)}
        run_requests(server.port, plan_requests(WARM_REQUESTS, LOAD_SEED + 1), nproc())
        setup_s = time.perf_counter() - ctx.t_process
        traced = traced_ops(plan) if ctx.trace else set()
        if ctx.trace:
            instrument(tracer, server, spark.sparkContext, traced)
        results = run_requests(server.port, plan, CLIENTS)
        wall = max(r.done for r, _ in results)  # generator start to last reply
    finally:
        server.shutdown()
    jobs: list[dict] = []
    overhead: tuple[list[float], list[float]] = ([], [])
    if ctx.trace:
        sc = spark.sparkContext
        jobs = [job_counts(sc, f"perfbench-op-{r.op_id}")
                for r, _ in results if r.op_id in traced]
        overhead = _overhead([x for x in results if x[0].op_id not in traced],
                             [x for x in results if x[0].op_id in traced])

    failed = 0
    wrong: list[str] = []
    for (rec, body), (kind, _url, p) in zip(results, plan):
        if rec.ok:
            try:
                got = json.loads(body)
            except ValueError:
                got = None
            bad = same(got, expected.answer(kind, p))
            if bad:
                rec.ok = False
                rec.detail = bad
        if not rec.ok:
            failed += 1
            if len(wrong) < 5:
                wrong.append(f"{kind} {rec.detail}")
    lat_ms = [r.latency_s * 1e3 for r, _ in results]
    by_kind = defaultdict(list)
    for r, _ in results:
        by_kind[r.kind].append(r.latency_s * 1e3)

    checks = ingest_checks(spark, wh, records)
    out = {
        "attempted": len(results),
        "failed": failed,
        "correct": failed == 0 and not checks["errors"],
        "errors": wrong + checks["errors"],
        "e2e": {
            "setup_s": setup_s,
            "ops_per_s": sum(1 for r, _ in results if r.ok) / wall,
            "op_latency_ms": lat_ms,
            "op_p50_ms": mix_p50(by_kind),
            "cold_total_s": sum(cold.values()),
            # each timed request at its route's median: the mix's steady cost
            "steady_total_s": sum(len(v) * median(v) for v in by_kind.values()) / 1e3,
        },
        "info": {
            "loop": "closed", "clients": CLIENTS, "requests": len(plan),
            "warm_requests": WARM_REQUESTS,
            "rows": ROWS, "malformed_rows": len(records) - ROWS,
            "services": len(gen.SERVICES), "days": DAYS,
            "files_per_partition": WAVES, **shape,
            "cold_ms": {k: v * 1e3 for k, v in cold.items()},
            "requests_by_kind": dict(Counter(r.kind for r, _ in results)),
            "distinct_urls": len({u for _k, u, _p in plan}),
            "p50_ms_by_kind": {k: median(v) for k, v in by_kind.items()},
            "ops": [(round(r.sent, 3), r.kind, round(r.latency_s * 1e3, 1))
                    for r, _ in results],
        },
        "response_bytes": [len(b) for _r, b in results],
        "jobs": jobs,
        "warehouse": shape,
        "ingest": wh,
        "ingest_rows": len(datagrams),
        "checks": checks,
        "overhead": overhead,
    }
    if ctx.trace:
        out["parse_enrich_ms"] = parse_enrich_ms(spark, wh)
        out["compact"] = compact_check(spark, wh)
        if out["compact"]["rows_after"] != out["compact"]["rows_before"]:
            out["correct"] = False
            out["errors"].append(f"compaction changed rows: {out['compact']}")
    return out


def _overhead(untraced, traced) -> tuple[list[float], list[float]]:
    """Per-route median latency of the untraced and the traced requests
    of one window, paired by route, so the ratio compares like with
    like."""
    def med(res):
        by = defaultdict(list)
        for r, _ in res:
            by[r.kind].append(r.latency_s * 1e3)
        return {k: median(v) for k, v in by.items()}

    a, b = med(untraced), med(traced)
    both = sorted(set(a) & set(b))
    return [a[k] for k in both], [b[k] for k in both]


def parse_enrich_ms(spark, wh: dict) -> float:
    """Parse + enrich of the whole spool through a ``noop`` write (a
    ``count()`` would prune the parsed columns)."""
    from ballcone_spark.streaming.ingest import ingest_pipeline

    t = time.perf_counter()
    ingest_pipeline(spark.read.text(wh["spool"])).write.format("noop").mode("overwrite").save()
    return (time.perf_counter() - t) * 1e3


def ingest_checks(spark, wh: dict, records: list[dict]) -> dict:
    """Warehouse rows = generated − malformed, and the parser's per-stage
    drop counts equal the generator's."""
    from ballcone_spark.sources.syslog import parse_stats

    errors = []
    want = Counter(r["kind"] for r in records)
    rows = spark.read.parquet(wh["data"]).count()
    if rows != want["ok"]:
        errors.append(f"warehouse rows {rows} != {want['ok']}")
    st = parse_stats(spark.read.text(wh["spool"])).collect()[0].asDict()
    for stage in gen.DROP_STAGES:
        if st[stage] != want[stage]:
            errors.append(f"{stage} {st[stage]} != {want[stage]}")
    return {"rows": rows, "parse_stats": st, "errors": errors,
            "dropped": sum(st[s] for s in gen.DROP_STAGES)}


def compact_check(spark, wh: dict) -> dict:
    """Traced runs only: fold the warehouse and check rows are conserved."""
    from ballcone_spark.streaming.ingest import compact_warehouse

    before = spark.read.parquet(wh["data"]).count()
    t = time.perf_counter()
    compact_warehouse(spark, wh["data"])
    ms = (time.perf_counter() - t) * 1e3
    after = spark.read.parquet(wh["data"]).count()
    return {"compact_ms": ms, "rows_before": before, "rows_after": after,
            **{f"after_{k}": v for k, v in warehouse_shape(wh["data"]).items()}}
