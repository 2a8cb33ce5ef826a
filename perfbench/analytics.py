"""``analytics`` workload: ``bench.py``'s use — its 21
``HEADLINE`` queries, imported from ``bench.py`` rather than copied.

One client, closed loop, a fresh session per run. Setup generates the
sf-shaped dataset (fixed dataset seed, so its oracle digests can be
recorded once), removes the bucketed/sorted copies an earlier run may
have left under ``spark-warehouse/`` (so every run pays the same
bucketize write). The timed phase follows bench.py: each query's first call (cold: plan
build + first collect), then :data:`REPEATS` repeat calls (steady).
The dataset is fixed, so ``--seed`` changes nothing here and the
spread over seeds is pure run-to-run noise. After timing, each query's rows are
digested with ``tests/test_oracle_diff.py``'s normalization and
compared with the digests recorded from its DuckDB oracle.

Record the digests (after changing the dataset) with
``python3 perfbench/analytics.py --record``.
"""

from __future__ import annotations

import glob
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

if __package__ in (None, ""):  # run as a script: make the repo importable
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.common import ROOT, catalyst_phases_ms, job_counts  # noqa: E402

#: Dataset: 1/100 of the sf1 test tables' row counts (the sf0.01
#: sizes). Cold time is Catalyst + codegen, nearly flat in scale.
SCALE = 0.01
DATA_SEED = 20240310
DATA_DIRNAME = "pb_sf"
#: Repeat calls per query after its cold call (bench.py's STEADY_RUNS).
REPEATS = 3
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_analytics.json")


def headline() -> list[str]:
    import bench

    return list(bench.HEADLINE)


def query_fns() -> dict:
    """Name → ``(spark, sf_dir) -> DataFrame``: the ``__spark_entry__`` registry plus
    the demoted-but-benchmarked EXTRA entries, exactly as bench.py."""
    import __spark_entry__ as entry_mod
    from ballcone_spark.queries import EXTRA_QUERIES

    fns = dict(entry_mod.queries())
    for name, spec in EXTRA_QUERIES.items():
        fns.setdefault(name, spec.fn)
    return fns


def make_dataset(work: str) -> tuple[str, dict]:
    data_dir = os.path.join(work, DATA_DIRNAME)
    tables = gen.analytics_tables(DATA_SEED, SCALE)
    gen.write_tables(tables, data_dir)
    # persisted bucketed/sorted copies keyed by the data dir's name
    for pat in (f"bkt_*_{DATA_DIRNAME}_*", f"srt_*_{DATA_DIRNAME}_*"):
        for d in glob.glob(os.path.join(ROOT, "spark-warehouse", pat)):
            shutil.rmtree(d, ignore_errors=True)
    return data_dir, tables


def _norm():
    """``_norm_pdf`` from tests/test_oracle_diff.py (the oracle sweep's
    dtype-sensitive, order-insensitive row normalization)."""
    path = os.path.join(ROOT, "tests", "test_oracle_diff.py")
    spec = importlib.util.spec_from_file_location("_pb_oracle_diff", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._norm_pdf


def digest(pdf, norm) -> str:
    rows = norm(pdf)
    h = hashlib.sha256(json.dumps(sorted(pdf.columns)).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
    return f"{len(rows)}:{h.hexdigest()[:24]}"


def run(ctx) -> dict:
    spark, tracer = ctx.spark, ctx.tracer
    names = headline()
    fns = query_fns()
    data_dir, tables = make_dataset(ctx.work)
    setup_s = time.perf_counter() - ctx.t_process
    sc = spark.sparkContext
    jobs: list[dict] = []
    layer: dict = {"cold": {}, "steady": {}, "catalyst": [], "hits": 0, "repeats": 0}

    def call(name: str, phase: str, traced: bool):
        if traced:
            group = f"perfbench-{phase}-{name}-{len(jobs)}"
            sc.setJobGroup(group, "perfbench analytics query")
            with tracer.span(f"queries.{phase}", query=name) as sp:
                t0 = time.perf_counter()
                with tracer.span("queries.build", parent=sp.sid):
                    df = fns[name](spark, data_dir)
                t1 = time.perf_counter()
                with tracer.span("queries.exec", parent=sp.sid):
                    df.collect()
                t2 = time.perf_counter()
            jobs.append(job_counts(sc, group))
            layer[phase].setdefault(name, []).append((t1 - t0, t2 - t1))
            if phase == "cold":
                layer["catalyst"].append(catalyst_phases_ms(df))
                layer.setdefault("df", {})[name] = df
            else:
                layer["repeats"] += 1
                layer["hits"] += df is layer["df"].get(name)
            return t2 - t0
        t0 = time.perf_counter()
        fns[name](spark, data_dir).collect()
        return time.perf_counter() - t0

    # bench.py's protocol: each query's first call (cold), then its
    # repeat calls right away, so the steady samples spread over the
    # whole run. A traced run adds as many traced repeats, interleaved,
    # for the overhead; only untraced repeats count.
    cold: dict[str, float] = {}
    steady: dict[str, list[float]] = {n: [] for n in names}
    traced_calls: dict[str, list[float]] = {n: [] for n in names}
    t_timed = time.perf_counter()
    for n in names:
        cold[n] = call(n, "cold", ctx.trace)
        for _ in range(REPEATS):
            steady[n].append(call(n, "steady", False))
            if ctx.trace:
                traced_calls[n].append(call(n, "steady", True))
    timed_wall = time.perf_counter() - t_timed
    lat_ms = [x * 1e3 for v in steady.values() for x in v]

    # output check vs the recorded DuckDB oracle digests
    with open(EXPECTED) as f:
        expected = json.load(f)
    want = expected["digests"]
    norm = _norm()
    errors = []
    failed = 0
    for n in names:
        try:
            got = digest(fns[n](spark, data_dir).toPandas(), norm)
        except Exception as e:  # noqa: BLE001 — a failing query is a failed op
            got = f"error: {e!r}"[:200]
        if got != want.get(n):
            failed += 1
            errors.append(f"{n}: digest {got} != oracle {want.get(n)}")
    attempted = len(names) * (1 + REPEATS * (2 if ctx.trace else 1))
    sres = None
    if ctx.trace:
        # stream-state phase (traced runs only; see README.md)
        from perfbench import streams

        t0 = time.perf_counter()
        sres = streams.run(spark, ctx.work, tables)
        sres["wall_s"] = time.perf_counter() - t0
        got = streams.digests(sres)
        got["dedup_rollup"] = digest(streams.dedup_rollup(sres["dedup"]["decisions"]), norm)
        want_s = {**expected["streams"], "dedup_rollup": want["dedup_incremental_minhash"]}
        for k, v in want_s.items():
            attempted += 1
            if got.get(k) != v:
                failed += 1
                errors.append(f"stream {k}: digest {got.get(k)} != recorded {v}")
    out = {
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0,
        "errors": errors,
        "streams": sres,
        "e2e": {
            "setup_s": setup_s,
            "ops_per_s": (len(cold) + len(lat_ms)) / timed_wall,
            "ops_n": len(cold) + len(lat_ms),
            "op_latency_ms": lat_ms,
            "cold_total_s": sum(cold.values()),
            "cold_n": len(cold),
            "steady_total_s": sum(statistics.median(v) for v in steady.values()),
        },
        "info": {
            "loop": "closed", "clients": 1, "queries": len(names),
            "scale": SCALE, "repeats": REPEATS,
            "rows": {k: v.num_rows for k, v in tables.items()},
            "cold_ms": {n: v * 1e3 for n, v in cold.items()},
            "steady_ms": {n: statistics.median(v) * 1e3 for n, v in steady.items()},
        },
        "jobs": jobs,
        "layer": layer,
        "overhead": (
            [statistics.median(v) for v in steady.values()],
            [statistics.median(v) for v in traced_calls.values() if v],
        ),
    }
    layer.pop("df", None)
    return out


def record() -> None:
    """Write the DuckDB oracle digests of every headline query over the
    benchmark dataset to ``expected_analytics.json``."""
    import duckdb

    from ballcone_spark.queries import EXTRA_QUERIES, QUERIES, TABLES
    from perfbench.common import prepare_env

    work = prepare_env("record")
    data_dir, tables = make_dataset(work)
    specs = {**EXTRA_QUERIES, **QUERIES}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    norm = _norm()
    out = {n: digest(con.execute(specs[n].oracle).df(), norm) for n in headline()}
    # stream outputs have no oracle of their own: record them from this
    # commit, after checking the dedup rollup against its DuckDB oracle
    from perfbench import streams
    from perfbench.common import start_spark, stop_spark

    spark = start_spark()
    try:
        res = streams.run(spark, work, tables)
    finally:
        stop_spark(spark)
    rollup = digest(streams.dedup_rollup(res["dedup"]["decisions"]), norm)
    if rollup != out["dedup_incremental_minhash"]:
        sys.exit(f"dedup stream rollup {rollup} != oracle {out['dedup_incremental_minhash']}")
    with open(EXPECTED, "w") as f:
        json.dump({"scale": SCALE, "data_seed": DATA_SEED, "digests": out,
                   "streams": streams.digests(res)}, f, indent=1)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"recorded {len(out)} digests to {os.path.relpath(EXPECTED, ROOT)}")


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    if sys.argv[1:] == ["--record"]:
        import __spark_entry__  # noqa: F401 — registers every query

        record()
    else:
        sys.exit("usage: python3 perfbench/analytics.py --record")
