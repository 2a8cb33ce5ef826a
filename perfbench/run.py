#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 40 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 40

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics from a traced run (which also measures the same load
untraced first, for ``trace.overhead_pct``). ``--workload all`` runs
every workload in its own process, untraced and traced, prints a table
of every metric with unit and sample count, and writes the results,
spans and per-layer tables under ``.perfbench_work/results/``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.common import percentile, summarize  # noqa: E402

WORKLOADS = ("serve", "analytics")

#: end-to-end metrics: name → unit (every workload reports all of them)
E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "cold_total_s": "s",
    "steady_total_s": "s",
}


class Ctx:
    def __init__(self, **kw):
        self.__dict__.update(kw)


def e2e_metrics(out: dict, traced: bool) -> tuple[dict, dict, list[str]]:
    """(metrics, sample counts, errors) from a workload's output."""
    e = out["e2e"]
    lat = e["op_latency_ms"]
    errors = []
    vals = {
        "setup_s": e["setup_s"],
        "ops_per_s": e["ops_per_s"],
        "op_p50_ms": e.get("op_p50_ms", percentile(lat, 50.0)),
        "cold_total_s": e["cold_total_s"],
        "steady_total_s": e["steady_total_s"],
    }
    counts = {
        "setup_s": 1,
        "ops_per_s": e.get("ops_n", len(lat)),
        "op_p50_ms": len(lat),
        "cold_total_s": e.get("cold_n", 0) or len(out["info"].get("cold_ms", {})),
        "steady_total_s": len(lat),
    }
    for k, v in vals.items():
        if not math.isfinite(v):
            errors.append(f"{k} is not finite")
    # the tail the sample count supports (>= 10 samples beyond it);
    # reported beside the result, not gated (see README.md)
    tail = summarize(lat)
    if tail.get("tail_p", 50.0) > 50.0 and not traced:
        key = f"op_p{tail['tail_p']:g}_ms".replace(".", "_")
        vals[key], counts[key] = tail["tail"], len(lat)
    return vals, counts, errors


def run_one(args) -> int:
    work = common.prepare_env(args.workload)
    loadavg_start = os.getloadavg()
    t = time.perf_counter()
    spark = common.start_spark()
    session_s = time.perf_counter() - t
    rss_mb = _driver_rss_mb(spark)
    tracer = common.Tracer(enabled=bool(args.trace))
    ctx = Ctx(
        seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        work=work, spark=spark, t_process=T_PROCESS, tracer=tracer,
    )
    try:
        if args.workload == "serve":
            from perfbench import serve as mod
        else:
            from perfbench import analytics as mod
        out = mod.run(ctx)
        vals, counts, errors = e2e_metrics(out, bool(args.trace))
        out["errors"] = out.get("errors", []) + errors
        correct = out["correct"] and not errors
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": common.nproc(),
            "loadavg_start": loadavg_start, "loadavg_end": os.getloadavg(),
            "info": out["info"], "errors": out["errors"],
            "e2e": {k: {"value": v, "unit": E2E_UNITS.get(k, "ms"), "n": counts[k]}
                    for k, v in vals.items()},
            "failed_ratio": out["failed"] / max(1, out["attempted"]),
        }
        if args.trace:
            from perfbench import layers

            lay = layers.per_layer(args.workload, out, tracer, spark,
                                   session_s, rss_mb)
            record["layers"] = lay
            metrics = {k: {"value": v["value"], "unit": v["unit"]}
                       for k, v in lay.items()}
            tracer.dump(os.path.join(work, "spans.jsonl"))
        else:
            metrics = {k: {"value": vals[k], "unit": u} for k, u in E2E_UNITS.items()}
        for k, m in metrics.items():
            if not math.isfinite(m["value"]):
                m["value"] = 1e12  # a failed op never meets a limit
        with open(os.path.join(work, "result.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
        for line in _table(record):
            print(line)
        print(json.dumps({
            "correct": bool(correct),
            "attempted": int(out["attempted"]),
            "failed": int(out["failed"]),
            "metrics": metrics,
        }))
        return 0
    finally:
        common.stop_spark(spark)


def _driver_rss_mb(spark) -> float:
    """Resident set of the driver JVM (the Python process's child)."""
    try:
        pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except Exception:  # noqa: BLE001 — a missing /proc is not fatal
        pass
    return 0.0


def _table(record: dict) -> list[str]:
    rows = [f"# {record['workload']} seed={record['seed']} trace={record['trace']} "
            f"nproc={record['nproc']} loadavg={record['loadavg_start'][0]:.2f}"
            f"->{record['loadavg_end'][0]:.2f} failed_ratio={record['failed_ratio']:.4f}"]
    src = record.get("layers") or record["e2e"]
    for k, m in src.items():
        rows.append(f"#   {k:<40} {m['value']:>14.4f} {m['unit']:<8} n={m.get('n', '')}")
    for err in record["errors"][:10]:
        rows.append(f"# ERROR {err}")
    return rows


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    names = WORKLOADS if args.workload == "all" else args.workload.split(",")
    res_dir = os.path.join(common.WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    status = 0
    summary = {}
    for name in names:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            p = subprocess.run(cmd, capture_output=True, text=True)
            lines = [ln for ln in p.stdout.splitlines() if ln.startswith("#")]
            print("\n".join(lines), flush=True)
            if p.returncode != 0:
                print(p.stderr[-2000:], file=sys.stderr)
                status = 1
                continue
            src = os.path.join(common.WORK, name)
            tag = f"{name}-trace{trace}"
            os.replace(os.path.join(src, "result.json"),
                       os.path.join(res_dir, f"{tag}.json"))
            if trace:
                os.replace(os.path.join(src, "spans.jsonl"),
                           os.path.join(res_dir, f"{tag}-spans.jsonl"))
            summary[tag] = json.loads(p.stdout.splitlines()[-1])
    with open(os.path.join(res_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(f"# results in {os.path.relpath(res_dir, common.ROOT)}/")
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    help=f"one of {', '.join(WORKLOADS)}, a comma list, or all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload in WORKLOADS:
        return run_one(args)
    if args.workload == "all" or all(w in WORKLOADS for w in args.workload.split(",")):
        return run_all(args)
    ap.error(f"unknown workload {args.workload!r}")
    return 2


if __name__ == "__main__":
    sys.exit(main())
