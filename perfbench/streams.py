"""Stream-state phase: the dedup, semantic and decon streams drain the
analytics dataset's documents (and embeddings) in three waves, one
spool file per trigger.

The waves follow the arrival rule the registered replay queries use
(``doc_id % 3``; decon's benchmark items are the ``src0`` documents and
arrive with the first wave), so the dedup stream's per-batch rollup is
checked against the recorded DuckDB oracle digest of
``dedup_incremental_minhash``. Decision and flag digests of all three
streams are recorded once (``analytics.py --record``) and compared on
every run.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

WAVES = 3
STREAMS = ("dedup", "semantic", "decon")
#: Modification time of the first wave's spool files (the waves follow
#: one second apart).
_T0 = int(time.time()) - 3600


def _spool(path: str, name: str, lines: list[str], wave: int = 0) -> None:
    """Write one spool file. The file source takes files in modification
    time order, at millisecond resolution, so files written within one
    millisecond would arrive in any order; each wave's file gets its own
    second."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{name}.jsonl")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    mtime = _T0 + wave
    os.utime(tmp, (mtime, mtime))
    os.rename(tmp, os.path.join(path, f"{name}.jsonl"))


def _tree(paths: list[str]) -> tuple[int, int]:
    dirs = size = 0
    for p in paths:
        for root, ds, fs in os.walk(p):
            dirs += len(ds)
            size += sum(os.path.getsize(os.path.join(root, f)) for f in fs)
    return dirs, size


def _rows(df) -> list[str]:
    """Order- and column-order-insensitive rows of a small result."""
    if df is None:
        return []
    return sorted(json.dumps(r.asDict(), sort_keys=True, default=str) for r in df.collect())


def _progress(q) -> list[dict]:
    return [p for p in q.recentProgress if p["numInputRows"] > 0]


def run(spark, work: str, tables: dict) -> dict:
    """Drive the three streams; returns per-stream trigger stats and
    the digests of their outputs."""
    from ballcone_spark.streaming import decon_stream, dedup_stream, semantic_stream

    from perfbench.common import job_counts

    docs = tables["documents"].to_pydict()
    emb = tables["embeddings"].to_pydict()
    root = os.path.join(work, "streams")
    sc = spark.sparkContext
    out: dict = {}

    def drive(name: str, start, state: list[str], n_rows: int):
        q = start()
        q.awaitTermination()
        prog = _progress(q)
        dirs, size = _tree(state)
        out[name] = {
            "trigger_ms": [p["durationMs"]["triggerExecution"] for p in prog],
            "add_batch_ms": [p["durationMs"].get("addBatch", 0) for p in prog],
            "triggers": len(prog),
            # micro-batch jobs run in the query's own job group, its runId
            "jobs": job_counts(sc, str(q.runId))["jobs"],
            "state_dirs": dirs,
            "state_bytes": size,
            "rows": n_rows,
        }

    # dedup: {"doc_id", "text"} waves by doc_id % 3
    d = os.path.join(root, "dedup")
    for w in range(WAVES):
        _spool(os.path.join(d, "spool"), f"wave-{w}", [
            json.dumps({"doc_id": i, "text": t})
            for i, t in zip(docs["doc_id"], docs["text"]) if i % WAVES == w
        ], wave=w)
    drive("dedup", lambda: dedup_stream.start_dedup_stream(
        spark, os.path.join(d, "spool"), os.path.join(d, "index"),
        os.path.join(d, "decisions"), os.path.join(d, "ckpt"),
        available_now=True, max_files_per_trigger=1,
    ), [os.path.join(d, "index"), os.path.join(d, "decisions")], len(docs["doc_id"]))
    dec = dedup_stream.read_decisions(spark, os.path.join(d, "decisions"))
    out["dedup"]["decisions"] = sorted(
        (r["doc_id"], bool(r["is_dup"])) for r in dec.select("doc_id", "is_dup").collect()
    )

    # semantic: {"vec_id", "e"} waves by vec_id % 3, per-label centroids
    s = os.path.join(root, "semantic")
    vecs = np.array([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    labels = np.array(emb["label"])
    centroids = []
    for lab in sorted(set(labels.tolist())):
        c = vecs[labels == lab].mean(axis=0)
        centroids.append((int(lab), (c / np.linalg.norm(c)).tolist()))
    for w in range(WAVES):
        _spool(os.path.join(s, "spool"), f"wave-{w}", [
            json.dumps({"vec_id": int(i), "e": [float(x) for x in v]})
            for i, v in zip(emb["vec_id"], emb["embedding"]) if i % WAVES == w
        ], wave=w)
    drive("semantic", lambda: semantic_stream.start_semantic_dedup_stream(
        spark, os.path.join(s, "spool"), os.path.join(s, "index"),
        os.path.join(s, "decisions"), os.path.join(s, "ckpt"), centroids,
        available_now=True, max_files_per_trigger=1,
    ), [os.path.join(s, "index"), os.path.join(s, "decisions")], len(emb["vec_id"]))
    sdec = semantic_stream.read_semantic_decisions(spark, os.path.join(s, "decisions"))
    out["semantic"]["decisions"] = _rows(sdec)

    # decon: corpus = every source but src0, benchmark items = src0
    c = os.path.join(root, "decon")
    for w in range(WAVES):
        _spool(os.path.join(c, "docs"), f"wave-{w}", [
            json.dumps({"doc_id": i, "text": t})
            for i, t, src in zip(docs["doc_id"], docs["text"], docs["source"])
            if src != "src0" and i % WAVES == w
        ], wave=w)
    _spool(os.path.join(c, "bench"), "bench-0", [
        json.dumps({"bench_id": i, "text": t})
        for i, t, src in zip(docs["doc_id"], docs["text"], docs["source"])
        if src == "src0"
    ])
    state = [os.path.join(c, x) for x in ("doc_grams", "bench_grams", "flags")]
    drive("decon", lambda: decon_stream.start_decon_stream(
        spark, os.path.join(c, "docs"), os.path.join(c, "bench"), *state,
        os.path.join(c, "ckpt"), available_now=True, max_files_per_trigger=1,
    ), state, len(docs["doc_id"]))
    flags = decon_stream.read_contaminated(spark, state[2])
    out["decon"]["flags"] = _rows(flags)
    return out


def dedup_rollup(decisions: list[tuple[int, bool]]):
    """Per-batch (n_docs, n_dups, n_admitted) in the shape of
    ``dedup_incremental_minhash``'s result, for its oracle digest."""
    import pandas as pd

    rows = {}
    for doc_id, is_dup in decisions:
        b = doc_id % WAVES
        n, dup = rows.get(b, (0, 0))
        rows[b] = (n + 1, dup + int(is_dup))
    return pd.DataFrame(
        [(b, n, dup, n - dup) for b, (n, dup) in sorted(rows.items())],
        columns=["batch_id", "n_docs", "n_dups", "n_admitted"],
    )


def digests(res: dict) -> dict:
    import hashlib

    def h(x) -> str:
        return f"{len(x)}:" + hashlib.sha256(json.dumps(x).encode()).hexdigest()[:24]

    return {
        "dedup_decisions": h(res["dedup"]["decisions"]),
        "semantic_decisions": h(res["semantic"]["decisions"]),
        "decon_flags": h(res["decon"]["flags"]),
    }
