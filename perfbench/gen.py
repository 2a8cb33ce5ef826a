"""Seeded input generators. Each takes the seed as an argument and
returns plain Python records; the program under test only ever sees
what is derived from them (datagrams, parquet files).

- :func:`access_log` — nginx→syslog datagrams for N services × D days,
  with real User-Agent shapes (one a robot), rotating IPs and a fixed
  share of malformed frames for each parser drop stage.
- :func:`analytics_tables` — the sf-shaped tables the headline queries
  read (events, TPC-H subset, documents, embeddings).
"""

from __future__ import annotations

import datetime as dt
import json
import random
import urllib.parse

import numpy as np

# --------------------------------------------------------------------- #
# access log                                                            #
# --------------------------------------------------------------------- #

SERVICES = ["shop", "blog", "docs", "status"]
#: Skewed service popularity (Zipf-like); serve draws services the same way.
SERVICE_WEIGHTS = [0.55, 0.25, 0.13, 0.07]
END_DAY = dt.date(2024, 3, 10)

#: (User-Agent, browser_name the enrichment must derive, is_robot)
USER_AGENTS = [
    (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/122.0.0.0 Safari/537.36",
        "Chrome",
        False,
    ),
    (
        "Mozilla/5.0 (X11; Linux x86_64; rv:123.0) Gecko/20100101 "
        "Firefox/123.0",
        "Firefox",
        False,
    ),
    (
        "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_3) AppleWebKit/605.1.15 "
        "(KHTML, like Gecko) Version/17.3 Safari/605.1.15",
        "Safari",
        False,
    ),
    (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/122.0.0.0 Safari/537.36 Edg/122.0.2365.66",
        "Edge",
        False,
    ),
    (
        "Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/122.0.6261.90 Mobile Safari/537.36",
        "Chrome",
        False,
    ),
    (
        "Mozilla/5.0 (compatible; Googlebot/2.1; "
        "+http://www.google.com/bot.html)",
        None,
        True,
    ),
]
UA_WEIGHTS = [0.34, 0.14, 0.16, 0.12, 0.16, 0.08]

PATHS = [
    "/", "/index.html", "/about", "/contact", "/blog/post-1",
    "/blog/post-2", "/blog/post-3", "/cart", "/checkout", "/api/items",
    "/api/items/42", "/static/app.js", "/static/app.css", "/login",
    "/search%20results", "/caf%C3%A9", "/docs/getting-started",
    "/docs/api", "/feed.xml", "/robots.txt",
]
PATH_WEIGHTS = [1.0 / (i + 1) ** 0.9 for i in range(len(PATHS))]
OFFSETS = [dt.timedelta(0), dt.timedelta(hours=3), dt.timedelta(hours=-5)]

#: Malformed frame kinds, one per parser drop stage (parse_stats names),
#: and their share of the valid rows.
DROP_STAGES = ("bad_frame", "bad_json", "bad_service", "bad_timestamp")
BAD_SHARE = 0.02


def _iso(ts: dt.datetime, off: dt.timedelta) -> str:
    tz = dt.timezone(off)
    return ts.replace(tzinfo=dt.timezone.utc).astimezone(tz).isoformat()


def access_log(seed: int, rows: int, days: int) -> tuple[list[bytes], list[dict]]:
    """``rows`` valid datagrams over ``days`` days ending at
    :data:`END_DAY`, plus :data:`BAD_SHARE` × rows malformed frames
    spread evenly over the four drop stages, shuffled together.

    Returns ``(datagrams, records)``: ``records`` holds the expected
    warehouse row of each valid datagram (UTC datetime, decoded path,
    derived browser) and the ``kind`` of every malformed one."""
    rng = random.Random(seed)
    ips = [f"10.{rng.randrange(256)}.{rng.randrange(256)}.{i}" for i in range(1, 241)]
    start = dt.datetime.combine(END_DAY - dt.timedelta(days=days - 1), dt.time())
    span_s = days * 86400
    out: list[tuple[bytes, dict]] = []
    for i in range(rows):
        svc = rng.choices(SERVICES, SERVICE_WEIGHTS)[0]
        ts = start + dt.timedelta(seconds=rng.randrange(span_s))
        ua, browser, robot = rng.choices(USER_AGENTS, UA_WEIGHTS)[0]
        path = rng.choices(PATHS, PATH_WEIGHTS)[0]
        # each IP mostly visits one service: rotating over a window
        ip = ips[(SERVICES.index(svc) * 37 + rng.randrange(90)) % len(ips)]
        gen_t = round(rng.uniform(0.001, 0.9), 3)
        payload = {
            "service": svc if rng.random() > 0.05 else f" {svc.upper()} ",
            "ip": ip,
            "host": f"{svc}.example.org",
            "path": path,
            "status": rng.choice(["200"] * 8 + ["301", "404", "500"]),
            "referrer": rng.choice(["", "", "https://search.example/?q=x"]),
            "user_agent": ua,
            "length": rng.randrange(200, 90_000),
            "generation_time_milli": gen_t,
            "date": _iso(ts, rng.choice(OFFSETS)),
        }
        dg = (
            f"<190>{ts:%b %d %H:%M:%S} web{i % 3} nginx: "
            + json.dumps(payload)
        ).encode()
        out.append(
            (
                dg,
                {
                    "kind": "ok",
                    "service": svc,
                    "datetime": ts,
                    "date": ts.date(),
                    "ip": ip,
                    "path": urllib.parse.unquote(path),
                    "generation_time": gen_t,
                    "browser_name": browser,
                    "is_robot": robot,
                },
            )
        )
    n_bad = int(rows * BAD_SHARE)
    for i in range(n_bad):
        kind = DROP_STAGES[i % len(DROP_STAGES)]
        good = {"service": "shop", "ip": "10.0.0.1", "date": "2024-03-10T00:00:00+00:00"}
        if kind == "bad_frame":
            dg = b"no syslog header " + json.dumps(good).encode()
        elif kind == "bad_json":
            dg = b"<190>Mar 10 00:00:00 web0 nginx: {\"service\": \"shop\", "
        elif kind == "bad_service":
            dg = b"<190>Mar 10 00:00:00 web0 nginx: " + json.dumps(
                {**good, "service": "no-such/service"}
            ).encode()
        else:
            dg = b"<190>Mar 10 00:00:00 web0 nginx: " + json.dumps(
                {**good, "date": "yesterday-ish"}
            ).encode()
        out.append((dg, {"kind": kind}))
    rng.shuffle(out)
    return [d for d, _ in out], [r for _, r in out]


# --------------------------------------------------------------------- #
# analytics dataset                                                     #
# --------------------------------------------------------------------- #

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]


def _documents(n: int, rng: np.random.Generator) -> dict:
    """Same shape as the sf test data's documents table: 10–100 words from a
    30-word vocabulary over 20 sources, ~5 % planted near-duplicates
    (``dup dup`` suffix, J ≥ 0.9) and a few exact copies."""
    texts: list[str] = []
    lengths = rng.integers(10, 101, size=n)
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.004:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.054:
            base = texts[int(rng.integers(0, i))].split()
            while len(base) < 40:
                base = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                base[int(rng.integers(0, len(base)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))
                ]
            texts.append(" ".join(base + ["dup", "dup"]))
            continue
        texts.append(
            " ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), lengths[i]))
        )
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def analytics_tables(seed: int, scale: float) -> dict:
    """Tables at ``scale`` (1.0 = the sf1 test tables' row counts) as
    pyarrow tables keyed by name."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_ord = int(1_500_000 * scale)
    n_cust = max(10, int(150_000 * scale))
    n_ev = int(1_000_000 * scale)
    n_doc = int(50_000 * scale)
    n_vec = int(20_000 * scale)
    day = np.timedelta64(1, "D")
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()),
         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    )
    t["nation"] = pa.table(
        {"n_nationkey": pa.array(range(25), pa.int32()),
         "n_name": [f"NATION{i:02d}" for i in range(25)],
         "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
        }
    )
    n_sup = max(10, int(10_000 * scale))
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_sup, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_sup), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_sup), 2),
        }
    )
    n_part = max(10, int(200_000 * scale))
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(n_part)],
            "p_brand": [f"Brand#{k}" for k in rng.integers(11, 56, n_part)],
            "p_type": [f"TYPE {k}" for k in rng.integers(0, 150, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(rng.uniform(900, 2100, n_part), 2),
        }
    )
    o_date = np.datetime64("1995-01-01") + rng.integers(0, 2404, n_ord) * day
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": [("O", "P", "F")[k] for k in rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": pa.array(o_date.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n_ord)],
        }
    )
    per = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(l_ok)
    l_line = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(o_date, per) + rng.integers(1, 122, n_li) * day
    flags = rng.integers(0, 3, n_li)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": l_ok,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_sup, n_li).astype(np.int64),
            "l_linenumber": pa.array(l_line, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": [("A", "N", "R")[k] for k in flags],
            "l_linestatus": [("O", "F")[k] for k in rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )
    ev_ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(10, int(15_000 * scale)), n_ev).astype(np.int64),
            "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.uniform(0, 560, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = pa.table(_documents(n_doc, rng))
    centers = rng.normal(0.0, 1.0, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vec)
    vecs = 0.56 * centers[labels] + rng.normal(0.0, 1.0, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    return t


def write_tables(tables: dict, out_dir: str) -> None:
    import os

    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
