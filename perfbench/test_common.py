"""Tests for the benchmark's own logic (no JVM needed):

    python3 -m pytest perfbench/test_common.py -q
"""

from __future__ import annotations

import datetime as dt
import http.server
import math
import os
import socket
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, serve  # noqa: E402
from perfbench.common import (  # noqa: E402
    OpRecord,
    Span,
    Tracer,
    mix_p50,
    percentile,
    self_times,
    summarize,
    tail_percentile,
    union_length,
)

# -- the percentile rule ---------------------------------------------- #


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert tail_percentile(100) == 90.0
    assert tail_percentile(99) == 75.0  # 9.9 beyond p90 is not enough
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9
    assert tail_percentile(20) == 50.0
    assert tail_percentile(19) is None


def test_mix_p50_counts_each_request_at_its_route_median():
    fast = [100.0, 101.0, 102.0, 103.0, 190.0]  # one slow outlier
    slow = [200.0, 210.0, 220.0, 230.0]
    assert percentile(fast + slow, 50.0) == 190.0  # the outlier
    assert mix_p50({"fast": fast, "slow": slow}) == 102.0
    assert mix_p50({"a": [1.0, math.inf], "b": [math.inf]}) == math.inf


def test_summarize_reports_sample_count_and_tail():
    xs = [float(i) for i in range(1, 101)]
    s = summarize(xs)
    assert s["n"] == 100 and s["tail_p"] == 90.0
    assert s["p50"] == 50.5
    assert math.isclose(s["tail"], 90.1)
    assert summarize([1.0] * 5) == {"n": 5, "p50": 1.0}


def test_percentile_interpolates_like_numpy():
    assert percentile([1.0, 2.0, 3.0, 4.0], 50.0) == 2.5
    assert percentile([5.0], 90.0) == 5.0


# -- spans and self time ---------------------------------------------- #


def test_self_time_subtracts_union_of_overlapping_children():
    parent = Span(0, "web.do_GET", 0.0, 10.0)
    kids = [
        Span(1, "dao.a", 1.0, 4.0, parent=0),
        Span(2, "dao.b", 3.0, 6.0, parent=0),  # overlaps dao.a
        Span(3, "dao.c", 8.0, 12.0, parent=0),  # runs past the parent
    ]
    st = self_times([parent, *kids])
    # covered: [1, 6] and [8, 10] → 7 of 10
    assert math.isclose(st[0], 3.0)
    assert math.isclose(st[1], 3.0) and math.isclose(st[3], 4.0)


def test_union_length():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0


def test_tracer_nests_by_thread_and_wraps():
    tr = Tracer(enabled=True)

    class Owner:
        @staticmethod
        def work(x):
            with tr.span("inner"):
                return x * 2

    tr.wrap(Owner, "work", "outer")
    assert Owner.work(21) == 42
    outer, = tr.by_name("outer")
    inner, = tr.by_name("inner")
    assert inner.parent == outer.sid
    off = Tracer(enabled=False)
    with off.span("x") as sp:
        assert sp is None
    assert off.spans == []


def test_sampled_gate_records_only_traced_ops():
    tr = Tracer(enabled=True)
    with tr.sampled(False):
        with tr.span("untraced") as sp:
            assert sp is None
        with tr.sampled(True), tr.span("traced"):
            pass
        with tr.span("untraced again"):
            pass
    with tr.span("after"):
        pass
    assert [s.name for s in tr.spans] == ["traced", "after"]


def test_traced_and_untraced_requests_share_the_window():
    plan = serve.plan_requests(75)
    traced = serve.traced_ops(plan)
    for kind in serve.KINDS:
        ids = [i for i, x in enumerate(plan) if x[0] == kind]
        assert [i in traced for i in ids] == [k % 2 == 0 for k in range(len(ids))]
    on = sorted(traced)
    off = sorted(set(range(len(plan))) - traced)
    assert abs(len(on) - len(off)) <= len(serve.KINDS)
    assert min(on) < 0.2 * 75 and max(on) > 0.8 * 75
    assert min(off) < 0.2 * 75 and max(off) > 0.8 * 75


# -- closed-loop timing ----------------------------------------------- #


class _SlowHandler(http.server.BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def do_GET(self):
        time.sleep(0.05)
        self.send_response(200)
        self.send_header("Content-Length", "2")
        self.end_headers()
        self.wfile.write(b"{}")

    def log_message(self, *_a):
        pass


def test_closed_loop_sends_each_request_after_the_previous_reply():
    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _SlowHandler)
    t = threading.Thread(target=httpd.serve_forever)
    t.start()
    try:
        plan = [("root", "/", {})] * 4
        res = serve.run_requests(httpd.server_address[1], plan, clients=1)
    finally:
        httpd.shutdown()
        t.join()
        httpd.server_close()
    recs = [r for r, _ in res]
    assert all(r.ok for r in recs)
    for prev, nxt in zip(recs, recs[1:]):
        assert nxt.sent >= prev.done  # one request at a time
    assert all(r.latency_s >= 0.05 for r in recs)  # send to reply


def test_failed_request_misses_every_latency_limit():
    bad = OpRecord(0, "sql", sent=0.0, done=0.01, ok=False)
    assert bad.latency_s == math.inf
    lat = [0.1] * 95 + [bad.latency_s] * 5
    assert percentile(lat, 50.0) == 0.1
    assert percentile(lat, 99.0) == math.inf


def test_refused_request_is_a_failed_op():
    with socket.socket() as s:  # a port nobody listens on
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    plan = [("root", "/", {}), ("root", "/", {})]
    res = serve.run_requests(port, plan, clients=2, first_id=7)
    assert [r.op_id for r, _ in res] == [7, 8]
    assert all(not r.ok and r.latency_s == math.inf for r, _ in res)
    assert all(r.detail for r, _ in res)


# -- seeded inputs and expected answers ------------------------------- #


def test_plan_is_fixed_and_stratified():
    a = serve.plan_requests(75)
    assert a == serve.plan_requests(75)
    assert len(a) == 75
    b = serve.plan_requests(75, serve.LOAD_SEED + 1)
    assert [x[1] for x in a] != [x[1] for x in b]
    kinds = [x[0] for x in a]
    for kind, w in serve.MIX:
        assert abs(kinds.count(kind) - w * len(a)) < 1


def test_mix_follows_the_page_flow():
    share = dict(serve.MIX)
    assert math.isclose(sum(share.values()), 1.0)
    # a service-page view is the page plus its /count and /average fetches
    assert share["service"] == share["count"] == share["average"]
    assert set(share) == set(serve.KINDS)


def test_access_log_drops_and_answers():
    dgs, recs = gen.access_log(3, 400, 7)
    assert len(dgs) == len(recs) == 408
    kinds = [r["kind"] for r in recs]
    assert kinds.count("ok") == 400
    assert all(kinds.count(k) == 2 for k in gen.DROP_STAGES)
    exp = serve.Expected(recs)
    stop = gen.END_DAY
    svc = exp.services[0]
    rows = [r for r in recs if r["kind"] == "ok" and r["service"] == svc]
    got = exp.answer("count", {"service": svc, "stop": stop, "days": 1})
    want = len({r["ip"] for r in rows if r["date"] == stop})
    assert got["elements"] == ([{"date": stop.isoformat(), "group": None, "count": want}]
                               if want else [])


def test_same_compares_floats_loosely_and_types_strictly():
    assert serve.same({"a": 1.0, "b": [1]}, {"a": 1.0 + 1e-13, "b": [1]}) == ""
    assert serve.same({"a": 1}, {"a": True}) != ""
    assert serve.same([1, 2], [1]) != ""
    assert "missing" in serve.same({}, {"a": 1})


def test_top_orders_count_desc_then_group_with_null_last():
    d = dt.date(2024, 3, 1)
    rows = [
        {"date": d, "g": None, "ip": "a"},
        {"date": d, "g": "x", "ip": "a"},
        {"date": d, "g": "y", "ip": "a"},
        {"date": d, "g": "y", "ip": "b"},
    ]
    top = serve.Expected._top(rows, "g", False, 3)
    assert [(t["group"], t["count"]) for t in top] == [("y", 2), ("x", 1), (None, 1)]
