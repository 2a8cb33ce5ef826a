"""Closed-loop HTTP load generator, run as its own process so its threads
never compete with the server for the program's interpreter lock.

Reads ``{"port", "clients", "plan": [[url, op_id], ...]}`` as JSON on
stdin. ``clients`` workers, each holding one keep-alive connection,
take the plan's requests in order; a worker sends its next request as
soon as its previous one has completed. Writes one JSON list of
``[op_id, sent_s, done_s, status, detail, body]`` to stdout, with times
in seconds from the generator's start.
"""

from __future__ import annotations

import http.client
import json
import sys
import threading
import time


def run(port: int, plan: list, clients: int) -> list:
    t0 = time.perf_counter()
    out: list = [None] * len(plan)
    nxt = [0]
    lock = threading.Lock()

    def worker():
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(plan):
                break
            url, op_id = plan[i]
            sent = time.perf_counter() - t0
            try:
                conn.request("GET", url, headers={"X-Perfbench-Op": str(op_id)})
                resp = conn.getresponse()
                body = resp.read().decode()
                status, detail = resp.status, ""
            except Exception as e:  # refused/reset: the op failed
                body, status, detail = "", 0, repr(e)
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
            out[i] = [op_id, sent, time.perf_counter() - t0, status, detail, body]
        conn.close()

    ts = [threading.Thread(target=worker) for _ in range(clients)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return out


if __name__ == "__main__":
    req = json.load(sys.stdin)
    json.dump(run(req["port"], req["plan"], req["clients"]), sys.stdout)
