"""Load-generator process, run outside the process tree under test.

    python3 perfbench/loadgen.py kv --port P --seed S --keys K --warm W --rounds R
    python3 perfbench/loadgen.py window --port P --seed S --rate E --warm-s W --timed-s T

``kv`` is one closed-loop client: it preloads keys through ``/boot``,
runs ``W`` warm-up rounds, prints ``READY`` and waits for ``GO`` on
stdin, runs ``R`` timed rounds and prints one JSON line: every request
as ``[phase, kind, start, end, status, value]`` with CLOCK_MONOTONIC
times, so the server side can line its spans up with them.

``window`` is an open-loop event source plus the receiver of the
pipeline's webhook sink, so both timestamps come from one clock.  It
prints ``RECV <port>``, waits for ``GO``, POSTs seeded event batches
to the webhook source on a fixed schedule (each event stamped with its
due time), printing ``T0``/``T1`` around the timed part, then closes
every window with one far-future event, waits for the results and
prints one JSON line.
"""

from __future__ import annotations

import argparse
import http.client
import json
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from inputs import event_posts, kv_plan, window_tally


class Client:
    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def call(self, method: str, path: str, body=None):
        data = None if body is None else json.dumps(body)
        headers = {"Content-Type": "application/json"} if data else {}
        self.conn.request(method, path, body=data, headers=headers)
        resp = self.conn.getresponse()
        return resp.status, json.loads(resp.read() or b"null")


def pace(offsets, send, clock=time.monotonic, sleep=time.sleep, start=None):
    """Open-loop schedule: call ``send(i)`` for each offset (seconds
    after the start) at its due time, or at once when the generator
    is already late.  A slow send delays the later sends, never their
    due times.

    Returns ``(due, sent, done)`` per call.  Latency is ``done - due``,
    so a stall counts against every request it delayed, and
    ``sent - due`` is how late the generator ran.
    """
    start = clock() if start is None else start
    out = []
    for i, off in enumerate(offsets):
        due = start + off
        wait = due - clock()
        if wait > 0:
            sleep(wait)
        sent = clock()
        send(i)
        out.append((due, sent, clock()))
    return out


def get_value(payload):
    """The value a ``GET k`` returned through /db/query, or None."""
    vals = payload["results"][0].get("values") or []
    return vals[0][1] if vals else None


def run_kv(args) -> None:
    preload, reqs = kv_plan(args.seed, args.keys, args.warm + args.rounds)
    cli = Client(args.port)
    st, _ = cli.call("POST", "/boot", preload)
    if st != 200:
        raise SystemExit(f"/boot failed: {st}")
    split = kv_split(reqs, args.warm)
    out = []

    def do(phase, kind, stmt):
        t0 = time.monotonic()
        if kind == "status":
            st, body = cli.call("GET", "/status")
        elif kind == "get":
            st, body = cli.call("POST", "/db/query", [stmt])
        else:
            st, body = cli.call("POST", "/db/execute", [stmt])
        t1 = time.monotonic()
        ok = st == 200 and not (isinstance(body, dict) and any(
            "error" in r for r in body.get("results", [])))
        val = get_value(body) if kind == "get" and ok else None
        out.append([phase, kind, t0, t1, st if ok else -st, val])

    for kind, stmt in reqs[:split]:
        do("warm", kind, stmt)
    print("READY", flush=True)
    if sys.stdin.readline().strip() != "GO":
        raise SystemExit("expected GO")
    for kind, stmt in reqs[split:]:
        do("timed", kind, stmt)
    print(json.dumps(out), flush=True)


def kv_split(reqs, warm_rounds: int) -> int:
    """Index of the first request of round ``warm_rounds``."""
    rounds = 0
    for i, (kind, _) in enumerate(reqs):
        if kind in ("set", "delete"):
            if rounds == warm_rounds:
                return i
            rounds += 1
    return len(reqs)


class Receiver:
    """HTTP endpoint for the webhook sink: records every POSTed result
    document with its arrival time (epoch ms)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.docs: list[tuple[float, dict]] = []
        self.deliveries = 0
        recv = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def do_POST(self):
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                now = time.time() * 1000.0
                docs = json.loads(body)
                with recv.lock:
                    recv.deliveries += 1
                    recv.docs.extend((now, d) for d in (docs if isinstance(docs, list) else [docs]))
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def keys(self) -> set:
        with self.lock:
            return {(d["w_ms"], d["key"]) for _, d in self.docs}

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()


def run_window(args) -> None:
    recv = Receiver()
    print(f"RECV {recv.server.server_address[1]}", flush=True)
    if sys.stdin.readline().strip() != "GO":
        raise SystemExit("expected GO")
    n_warm = round(args.warm_s / args.interval)
    n_posts = n_warm + round(args.timed_s / args.interval)
    posts = event_posts(args.seed, args.rate, args.interval, n_posts, args.keys)
    t0_ms = (int(time.time()) + 1) * 1000  # whole second: windows align with posts
    sent_log = []

    def send(i):
        off, evs = posts[i]
        ts = t0_ms + round(off * 1000)
        body = json.dumps([{"key": k, "n": n, "ts_ms": ts} for k, n in evs])
        if i == n_warm:
            print("T0", flush=True)
        t = time.time()
        conn = http.client.HTTPConnection("127.0.0.1", args.port, timeout=30)
        conn.request("POST", "/", body=body, headers={"Content-Type": "application/json"})
        st = conn.getresponse().status
        conn.close()
        sent_log.append((st, (time.time() - t) * 1000.0))

    time.sleep(max(0.0, t0_ms / 1000.0 - time.time()))
    sched = pace([off for off, _ in posts], send, clock=time.time, start=t0_ms / 1000.0)
    print("T1", flush=True)
    # one far-future event moves the watermark past every real window
    last = t0_ms + round(posts[-1][0] * 1000)
    flush = [{"key": "flush", "n": 0, "ts_ms": last + 10_000}]
    conn = http.client.HTTPConnection("127.0.0.1", args.port, timeout=30)
    conn.request("POST", "/", body=json.dumps(flush), headers={"Content-Type": "application/json"})
    conn.getresponse().read()
    want = set(window_tally(posts, t0_ms, args.window_ms))
    deadline = time.time() + args.drain_timeout
    while not want <= recv.keys() and time.time() < deadline:
        time.sleep(0.05)
    recv.close()
    print(json.dumps({
        "t0_ms": t0_ms, "n_warm": n_warm,
        "posts": [[d * 1000.0, s * 1000.0, e * 1000.0, st, post_ms]
                  for (d, s, e), (st, post_ms) in zip(sched, sent_log)],
        "results": [[t, d["w_ms"], d["key"], d["cnt"], d["last_ms"]] for t, d in recv.docs],
        "deliveries": recv.deliveries,
    }), flush=True)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("kv", "window"))
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--keys", type=int, default=1000)
    ap.add_argument("--warm", type=int, default=10, help="kv: warm-up rounds")
    ap.add_argument("--rounds", type=int, default=40)
    ap.add_argument("--rate", type=int, default=200, help="events per second")
    ap.add_argument("--interval", type=float, default=0.1, help="seconds between POSTs")
    ap.add_argument("--window-ms", type=int, default=1000)
    ap.add_argument("--warm-s", type=float, default=6.0, help="window: warm-up seconds")
    ap.add_argument("--timed-s", type=float, default=8.0, help="window: timed seconds")
    ap.add_argument("--drain-timeout", type=float, default=30.0)
    args = ap.parse_args(argv)
    (run_kv if args.mode == "kv" else run_window)(args)


if __name__ == "__main__":
    main()
