"""Seeded inputs for every workload, made by plain Python.

The same seed gives byte-identical staged files and the same request
and event sequences; nothing here touches Spark.
"""

from __future__ import annotations

import json
import os
import random
import zlib

WORDS = ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
         "hotel", "india", "juliet", "kilo", "lima", "mike", "november")


# -- etl_replay: a JSON-lines change log --------------------------------


def change_record(rnd: random.Random, i: int) -> dict:
    op = rnd.choice(("insert", "update", "update", "delete"))
    doc = None
    if op != "delete":
        doc = {
            "name": f"{rnd.choice(WORDS)} {rnd.choice(WORDS)}",
            "tags": [rnd.choice(WORDS) for _ in range(rnd.randrange(1, 4))],
            "qty": rnd.randrange(1000),
            "ok": rnd.random() < 0.5,
            "note": None,
        }
    return {"op": op, "id": i, "ts": 1_700_000_000 + i, "doc": doc}


def stage_change_log(seed: int, out_dir: str, n_files: int, rows_per_file: int) -> list[str]:
    """Write ``n_files`` JSON-lines files; returns their lines in order."""
    rnd = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    lines = []
    for f in range(n_files):
        chunk = [
            json.dumps(change_record(rnd, f * rows_per_file + i), separators=(",", ":"))
            for i in range(rows_per_file)
        ]
        with open(os.path.join(out_dir, f"part-{f:05d}.json"), "w") as fh:
            fh.write("\n".join(chunk) + "\n")
        lines.extend(chunk)
    return lines


def upper_tree(node):
    """Reference recursive uppercase: string values only, keys kept."""
    if isinstance(node, str):
        return node.upper()
    if isinstance(node, dict):
        return {k: upper_tree(v) for k, v in node.items()}
    if isinstance(node, list):
        return [upper_tree(v) for v in node]
    return node


def upper_checksum(lines) -> tuple[int, int]:
    """(row count, sum of CRC-32 of each uppercased line): an
    order-independent checksum Spark can compute with ``crc32``."""
    total = 0
    for ln in lines:
        out = json.dumps(upper_tree(json.loads(ln)), separators=(",", ":"))
        total += zlib.crc32(out.encode("utf-8"))
    return len(lines), total


# -- kv_api: preload plus a fixed sequence of request rounds -------------


def kv_plan(seed: int, n_keys: int, rounds: int, status_every: int = 20):
    """Preload records and the request list.

    Each round is one SET or DELETE through ``/db/execute`` then four
    GETs through ``/db/query`` (one of them for a key never written);
    one ``/status`` poll follows every ``status_every`` requests.
    Requests are ``(kind, statement)`` with kind in
    ``set/delete/get/status``.
    """
    rnd = random.Random(seed)
    preload = [{"key": f"k{i:05d}", "value": f"v{rnd.randrange(10**9)}"} for i in range(n_keys)]
    space = n_keys + n_keys // 4  # some SETs create new keys
    reqs: list[tuple[str, str]] = []
    since_status = 0

    def push(kind, stmt):
        nonlocal since_status
        reqs.append((kind, stmt))
        since_status += 1
        if since_status == status_every:
            reqs.append(("status", ""))
            since_status = 0

    for r in range(rounds):
        k = f"k{rnd.randrange(space):05d}"
        if rnd.random() < 0.7:
            push("set", f"SET {k} w{r}-{rnd.randrange(10**6)} {rnd.choice(WORDS)}")
        else:
            push("delete", f"DELETE {k}")
        gets = [k] + [f"k{rnd.randrange(space):05d}" for _ in range(2)] + [f"missing{r}"]
        rnd.shuffle(gets)
        for g in gets:
            push("get", f"GET {g}")
    return preload, reqs


def kv_model(preload, reqs) -> list[str | None]:
    """Expected value of every GET in ``reqs``, by a plain dict replay."""
    state = {p["key"]: p["value"] for p in preload}
    out = []
    for kind, stmt in reqs:
        tok = stmt.split()
        if kind == "set":
            state[tok[1]] = " ".join(tok[2:])
        elif kind == "delete":
            state.pop(tok[1], None)
        elif kind == "get":
            out.append(state.get(tok[1]))
    return out


# -- windowed_live: an open-loop event schedule --------------------------


def event_posts(seed: int, rate: int, interval_s: float, n_posts: int, n_keys: int):
    """``n_posts`` POST bodies of ``rate * interval_s`` events each,
    as ``(offset_s, [(key, value), ...])``; post ``i`` is due at
    ``i * interval_s`` after the schedule starts."""
    rnd = random.Random(seed)
    per = max(1, round(rate * interval_s))
    return [
        (i * interval_s, [(f"key{rnd.randrange(n_keys):02d}", rnd.randrange(100)) for _ in range(per)])
        for i in range(n_posts)
    ]


def window_tally(posts, t0_ms: int, window_ms: int) -> dict[tuple[int, str], int]:
    """Expected count per (window start ms, key) when post ``i`` is
    stamped with its due time ``t0_ms + offset``."""
    tally: dict[tuple[int, str], int] = {}
    for off, evs in posts:
        ts = t0_ms + round(off * 1000)
        w = ts - ts % window_ms
        for key, _ in evs:
            tally[(w, key)] = tally.get((w, key), 0) + 1
    return tally


# -- catalog_mix: a weighted, seeded query order --------------------------


def catalog_order(seed: int, weights: dict[str, int]) -> list[str]:
    seq = [name for name, w in sorted(weights.items()) for _ in range(w)]
    random.Random(seed).shuffle(seq)
    return seq
