"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from common import Span, TooFewSamples, percentile, self_time  # noqa: E402
from inputs import (  # noqa: E402
    catalog_order,
    event_posts,
    kv_model,
    kv_plan,
    stage_change_log,
    upper_checksum,
)
from loadgen import kv_split, pace  # noqa: E402


def _read_dir(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    stage_change_log(7, str(a), 3, 50)
    stage_change_log(7, str(b), 3, 50)
    stage_change_log(8, str(c), 3, 50)
    assert _read_dir(a) == _read_dir(b)
    assert _read_dir(a) != _read_dir(c)


def test_same_seed_gives_same_request_sequence():
    assert kv_plan(3, 100, 20) == kv_plan(3, 100, 20)
    assert kv_plan(3, 100, 20) != kv_plan(4, 100, 20)
    assert event_posts(3, 400, 0.1, 30, 8) == event_posts(3, 400, 0.1, 30, 8)
    w = {"a": 2, "b": 1, "c": 3}
    assert catalog_order(5, w) == catalog_order(5, w)
    assert sorted(catalog_order(5, w)) == ["a", "a", "b", "c", "c", "c"]


def test_kv_plan_shape_and_model():
    preload, reqs = kv_plan(1, 50, 40)
    kinds = [k for k, _ in reqs]
    writes = kinds.count("set") + kinds.count("delete")
    assert writes == 40 and kinds.count("get") == 160
    assert kinds.count("status") == (200 // 20)
    want = kv_model(preload, reqs)
    assert len(want) == 160 and None in want  # missing keys are asked for
    assert kv_split(reqs, 10) == next(
        i for i, k in enumerate(kinds) if k in ("set", "delete") and
        sum(x in ("set", "delete") for x in kinds[:i]) == 10)


def test_upper_checksum_is_order_independent():
    lines = ['{"a":"x","b":[1,"y"]}', '{"c":{"d":"z"}}']
    assert upper_checksum(lines) == upper_checksum(lines[::-1])
    assert upper_checksum(lines)[0] == 2


def test_percentile_refuses_fewer_than_ten_beyond():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == pytest.approx(50.5)
    assert percentile(xs, 90) == pytest.approx(90.1)
    with pytest.raises(TooFewSamples):
        percentile(list(range(50)), 90)  # 4 samples beyond p90
    with pytest.raises(TooFewSamples):
        percentile(list(range(19)), 50)  # 9 beyond p50
    assert percentile(list(range(21)), 50) == 10


def test_open_loop_latency_counts_from_due_time():
    now = [0.0]
    clock = lambda: now[0]  # noqa: E731

    def sleep(d):
        now[0] += d

    def send(i):
        now[0] += 1.0 if i == 1 else 0.01  # request 1 stalls for a second

    out = pace([0.0, 0.1, 0.2, 0.3], send, clock, sleep)
    due = [d for d, _, _ in out]
    assert due == pytest.approx([0.0, 0.1, 0.2, 0.3])
    lat = [done - d for d, _, done in out]
    late = [sent - d for d, sent, _ in out]
    assert lat[1] == pytest.approx(1.0)
    # request 2 was due at 0.2 but could only be sent at 1.1
    assert late[2] == pytest.approx(0.9)
    assert lat[2] == pytest.approx(0.91)
    assert lat[3] == pytest.approx(1.12 - 0.3)


def test_span_self_time():
    parent = Span(0, "api", 0.0, 10.0)
    kids = [Span(1, "kv", 1.0, 3.0), Span(2, "kv", 2.0, 4.0), Span(3, "kv", 9.0, 12.0)]
    # [1,4] merged = 3, [9,10] clipped = 1
    assert self_time(parent, kids) == pytest.approx(6.0)
    assert self_time(parent, []) == pytest.approx(10.0)
    assert self_time(parent, [Span(4, "x", 11.0, 12.0)]) == pytest.approx(10.0)
