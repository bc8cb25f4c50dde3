"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import pytest

from perfbench import gen, oracle
from perfbench.metrics import END_TO_END, NAME_RE, PER_LAYER, tail_percentile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for name in sorted(files):
            h.update(name.encode())
            with open(os.path.join(root, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize(
    "make",
    [
        lambda d, s: gen.gen_candy(d, s, n_tx=300, n_days=5),
        lambda d, s: gen.gen_documents(d, s, n_docs=200),
        lambda d, s: gen.gen_star(d, s, sf=0.001),
    ],
    ids=["candy", "documents", "star"],
)
def test_generator_is_seeded(tmp_path, make):
    a, b, c = (str(tmp_path / n) for n in "abc")
    assert make(a, 7) == make(b, 7)
    make(c, 8)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_candy_inputs_exercise_the_pipeline_edges(tmp_path):
    d = str(tmp_path)
    gen.gen_candy(d, 3, n_tx=2_000, n_days=10)
    items = []
    for day in sorted(os.listdir(d)):
        if day.startswith("transactions_"):
            with open(os.path.join(d, day)) as f:
                items += [(tx["transaction_id"], tx["timestamp"], it["product_id"], it["qty"])
                          for tx in json.load(f) for it in tx["items"]]
    assert any(q is None for *_, q in items)  # null-qty items
    assert len(set(items)) < len(items)  # exact duplicate items
    stamps = [ts for _, ts, *_ in {(o, ts) for o, ts, *_ in items}]
    assert len(set(stamps)) < len(stamps)  # timestamp ties
    want = oracle.candy_expected(d)
    share = want["fulfilled_lines"] / want["requested_lines"]
    assert 0.6 < share < 0.95  # stock runs out: a real share of lines cancel


def test_allocator_oracle_hand_case():
    t = "2024-02-01T09:00:00.000000"
    later = "2024-02-01T10:00:00.000000"
    tie = "2024-02-01T11:00:00.000000"
    requests = [
        (1, t, 100, 4),  # fills, 6 left
        (1, later, 101, 7),  # more than is left: cancelled, scan goes on
        (1, later, 102, 5),  # smaller later request fills, 1 left
        (1, tie, 120, 1),  # tie on timestamp: order_id 110 goes first
        (1, tie, 110, 1),  # fills, 0 left
        (2, t, 100, 0),  # zero qty never fills
    ]
    got = oracle.allocate(requests, {1: 10, 2: 5})
    assert got == {(100, 1): 4, (101, 1): 0, (102, 1): 5, (110, 1): 1, (120, 1): 0, (100, 2): 0}


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(list(range(100)), 0.9) == 89
    assert tail_percentile(list(range(99)), 0.9) is None
    assert tail_percentile(list(range(20)), 0.5) == 9
    assert tail_percentile([], 0.9) is None


def test_frame_digest_is_order_insensitive_and_type_tolerant():
    a = oracle.frame_digest(["b", "a"], [(1.0, dt.date(2024, 1, 2)), (2.5, None)])
    b = oracle.frame_digest(["a", "b"], [(None, 2.5), (dt.datetime(2024, 1, 2), 1)])
    assert a == b
    assert a != oracle.frame_digest(["a", "b"], [(None, 2.5), (dt.datetime(2024, 1, 2), 1.01)])


def test_metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for name in list(END_TO_END) + list(PER_LAYER):
        assert NAME_RE.match(name), name
    assert [m["name"] for m in bench["end_to_end"]] == list(END_TO_END)
    assert [m["unit"] for m in bench["end_to_end"]] == list(END_TO_END.values())
    assert [m["name"] for m in bench["per_layer"]] == list(PER_LAYER)
    assert [m["unit"] for m in bench["per_layer"]] == list(PER_LAYER.values())
