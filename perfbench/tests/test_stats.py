"""The benchmark's own statistics and generators.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from common import (  # noqa: E402
    TAIL_BEYOND, bytes_ratio, failed_share, host_ticks, recall_at_k, steal_share, tail,
)
from batch import digest  # noqa: E402
from sqlmix import BLOCK, PRELOAD_ROWS, SELECT_KINDS, Model, PhotoGen, check, insert_sql, row_bytes  # noqa: E402


def test_tail_leaves_ten_samples_beyond():
    xs = list(range(1, 201))  # 200 samples
    level, value = tail(xs)
    assert sum(1 for x in xs if x > value) == TAIL_BEYOND
    assert level == pytest.approx(95.0)
    assert value == 190


def test_tail_needs_more_than_ten_samples():
    assert tail(list(range(10))) is None
    level, value = tail(list(range(11)))
    assert value == 0 and level == pytest.approx(100 / 11)


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0] * 10
    assert tail(xs) == tail(sorted(xs))


def test_tail_level_follows_sample_count():
    # p95 is reportable from 200 samples on; from 100, only p90
    assert tail(list(range(200)))[0] == pytest.approx(95.0)
    assert tail(list(range(199)))[0] < 95.0
    assert tail(list(range(100)))[0] == pytest.approx(90.0)


def test_failed_share():
    assert failed_share(3, 12) == 0.25
    assert failed_share(0, 5) == 0.0
    with pytest.raises(ValueError):
        failed_share(0, 0)


def test_recall_at_k():
    exact = list(range(10))
    assert recall_at_k(exact[::-1], exact) == 1.0
    assert recall_at_k([0, 1, 2, 3, 4, 50, 51, 52, 53, 54], exact) == 0.5
    with pytest.raises(ValueError):
        recall_at_k([1], [])


def test_bytes_per_user_byte():
    row = (1, 2, "https://img.example/1.png", 640)
    assert row_bytes(row) == 28 + len("https://img.example/1.png")
    assert bytes_ratio(300, row_bytes(row) * 2) == 300 / (2 * row_bytes(row))
    with pytest.raises(ValueError):
        bytes_ratio(1, 0)


def test_steal_share():
    assert steal_share((10, 100), (40, 400)) == 0.1
    assert steal_share((5, 50), (5, 50)) == 0.0
    stolen, total = host_ticks()
    assert 0 <= stolen <= total


def _take(it, n):
    return [next(it)[1] for _ in range(n)]


def test_one_seed_one_statement_sequence():
    a, b = PhotoGen(7), PhotoGen(7)
    assert a.preload() == b.preload()
    for client in range(3):
        assert _take(a.statements(client), 200) == _take(b.statements(client), 200)
    assert _take(PhotoGen(8).statements(0), 50) != _take(a.statements(0), 50)


def test_statement_mix_and_disjoint_ids():
    gen = PhotoGen(3)
    stmts = gen.statements(0)
    kinds = [next(stmts)[0] for _ in range(20 * len(BLOCK))]
    for i in range(0, len(kinds), len(BLOCK)):
        assert kinds[i:i + len(BLOCK)].count("insert") == 2  # 40% writes
    for k in SELECT_KINDS:
        assert kinds.count(k) == 15
    ids = set()
    for client in range(4):
        for kind, _sql, params in (next(s) for s in [gen.statements(client)] * 300):
            if kind == "insert":
                new = {r[0] for r in params["rows"]}
                assert not new & ids and min(new) >= PRELOAD_ROWS
                ids |= new


def _model(rows):
    m = Model()
    m.sent.extend(rows)
    m.acked.extend(rows)
    return m


def _rec(kind, params, rows, model, acked=None):
    return {
        "kind": kind, "params": params, "body": {"rows": rows},
        "acked_at_send": len(model.acked) if acked is None else acked,
        "sent_at_recv": len(model.sent),
    }


def test_check_threshold_and_inflight_rows():
    rows = [(1, 0b0000, "u1", 1), (2, 0b0111, "u2", 1), (3, 0b1111, "u3", 1)]
    m = _model(rows)
    p = {"q": 0, "k": 4}
    ok = [{"id": "1", "d": 0}, {"id": "2", "d": 3}]
    assert check(_rec("threshold", p, ok, m), m) is None
    assert check(_rec("threshold", p, ok[:1], m), m) is not None  # row 2 missing
    assert check(_rec("threshold", p, [{"id": "1", "d": 1}], m), m) is not None
    # row 2 still in flight when sent: it may be absent
    assert check(_rec("threshold", p, ok[:1], m, acked=1), m) is None


def test_check_topk_count_and_pk():
    rows = [(i, i, f"u{i}", 1) for i in range(20)]
    m = _model(rows)
    top = sorted(((r[1] ^ 0).bit_count(), r[0]) for r in rows)[:10]
    got = [{"id": str(i), "d": d} for d, i in top]
    assert check(_rec("topk", {"q": 0, "k": 0}, got, m), m) is None
    assert check(_rec("topk", {"q": 0, "k": 0}, got[::-1], m), m) is not None
    n = sum(1 for r in rows if r[1].bit_count() < 2)
    assert check(_rec("count", {"q": 0, "k": 2}, [{"n": n}], m), m) is None
    assert check(_rec("count", {"q": 0, "k": 2}, [{"n": n + 1}], m), m) is not None
    pk = [{"id": "5", "hash": "5", "url": "u5", "width": 1}]
    assert check(_rec("pk", {"x": 5}, pk, m), m) is None
    assert check(_rec("pk", {"x": 5}, [], m), m) is not None
    assert check(_rec("pk", {"x": 99}, [], m), m) is None


def test_insert_sql_renders_every_row():
    rows = [(1, 2, "https://a/1.png", 640), (2, 3, "https://a/2.png", 800)]
    sql = insert_sql(rows)
    assert sql.startswith("INSERT INTO photos (id, hash, url, width) VALUES (1, 2, ")
    assert sql.count("https://a/") == 2


def test_digest_is_row_order_and_engine_type_neutral():
    import numpy as np
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2], "v": [5, 3], "n": [None, 7]})
    b = pd.DataFrame({
        "n": [7.0, np.nan],
        "v": np.array([3, 5], dtype="int32"),
        "k": [2.0, 1.0],
    })
    assert digest(a) == digest(b)
    assert digest(a)[0] == 2
    assert digest(a) != digest(a.assign(v=[5, 4]))
