"""The benchmark's own checks: inputs are byte-deterministic per seed, and
every correctness gate rejects a deliberately wrong result.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib

import pytest

from perfbench import gates, inputs
from perfbench.spans import Tracer


def _digest(path) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_page_tables_are_byte_deterministic(tmp_path):
    a, b, c = (tmp_path / n for n in ("a.parquet", "b.parquet", "c.parquet"))
    inputs.write_text_table(str(a), inputs.pages(7, 150))
    inputs.write_text_table(str(b), inputs.pages(7, 150))
    inputs.write_text_table(str(c), inputs.pages(8, 150))
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_ingest_batches_and_queries_are_deterministic(tmp_path):
    p1 = inputs.ingest_plan(5, 200, 40, 3)
    p2 = inputs.ingest_plan(5, 200, 40, 3)
    for i, (b1, b2) in enumerate(zip(p1.batches, p2.batches)):
        f1, f2 = tmp_path / f"x{i}.parquet", tmp_path / f"y{i}.parquet"
        inputs.write_html_table(str(f1), b1)
        inputs.write_html_table(str(f2), b2)
        assert _digest(f1) == _digest(f2)
    assert inputs.query_pool(p1.base, 5, 80) == inputs.query_pool(p2.base, 5, 80)
    pool = inputs.query_pool(p1.base, 5, 80)
    assert inputs.query_stream(pool, 5, 500) == inputs.query_stream(pool, 5, 500)


def test_ingest_plan_shape():
    plan = inputs.ingest_plan(5, 200, 40, 3)
    base = set(plan.base.urls)
    recrawls = [u for b in plan.batches for u in b.urls if u in base]
    assert len(recrawls) == len(set(recrawls)) == sum(plan.recrawled) == 60
    live = plan.corpus_after(3)
    assert len(live) == 200 + 3 * 20
    b0 = plan.batches[0]
    assert live[b0.urls[0]] == (b0.texts[0], b0.langs[0])


@pytest.fixture(scope="module")
def oracle():
    p = inputs.pages(3, 120)
    live = {u: (t, lg) for u, t, lg in zip(p.urls, p.texts, p.langs)}
    return gates.oracle_for(live)


def _oracle_topk(oracle, q, k):
    ox, urls = oracle
    want = gates.oracle_scores(ox, urls, q)
    ranked = sorted(want.items(), key=lambda r: (-r[1], r[0]))[:k]
    return want, ranked


def test_topk_gate_accepts_the_oracle_and_rejects_wrong_results(oracle):
    want, ranked = _oracle_topk(oracle, "turtle history", 5)
    assert len(ranked) == 5
    assert gates.check_topk("q", ranked, want, 5) == []
    wrong_score = [ranked[0][:1] + (ranked[0][1] + 0.01,)] + ranked[1:]
    assert gates.check_topk("q", wrong_score, want, 5)
    swapped = [ranked[1], ranked[0]] + ranked[2:]
    if ranked[0][1] != ranked[1][1]:
        assert gates.check_topk("q", swapped, want, 5)
    outsider = next(u for u in oracle[1] if u not in want)
    assert gates.check_topk("q", [(outsider, ranked[0][1])] + ranked[1:], want, 5)
    assert gates.check_topk("q", ranked[:4], want, 5)
    assert gates.check_topk("q", [ranked[0]] * 5, want, 5)


def test_topk_gate_accepts_any_member_of_a_tie_at_the_cut():
    want = {"a": 3.0, "b": 2.0, "c": 2.0}
    assert gates.check_topk("q", [("a", 3.0), ("c", 2.0)], want, 2) == []
    assert gates.check_topk("q", [("a", 3.0), ("b", 2.0)], want, 2) == []


def test_point_vs_distributed_gate():
    rows = [(4, 2.5), (9, 1.25)]
    assert gates.check_same("q", rows, list(rows)) == []
    assert gates.check_same("q", rows, [(9, 1.25), (4, 2.5)])
    assert gates.check_same("q", rows, [(4, 2.5), (9, 1.26)])
    assert gates.check_same("q", rows, rows[:1])


def test_count_gates():
    assert gates.check_equal("n_docs", 10, 10) == []
    assert gates.check_equal("n_docs", 11, 10)
    assert gates.check_close("avgdl", 1.0, 1.0 + 1e-12) == []
    assert gates.check_close("avgdl", 1.0, 1.001)


def test_spans_nest_and_share_the_op_id():
    tr = Tracer(True)
    with tr.span("outer", op="op1"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans()
    assert inner.parent == outer.sid and inner.op == outer.op == "op1"
    assert outer.t0 <= inner.t0 <= inner.t1 <= outer.t1
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans() == []
