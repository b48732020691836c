"""Driver-side point-serving tier (VERDICT r4 missing #1 / next #2).

The tier serves warm single queries in-process — same WAND kernel, no
Spark job — from a byte-budgeted LRU of hot terms' posting tables. These
tests pin (a) exact result parity with the distributed path over the full
reference query set, (b) the no-job property once warm, (c) the LRU byte
budget, and (d) the fallbacks (cold index, oversized term).
"""

from __future__ import annotations

import pytest

from fts_engine_spark.query import FtsIndex
from tools.gen_corpus import REFERENCE_QUERIES


@pytest.fixture(scope="module")
def point_fts(spark, small_index):
    index_dir, _meta = small_index
    fts = FtsIndex(spark, index_dir).enable_point_serving()
    yield fts
    fts.close()


def test_point_matches_distributed_on_reference_set(spark, point_fts):
    """Hash-identical results: every reference query's point-tier rows ==
    the distributed WAND path's rows, scores to full float64."""
    for qd in REFERENCE_QUERIES:
        want = [
            (int(r["doc_id"]), float(r["score"]))
            for r in point_fts.search_bm25(
                qd["query"], k=qd["k"], mode="wand"
            ).collect()
        ]
        got = point_fts.search_bm25_point(qd["query"], k=qd["k"])
        assert got == want, qd["query"]


def test_point_k_zero_returns_all(point_fts):
    want = [
        (int(r["doc_id"]), float(r["score"]))
        for r in point_fts.search_bm25("hotel turtle", k=0, mode="wand").collect()
    ]
    got = point_fts.search_bm25_point("hotel turtle", k=0)
    assert got == want and len(got) > 10


def test_point_warm_query_runs_no_spark_job(spark, point_fts):
    """After the first (fetch) call, a repeat query schedules ZERO jobs —
    the whole point of the tier."""
    point_fts.search_bm25_point("french hotel", k=10)  # fetch terms
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    out = point_fts.search_bm25_point("french hotel", k=10)
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert out  # real results
    assert after == before, "warm point query must not schedule a Spark job"


def test_point_cache_lru_byte_budget(spark, small_index):
    index_dir, _meta = small_index
    fts = FtsIndex(spark, index_dir).enable_point_serving()
    try:
        fts.search_bm25_point("french hotel turtle", k=10)
        stats = fts.point_cache_stats()
        assert stats["terms"] >= 2 and 0 < stats["bytes"] <= stats["max_bytes"]
        # shrink the budget below the current usage and query NEW terms:
        # old terms must be evicted, accounting stays consistent
        fts._point_cache.max_bytes = stats["bytes"]
        fts.search_bm25_point("mountain river castle bridge", k=10)
        stats2 = fts.point_cache_stats()
        recount = sum(
            fts._point_term_bytes(tabs) for tabs in fts._point_cache.values()
        )
        assert stats2["bytes"] == recount
        assert "mountain" in fts._point_cache  # current query never evicted
    finally:
        fts.close()


def test_point_falls_back_when_not_enabled(spark, small_index):
    index_dir, _meta = small_index
    fts = FtsIndex(spark, index_dir)  # cold: no warm(), no point cache
    try:
        want = [
            (int(r["doc_id"]), float(r["score"]))
            for r in fts.search_bm25("turtle", k=5, mode="wand").collect()
        ]
        assert fts.search_bm25_point("turtle", k=5) == want
    finally:
        fts.close()


def test_point_falls_back_on_oversized_term(spark, small_index):
    """A term whose df exceeds the point budget's cap is served by the
    distributed path (the driver never materializes its posting list)."""
    index_dir, _meta = small_index
    fts = FtsIndex(spark, index_dir).enable_point_serving(cache_max_bytes=40)
    try:
        # df_cap = 40 // 40 = 1: any term with df > 1 falls back
        want = [
            (int(r["doc_id"]), float(r["score"]))
            for r in fts.search_bm25("hotel", k=5, mode="wand").collect()
        ]
        assert fts.search_bm25_point("hotel", k=5) == want
        assert fts.point_cache_stats()["terms"] == 0  # nothing cached
    finally:
        fts.close()


def test_point_query_mixing_cached_and_missing_terms_under_pressure(
    spark, small_index
):
    """r5 review: a query whose terms are part cached (LRU-old) and part
    missing, with the budget forcing eviction during the fetch, must not
    evict its OWN cached term (the old guard protected only the missing
    set -> KeyError in the serving hot path)."""
    index_dir, _ = small_index
    fts = FtsIndex(spark, index_dir).enable_point_serving()
    try:
        fts.search_bm25_point("turtle", k=5)  # cache 'turtle'
        # budget so tight that ANY further insert must evict
        fts._point_cache.max_bytes = fts.point_cache_stats()["bytes"] + 1
        want = [
            (int(r["doc_id"]), float(r["score"]))
            for r in fts.search_bm25(
                "turtle mountain", k=5, mode="wand"
            ).collect()
        ]
        got = fts.search_bm25_point("turtle mountain", k=5)  # crashed before
        assert got == want
        # post-sweep pass enforces the hard budget again
        assert (
            fts.point_cache_stats()["bytes"] <= fts._point_cache.max_bytes
            or fts.point_cache_stats()["terms"] == 0
        )
    finally:
        fts.close()


def test_conjunctive_identity_across_paths(spark, point_fts):
    """Conjunctive (AND) mode: wand ≡ relational ≡ point tier, and every
    returned doc matches EVERY query term (checked against the per-term
    k=0 OR runs)."""
    query = "hotel turtle"
    wand = [
        (int(r["doc_id"]), float(r["score"]))
        for r in point_fts.search_bm25(
            query, k=0, mode="wand", conjunctive=True
        ).collect()
    ]
    rel = [
        (int(r["doc_id"]), float(r["score"]))
        for r in point_fts.search_bm25(
            query, k=0, mode="relational", conjunctive=True
        ).collect()
    ]
    point = point_fts.search_bm25_point(query, k=0, conjunctive=True)
    key = lambda r: (-r[1], r[0])
    assert sorted(wand, key=key) == sorted(point, key=key)
    assert [d for d, _ in sorted(wand, key=key)] == [
        d for d, _ in sorted(rel, key=key)
    ]
    for (_, sw), (_, sr) in zip(sorted(wand, key=key), sorted(rel, key=key)):
        assert abs(sw - sr) < 1e-9

    # ground truth: intersection of the single-term match sets, scores
    # additive from the OR path
    per_term = {}
    for t in query.split():
        per_term[t] = {
            int(r["doc_id"]): float(r["score"])
            for r in point_fts.search_bm25(t, k=0, mode="wand").collect()
        }
    inter = set.intersection(*(set(v) for v in per_term.values()))
    assert {d for d, _ in wand} == inter and inter
    for d, s in wand:
        assert abs(s - sum(v[d] for v in per_term.values())) < 1e-9


def test_conjunctive_absent_term_empty(point_fts):
    """AND with a term absent from the corpus is empty on every path."""
    q = "hotel zzzzunseen"
    assert point_fts.search_bm25(q, k=0, mode="wand", conjunctive=True).count() == 0
    assert (
        point_fts.search_bm25(q, k=0, mode="relational", conjunctive=True).count()
        == 0
    )
    assert point_fts.search_bm25_point(q, k=0, conjunctive=True) == []


def test_conjunctive_batch_matches_single(spark, point_fts):
    """Batch AND == per-query AND, including a query with an absent term
    (empty) and a single-term query (conjunction == OR)."""
    queries = ["hotel turtle", "hotel zzzzunseen", "turtle"]
    batch = point_fts.search_bm25_batch(queries, k=5, conjunctive=True)
    by_q: dict[int, list] = {}
    for r in batch.collect():
        by_q.setdefault(int(r["query_id"]), []).append(
            (int(r["doc_id"]), float(r["score"]))
        )
    for qid, q in enumerate(queries):
        single = [
            (int(r["doc_id"]), float(r["score"]))
            for r in point_fts.search_bm25(
                q, k=5, mode="wand", conjunctive=True
            ).collect()
        ]
        assert by_q.get(qid, []) == single, q
    assert 1 not in by_q  # absent term -> no rows at all


def test_point_prefix_matches_distributed(spark, point_fts):
    """Point-tier prefix rewrite == distributed search_bm25_prefix, scores
    to full float64; expansion preference identical (df desc, term asc)."""
    for q in ["s*", "data s*", "quer*"]:
        want = [
            (int(r["doc_id"]), float(r["score"]))
            for r in point_fts.search_bm25_prefix(q, k=10).collect()
        ]
        got = point_fts.search_bm25_point_prefix(q, k=10)
        assert got == want, q


def test_point_wildcard_matches_distributed(spark, point_fts):
    """Point-tier wildcard rewrite == distributed search_bm25_wildcard:
    mid-string *, single-char ?, leading * (full dictionary scan), and a
    mixed exact+pattern query."""
    for q in ["t*le", "va?ue", "*ta", "data t*le", "s?st*"]:
        want = [
            (int(r["doc_id"]), float(r["score"]))
            for r in point_fts.search_bm25_wildcard(q, k=10).collect()
        ]
        got = point_fts.search_bm25_point_wildcard(q, k=10)
        assert got == want, q


def test_point_fuzzy_matches_distributed(spark, point_fts):
    for q, d in [("querry", 1), ("valu", 1), ("tabel", 2)]:
        want = [
            (int(r["doc_id"]), float(r["score"]))
            for r in point_fts.search_bm25_fuzzy(q, k=10, max_dist=d).collect()
        ]
        got = point_fts.search_bm25_point_fuzzy(q, k=10, max_dist=d)
        assert got == want, (q, d)


def test_point_expand_equals_distributed_expand(point_fts):
    """The driver-side expansion structures reproduce expand_terms exactly,
    including the max_expand truncation order."""
    for pattern, kind, dist in [
        ("s", "prefix", 0),
        ("quer", "fuzzy", 1),
        ("t*le", "wildcard", 0),
        ("*alu?", "wildcard", 0),
    ]:
        for cap in (3, 1000):
            assert point_fts._point_expand(pattern, kind, dist, cap) == (
                point_fts.expand_terms(
                    pattern, kind, max_dist=dist, max_expand=cap
                )
            ), (pattern, kind, cap)


def test_point_prefix_warm_runs_no_spark_job(spark, point_fts):
    """Expansion (bisect over the driver dictionary) + sweep schedule zero
    jobs once the expanded terms are cached."""
    point_fts.search_bm25_point_prefix("s*", k=10)  # fetch expansion terms
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    out = point_fts.search_bm25_point_prefix("s*", k=10)
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert out
    assert after == before, "warm point prefix query must not schedule a job"


def test_point_expand_no_match_empty(point_fts):
    assert point_fts.search_bm25_point_prefix("zzzz*", k=5) == []
    assert point_fts.search_bm25_point_fuzzy("zzzzzzzz", k=5) == []


def test_banded_levenshtein_matches_reference():
    from fts_engine_spark.query import _levenshtein_leq

    def full(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    words = ["", "a", "ab", "query", "queri", "querry", "table", "tabel",
             "tble", "stream", "steam", "steamer", "value", "valu"]
    for a in words:
        for b in words:
            for d in (0, 1, 2):
                assert _levenshtein_leq(a, b, d) == (full(a, b) <= d), (a, b, d)


def test_byte_lru_fetch_pins_then_evicts_and_reinsert_replaces_charge():
    from fts_engine_spark.query import _ByteLRU

    lru = _ByteLRU(10)
    lru.put("a", "A", 4)
    lru.put("b", "B", 4)
    assert lru.bytes == 8 and list(lru) == ["a", "b"]
    # inserting a key again replaces its charge (and refreshes it)
    lru.put("a", "A2", 5)
    assert lru.bytes == 9 and list(lru) == ["b", "a"] and lru.get("a") == "A2"
    loads = []

    def load(missing):
        loads.append(list(missing))
        return {k: (k.upper(), 6) for k in missing}

    # a fetch whose own keys outgrow the budget still returns every key
    # (one load call for the missing ones), then evicts LRU-first down to
    # the budget
    got = lru.fetch(["a", "x", "y"], load)
    assert got == {"a": "A2", "x": "X", "y": "Y"} and loads == [["x", "y"]]
    assert list(lru) == ["y"] and lru.bytes == 6 <= lru.max_bytes
    assert lru.get("b") is None and len(lru) == 1
    assert lru.fetch(["y"], load) == {"y": "Y"} and len(loads) == 1
    lru.max_bytes = 0
    lru.put("z", "Z", 1)  # over budget on its own: not kept
    assert len(lru) == 0 and lru.bytes == 0
