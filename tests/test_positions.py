"""Positional postings (positions.py): codec round-trip, positional
phrase == verify-scan phrase == direct scan on 'simple' and 'by_lang'
indexes, top-k order, duplicate-term phrases, staleness fail-loud."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fts_engine_spark.operators import search
from fts_engine_spark.positions import (
    PositionsUnavailableError,
    decode_position_group,
    encode_position_group,
    positions_for,
)
from fts_engine_spark.codec import varbyte_decode
from fts_engine_spark.query import FtsIndex


# ---------------------------------------------------------------- codec


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 5000),  # doc offset (made strictly increasing)
            st.lists(st.integers(0, 10_000), min_size=1, max_size=30),
        ),
        min_size=1,
        max_size=40,
    ),
    st.integers(0, 1 << 40),
)
def test_position_group_roundtrip(items, base):
    doc_ids, pos_lists = [], []
    prev = base - 1
    for off, ps in items:
        d = prev + 1 + off
        doc_ids.append(d)
        prev = d
        pos_lists.append(np.array(sorted(set(ps)), dtype=np.int64))
    doc_ids = np.array(doc_ids, dtype=np.int64)
    doc_blob, cnt_blob, pos_blob = encode_position_group(
        doc_ids, pos_lists, base
    )
    got_docs, offsets = decode_position_group(doc_blob, cnt_blob, base)
    assert np.array_equal(got_docs, doc_ids)
    vals = varbyte_decode(pos_blob).astype(np.int64)
    for i, want in enumerate(pos_lists):
        assert np.array_equal(positions_for(vals, offsets, i), want)


# ---------------------------------------------------------------- fixtures


@pytest.fixture(scope="module")
def pos_docs(spark):
    rows = [
        (0, "merge sort is a classic merge sort algorithm", "en"),
        (1, "the merge of the sort", "en"),
        (2, "sort merge join beats hash join", "en"),
        (3, "merge then sorting data", "en"),
        (4, "big merge sort merge sort merge sort run", "en"),
        (5, "nothing relevant here", "en"),
        (6, "merge", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _idx_docs(docs):
    return docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        "text",
        "lang",
    )


@pytest.fixture(scope="module")
def pos_index(spark, pos_docs, tmp_path_factory):
    from fts_engine_spark.build import BuildConfig, build_index

    d = str(tmp_path_factory.mktemp("posix") / "ix")
    build_index(
        spark,
        _idx_docs(pos_docs),
        d,
        BuildConfig(
            preset="simple", shard_size=3, id_buckets=4, n_waves=1,
            store_positions=True,
        ),
        resume=False,
    )
    return d


# ---------------------------------------------------------------- queries


def _by_doc(rows):
    return {int(r["url"][6:]): int(r["phrase_count"]) for r in rows}


def test_positional_matches_direct(spark, pos_docs, pos_index):
    fts = FtsIndex(spark, pos_index)
    assert fts.has_positions
    got = _by_doc(fts.search_phrase_positional("merge sort", k=0).collect())
    want = {
        int(r["doc_id"]): int(r["phrase_count"])
        for r in search.search_phrase_direct(
            pos_docs, ["merge", "sort"], k=0
        ).collect()
    }
    assert got == want and got  # incl. doc 1 via stopword bridge


def test_positional_matches_verify_path(spark, pos_docs, pos_index):
    fts = FtsIndex(spark, pos_index)
    for phrase in ("merge sort", "merge", "sort merge join", "merge zzz"):
        pos = _by_doc(fts.search_phrase_positional(phrase, k=0).collect())
        ver = _by_doc(
            search.search_phrase(fts, _idx_docs(pos_docs), phrase, k=0).collect()
        )
        assert pos == ver, phrase


def test_positional_duplicate_term_phrase(spark, pos_index):
    fts = FtsIndex(spark, pos_index)
    got = _by_doc(
        fts.search_phrase_positional("merge sort merge", k=0).collect()
    )
    # doc 0: merge sort ... merge sort -> one "merge sort merge"? stream is
    # (merge,sort,classic,merge,sort,algorithm): not adjacent -> 0
    # doc 4: (big,merge,sort,merge,sort,merge,sort,run) -> starts at 1 and 3
    assert got == {4: 2}


def test_positional_topk_order(spark, pos_index):
    fts = FtsIndex(spark, pos_index)
    top = fts.search_phrase_positional("merge sort", k=2).collect()
    assert [int(r["url"][6:]) for r in top] == [4, 0]
    assert [int(r["phrase_count"]) for r in top] == [3, 2]


def test_positional_empty_and_absent(spark, pos_index):
    fts = FtsIndex(spark, pos_index)
    assert fts.search_phrase_positional("zzzznothere", k=0).count() == 0
    assert fts.search_phrase_positional("the of", k=0).count() == 0


def test_positional_by_lang_routing(spark, tmp_path_factory):
    """by_lang: positions live in each doc's own pipeline stream; an
    English phrase must match via the english pipeline's stemmed sequence
    and never leak across pipelines."""
    from fts_engine_spark.build import BuildConfig, build_index

    corpus = spark.createDataFrame(
        [
            (0, "the french hotels were quiet", "en"),
            (1, "a french hotel by the sea", "en"),
            (2, "hotels in france", "en"),
            (3, "hotel french food only", "en"),
            (4, "французские отели у моря", "ru"),
        ],
        "doc_id long, text string, lang string",
    )
    d = str(tmp_path_factory.mktemp("posbl") / "ix")
    build_index(
        spark,
        _idx_docs(corpus),
        d,
        BuildConfig(
            preset="by_lang", shard_size=4, id_buckets=4, n_waves=1,
            store_positions=True,
        ),
        resume=False,
    )
    fts = FtsIndex(spark, d)
    got = _by_doc(fts.search_phrase_positional("french hotels", k=0).collect())
    ver = _by_doc(
        search.search_phrase(fts, _idx_docs(corpus), "french hotels", k=0).collect()
    )
    assert got == ver == {0: 1, 1: 1}
    got_ru = _by_doc(
        fts.search_phrase_positional("французские отели", k=0).collect()
    )
    ver_ru = _by_doc(
        search.search_phrase(
            fts, _idx_docs(corpus), "французские отели", k=0
        ).collect()
    )
    assert got_ru == ver_ru == {4: 1}


def test_positional_unavailable_and_stale(spark, pos_docs, pos_index, tmp_path):
    from fts_engine_spark.build import BuildConfig, build_index

    # no positions table at all
    d = str(tmp_path / "noix")
    build_index(
        spark, _idx_docs(pos_docs), d,
        BuildConfig(preset="simple", shard_size=4, id_buckets=4),
        resume=False,
    )
    fts = FtsIndex(spark, d)
    assert not fts.has_positions
    with pytest.raises(PositionsUnavailableError, match="no positional"):
        fts.search_phrase_positional("merge sort")
    # stale: index grew past the positions snapshot
    fts2 = FtsIndex(spark, pos_index)
    fts2.meta = dict(fts2.meta, n_docs=fts2.meta["n_docs"] + 1)
    with pytest.raises(PositionsUnavailableError, match="stale"):
        fts2.search_phrase_positional("merge sort")


def test_retrofit_positions(spark, pos_docs, tmp_path):
    """add_positions_to_index: retrofit onto an index built WITHOUT
    store_positions; results identical to a positions-at-build index."""
    from fts_engine_spark.build import BuildConfig, build_index
    from fts_engine_spark.positions import add_positions_to_index

    d = str(tmp_path / "retro")
    idx_docs = _idx_docs(pos_docs)
    build_index(
        spark, idx_docs, d,
        BuildConfig(preset="simple", shard_size=3, id_buckets=4),
        resume=False,
    )
    add_positions_to_index(spark, d, idx_docs)
    fts = FtsIndex(spark, d)
    assert fts.has_positions
    got = _by_doc(fts.search_phrase_positional("merge sort", k=0).collect())
    want = {
        int(r["doc_id"]): int(r["phrase_count"])
        for r in search.search_phrase_direct(
            pos_docs, ["merge", "sort"], k=0
        ).collect()
    }
    assert got == want
    # wrong corpus (subset) fails loudly instead of writing partial data
    with pytest.raises(ValueError, match="exact corpus"):
        add_positions_to_index(spark, d, idx_docs.limit(3))


def test_engine_facade_indexed_phrase(spark, pos_index):
    from fts_engine_spark.engine import EngineOptions, FtsEngine

    eng = FtsEngine(spark, pos_index, EngineOptions(preset="simple"))
    out = eng.search_phrase_indexed("merge sort", k=1).collect()
    assert len(out) == 1 and int(out[0]["url"][6:]) == 4


def test_positions_scan_is_pruned(spark, pos_index):
    """The positional query's scan must push the term predicate into the
    parquet source (bloom + min/max row-group pruning at scale)."""
    fts = FtsIndex(spark, pos_index)
    df = fts.search_phrase_positional("merge sort", k=0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "term" in plan


# ------------------------------------------------- point tier (driver-side)


def _point_pairs(fts, phrase, k=0):
    return {d: c for d, c in fts.search_phrase_point(phrase, k=k)}


def _positional_pairs(fts, phrase, k=0):
    return {
        int(r["doc_id"]): int(r["phrase_count"])
        for r in fts.search_phrase_positional(phrase, k=k).collect()
    }


def test_phrase_point_matches_positional(spark, pos_index):
    """The in-process tier is the distributed positional path minus the
    url column — same kernel, identical (doc_id, phrase_count) sets and
    identical top-k order."""
    fts = FtsIndex(spark, pos_index).enable_point_serving()
    try:
        for phrase in (
            "merge sort",          # multi-doc, ranked
            "merge",               # single-term: count == tf
            "merge sort merge",    # duplicate-term overlap handling
            "sort merge join",     # 3-term, single doc
            "merge zzz",           # term absent from the dictionary
            "the of",              # normalizes to empty
        ):
            assert _point_pairs(fts, phrase) == _positional_pairs(
                fts, phrase
            ), phrase
        # top-k order: (count desc, doc_id asc), k-bounded — identical to
        # the distributed path's LIMIT 2 (ids are index-internal)
        want_top = [
            (int(r["doc_id"]), int(r["phrase_count"]))
            for r in fts.search_phrase_positional("merge sort", k=2).collect()
        ]
        assert fts.search_phrase_point("merge sort", k=2) == want_top
        assert [c for _, c in want_top] == [3, 2]
        # repeat query is served from the LRU (no refetch): cache holds
        # exactly the distinct phrase terms seen, with a positive budget
        assert set(fts._pos_point_cache) >= {"merge", "sort", "join"}
        assert fts._pos_point_cache.bytes > 0
    finally:
        fts.close()


def test_phrase_point_leaves_cache_within_budget(spark, pos_index):
    """A phrase whose terms each fit half the positional budget but
    together outgrow it is served in-process, and the positional cache is
    back within budget after the query (it used to stay over it)."""
    from fts_engine_spark.query import normalize_query

    phrase = "merge sort classic algorithm join beats hash data sorting big run"
    terms = normalize_query(phrase, "simple")

    def held(fts):
        return sum(a.nbytes for arrs in fts._pos_point_cache.values() for a in arrs)

    big = FtsIndex(spark, pos_index).enable_point_serving()
    try:
        want = _positional_pairs(big, phrase)
        assert _point_pairs(big, phrase) == want
        total = held(big)
        td = big._term_dict
        # the smallest budget whose half-budget cap admits every term
        budget = 2 * max(8 * (2 * td[t][0] + td[t][1]) for t in terms)
    finally:
        big.close()
    assert total > budget
    fts = FtsIndex(spark, pos_index).enable_point_serving(
        pos_cache_max_bytes=budget
    )
    try:
        assert _point_pairs(fts, phrase) == want
        assert 0 < held(fts) <= budget
    finally:
        fts.close()


def test_phrase_point_falls_back_when_disabled(spark, pos_index):
    """Without enable_point_serving the method still answers (via the
    distributed path) — a serving caller never has to branch."""
    fts = FtsIndex(spark, pos_index)
    assert fts._pos_point_cache is None
    assert _point_pairs(fts, "merge sort") == _positional_pairs(
        fts, "merge sort"
    )


def test_phrase_point_budget_fallback(spark, pos_index):
    """A term whose positional footprint exceeds half the budget is never
    driver-cached; the query falls back and stays correct."""
    fts = FtsIndex(spark, pos_index).enable_point_serving(
        pos_cache_max_bytes=8
    )
    try:
        assert _point_pairs(fts, "merge sort") == _positional_pairs(
            fts, "merge sort"
        )
        assert not fts._pos_point_cache  # nothing fit under 8 bytes
    finally:
        fts.close()


def test_phrase_point_by_lang(spark, tmp_path_factory):
    """by_lang indexes serve in-process too: each doc matches through its
    OWN pipeline's analyzed sequence, gated by the cached per-doc
    pipeline-code array — results identical to the distributed path,
    which resolves the pipeline via the docs-table join."""
    from fts_engine_spark.build import BuildConfig, build_index

    corpus = spark.createDataFrame(
        [
            (0, "the french hotels were quiet", "en"),
            (1, "a french hotel by the sea", "en"),
            (2, "hotels in france", "en"),
            (3, "французские отели у моря", "ru"),
        ],
        "doc_id long, text string, lang string",
    )
    d = str(tmp_path_factory.mktemp("pospt_bl") / "ix")
    build_index(
        spark,
        _idx_docs(corpus),
        d,
        BuildConfig(
            preset="by_lang", shard_size=4, id_buckets=4, n_waves=1,
            store_positions=True,
        ),
        resume=False,
    )
    fts = FtsIndex(spark, d).enable_point_serving()
    try:
        for phrase in ("french hotels", "французские отели", "hotel france"):
            assert _point_pairs(fts, phrase) == _positional_pairs(
                fts, phrase
            ), phrase
        assert _point_pairs(fts, "french hotels")  # non-trivial match
        # the tier actually served in-process: the pipeline-code array
        # was built and the phrase terms are cached
        assert isinstance(fts._pos_pipe_cache, tuple)
        assert fts._pos_point_cache
        # budget fallback: an index whose id space outgrows the budget
        # routes by_lang phrases to the distributed path, same results
        fts._pos_pipe_cache = None
        fts._pos_point_cache.max_bytes = 2
        assert _point_pairs(fts, "french hotels") == _positional_pairs(
            fts, "french hotels"
        )
        assert fts._pos_pipe_cache == "too_big"
    finally:
        fts.close()


def test_phrase_point_excludes_tombstones(spark, pos_docs, tmp_path_factory):
    """Logical deletes (tombstones pending compaction) never surface from
    the point tier, matching the distributed path's exclusion."""
    from fts_engine_spark.build import BuildConfig, build_index
    from fts_engine_spark.mutate import delete_documents

    d = str(tmp_path_factory.mktemp("pospt_del") / "ix")
    build_index(
        spark,
        _idx_docs(pos_docs),
        d,
        BuildConfig(
            preset="simple", shard_size=3, id_buckets=4, n_waves=1,
            store_positions=True,
        ),
        resume=False,
    )
    out = delete_documents(spark, d, ["doc://4"])
    assert out["n_deleted"] == 1
    fts = FtsIndex(spark, d).enable_point_serving()
    try:
        got = _point_pairs(fts, "merge sort")
        assert got == _positional_pairs(fts, "merge sort") and got
        dead_id = int(
            fts.docs().where(F.col("url") == "doc://4").collect()[0]["doc_id"]
        )
        assert dead_id not in got
    finally:
        fts.close()


# ------------------------------------------------- two-phase rescoring


def test_rescore_matches_hand_computation(spark, pos_index):
    """final = bm25 + weight * phrase_count over the top-N candidates,
    re-sorted — computed by hand from the two phase outputs."""
    fts = FtsIndex(spark, pos_index)
    cand = [
        (int(r["doc_id"]), float(r["score"]))
        for r in fts.search_bm25("merge sort data", k=5).collect()
    ]
    counts = {
        int(r["doc_id"]): int(r["phrase_count"])
        for r in fts.search_phrase_positional("merge sort", k=0).collect()
    }
    w = 0.5
    expect = sorted(
        ((d, s + w * counts.get(d, 0)) for d, s in cand),
        key=lambda x: (-x[1], x[0]),
    )[:3]
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in fts.search_bm25_rescored(
            "merge sort data", "merge sort", k=3, n_candidates=5, weight=w
        ).collect()
    ]
    assert [(d, round(s, 9)) for d, s in got] == [
        (d, round(s, 9)) for d, s in expect
    ]


def test_rescore_actually_reorders(spark, pos_index):
    """Doc 4 (three phrase hits) must overtake pure-BM25 leaders when the
    phrase weight is large."""
    fts = FtsIndex(spark, pos_index)
    base = [
        int(r["doc_id"])
        for r in fts.search_bm25("merge sort data", k=5).collect()
    ]
    resc = [
        int(r["doc_id"])
        for r in fts.search_bm25_rescored(
            "merge sort data", "merge sort", k=5, n_candidates=5, weight=10.0
        ).collect()
    ]
    assert set(resc) == set(base)  # rescoring reorders, never re-retrieves
    assert resc[0] == 4 and resc != base


def test_rescore_without_positions_raises(spark, small_index):
    from fts_engine_spark.positions import PositionsUnavailableError

    fts = FtsIndex(spark, small_index[0])
    with pytest.raises(PositionsUnavailableError):
        fts.search_bm25_rescored("turtle hotel", "french hotel", k=5)


def test_rescore_point_tier_matches_distributed(spark, pos_index):
    fts = FtsIndex(spark, pos_index)
    fts.warm().enable_point_serving()
    try:
        dist = [
            (int(r["doc_id"]), round(float(r["score"]), 9))
            for r in fts.search_bm25_rescored(
                "merge sort data", "merge sort", k=5, n_candidates=5,
                weight=2.0,
            ).collect()
        ]
        point = [
            (d, round(s, 9))
            for d, s in fts.search_bm25_rescored_point(
                "merge sort data", "merge sort", k=5, n_candidates=5,
                weight=2.0,
            )
        ]
        assert point == dist and dist
    finally:
        fts.close()


# ------------------------------------------------- span-near (proximity)


def _near_pairs(fts, phrase, slop, k=0):
    """url-suffix -> near_count (urls are doc://<n>; index doc_ids are
    internal dense ids, so tests key by the stable url number)."""
    return {
        int(r["url"][6:]): int(r["near_count"])
        for r in fts.search_near_positional(phrase, slop, k=k).collect()
    }


def _near_by_internal(fts, phrase, slop, k=0):
    return {
        int(r["doc_id"]): int(r["near_count"])
        for r in fts.search_near_positional(phrase, slop, k=k).collect()
    }


def test_near_slop0_equals_phrase(spark, pos_index):
    """slop=0 is the phrase query exactly (the kernel-level property,
    re-asserted through the full distributed plan)."""
    fts = FtsIndex(spark, pos_index)
    for phrase in ("merge sort", "merge", "merge sort merge", "merge zzz"):
        assert _near_by_internal(fts, phrase, 0) == _positional_pairs(
            fts, phrase
        ), phrase


def test_near_window_semantics(spark, pos_index):
    """Doc 0's analyzed stream is (merge sort classic merge sort
    algorithm): 'merge algorithm' chains span 5 (start 0) and 2 (start
    3), so the window admits them at slop>=4 and slop>=1 respectively;
    order matters — the reversed phrase never matches."""
    fts = FtsIndex(spark, pos_index)
    assert _near_pairs(fts, "merge algorithm", 0) == {}
    assert _near_pairs(fts, "merge algorithm", 1) == {0: 1}
    assert _near_pairs(fts, "merge algorithm", 4) == {0: 2}
    assert _near_pairs(fts, "algorithm merge", 9) == {}


def test_near_topk_order(spark, pos_index):
    """(count desc, doc_id asc), k-bounded — same contract as phrase."""
    fts = FtsIndex(spark, pos_index)
    top = fts.search_near_positional("merge sort", 1, k=2).collect()
    assert [int(r["url"][6:]) for r in top] == [4, 0]


def test_near_point_matches_positional(spark, pos_index):
    """The in-process span-near tier runs the same kernel as the
    distributed plan — identical (doc_id, near_count) sets, with and
    without point serving enabled (fallback path)."""
    cases = (
        ("merge sort", 0),
        ("merge algorithm", 1),
        ("merge algorithm", 4),
        ("sort join", 2),
        ("merge zzz", 3),
        ("the of", 1),
    )
    fts = FtsIndex(spark, pos_index).enable_point_serving()
    try:
        for phrase, slop in cases:
            got = {d: c for d, c in fts.search_near_point(phrase, slop, k=0)}
            assert got == _near_by_internal(fts, phrase, slop), (phrase, slop)
    finally:
        fts.close()
    cold = FtsIndex(spark, pos_index)  # tier disabled -> fallback
    assert {
        d: c for d, c in cold.search_near_point("merge algorithm", 4, k=0)
    } == _near_by_internal(cold, "merge algorithm", 4)


def test_near_by_lang_routing(spark, tmp_path_factory):
    """by_lang: near matches resolve through each doc's own pipeline
    stream, on both tiers."""
    from fts_engine_spark.build import BuildConfig, build_index

    corpus = spark.createDataFrame(
        [
            (0, "french seaside hotels were quiet", "en"),
            (1, "a french hotel by the sea", "en"),
            (2, "hotels in france", "en"),
            (3, "hotel food french only", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    d = str(tmp_path_factory.mktemp("nearbl") / "ix")
    build_index(
        spark,
        _idx_docs(corpus),
        d,
        BuildConfig(
            preset="by_lang", shard_size=4, id_buckets=4, n_waves=1,
            store_positions=True,
        ),
        resume=False,
    )
    fts = FtsIndex(spark, d).enable_point_serving()
    try:
        # 'french ... hotels' with one token between (doc 0) needs slop 1;
        # doc 1 is adjacent; doc 3 is reversed (hotel before french)
        want = {0: 1, 1: 1}
        assert _near_pairs(fts, "french hotels", 1) == want
        assert {
            d_: c for d_, c in fts.search_near_point("french hotels", 1, k=0)
        } == _near_by_internal(fts, "french hotels", 1)
    finally:
        fts.close()


def test_engine_facade_near(spark, pos_index):
    from fts_engine_spark.engine import EngineOptions, FtsEngine

    eng = FtsEngine(spark, pos_index, EngineOptions(preset="simple"))
    out = eng.search_near("merge algorithm", slop=4, k=5).collect()
    assert {(int(r["url"][6:]), int(r["near_count"])) for r in out} == {
        (0, 2)
    }
    # point tier reports index-internal doc_ids — compare against the
    # distributed plan's ids, not the url suffix
    assert eng.search_near_point("merge algorithm", slop=4, k=5) == [
        (int(r["doc_id"]), int(r["near_count"])) for r in out
    ]


def test_near_unordered_tiers_agree(spark, pos_index):
    """in_order=False: reversed-order co-occurrence matches; the point
    tier runs the same unordered kernel as the distributed plan."""
    fts = FtsIndex(spark, pos_index).enable_point_serving()
    try:
        # doc 2's stream (sort merge join beats hash join): "merge sort"
        # reversed — ordered misses it, unordered finds it at slop 0
        ordered = _near_by_internal(fts, "merge sort", 0)
        both = {
            int(r["doc_id"]): int(r["near_count"])
            for r in fts.search_near_positional(
                "merge sort", 0, k=0, in_order=False
            ).collect()
        }
        assert set(ordered) < set(both)
        for slop in (0, 1, 3):
            want = {
                int(r["doc_id"]): int(r["near_count"])
                for r in fts.search_near_positional(
                    "merge sort", slop, k=0, in_order=False
                ).collect()
            }
            got = {
                d: c
                for d, c in fts.search_near_point(
                    "merge sort", slop, k=0, in_order=False
                )
            }
            assert got == want and want, slop
    finally:
        fts.close()


def test_engine_facade_near_unordered(spark, pos_index):
    from fts_engine_spark.engine import EngineOptions, FtsEngine

    eng = FtsEngine(spark, pos_index, EngineOptions(preset="simple"))
    out = eng.search_near("sort merge", slop=0, k=0, in_order=False)
    ids = {int(r["url"][6:]) for r in out.collect()}
    # covers docs where merge/sort are adjacent in either order
    assert 2 in ids and 0 in ids and 4 in ids


def test_positions_salt_policy_keeps_table_content(
    spark, pos_docs, pos_index, tmp_path, monkeypatch
):
    """The positional encode salts under the postings wave's policy
    (build.salt_policy, capped at a minimum slice) — the salt only moves
    (shard, term) groups between encode tasks, so the table content must
    equal an encode under the former uncapped rule, ceil(2·parallelism /
    n_shards)."""
    import json
    import os

    from fts_engine_spark import positions
    from fts_engine_spark.build import salt_policy
    from fts_engine_spark.stored import retrofit_with_ids

    meta = json.load(open(os.path.join(pos_index, "meta.json")))
    n_shards = -(-int(meta["n_docs"]) // int(meta["shard_size"]))
    par = spark.sparkContext.defaultParallelism * 2
    uncapped = max(1, -(-par // n_shards))
    assert salt_policy(int(meta["shard_size"]), n_shards, par) < uncapped

    def rows(path):
        return sorted(
            tuple(r) for r in spark.read.parquet(path).select(
                "shard_id", "term", "n_docs", "doc_blob", "cnt_blob", "pos_blob"
            ).collect()
        )

    _, with_ids = retrofit_with_ids(
        spark, pos_index, _idx_docs(pos_docs), force_lang=True
    )
    monkeypatch.setattr(
        positions, "salt_policy", lambda s, n, p: max(1, -(-p // n))
    )
    positions.build_positions_table(
        spark, with_ids, str(tmp_path), meta["preset"],
        int(meta["shard_size"]), int(meta["bloom_ndv"]), n_shards=n_shards,
    )
    assert rows(str(tmp_path / positions.POSITIONS_TABLE)) == rows(
        os.path.join(pos_index, positions.POSITIONS_TABLE)
    )
