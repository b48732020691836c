"""Query-time synonym groups (FtsIndex.search_bm25_synonyms): Lucene
SynonymQuery semantics — group tf = sum of member tfs, group df = max
member df, one idf/saturation per group — asserted rank- and
score-identical to the pure-Python oracle, and demonstrably different
from a plain OR rewrite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fts_engine_spark.query import FtsIndex

from .oracle import OracleIndex

ROWS = [
    (0, "fast cars fast lane"),
    (1, "quick cars on the road"),
    (2, "quick quick quick cars"),
    (3, "rapid transit cars"),
    (4, "slow roads everywhere"),
    (5, "fast quick rapid together"),
    (6, "unrelated text entirely"),
]

SYN = {"fast": ["quick", "rapid"]}


@pytest.fixture(scope="module")
def syn_index(spark, tmp_path_factory):
    from fts_engine_spark.build import BuildConfig, build_index

    docs = spark.createDataFrame(
        [(f"doc://{i}", t, "en") for i, t in ROWS],
        "url string, text string, lang string",
    )
    d = str(tmp_path_factory.mktemp("synix") / "ix")
    build_index(
        spark,
        docs,
        d,
        BuildConfig(preset="simple", shard_size=3, id_buckets=4, n_waves=1),
        resume=False,
    )
    return d


@pytest.fixture(scope="module")
def syn_oracle(spark, syn_index):
    """Oracle indexed with the SAME internal ids the Spark build assigned."""
    fts = FtsIndex(spark, syn_index)
    ids = {
        r["url"]: int(r["doc_id"])
        for r in fts.docs().select("url", "doc_id").collect()
    }
    oi = OracleIndex(preset="simple")
    for i, text in ROWS:
        oi.index_document(ids[f"doc://{i}"], text)
    return oi


def _got(fts, query, syn, k=10):
    return [
        (int(r["doc_id"]), round(float(r["score"]), 8))
        for r in fts.search_bm25_synonyms(query, syn, k=k).collect()
    ]


def _want(oracle, query, syn, k=10):
    return [(d, round(s, 8)) for d, s in
            oracle.search_bm25_synonyms(query, syn, k=k)]


def test_synonym_rank_identity(spark, syn_index, syn_oracle):
    fts = FtsIndex(spark, syn_index)
    for query, syn in [
        ("fast cars", SYN),              # multi-member group + plain term
        ("fast", SYN),                   # group alone
        ("fast cars", {}),               # no groups == plain BM25
        ("fast cars", {"fast": ["quick", "rapid", "zzznothere"]}),
        # query term ABSENT from the corpus, synonym present: the group
        # must still match (the reason normalization skips the term gate)
        ("auto lane", {"auto": ["cars"]}),
    ]:
        assert _got(fts, query, syn) == _want(syn_oracle, query, syn), (
            query, syn,
        )


def test_synonym_differs_from_plain_or(spark, syn_index, syn_oracle):
    """SynonymQuery is not an OR rewrite: doc 5 matches all three members
    once each — OR pays three separate idf·sat(1) contributions, the
    group pays ONE idf(max df)·sat(3)."""
    fts = FtsIndex(spark, syn_index)
    syn_scores = dict(_got(fts, "fast", SYN, k=0))
    or_scores = {
        int(r["doc_id"]): round(float(r["score"]), 8)
        for r in fts.search_bm25("fast quick rapid", k=0).collect()
    }
    assert set(syn_scores) == set(or_scores)  # same match set (OR)
    assert syn_scores != or_scores            # different scoring
    ids = {
        r["url"]: int(r["doc_id"])
        for r in fts.docs().select("url", "doc_id").collect()
    }
    assert syn_scores[ids["doc://5"]] != or_scores[ids["doc://5"]]


def test_synonym_k_and_hydrate(spark, syn_index, syn_oracle):
    fts = FtsIndex(spark, syn_index)
    full = _want(syn_oracle, "fast cars", SYN, k=0)
    assert _got(fts, "fast cars", SYN, k=2) == full[:2]
    hyd = fts.search_bm25_synonyms("fast cars", SYN, k=2, hydrate=True)
    rows = hyd.collect()
    assert [c in hyd.columns for c in ("doc_id", "url", "score")]
    assert [int(r["doc_id"]) for r in rows] == [d for d, _ in full[:2]]
    assert all(r["url"].startswith("doc://") for r in rows)


def test_synonym_overlap_raises(spark, syn_index):
    fts = FtsIndex(spark, syn_index)
    with pytest.raises(ValueError, match="disjoint"):
        fts.search_bm25_synonyms(
            "fast cars", {"fast": ["quick"], "cars": ["quick"]}
        ).collect()
    with pytest.raises(ValueError, match="exactly one term"):
        fts.search_bm25_synonyms("fast", {"fast": ["quick cars"]}).collect()


def test_synonym_empty_query(spark, syn_index):
    fts = FtsIndex(spark, syn_index)
    assert fts.search_bm25_synonyms("the on", SYN).count() == 0


def test_synonym_excludes_tombstones(spark, tmp_path_factory):
    from fts_engine_spark.build import BuildConfig, build_index
    from fts_engine_spark.mutate import delete_documents

    spark_docs = spark.createDataFrame(
        [(f"doc://{i}", t, "en") for i, t in ROWS],
        "url string, text string, lang string",
    )
    d = str(tmp_path_factory.mktemp("synix_del") / "ix")
    build_index(
        spark, spark_docs, d,
        BuildConfig(preset="simple", shard_size=3, id_buckets=4, n_waves=1),
        resume=False,
    )
    delete_documents(spark, d, ["doc://2"])
    fts = FtsIndex(spark, d)
    dead_id = int(
        fts.docs().where(F.col("url") == "doc://2").collect()[0]["doc_id"]
    )
    got = dict(_got(fts, "fast", SYN, k=0))
    assert got and dead_id not in got


# ------------------------------------------------- point tier (driver-side)


def _point(fts, query, syn, k=10):
    return [
        (d, round(s, 8))
        for d, s in fts.search_bm25_synonyms_point(query, syn, k=k)
    ]


def test_synonym_point_matches_oracle(spark, syn_index, syn_oracle):
    """The in-process scorer is the relational grouped plan minus the
    Spark job: same group semantics (shared _synonym_groups), same
    arithmetic, rank- and score-identical at 8 decimals."""
    fts = FtsIndex(spark, syn_index).enable_point_serving()
    try:
        for query, syn in [
            ("fast cars", SYN),
            ("fast", SYN),
            ("fast cars", {}),
            ("fast cars", {"fast": ["quick", "rapid", "zzznothere"]}),
            ("auto lane", {"auto": ["cars"]}),
            ("the on", SYN),  # normalizes to empty
        ]:
            assert _point(fts, query, syn, k=0) == _want(
                syn_oracle, query, syn, k=0
            ), (query, syn)
        assert _point(fts, "fast cars", SYN, k=2) == _want(
            syn_oracle, "fast cars", SYN, k=2
        )
        # member terms share the bm25 point cache
        assert {"fast", "quick", "rapid", "cars"} & set(fts._point_cache)
    finally:
        fts.close()


def test_synonym_point_fallbacks(spark, syn_index, syn_oracle):
    # tier not enabled -> distributed plan, same rows
    fts = FtsIndex(spark, syn_index)
    assert _point(fts, "fast cars", SYN) == _want(
        syn_oracle, "fast cars", SYN
    )
    # oversized member list -> distributed plan, same rows
    fts2 = FtsIndex(spark, syn_index).enable_point_serving(
        cache_max_bytes=40
    )
    try:
        assert _point(fts2, "fast cars", SYN) == _want(
            syn_oracle, "fast cars", SYN
        )
    finally:
        fts2.close()


def test_synonym_point_excludes_tombstones(spark, tmp_path_factory):
    from fts_engine_spark.build import BuildConfig, build_index
    from fts_engine_spark.mutate import delete_documents

    spark_docs = spark.createDataFrame(
        [(f"doc://{i}", t, "en") for i, t in ROWS],
        "url string, text string, lang string",
    )
    d = str(tmp_path_factory.mktemp("synix_pt_del") / "ix")
    build_index(
        spark, spark_docs, d,
        BuildConfig(preset="simple", shard_size=3, id_buckets=4, n_waves=1),
        resume=False,
    )
    delete_documents(spark, d, ["doc://2"])
    fts = FtsIndex(spark, d).enable_point_serving()
    try:
        got = _point(fts, "fast", SYN, k=0)
        want = [
            (int(r["doc_id"]), round(float(r["score"]), 8))
            for r in fts.search_bm25_synonyms("fast", SYN, k=0).collect()
        ]
        assert got == want and got
        dead_id = int(
            fts.docs().where(F.col("url") == "doc://2").collect()[0][
                "doc_id"
            ]
        )
        assert dead_id not in {d_ for d_, _ in got}
    finally:
        fts.close()


def test_synonym_point_leaves_cache_within_budget(spark, syn_index, syn_oracle):
    """Members that each fit the df cap but together outgrow the budget
    are served in-process, and the cache is back within budget after
    the query (it used to stay over it until a later bm25 point query)."""
    big = FtsIndex(spark, syn_index).enable_point_serving()
    try:
        _point(big, "fast cars", SYN)
        total = big.point_cache_stats()["bytes"]
        max_df = max(big._term_dict[t][0] for t in ("fast", "quick", "rapid", "cars"))
    finally:
        big.close()
    budget = 40 * max_df  # the smallest budget whose df cap admits every member
    assert total > budget
    fts = FtsIndex(spark, syn_index).enable_point_serving(cache_max_bytes=budget)
    try:
        assert _point(fts, "fast cars", SYN) == _want(syn_oracle, "fast cars", SYN)
        stats = fts.point_cache_stats()
        assert 0 < stats["bytes"] <= stats["max_bytes"] == budget
    finally:
        fts.close()
