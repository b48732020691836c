"""One query surface, two tiers: every point-tier surface returns exactly
its distributed twin's rows in each state the tier can be in —

- ``warm``: tier enabled, served in-process (a repeat call runs no job);
- ``off``: tier never enabled (cold handle);
- ``oversized``: budgets so small that almost every posting list (and
  every positional row set) is over its cap;
- ``tombstones``: pending deletes past ``dead_broadcast_max``.

Every index carries one tombstone, so the in-process tier also excludes
deletes in the other states. Decay and synonym scores compare at 8
decimals (the relational aggregate and the kernel sum floats in different
orders); everything else compares exactly.

Also here: job counts of the point fallbacks, which run the resolved
query on the distributed executor instead of resolving it again, and the
session conf that warm serving handles share.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from fts_engine_spark.build import BuildConfig, build_index
from fts_engine_spark.federated import FederatedFtsIndex
from fts_engine_spark.mutate import delete_documents
from fts_engine_spark.operators.morelike import more_like_this, more_like_this_point
from fts_engine_spark.query import FtsIndex, _scored_rows

STATES = ("warm", "off", "oversized", "tombstones")


@pytest.fixture(scope="module")
def dirs(spark, small_corpus, tmp_path_factory):
    """Two snapshots of the small corpus (en / rest), stored text, one
    tombstone each."""
    docs = spark.read.parquet(small_corpus)
    root = tmp_path_factory.mktemp("tier_parity")
    out = []
    for name, pred in [
        ("en", F.col("lang") == "en"),
        ("rest", F.col("lang") != "en"),
    ]:
        d = str(root / name)
        part = docs.where(pred)
        build_index(
            spark, part, d,
            BuildConfig(
                preset="by_lang", shard_size=32, id_buckets=8, n_waves=1,
                store_text=True,
            ),
        )
        victim = part.orderBy("url").select("url").first()["url"]
        delete_documents(spark, d, [victim])
        out.append(d)
    return out


def _open(ix, state: str):
    """Put an FtsIndex (or every sub of a federation) into ``state``.
    ``warm(serving_conf=False)`` leaves the session's AQE setting alone,
    so several handles can stay open at once."""
    for fts in getattr(ix, "subs", [ix]):
        if state == "off":
            continue
        fts.warm(serving_conf=False)
        fts.enable_point_serving(
            cache_max_bytes=40 if state == "oversized" else 256 << 20,
            pos_cache_max_bytes=16 if state == "oversized" else 64 << 20,
        )
        if state == "tombstones":
            fts.dead_broadcast_max = 0
    return ix


@pytest.fixture(scope="module")
def handles(spark, dirs):
    hs = {
        state: (
            _open(FtsIndex(spark, dirs[0]), state),
            _open(FederatedFtsIndex(spark, dirs), state),
        )
        for state in STATES
    }
    yield hs
    for single, fed in hs.values():
        single.close()
        for s in fed.subs:
            s.close()


def _method(name):
    return lambda ix, **kw: getattr(ix, name)(**kw)


def _dist(name):
    return lambda ix, **kw: _scored_rows(getattr(ix, name)(**kw))


def _fed_dist(fed, **kw):
    return [
        (r["url"], r["url_md5"], float(r["score"]))
        for r in fed.search_bm25(**kw).collect()
    ]


BM25 = (_method("search_bm25_point"), _dist("search_bm25"))
# id -> (point call, distributed call, kwargs, federated?, decimals)
CASES = {
    "bm25": (*BM25, dict(query="hotel turtle", k=10), False, None),
    "bm25_conjunctive": (
        *BM25, dict(query="french hotel", k=0, conjunctive=True), False, None
    ),
    "bm25_min_match": (
        *BM25, dict(query="hotel turtle french", k=10, min_match=2), False, None
    ),
    "bm25_exclude": (
        *BM25, dict(query="hotel turtle", k=10, exclude="french"), False, None
    ),
    "bm25_offset": (*BM25, dict(query="hotel turtle", k=4, offset=3), False, None),
    "bm25_after": (*BM25, dict(query="hotel turtle", k=4, after=()), False, None),
    "prefix": (
        _method("search_bm25_point_prefix"), _dist("search_bm25_prefix"),
        dict(query="hot* turtle", k=10), False, None,
    ),
    "wildcard": (
        _method("search_bm25_point_wildcard"), _dist("search_bm25_wildcard"),
        dict(query="t?rtle h*l", k=10), False, None,
    ),
    "regexp": (
        _method("search_bm25_point_regexp"), _dist("search_bm25_regexp"),
        dict(query="/hot[a-z]+/ turtle", k=10), False, None,
    ),
    "fuzzy": (
        _method("search_bm25_point_fuzzy"), _dist("search_bm25_fuzzy"),
        dict(query="hotl turtel", k=10, max_dist=1), False, None,
    ),
    "boolean": (
        _method("search_boolean_point"), _dist("search_boolean"),
        dict(query="+hotel french -turtle", k=10), False, None,
    ),
    "boolean_filter": (
        _method("search_boolean_point"), _dist("search_boolean"),
        dict(query="hotel turtle lang:en", k=5, offset=1), False, None,
    ),
    "decay": (
        _method("search_bm25_decay_point"), _dist("search_bm25_decay"),
        dict(query="hotel turtle", k=10, field="doclen", origin=40, scale=60),
        False, 8,
    ),
    "synonyms": (
        _method("search_bm25_synonyms_point"), _dist("search_bm25_synonyms"),
        dict(query="hotel mountain", synonyms={"hotel": ["castle"]}, k=0),
        False, 8,
    ),
    "more_like_this": (
        lambda ix, **kw: more_like_this_point(ix, **kw),
        lambda ix, **kw: _scored_rows(more_like_this(ix, **kw)),
        dict(doc_id=3, k=5, max_terms=10), False, None,
    ),
    "federated": (
        _method("search_bm25_point"), _fed_dist,
        dict(query="hotel turtle", k=10), True, None,
    ),
    "federated_gates": (
        _method("search_bm25_point"), _fed_dist,
        dict(query="hotel turtle french", k=0, min_match=2, exclude="castle"),
        True, None,
    ),
}


def _jobs(spark, fn):
    """(fn's result, Spark jobs it ran), counted through a job group."""
    sc = spark.sparkContext
    group = f"parity-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _outcome(fn, decimals):
    try:
        rows = fn()
    except RuntimeError as e:
        return type(e).__name__
    if decimals is None:
        return rows
    return [(*r[:-1], round(r[-1], decimals)) for r in rows]


@pytest.mark.parametrize("state", STATES)
@pytest.mark.parametrize("case", sorted(CASES))
def test_point_surface_equals_distributed_twin(spark, handles, case, state):
    point, dist, kw, federated, decimals = CASES[case]
    single, fed = handles[state]
    ix = fed if federated else single
    if "after" in kw:
        # cursor = the third row of the distributed first page
        first = _scored_rows(single.search_bm25(kw["query"], k=kw["k"]))
        kw = {**kw, "after": first[2]}
    want = _outcome(lambda: dist(ix, **kw), decimals)
    got = _outcome(lambda: point(ix, **kw), decimals)
    assert got == want, (case, state)
    if federated and state == "tombstones":
        # federated serving refuses subs past the tombstone bound on
        # both tiers alike
        assert want == "RuntimeError"
        return
    assert isinstance(want, list)
    if state == "warm":
        again, jobs = _jobs(spark, lambda: _outcome(lambda: point(ix, **kw), decimals))
        assert again == got and jobs == 0, (case, jobs)


# jobs the parent commit's fallbacks ran for the two calls below, which
# resolved the query a second time through the public distributed method
_PARENT_PREFIX_FALLBACK_JOBS = 2
_PARENT_BOOLEAN_TOO_BIG_JOBS = 6


def test_prefix_fallback_reuses_the_expansion(spark, dirs):
    """Over the df cap, the prefix point twin runs the driver-expanded
    terms on the distributed executor: one WAND job, no expand_terms job."""
    fts = FtsIndex(spark, dirs[0]).warm(serving_conf=False)
    fts.enable_point_serving(cache_max_bytes=40)
    try:
        want = _scored_rows(fts.search_bm25_prefix("hot* turtle", k=10))
        got, jobs = _jobs(
            spark, lambda: fts.search_bm25_point_prefix("hot* turtle", k=10)
        )
        assert got == want and got
        assert jobs < _PARENT_PREFIX_FALLBACK_JOBS, jobs
    finally:
        fts.close()


def test_boolean_point_too_big_filter_resolves_once(spark, dirs):
    """A filter set over include_broadcast_max is resolved by one id job,
    then served by the relational plan — not resolved again by the
    distributed surface."""
    fts = FtsIndex(spark, dirs[0]).warm(serving_conf=False)
    fts.enable_point_serving()
    fts.include_broadcast_max = 1
    try:
        q = "hotel turtle lang:en"
        want = _scored_rows(fts.search_boolean(q, k=10))
        got, jobs = _jobs(spark, lambda: fts.search_boolean_point(q, k=10))
        assert got == want and got
        assert jobs < _PARENT_BOOLEAN_TOO_BIG_JOBS, jobs
    finally:
        fts.close()


def test_boolean_point_too_big_filter_verdict_is_cached(spark, dirs):
    """The over-bound verdict of a filter set is remembered: a repeat of
    the query skips the id job the first call paid."""
    fts = FtsIndex(spark, dirs[0]).warm(serving_conf=False)
    fts.enable_point_serving()
    fts.include_broadcast_max = 1
    try:
        q = "hotel turtle lang:en"
        want = _scored_rows(fts.search_boolean(q, k=10))
        first = fts.search_boolean_point(q, k=10)
        again, jobs = _jobs(spark, lambda: fts.search_boolean_point(q, k=10))
        assert first == again == want and want
        # the parent resolved the ids again on every repeat: 5 jobs
        assert jobs < 5, jobs
    finally:
        fts.close()


def test_two_warm_handles_restore_aqe_in_any_close_order(spark, dirs):
    """Warm handles share the session's serving conf: AQE stays off while
    any of them is open and comes back once the last one closes, in
    either close order."""
    # a session of its own: no handle another test left open holds its conf
    session = spark.newSession()
    key = "spark.sql.adaptive.enabled"
    session.conf.set(key, "true")
    before = session.conf.get(key)
    for order in ((0, 1), (1, 0)):
        a, b = FtsIndex(session, dirs[0]), FtsIndex(session, dirs[1])
        a.warm()
        b.warm()
        first, second = (a, b)[order[0]], (a, b)[order[1]]
        first.close()
        assert session.conf.get(key) == "false", order
        second.close()
        assert session.conf.get(key) == before, order


# ---------------------------------------------------------------- positional


@pytest.fixture(scope="module")
def pos_handles(spark, small_corpus, tmp_path_factory):
    """The small corpus with positional postings and one tombstone, one
    handle per tier state."""
    docs = spark.read.parquet(small_corpus)
    d = str(tmp_path_factory.mktemp("tier_parity_pos") / "ix")
    build_index(
        spark, docs, d,
        BuildConfig(
            preset="by_lang", shard_size=32, id_buckets=8, n_waves=1,
            store_positions=True,
        ),
    )
    delete_documents(spark, d, [docs.orderBy("url").select("url").first()["url"]])
    hs = {state: _open(FtsIndex(spark, d), state) for state in STATES}
    yield hs
    for fts in hs.values():
        fts.close()


def _pos_dist(name):
    return lambda ix, **kw: [
        (int(r[0]), int(r[2])) for r in getattr(ix, name)(**kw).collect()
    ]


# id -> (point call, distributed call, kwargs)
POS_CASES = {
    "phrase": (
        _method("search_phrase_point"), _pos_dist("search_phrase_positional"),
        dict(phrase="historyly island", k=0),
    ),
    "phrase_topk": (
        _method("search_phrase_point"), _pos_dist("search_phrase_positional"),
        dict(phrase="turtle seen near", k=5),
    ),
    "near_ordered": (
        _method("search_near_point"), _pos_dist("search_near_positional"),
        dict(phrase="turtle near", slop=1, k=0, in_order=True),
    ),
    "near_unordered": (
        _method("search_near_point"), _pos_dist("search_near_positional"),
        dict(phrase="island historyly", slop=1, k=0, in_order=False),
    ),
    "phrase_prefix": (
        _method("search_phrase_prefix_point"), _pos_dist("search_phrase_prefix"),
        dict(phrase="historyly is", k=0),
    ),
    "rescored": (
        _method("search_bm25_rescored_point"), _dist("search_bm25_rescored"),
        dict(query="hotel turtle", phrase="turtle seen near", k=10, n_candidates=30),
    ),
}


@pytest.mark.parametrize("state", STATES)
@pytest.mark.parametrize("case", sorted(POS_CASES))
def test_positional_point_surface_equals_distributed_twin(
    spark, pos_handles, case, state
):
    point, dist, kw = POS_CASES[case]
    fts = pos_handles[state]
    want = dist(fts, **kw)
    got = point(fts, **kw)
    assert got == want and want, (case, state)
    if state == "warm":
        again, jobs = _jobs(spark, lambda: point(fts, **kw))
        assert again == got and jobs == 0, (case, jobs)


# jobs the parent commit's phrase-prefix fallback ran for the call below on
# this fixture: it expanded the prefix again through the public
# distributed method
_PARENT_PHRASE_PREFIX_FALLBACK_JOBS = 7


def test_phrase_prefix_fallback_reuses_the_expansion(spark, pos_handles):
    """Over the positional budget, the phrase-prefix point twin runs its
    driver-expanded variants on the distributed executor: no
    expand_terms job."""
    fts = pos_handles["oversized"]
    want = _pos_dist("search_phrase_prefix")(fts, phrase="se", k=0)
    got, jobs = _jobs(spark, lambda: fts.search_phrase_prefix_point("se", k=0))
    assert got == want and got
    assert jobs < _PARENT_PHRASE_PREFIX_FALLBACK_JOBS, jobs


# Spark jobs the parent commit ran to BUILD (not collect) each DataFrame
# below on a warm handle of this fixture: the expand_terms job, run
# although the handle held the driver dictionary
_PARENT_WARM_REWRITE_BUILD_JOBS = 1


@pytest.mark.parametrize(
    "build",
    [
        lambda fts: fts.search_phrase_prefix("se", k=0),
        lambda fts: fts.search_bm25_prefix("hot* turtle", k=10),
    ],
    ids=["phrase_prefix", "bm25_prefix"],
)
def test_warm_distributed_rewrites_expand_on_the_driver(spark, pos_handles, build):
    """A warm handle expands distributed rewrites from its driver
    dictionary: building the query runs one job fewer than the parent."""
    fts = pos_handles["warm"]
    assert fts._term_dict is not None
    fts._dead_ids()  # loaded once per handle, by whichever query is first
    df, jobs = _jobs(spark, lambda: build(fts))
    assert jobs == _PARENT_WARM_REWRITE_BUILD_JOBS - 1, jobs
    assert df.collect()
