"""Cuckoo + ribbon term-gate filters (SURVEY.md §2.5 F2/F3/F4).

Mirrors the reference's test coverage
(/root/reference/pkg/filter/{cuckoo,ribbon}_test.go) plus no-false-negative
property tests and the e2e guarantee that gated search results equal the
exact-dictionary path.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fts_engine_spark.operators.filters import CuckooFilter, RibbonFilter


# ---- cuckoo (cuckoo_test.go)


def test_cuckoo_insert_and_contains():
    cf = CuckooFilter(256, 4, 200)
    assert "alpha" not in cf
    assert cf.add("alpha")
    assert "alpha" in cf


def test_cuckoo_duplicate_insert_does_not_fail():
    cf = CuckooFilter(16, 4, 50)
    for _ in range(1000):
        assert cf.add("may")


def test_cuckoo_fingerprint_never_zero():
    cf = CuckooFilter(8)
    for i in range(500):
        cf.add(f"k{i}")
    # slot value 0 means empty; occupied slots are never 0-fingerprinted
    assert (cf.buckets[cf.buckets != 0] != 0).all()


@settings(max_examples=50, deadline=None)
@given(st.sets(st.text(min_size=1, max_size=12), min_size=1, max_size=200))
def test_cuckoo_no_false_negatives(keys):
    cf = CuckooFilter.for_capacity(len(keys))
    cf.fit(keys)
    for k in keys:
        assert k in cf


def test_cuckoo_false_positive_rate_sane():
    keys = [f"term{i}" for i in range(5000)]
    cf = CuckooFilter.for_capacity(len(keys)).fit(keys)
    probes = [f"absent{i}" for i in range(5000)]
    fp = sum(1 for p in probes if p in cf)
    # uint16 fingerprints, 2x4 candidate slots: expect ~8/65536 ≈ 0.012%
    assert fp / len(probes) < 0.01


def test_cuckoo_deterministic_and_roundtrip(tmp_path):
    keys = [f"w{i}" for i in range(1000)]
    a = CuckooFilter.for_capacity(len(keys)).fit(keys)
    b = CuckooFilter.for_capacity(len(keys)).fit(keys)
    assert (a.buckets == b.buckets).all()
    p = str(tmp_path / "cf.npz")
    a.save(p)
    c = CuckooFilter.load(p)
    assert (a.buckets == c.buckets).all()
    assert all(k in c for k in keys[:50])


# ---- ribbon (ribbon_test.go)


def test_ribbon_build_and_contains():
    rf = RibbonFilter(32, 32, 24, 7)
    rf.build([b"alpha", b"beta", b"gamma"])
    for k in (b"alpha", b"beta", b"gamma"):
        assert k in rf


def test_ribbon_window_validation():
    with pytest.raises(ValueError):
        RibbonFilter(10, 10, 33, 1)


def test_ribbon_unbuilt_contains_false():
    rf = RibbonFilter(8, 8, 16, 1)
    assert b"x" not in rf


@settings(max_examples=30, deadline=None)
@given(st.sets(st.text(min_size=1, max_size=12), min_size=1, max_size=150))
def test_ribbon_no_false_negatives(keys):
    rf = RibbonFilter.for_capacity(len(keys))
    rf.build(sorted(keys))
    for k in keys:
        assert k in rf


def test_ribbon_false_positive_rate_sane():
    keys = [f"term{i}" for i in range(5000)]
    rf = RibbonFilter.for_capacity(len(keys)).build(keys)
    probes = [f"absent{i}" for i in range(5000)]
    fp = sum(1 for p in probes if p in rf)
    # uint16 equation check: expect ~2^-16
    assert fp / len(probes) < 0.005


def test_ribbon_serialize_load_roundtrip(tmp_path):
    keys = [f"w{i}" for i in range(500)]
    rf = RibbonFilter.for_capacity(len(keys)).build(keys)
    p = str(tmp_path / "rf.npz")
    rf.save(p)
    loaded = RibbonFilter.load(p)
    assert loaded.built and loaded.seed == rf.seed
    assert all(k in loaded for k in keys)


def test_ribbon_load_rejects_malformed(tmp_path):
    """LoadRibbonFilter refuses inconsistent snapshots (ribbon.go:423-445)."""
    import numpy as np

    p = str(tmp_path / "bad.npz")
    np.savez_compressed(
        p[:-4] + ".tmp", cells=np.zeros(10, dtype=np.uint16),
        meta=np.array([10, 33, 1, -22, 1], dtype=np.int64),
    )
    import os
    os.replace(p[:-4] + ".tmp.npz", p)
    with pytest.raises(ValueError):
        RibbonFilter.load(p)


# ---- pruner integration + e2e parity


def test_pruner_gate_drops_absent_keeps_present():
    from fts_engine_spark.operators.pruning import make_pruner

    pr = make_pruner("cuckoo")
    assert pr.needs_vocab and not pr.fitted()
    pr.fit(["alpha", "beta"])
    assert pr.fitted() and pr.gate_nbytes() > 0
    kept = pr.gate_terms(["alpha", "definitely-absent-term", "beta"])
    assert "alpha" in kept and "beta" in kept
    assert "definitely-absent-term" not in kept


@pytest.mark.parametrize("strategy", ["cuckoo", "ribbon"])
def test_gated_search_matches_dict_path(spark, small_index, strategy):
    """No false negatives ⇒ cuckoo/ribbon-gated BM25 results are identical
    to the exact-dictionary path (absent terms only ever cost a lookup)."""
    from fts_engine_spark.query import FtsIndex

    index_dir, _ = small_index
    exact = FtsIndex(spark, index_dir, pruning="dict")
    gated = FtsIndex(spark, index_dir, pruning=strategy)
    for q in ("turtle hotel", "coordinate", "absentwordxyz turtle"):
        e = [(r["doc_id"], round(r["score"], 9))
             for r in exact.search_bm25(q, k=10, mode="wand").collect()]
        g = [(r["doc_id"], round(r["score"], 9))
             for r in gated.search_bm25(q, k=10, mode="wand").collect()]
        assert e == g, (strategy, q)


def test_gated_search_matches_dict_in_warm_mode(spark, small_index):
    """The probabilistic gate composes with warm serving: gating happens at
    query normalization, the warm driver dictionary still provides exact
    (mult, df) for the survivors."""
    from fts_engine_spark.query import FtsIndex

    index_dir, _ = small_index
    exact = FtsIndex(spark, index_dir, pruning="dict").warm(serving_conf=False)
    gated = FtsIndex(spark, index_dir, pruning="ribbon").warm(serving_conf=False)
    try:
        for q in ("turtle hotel", "absentwordxyz coordinate"):
            e = [(r["doc_id"], round(r["score"], 9))
                 for r in exact.search_bm25(q, k=10, mode="wand").collect()]
            g = [(r["doc_id"], round(r["score"], 9))
                 for r in gated.search_bm25(q, k=10, mode="wand").collect()]
            assert e == g, q
    finally:
        exact.close()
        gated.close()


@pytest.mark.parametrize("kind", ["cuckoo", "ribbon"])
def test_bucketed_gate_multi_bucket(spark, tmp_path, kind):
    """Per-range-bucket distributed fit (VERDICT r3 missing #2): multiple
    buckets, no false negatives, per-bucket filters sized for their bucket
    (bounded build memory), and snapshot round-trip."""
    from fts_engine_spark.operators.filters import BucketedTermGate

    vocab = [f"term{i:05d}" for i in range(2000)]
    terms_df = (
        spark.createDataFrame([(t,) for t in vocab], "term string")
        .repartitionByRange(4, "term")
        .sortWithinPartitions("term")
    )
    gate = BucketedTermGate.fit_distributed(terms_df, kind=kind, n_buckets=4)
    assert gate.n_buckets == 4
    # ranges are disjoint and ordered
    for (a_min, a_max), (b_min, b_max) in zip(gate.ranges, gate.ranges[1:]):
        assert a_max < b_min

    # no false negatives across every bucket
    assert all(t in gate for t in vocab)
    # a term outside every range is a TRUE negative (range routing)
    assert "zzzz-way-after" not in gate
    assert "aaaa-way-before" not in gate
    # equivalent gating to a single filter on the same vocabulary for
    # present terms; absent in-range terms stay at the filter's tiny FP
    absent = [f"absent{i:05d}" for i in range(500)]
    fp = sum(1 for t in absent if t in gate)
    assert fp <= 2

    # bounded per-bucket build: each filter is sized for ~1/4 of the
    # vocabulary, not the whole (single cuckoo for 2000 keys would be
    # >= 2000*2 bytes; each bucket's well under that)
    assert max(f.nbytes for f in gate.filters) < 2000 * 2
    assert gate.nbytes > 0

    # snapshot round-trip preserves membership verdicts
    path = str(tmp_path / f"gate_{kind}")
    gate.save(path)
    loaded = BucketedTermGate.load(path)
    assert loaded.n_buckets == 4 and loaded.kind == kind
    probe = vocab[::97] + absent[::49] + ["zzzz-way-after"]
    assert [t in loaded for t in probe] == [t in gate for t in probe]


def test_pruner_fit_df_uses_bucketed_gate(spark):
    from fts_engine_spark.operators.pruning import make_pruner

    pr = make_pruner("cuckoo")
    terms_df = (
        spark.createDataFrame(
            [(f"w{i:03d}",) for i in range(300)], "term string"
        )
        .repartitionByRange(3, "term")
        .sortWithinPartitions("term")
    )
    pr.fit_df(terms_df)
    assert pr.fitted()
    kept = pr.gate_terms(["w000", "w299", "nope-absent"])
    assert kept == ["w000", "w299"]


def test_gate_snapshot_reused_and_invalidated(spark, small_index, tmp_path):
    """The distributed-fit gate is snapshotted under the index dir keyed
    by the terms-table version: a second process loads instead of
    refitting; a dictionary change (different terms pointer) refits."""
    import os

    from fts_engine_spark.query import FtsIndex

    index_dir, _ = small_index
    a = FtsIndex(spark, index_dir, pruning="cuckoo")
    assert a.search_bm25("turtle", k=5).count() > 0  # triggers fit + save
    from fts_engine_spark.layout import gate_tag

    gate_dir = os.path.join(
        index_dir, f"_term_gate_cuckoo_{gate_tag(a.meta)}"
    )
    assert os.path.isdir(gate_dir)

    b = FtsIndex(spark, index_dir, pruning="cuckoo")
    fit_calls = []
    orig = b._pruner.fit_df
    b._pruner.fit_df = lambda df: fit_calls.append(1) or orig(df)
    assert b.search_bm25("turtle", k=5).count() > 0
    assert fit_calls == []  # loaded the snapshot, no distributed fit


def test_bucketed_gate_fit_is_range_safe_regardless_of_file_layout(spark):
    """Parquet read partitions are file-size bin-packed, not range-ordered;
    the fit must range-shuffle internally so bucket hulls are disjoint and
    no present term is ever gated out (a false negative silently drops a
    query term)."""
    from fts_engine_spark.operators.filters import BucketedTermGate

    # interleaved layout: alternate terms so ANY naive partitioning of the
    # input produces overlapping hulls
    vocab = [f"t{i:04d}" for i in range(1000)]
    shuffled = vocab[::2] + vocab[1::2]
    terms_df = spark.createDataFrame(
        [(t,) for t in shuffled], "term string"
    ).coalesce(1)
    gate = BucketedTermGate.fit_distributed(terms_df, kind="cuckoo", n_buckets=5)
    assert gate.n_buckets >= 2
    for (a_min, a_max), (b_min, b_max) in zip(gate.ranges, gate.ranges[1:]):
        assert a_max < b_min  # disjoint despite the interleaved input
    assert all(t in gate for t in vocab)


def test_bucketed_gate_contains_safe_under_overlapping_hulls():
    """Even a gate constructed with OVERLAPPING ranges (e.g. built
    externally without the range shuffle) must stay no-false-negative:
    membership probes every covering bucket, not just one."""
    from fts_engine_spark.operators.filters import (
        BucketedTermGate,
        CuckooFilter,
    )

    b1 = ["aaa", "ccc", "zzz"]  # hull [aaa, zzz] spans everything
    b2 = ["mmm", "nnn", "ooo"]  # hull [mmm, ooo] nested inside b1's
    gate = BucketedTermGate(
        "cuckoo",
        [CuckooFilter.for_capacity(3).fit(b1), CuckooFilter.for_capacity(3).fit(b2)],
        [("aaa", "zzz"), ("mmm", "ooo")],
    )
    for t in b1 + b2:
        assert t in gate, t
    assert "bbb-absent" not in gate


def test_gate_snapshot_invalidated_by_inplace_rebuild(spark, tmp_path):
    """An in-place rebuild over a NEW corpus must not load the old
    corpus's gate snapshot (its tag carries the per-build build_id): a
    stale gate would gate out terms that exist only in the new corpus —
    silent false negatives."""
    from fts_engine_spark.build import BuildConfig, build_index
    from fts_engine_spark.query import FtsIndex

    cfg = BuildConfig(preset="simple", shard_size=64, id_buckets=4)
    index_dir = str(tmp_path / "ix")
    docs_a = spark.createDataFrame(
        [(f"a://{i}", f"apple banana fig{i % 5}", "en") for i in range(80)],
        "url string, text string, lang string",
    )
    build_index(spark, docs_a, index_dir, cfg, resume=False)
    a = FtsIndex(spark, index_dir, pruning="cuckoo")
    assert a.search_bm25("apple", k=3).count() > 0  # fit + snapshot

    docs_b = spark.createDataFrame(
        [(f"b://{i}", f"zebra quokka wombat{i % 5}", "en") for i in range(80)],
        "url string, text string, lang string",
    )
    build_index(spark, docs_b, index_dir, cfg, resume=False)
    b = FtsIndex(spark, index_dir, pruning="cuckoo")
    # 'zebra' exists only in corpus B; a stale corpus-A gate would drop it
    assert b.search_bm25("zebra", k=3).count() > 0


def test_bucketed_gate_save_is_pointer_atomic(tmp_path):
    """Snapshot commit = atomic CURRENT-file replace (ADVICE r4 #4): a
    second save never leaves a window without a loadable snapshot, old
    payloads are GC'd, and a pre-pointer (legacy) layout still loads."""
    import os

    from fts_engine_spark.operators.filters import BucketedTermGate, CuckooFilter

    vocab_a = [f"a{i:04d}" for i in range(200)]
    vocab_b = [f"b{i:04d}" for i in range(200)]
    ga = BucketedTermGate(
        "cuckoo", [CuckooFilter.for_capacity(200).fit(vocab_a)],
        [(min(vocab_a), max(vocab_a))],
    )
    gb = BucketedTermGate(
        "cuckoo", [CuckooFilter.for_capacity(200).fit(vocab_b)],
        [(min(vocab_b), max(vocab_b))],
    )
    path = str(tmp_path / "gate")
    ga.save(path)
    assert os.path.exists(os.path.join(path, "CURRENT"))
    ga2 = BucketedTermGate.load(path)
    assert all(t in ga2 for t in vocab_a)

    gb.save(path)  # overwrite: pointer flip, old payload GC'd
    payloads = [d for d in os.listdir(path) if d.startswith("payload_")]
    assert len(payloads) == 1
    gb2 = BucketedTermGate.load(path)
    assert all(t in gb2 for t in vocab_b)
    assert "a0000" not in gb2  # really the new gate (range-routed out)

    # legacy layout (manifest at the top level, no CURRENT) still loads
    legacy = str(tmp_path / "legacy")
    os.makedirs(legacy)
    payload_dir = os.path.join(path, payloads[0])
    for f in os.listdir(payload_dir):
        import shutil

        shutil.copy(os.path.join(payload_dir, f), os.path.join(legacy, f))
    gl = BucketedTermGate.load(legacy)
    assert all(t in gl for t in vocab_b)


def test_bucketed_gate_save_gc_spares_foreign_payloads(tmp_path):
    """r5 review: save() must GC only the payload the previous CURRENT
    referenced — a sibling payload dir (a concurrent saver's in-progress
    write) must survive, or the winning pointer could dangle."""
    import os

    from fts_engine_spark.operators.filters import BucketedTermGate, CuckooFilter

    vocab = [f"t{i:04d}" for i in range(100)]
    gate = BucketedTermGate(
        "cuckoo", [CuckooFilter.for_capacity(100).fit(vocab)],
        [(min(vocab), max(vocab))],
    )
    path = str(tmp_path / "gate")
    gate.save(path)
    with open(os.path.join(path, "CURRENT")) as f:
        first = f.read().strip()
    # simulate a concurrent saver's in-progress payload
    foreign = os.path.join(path, "payload_9999_deadbeef")
    os.makedirs(foreign)
    gate.save(path)
    assert os.path.isdir(foreign), "foreign payload must survive GC"
    assert not os.path.isdir(os.path.join(path, first)), "prev payload GC'd"
    loaded = BucketedTermGate.load(path)
    assert all(t in loaded for t in vocab)


def test_with_total_under_no_pruning_matches_dict(spark, small_index):
    """pruning='none' scans every posting row; the pre-truncation total
    must still count only docs matching a QUERY term (regression: the
    match count counted every doc with any posting)."""
    from fts_engine_spark.query import FtsIndex

    index_dir, meta = small_index
    exact = FtsIndex(spark, index_dir, pruning="dict")
    scan = FtsIndex(spark, index_dir, pruning="none")
    for q in ("turtle hotel", "river"):
        want = exact.search_full(q, k=5, scorer="bm25", mode="wand")
        got = scan.search_full(q, k=5, scorer="bm25", mode="wand")
        assert 0 < want.total_results_count < int(meta["n_docs"]), q
        assert got.total_results_count == want.total_results_count, q
