"""Index merging (mutate.merge_indexes): independently-built segment
indexes unified into one global index without re-tokenizing — the north
star's "merge partial segment indexes into a global index" as a
user-facing operation. Posting blobs are carried byte-for-byte (the doc-id
shift is a multiple of shard_size, so shard-relative deltas stay valid);
only skip arrays and shard ids shift, JVM-side."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from fts_engine_spark.build import BuildConfig, build_index
from fts_engine_spark.mutate import delete_documents, merge_indexes
from fts_engine_spark.query import FtsIndex

from .oracle import dictionary_avgdl

CFG = BuildConfig(preset="simple", shard_size=64, id_buckets=4, n_waves=1)
QUERIES = ["alpha w12", "epsilon gamma", "w12 delta", "w10 w11 beta"]


def _docs(spark, lo, hi):
    rows = [
        (
            f"doc://{i}",
            f"alpha beta w{i % 7} w{i % 13} gamma delta w{i % 5} "
            f"{'epsilon ' * (i % 3)}",
            "en",
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "url string, text string, lang string")


def _ranked(fts: FtsIndex):
    out = {}
    for q in QUERIES:
        rows = fts.search_bm25(q, k=0, hydrate=True).collect()
        out[q] = sorted(
            ((r["url"], round(float(r["score"]), 9)) for r in rows),
            key=lambda x: (-x[1], x[0]),
        )
    return out


def test_merge_matches_union_build(spark, tmp_path):
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, _docs(spark, 0, 150), a_dir, CFG, resume=False)
    build_index(spark, _docs(spark, 150, 260), b_dir, CFG, resume=False)

    meta = merge_indexes(spark, a_dir, b_dir)
    assert meta["n_docs"] == 260
    assert meta["avgdl"] == dictionary_avgdl(a_dir)
    assert meta["n_shards"] == -(-260 // 64)

    merged = FtsIndex(spark, a_dir)
    ids = sorted(r["doc_id"] for r in merged.docs().select("doc_id").collect())
    assert ids == list(range(260))

    union_dir = str(tmp_path / "union")
    build_index(spark, _docs(spark, 0, 260), union_dir, CFG, resume=False)
    union = FtsIndex(spark, union_dir)
    # merged ids differ from a fresh interleaved build's (segments number
    # their own docs first), so compare tie-insensitively on (score, url)
    assert merged.n_docs == union.n_docs and merged.avgdl == union.avgdl
    assert _ranked(merged) == _ranked(union)

    terms_m = {
        (r["term"], r["df"], r["cf"])
        for r in spark.read.parquet(merged._terms_path).collect()
    }
    terms_u = {
        (r["term"], r["df"], r["cf"])
        for r in spark.read.parquet(union._terms_path).collect()
    }
    assert terms_m == terms_u


def test_merge_without_compaction_is_searchable(spark, tmp_path):
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, _docs(spark, 0, 100), a_dir, CFG, resume=False)
    build_index(spark, _docs(spark, 100, 150), b_dir, CFG, resume=False)
    meta = merge_indexes(spark, a_dir, b_dir, compact_after=False)
    assert meta["n_docs"] == 150
    # shards: ceil(100/64)=2 from a + ceil(50/64)=1 from b, id gap kept
    assert meta["n_shards"] == 3

    merged = FtsIndex(spark, a_dir)
    got = {
        r["url"]
        for r in merged.search_bm25("alpha", k=0, hydrate=True).collect()
    }
    assert got == {f"doc://{i}" for i in range(150)}


def test_merge_carries_tombstones_from_both_sides(spark, tmp_path):
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, _docs(spark, 0, 100), a_dir, CFG, resume=False)
    build_index(spark, _docs(spark, 100, 200), b_dir, CFG, resume=False)
    delete_documents(spark, a_dir, ["doc://5"])
    delete_documents(spark, b_dir, ["doc://150", "doc://199"])

    meta = merge_indexes(spark, a_dir, b_dir, compact_after=False)
    assert meta["n_deleted"] == 3
    assert meta["avgdl"] == dictionary_avgdl(a_dir)
    merged = FtsIndex(spark, a_dir)
    got = {
        r["url"]
        for r in merged.search_bm25("alpha", k=0, hydrate=True).collect()
    }
    assert got == {
        f"doc://{i}" for i in range(200) if i not in (5, 150, 199)
    }

    # compaction purges all three and matches a fresh build of survivors
    from fts_engine_spark.streaming.compact import compact_index

    meta = compact_index(spark, a_dir, CFG)
    assert meta["n_docs"] == 197 and meta.get("n_deleted", 0) == 0
    fresh_dir = str(tmp_path / "fresh")
    docs = _docs(spark, 0, 200).where(
        ~F.col("url").isin(["doc://5", "doc://150", "doc://199"])
    )
    build_index(spark, docs, fresh_dir, CFG, resume=False)
    fresh = FtsIndex(spark, fresh_dir)
    assert FtsIndex(spark, a_dir).avgdl == fresh.avgdl
    assert _ranked(FtsIndex(spark, a_dir)) == _ranked(fresh)


def test_merge_rejects_mismatched_geometry(spark, tmp_path):
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, _docs(spark, 0, 50), a_dir, CFG, resume=False)
    other = BuildConfig(preset="simple", shard_size=32, id_buckets=4, n_waves=1)
    build_index(spark, _docs(spark, 50, 80), b_dir, other, resume=False)
    with pytest.raises(ValueError, match="shard_size"):
        merge_indexes(spark, a_dir, b_dir)


def test_merge_crash_before_commit_leaves_dst_live(spark, tmp_path, monkeypatch):
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, _docs(spark, 0, 100), a_dir, CFG, resume=False)
    build_index(spark, _docs(spark, 100, 140), b_dir, CFG, resume=False)
    with open(os.path.join(a_dir, "meta.json")) as f:
        meta0 = json.load(f)
    before = _ranked(FtsIndex(spark, a_dir))

    import fts_engine_spark.mutate as mutate_mod

    def boom(*a, **k):
        raise RuntimeError("injected kill before merge commit")

    monkeypatch.setattr(mutate_mod, "atomic_write_json", boom)
    with pytest.raises(RuntimeError, match="injected kill"):
        merge_indexes(spark, a_dir, b_dir)
    with open(os.path.join(a_dir, "meta.json")) as f:
        assert json.load(f) == meta0
    # committed state intact: stats unflipped (meta/terms pointers are the
    # commit), and every pre-merge doc still ranks with its exact score.
    # Orphan spliced rows can be transiently visible until the retry
    # cleans them — the same posture as a crashed incremental append.
    after = _ranked(FtsIndex(spark, a_dir))
    old_urls = {f"doc://{i}" for i in range(100)}
    for q in QUERIES:
        assert [x for x in after[q] if x[0] in old_urls] == before[q]
    monkeypatch.undo()
    meta = merge_indexes(spark, a_dir, b_dir)
    assert meta["n_docs"] == 140
    got = {
        r["url"]
        for r in FtsIndex(spark, a_dir)
        .search_bm25("alpha", k=0, hydrate=True)
        .collect()
    }
    assert got == {f"doc://{i}" for i in range(140)}

def test_merge_maintains_sidecars_when_both_fresh(spark, tmp_path):
    """When BOTH indexes carry fresh stored/positional sidecars, the
    merge splices the src rows at shifted ids (positional blobs carried
    without decode) and the merged index keeps serving text and phrases
    — including through the trailing compaction. A side missing its
    sidecar leaves the merged one stale, loudly."""
    from fts_engine_spark.positions import (
        PositionsUnavailableError,
        add_positions_to_index,
    )
    from fts_engine_spark.stored import add_stored_fields

    dst_dir = str(tmp_path / "dst")
    src_dir = str(tmp_path / "src")
    dst_docs = _docs(spark, 0, 100)
    src_docs = _docs(spark, 100, 160)
    build_index(spark, dst_docs, dst_dir, CFG, resume=False)
    build_index(spark, src_docs, src_dir, CFG, resume=False)
    for d, dd in ((dst_dir, dst_docs), (src_dir, src_docs)):
        add_stored_fields(spark, d, dd)
        add_positions_to_index(spark, d, dd)

    merge_indexes(spark, dst_dir, src_dir)  # compact_after default True
    fts = FtsIndex(spark, dst_dir)
    hits = {
        r["url"]
        for r in fts.search_phrase_positional("alpha beta", k=0).collect()
    }
    assert len(hits) == 160 and "doc://150" in hits
    pairs = {
        int(r["doc_id"]): r["url"]
        for r in fts.docs().select("doc_id", "url").collect()
    }
    import pyspark.sql.functions as SF

    sp = {
        int(r["doc_id"]): r["url"]
        for r in spark.read.parquet(dst_dir + "/stored")
        .select("doc_id", "url")
        .collect()
    }
    assert sp == pairs  # every stored row belongs to its merged id
    # equal to a fresh union build + retrofit (phrase counts by url)
    union_dir = str(tmp_path / "union")
    union_docs = _docs(spark, 0, 160)
    build_index(spark, union_docs, union_dir, CFG, resume=False)
    add_positions_to_index(spark, union_dir, union_docs)
    fresh = FtsIndex(spark, union_dir)
    for q in ("alpha beta", "gamma delta", "beta w3"):
        a = {
            (r["url"], int(r["phrase_count"]))
            for r in fts.search_phrase_positional(q, k=0).collect()
        }
        b = {
            (r["url"], int(r["phrase_count"]))
            for r in fresh.search_phrase_positional(q, k=0).collect()
        }
        assert a == b and a, q

    # src WITHOUT sidecars -> merged index's sidecars go stale, loudly
    dst2 = str(tmp_path / "dst2")
    src2 = str(tmp_path / "src2")
    build_index(spark, dst_docs, dst2, CFG, resume=False)
    add_stored_fields(spark, dst2, dst_docs)
    add_positions_to_index(spark, dst2, dst_docs)
    build_index(spark, src_docs, src2, CFG, resume=False)
    merge_indexes(spark, dst2, src2, compact_after=False)
    fts2 = FtsIndex(spark, dst2)
    with pytest.raises(PositionsUnavailableError, match="stale"):
        fts2.search_phrase_positional("alpha beta", k=1)
