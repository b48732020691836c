"""Delta-shard compaction: merge micro-batch shards back to full shards,
atomically, with hash-identical search results (VERDICT r3 next #5/#6)."""

from __future__ import annotations

import json
import os

import pytest

from fts_engine_spark.build import BuildConfig, build_index
from fts_engine_spark.query import FtsIndex
from fts_engine_spark.streaming.compact import compact_index
from fts_engine_spark.streaming.incremental import _append_batch

CFG = BuildConfig(preset="simple", shard_size=64, id_buckets=4, n_waves=1)


def _docs(spark, n, start=0):
    rows = [
        (
            f"doc://{i}",
            f"alpha beta w{i % 7} w{i % 13} gamma delta w{i % 5} "
            f"{'epsilon ' * (i % 3)}",
            "en",
        )
        for i in range(start, start + n)
    ]
    return spark.createDataFrame(rows, "url string, text string, lang string")


def _search_sets(spark, index_dir):
    fts = FtsIndex(spark, index_dir)
    out = {}
    for q in ["alpha w3", "epsilon gamma", "w12 delta"]:
        rows = fts.search_bm25(q, k=10, hydrate=True).collect()
        out[q] = {(r["url"], round(float(r["score"]), 9)) for r in rows}
    return out


@pytest.fixture(scope="module")
def grown_index(spark, tmp_path_factory):
    """Base build (200 docs, shard_size 64 -> shards 0-2 full, 3 partial)
    plus two delta batches (-> shards 4 and 5, heavily under-filled)."""
    index_dir = str(tmp_path_factory.mktemp("compact_ix"))
    build_index(spark, _docs(spark, 200), index_dir, CFG, resume=False)
    _append_batch(spark, _docs(spark, 20, start=200), index_dir, CFG)
    _append_batch(spark, _docs(spark, 20, start=220), index_dir, CFG)
    return index_dir


def test_compact_merges_shards_and_preserves_results(spark, grown_index):
    before = _search_sets(spark, grown_index)
    with open(os.path.join(grown_index, "meta.json")) as f:
        meta0 = json.load(f)
    assert meta0["n_shards"] == 6 and meta0["n_docs"] == 240

    meta = compact_index(spark, grown_index, CFG)
    assert meta["n_shards"] == 4  # ceil(240/64)
    assert meta["compactions"] == 1
    assert meta["n_docs"] == 240

    after = _search_sets(spark, grown_index)
    assert after == before

    # docs renumbered densely: ids are exactly 0..239
    fts = FtsIndex(spark, grown_index)
    ids = sorted(r["doc_id"] for r in fts.docs().select("doc_id").collect())
    assert ids == list(range(240))

    # prefix shards carried, tail shards merged: occupancy restored
    from pyspark.sql import functions as F

    occ = {
        int(r["s"]): int(r["c"])
        for r in fts.docs()
        .groupBy((F.col("doc_id") / 64).cast("long").alias("s"))
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert occ == {0: 64, 1: 64, 2: 64, 3: 48}

    # idempotent: a second run is a no-op
    meta2 = compact_index(spark, grown_index, CFG)
    assert meta2.get("compactions", meta["compactions"]) == 1


def test_compact_kill_before_commit_leaves_live_index(
    spark, tmp_path, monkeypatch
):
    index_dir = str(tmp_path / "ix")
    build_index(spark, _docs(spark, 130), index_dir, CFG, resume=False)
    _append_batch(spark, _docs(spark, 15, start=130), index_dir, CFG)
    _append_batch(spark, _docs(spark, 15, start=145), index_dir, CFG)
    before = _search_sets(spark, index_dir)
    with open(os.path.join(index_dir, "meta.json")) as f:
        meta0 = json.load(f)

    import fts_engine_spark.streaming.compact as compact_mod

    def boom(*a, **k):
        raise RuntimeError("injected kill before commit")

    monkeypatch.setattr(compact_mod, "_commit_compaction", boom)
    with pytest.raises(RuntimeError, match="injected kill"):
        compact_index(spark, index_dir, CFG)

    # the live index is untouched: same meta, same search results
    with open(os.path.join(index_dir, "meta.json")) as f:
        assert json.load(f) == meta0
    assert _search_sets(spark, index_dir) == before

    # retry after the crash completes and commits
    monkeypatch.undo()
    meta = compact_index(spark, index_dir, CFG)
    assert meta["compactions"] == 1
    assert meta["n_shards"] == 3  # ceil(160/64)
    assert _search_sets(spark, index_dir) == before


def test_incremental_terms_swap_is_versioned(spark, tmp_path):
    """The dictionary delta-merge must commit via the meta pointer (no
    rmtree-then-rename window): after an append, meta points at a
    versioned terms dir that exists, and the previous one is gone."""
    index_dir = str(tmp_path / "ix")
    build_index(spark, _docs(spark, 100), index_dir, CFG, resume=False)
    _append_batch(spark, _docs(spark, 10, start=100), index_dir, CFG)
    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    assert meta["terms_dir"].startswith("terms_v")
    assert os.path.isdir(os.path.join(index_dir, meta["terms_dir"]))
    assert not os.path.exists(os.path.join(index_dir, "terms"))
    # and the index reads through the pointer
    fts = FtsIndex(spark, index_dir)
    assert fts.search_bm25("alpha", k=5).count() == 5


def test_append_batch_auto_compacts(spark, tmp_path):
    """compact_every triggers compaction from inside the ingest commit:
    shard growth is bounded and results stay identical."""
    index_dir = str(tmp_path / "ix")
    build_index(spark, _docs(spark, 130), index_dir, CFG, resume=False)
    _append_batch(spark, _docs(spark, 15, start=130), index_dir, CFG,
                  compact_every=2)
    before = _search_sets(spark, index_dir)
    _append_batch(spark, _docs(spark, 15, start=145), index_dir, CFG,
                  compact_every=2)  # delta_batches hits 2 -> compacts
    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    assert meta["compactions"] == 1
    assert meta["delta_batches"] == 0
    assert meta["n_shards"] == 3  # ceil(160/64), not 130//64+2 deltas
    # UNtruncated (k=0) result sets must equal a fresh build over all 160
    # docs exactly, by (url, score) — doc ids differ (fresh builds assign
    # by url-hash rank), so top-10 tie winners would differ, but the full
    # match set + scores cannot
    def full_sets(ix):
        fts = FtsIndex(spark, ix)
        return {
            q: {
                (r["url"], round(float(r["score"]), 9))
                for r in fts.search_bm25(q, k=0, hydrate=True).collect()
            }
            for q in ["alpha w3", "epsilon gamma", "w12 delta"]
        }

    ref_dir = str(tmp_path / "ref")
    build_index(spark, _docs(spark, 160), ref_dir, CFG, resume=False)
    assert full_sets(index_dir) == full_sets(ref_dir)
    assert before  # sanity: pre-compaction searches returned rows


def test_compacted_metrics_equal_the_spark_aggregate(
    spark, small_corpus, tmp_path
):
    """Compaction writes its metrics table in the driver: after an upsert
    that tombstones recrawled urls, over a docs table carrying
    ``meta_cols``, the table equals the Spark definition of the metrics
    — per shard of the compacted postings, ``count(*)``, Σ``count`` and
    Σ(``length(doc_blob)`` + ``length(tf_blob)``) — one row per shard."""
    from pyspark.sql import functions as F

    from fts_engine_spark.layout import read_table, table_path
    from fts_engine_spark.mutate import update_documents

    cfg = BuildConfig(
        preset="by_lang", shard_size=32, id_buckets=8, meta_cols=("warc_ts",)
    )
    docs = spark.read.parquet(small_corpus)
    index_dir = str(tmp_path / "ix")
    build_index(spark, docs.limit(70), index_dir, cfg, resume=False)
    update_documents(
        spark, index_dir,
        docs.limit(90).withColumn(
            "text", F.concat(F.col("text"), F.lit(" recrawled"))
        ),
        cfg,
    )
    with open(os.path.join(index_dir, "meta.json")) as f:
        assert json.load(f)["n_deleted"] == 70
    meta = compact_index(spark, index_dir)
    assert meta["n_docs"] == 90 and meta["n_deleted"] == 0

    expected = (
        read_table(spark, table_path(index_dir, meta, "postings"), "postings")
        .groupBy(F.col("shard_id").cast("long").alias("shard_id"))
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("count").alias("n_postings"),
            F.sum(F.length("doc_blob") + F.length("tf_blob")).alias(
                "blob_bytes"
            ),
        )
    )
    got = read_table(spark, table_path(index_dir, meta, "metrics"), "metrics")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expected.collect())
    )
    assert got.count() == meta["n_shards"]


def _blank_docs(spark, n, start):
    """Pages that tokenize to no term at all: empty or punctuation-only."""
    rows = [
        (f"blank://{i}", "" if i % 2 else "... !? --", "en")
        for i in range(start, start + n)
    ]
    return spark.createDataFrame(rows, "url string, text string, lang string")


def _index_with_blank_prefix_shard(spark, index_dir):
    """Shards 0-1 full of words, shard 2 full of blank pages (no postings
    dir, no metrics row), shards 3-4 under-filled deltas: compaction
    carries shards 0-2 as the prefix (P = 3)."""
    build_index(spark, _docs(spark, 128), index_dir, CFG, resume=False)
    _append_batch(spark, _blank_docs(spark, 64, 0), index_dir, CFG)
    _append_batch(spark, _docs(spark, 10, start=128), index_dir, CFG)
    _append_batch(spark, _docs(spark, 10, start=138), index_dir, CFG)
    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    assert meta["n_shards"] == 5 and meta["n_docs"] == 212
    from fts_engine_spark.layout import table_path

    postings = table_path(index_dir, meta, "postings")
    assert not os.path.exists(os.path.join(postings, "shard_id=2"))
    return meta, postings


def test_compact_carries_a_prefix_shard_without_postings(spark, tmp_path):
    """A full prefix shard whose pages all tokenize to nothing has no
    postings dir and no metrics row: it is carried, not reported
    missing, and results are unchanged."""
    index_dir = str(tmp_path / "ix")
    _index_with_blank_prefix_shard(spark, index_dir)
    before = _search_sets(spark, index_dir)
    meta = compact_index(spark, index_dir, CFG)
    assert meta["n_shards"] == 4 and meta["n_docs"] == 212  # ceil(212/64)
    assert _search_sets(spark, index_dir) == before


def test_compact_missing_prefix_shard_dir_raises_before_commit(
    spark, tmp_path
):
    """A prefix shard dir removed while the metrics table lists that shard
    is corruption: compaction raises before the pointer flip and leaves
    meta.json as it was."""
    import shutil

    index_dir = str(tmp_path / "ix")
    _meta0, postings = _index_with_blank_prefix_shard(spark, index_dir)
    shutil.rmtree(os.path.join(postings, "shard_id=1"))
    meta_path = os.path.join(index_dir, "meta.json")
    with open(meta_path, "rb") as f:
        meta_bytes = f.read()
    with pytest.raises(RuntimeError, match="prefix shard dir .*shard_id=1"):
        compact_index(spark, index_dir, CFG)
    with open(meta_path, "rb") as f:
        assert f.read() == meta_bytes
