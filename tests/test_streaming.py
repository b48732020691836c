"""Structured Streaming tests: incremental delta-shard ingest + watermarked
windowed ingest stats (availableNow trigger → deterministic, bounded)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from fts_engine_spark.build import BuildConfig, build_index
from fts_engine_spark.checkpoint import Manifest
from fts_engine_spark.query import FtsIndex
from fts_engine_spark.streaming.incremental import incremental_index, ingest_stats, stream_pages
from tools.gen_corpus import SCHEMA, gen_rows

import pyarrow as pa


def _write_pages(path: str, n: int, seed: int) -> None:
    urls, tss, htmls, texts, langs = gen_rows(n, seed)
    # make urls unique per seed so batches don't collide
    urls = [u.replace("example/", f"example/s{seed}/") for u in urls]
    pq.write_table(
        pa.table(
            {"url": urls, "warc_ts": tss, "html": htmls, "text": texts, "lang": langs},
            schema=SCHEMA,
        ),
        path,
    )


@pytest.fixture(scope="module")
def incremental_setup(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    landing = root / "landing"
    landing.mkdir()
    index_dir = str(root / "index")

    # bootstrap index from an initial batch
    boot = str(root / "boot.parquet")
    _write_pages(boot, 60, seed=1)
    cfg = BuildConfig(preset="by_lang", shard_size=32, id_buckets=8)
    build_index(spark, spark.read.parquet(boot), index_dir, cfg, resume=False)

    # land two more batches
    _write_pages(str(landing / "b1.parquet"), 40, seed=2)
    _write_pages(str(landing / "b2.parquet"), 24, seed=3)
    q = incremental_index(spark, str(landing), index_dir, cfg, available_now=True)
    q.awaitTermination(300)
    return index_dir


def test_incremental_doc_count(spark, incremental_setup):
    fts = FtsIndex(spark, incremental_setup)
    assert fts.n_docs == 60 + 40 + 24
    docs = fts.docs()
    assert docs.count() == 124
    assert docs.select("doc_id").distinct().count() == 124


def test_incremental_search_sees_new_docs(spark, incremental_setup):
    fts = FtsIndex(spark, incremental_setup)
    hits = fts.search_bm25("turtle", k=124, mode="relational", hydrate=True).collect()
    assert len(hits) > 0
    sources = {("s2/" in r["url"]) or ("s3/" in r["url"]) for r in hits}
    assert True in sources, "delta-shard docs must be searchable"


def test_incremental_wand_matches_relational(spark, incremental_setup):
    fts = FtsIndex(spark, incremental_setup)
    rel = fts.search_bm25("castle river", k=10, mode="relational").collect()
    wnd = fts.search_bm25("castle river", k=10, mode="wand").collect()
    assert [r["doc_id"] for r in rel] == [r["doc_id"] for r in wnd]


def test_incremental_term_stats_merged(spark, incremental_setup):
    fts = FtsIndex(spark, incremental_setup)
    stats = fts.term_stats(["turtl"])  # stemmed 'turtle'
    assert "turtl" in stats
    df, cf = stats["turtl"]
    # df must count docs across base + delta shards
    decoded = fts.decoded_postings(["turtl"])
    assert decoded.count() == df


def test_ingest_stats_watermark_plan(spark, tmp_path):
    """ingest_stats compiles to a streaming plan with watermark + window."""
    landing = tmp_path / "landing2"
    landing.mkdir()
    _write_pages(str(landing / "b.parquet"), 20, seed=5)
    pages = stream_pages(spark, str(landing))
    out = ingest_stats(pages)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ingest_stats_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only windows older than the watermark — with a
    # bounded batch that may be zero rows; the table must exist and the
    # query complete without error.
    assert spark.table("ingest_stats_test").columns == [
        "window_start", "lang", "n_pages", "total_bytes",
    ]


def test_append_batch_exactly_once_under_retry(spark, tmp_path, monkeypatch):
    """foreachBatch retries must not duplicate a micro-batch: a crash
    injected at the commit point leaves orphan splice artifacts; the
    retried epoch cleans them and commits once; a retry AFTER commit is a
    no-op."""
    import json

    from fts_engine_spark.checkpoint import atomic_write_json as real_awj
    from fts_engine_spark.streaming import incremental as inc

    cfg = BuildConfig(preset="simple", shard_size=64, id_buckets=4, n_waves=1)
    index_dir = str(tmp_path / "ix")
    boot = str(tmp_path / "boot.parquet")
    _write_pages(boot, 100, seed=1)
    build_index(spark, spark.read.parquet(boot), index_dir, cfg, resume=False)

    batch_path = str(tmp_path / "batch.parquet")
    _write_pages(batch_path, 30, seed=2)
    batch_df = spark.read.parquet(batch_path)

    # attempt 1: crash exactly at the commit (after all table mutations)
    calls = {"n": 0}

    def crashing_awj(path, obj):
        calls["n"] += 1
        raise RuntimeError("injected crash at commit")

    monkeypatch.setattr(inc, "atomic_write_json", crashing_awj)
    with pytest.raises(RuntimeError, match="injected crash"):
        inc._append_batch(spark, batch_df, index_dir, cfg, batch_id=7)
    assert calls["n"] == 1
    monkeypatch.setattr(inc, "atomic_write_json", real_awj)

    # retry (same epoch): must clean the orphans and commit exactly once
    inc._append_batch(spark, batch_df, index_dir, cfg, batch_id=7)
    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    assert meta["n_docs"] == 130
    assert meta["last_epoch"] == ["default", 7]
    # a 30-page batch with no sidecars or meta_cols stages in the driver
    steps = Manifest(index_dir).steps()
    assert steps["delta_batch_1"]["metrics"]["envelope"] == "driver"

    fts = FtsIndex(spark, index_dir)
    # no duplicate doc rows from the crashed attempt
    assert fts.docs().count() == 130
    assert fts.docs().select("doc_id").distinct().count() == 130
    urls = fts.docs().select("url").distinct().count()
    assert urls == 130

    # postings contain no duplicate (term, shard) rows
    posts = spark.read.parquet(
        os.path.join(index_dir, meta.get("postings_dir", "postings"))
    )
    assert (
        posts.groupBy("term", "shard_id").count().where("count > 1").count()
        == 0
    )

    # a THIRD delivery of the committed epoch is a no-op
    inc._append_batch(spark, batch_df, index_dir, cfg, batch_id=7)
    with open(os.path.join(index_dir, "meta.json")) as f:
        meta2 = json.load(f)
    assert meta2["n_docs"] == 130 and meta2["delta_batches"] == meta["delta_batches"]


def test_checkpoint_stream_id_fails_loudly(tmp_path):
    """ADVICE r4 #1: when the persisted query id cannot be read (locally
    or via the Hadoop FS API), epoch identity must FAIL, not silently
    degrade to a reset-stable path hash (which would skip a colliding
    batch id after a checkpoint reset = data loss)."""
    import pytest

    from fts_engine_spark.streaming.incremental import _checkpoint_stream_id

    class _NoJvm:  # stands in for a session whose FS access also fails
        def __getattr__(self, name):
            raise AttributeError(name)

    with pytest.raises(RuntimeError, match="stream_id"):
        _checkpoint_stream_id(_NoJvm(), str(tmp_path / "missing_ckpt"))


def test_checkpoint_stream_id_reads_local_metadata(tmp_path):
    import json

    from fts_engine_spark.streaming.incremental import _checkpoint_stream_id

    ckpt = tmp_path / "ck"
    ckpt.mkdir()
    (ckpt / "metadata").write_text(json.dumps({"id": "abc-123"}))
    assert _checkpoint_stream_id(object(), str(ckpt)) == "abc-123"


def test_append_maintains_sidecars_and_composes_with_compact(
    spark, tmp_path, monkeypatch
):
    """Fresh stored/positional sidecars are EXTENDED by each append (the
    staged build's rows spliced at shifted ids, pins flipped inside the
    same commit), survive a crash-retry of the splice without
    duplicates, and stay maintained through a trailing delete+compaction
    — the full mutation lifecycle keeps every text/phrase surface
    servable."""
    from fts_engine_spark.checkpoint import atomic_write_json as real_awj
    from fts_engine_spark.mutate import delete_documents
    from fts_engine_spark.positions import add_positions_to_index
    from fts_engine_spark.stored import add_stored_fields
    from fts_engine_spark.streaming import incremental as inc
    from fts_engine_spark.streaming.compact import compact_index

    cfg = BuildConfig(preset="simple", shard_size=64, id_buckets=4, n_waves=1)
    index_dir = str(tmp_path / "ix")
    rows = [
        (f"doc://{i}", f"alpha beta w{i % 7} gamma", "en") for i in range(100)
    ]
    docs = spark.createDataFrame(rows, "url string, text string, lang string")
    build_index(spark, docs, index_dir, cfg, resume=False)
    add_stored_fields(spark, index_dir, docs)
    add_positions_to_index(spark, index_dir, docs)

    b1 = spark.createDataFrame(
        [
            (f"doc://b1/{i}", f"alpha beta extra{i} gamma", "en")
            for i in range(30)
        ],
        "url string, text string, lang string",
    )

    def crashing_awj(path, obj):
        raise RuntimeError("injected crash at commit")

    monkeypatch.setattr(inc, "atomic_write_json", crashing_awj)
    with pytest.raises(RuntimeError, match="injected crash"):
        inc._append_batch(spark, b1, index_dir, cfg, batch_id=1)
    monkeypatch.setattr(inc, "atomic_write_json", real_awj)
    inc._append_batch(spark, b1, index_dir, cfg, batch_id=1)

    fts = FtsIndex(spark, index_dir)
    hits = {
        r["url"]
        for r in fts.search_phrase_positional("alpha beta", k=0).collect()
    }
    assert len(hits) == 130 and "doc://b1/0" in hits
    stored = spark.read.parquet(os.path.join(index_dir, "stored"))
    assert stored.count() == 130
    assert stored.select("doc_id").distinct().count() == 130
    pos = spark.read.parquet(os.path.join(index_dir, "positions"))
    assert (
        pos.groupBy("term", "shard_id").count().where("count > 1").count()
        == 0
    )

    # delete + compact: the same sidecars carry through the renumber
    delete_documents(spark, index_dir, ["doc://3", "doc://b1/5"])
    compact_index(spark, index_dir, cfg)
    fts2 = FtsIndex(spark, index_dir)
    hits2 = {
        r["url"]
        for r in fts2.search_phrase_positional("alpha beta", k=0).collect()
    }
    assert len(hits2) == 128 and "doc://3" not in hits2
    pairs = {
        int(r["doc_id"]): r["url"]
        for r in fts2.docs().select("doc_id", "url").collect()
    }
    sp = {
        int(r["doc_id"]): r["url"]
        for r in spark.read.parquet(os.path.join(index_dir, "stored"))
        .select("doc_id", "url")
        .collect()
    }
    assert sp == pairs  # every stored row belongs to its renumbered id
