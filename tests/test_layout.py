"""Pinned table schemas (``layout.TABLE_SCHEMAS``) against what Spark
infers from the files each write path leaves, and old-layout indexes
under pinned reads."""

from __future__ import annotations

import glob
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from fts_engine_spark.build import BuildConfig, build_index
from fts_engine_spark.layout import TABLE_SCHEMAS, read_table, table_path
from fts_engine_spark.mutate import delete_documents, update_documents
from fts_engine_spark.positions import POSITIONS_TABLE
from fts_engine_spark.query import FtsIndex
from fts_engine_spark.stored import STORED_TABLE
from fts_engine_spark.streaming.compact import compact_index


def _meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "meta.json")) as f:
        return json.load(f)


def _assert_pinned_equals_inferred(spark, index_dir: str) -> list[str]:
    """Every live table of the index: the pinned read schema is the one
    Spark infers. A docs table with meta_cols keeps inference, and its
    built-in columns must still match the pinned docs schema (deletes
    read those columns pinned)."""
    meta = _meta(index_dir)
    meta_cols = tuple(meta.get("meta_cols", ()))
    seen = []
    for name in ("postings", "terms", "docs", "metrics", "tombstones"):
        if name == "tombstones" and not meta.get("tombstones_dir"):
            continue
        path = table_path(index_dir, meta, name)
        inferred = spark.read.parquet(path).schema
        pinned = read_table(spark, path, name, meta_cols).schema
        assert pinned == inferred, (name, pinned, inferred)
        if name == "docs" and meta_cols:
            base = TABLE_SCHEMAS["docs"]
            assert inferred.fields[: len(base.fields)] == base.fields
            assert inferred.fieldNames()[len(base.fields):] == list(meta_cols)
        else:
            assert TABLE_SCHEMAS[name] == inferred, name
        seen.append(name)
    for name, table in (("stored", STORED_TABLE), ("positions", POSITIONS_TABLE)):
        path = os.path.join(index_dir, table)
        if os.path.isdir(path):
            assert TABLE_SCHEMAS[name] == spark.read.parquet(path).schema, name
            seen.append(name)
    return seen


def test_pinned_schemas_match_inference_through_mutations(
    spark, small_corpus, tmp_path
):
    """Build (with stored + positions sidecars and a meta column), upsert
    with recrawls, delete and compact (with tombstones): after each step
    every table's pinned schema equals Spark's inferred one."""
    cfg = BuildConfig(
        preset="by_lang", shard_size=32, id_buckets=8, store_text=True,
        store_positions=True, meta_cols=("warc_ts",),
    )
    docs = spark.read.parquet(small_corpus).select("url", "warc_ts", "text", "lang")
    index_dir = str(tmp_path / "ix")
    build_index(spark, docs.limit(70), index_dir, cfg, resume=False)
    every = {"postings", "terms", "docs", "metrics", "stored", "positions"}
    assert set(_assert_pinned_equals_inferred(spark, index_dir)) == every

    recrawl = docs.limit(90).withColumn(
        "text", F.concat(F.col("text"), F.lit(" recrawled"))
    )
    update_documents(spark, index_dir, recrawl, cfg)
    meta = _meta(index_dir)
    assert meta["n_deleted"] == 70 and meta["n_docs"] == 160
    assert set(_assert_pinned_equals_inferred(spark, index_dir)) == every | {
        "tombstones"
    }

    urls = [r["url"] for r in docs.limit(90).tail(5)]
    assert delete_documents(spark, index_dir, urls)["matched"] == 5
    assert "tombstones" in _assert_pinned_equals_inferred(spark, index_dir)

    meta = compact_index(spark, index_dir)
    assert meta["n_docs"] == 85 and meta.get("n_deleted", 0) == 0
    assert set(_assert_pinned_equals_inferred(spark, index_dir)) == every


def _has_term_bloom(spark, path: str) -> bool:
    """Whether the parquet file's first row group carries a bloom filter
    on ``term`` (read through parquet-mr, as Spark's reader sees it)."""
    jvm = spark._jvm
    footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        spark._jsc.hadoopConfiguration(),
        jvm.org.apache.hadoop.fs.Path(f"file://{path}"),
    )
    cols = footer.getBlocks().get(0).getColumns()
    return any(
        str(cols.get(i).getPath()) == "[term]"
        and cols.get(i).getBloomFilterOffset() > 0
        for i in range(cols.size())
    )


def test_driver_staged_files_match_pinned_schemas_and_regain_bloom(
    spark, small_corpus, tmp_path
):
    """An upsert with no sidecars and no meta_cols stages in the driver
    and writes its postings, docs and metrics with pyarrow: Spark infers
    the pinned schemas from those files too. pyarrow writes no parquet
    bloom filter, so the delta shards have none until compaction
    re-encodes them through Spark, after which every shard has one."""
    cfg = BuildConfig(preset="by_lang", shard_size=32, id_buckets=8)
    docs = spark.read.parquet(small_corpus).select("url", "text", "lang")
    index_dir = str(tmp_path / "ix")
    build_index(spark, docs.limit(70), index_dir, cfg, resume=False)
    recrawl = docs.limit(90).withColumn(
        "text", F.concat(F.col("text"), F.lit(" recrawled"))
    )
    update_documents(spark, index_dir, recrawl, cfg)
    meta = _meta(index_dir)
    assert meta["n_deleted"] == 70 and meta["n_docs"] == 160
    with open(os.path.join(index_dir, "_manifest.json")) as f:
        steps = json.load(f)
    assert steps["delta_batch_1"]["metrics"]["envelope"] == "driver"
    every = {"postings", "terms", "docs", "metrics", "tombstones"}
    assert set(_assert_pinned_equals_inferred(spark, index_dir)) == every

    def shard_files(meta: dict) -> dict[int, list[str]]:
        root = table_path(index_dir, meta, "postings")
        out = {}
        for f in glob.glob(os.path.join(root, "shard_id=*", "*.parquet")):
            out.setdefault(int(f.split("shard_id=")[1].split("/")[0]), []).append(f)
        return out

    files = shard_files(meta)
    delta = [s for s in files if s >= 3]  # the base build filled shards 0-2
    assert delta and not any(
        _has_term_bloom(spark, f) for s in delta for f in files[s]
    )
    assert all(_has_term_bloom(spark, f) for s in files if s < 3 for f in files[s])

    meta = compact_index(spark, index_dir)
    assert meta["n_docs"] == 90 and meta.get("n_deleted", 0) == 0
    assert set(_assert_pinned_equals_inferred(spark, index_dir)) == every - {
        "tombstones"
    }
    files = shard_files(meta)
    assert sorted(files) == list(range(3))
    assert all(_has_term_bloom(spark, f) for fs in files.values() for f in fs)


def _downgrade_metrics_file(index_dir: str) -> None:
    """Rewrite one metrics file with an int ``shard_id`` — the type builds
    wrote before it was widened to long — leaving a mixed-type table."""
    meta = _meta(index_dir)
    files = sorted(
        glob.glob(os.path.join(table_path(index_dir, meta, "metrics"), "*.parquet"))
    )
    tbl = pq.read_table(files[0])
    i = tbl.column_names.index("shard_id")
    pq.write_table(
        tbl.set_column(i, "shard_id", tbl.column(i).cast(pa.int32())), files[0]
    )
    types = {pq.read_schema(f).field("shard_id").type for f in files}
    assert types == {pa.int32(), pa.int64()}


def test_mixed_int_long_metrics_index_opens_upserts_and_compacts(
    spark, small_corpus, tmp_path
):
    """An index whose metrics table mixes int and long ``shard_id`` files
    (older builds wrote int) opens, serves, upserts and compacts exactly
    like an untouched twin."""
    cfg = BuildConfig(preset="by_lang", shard_size=32, id_buckets=8)
    docs = spark.read.parquet(small_corpus).select("url", "text", "lang")
    out = {}
    for label in ("twin", "mixed"):
        index_dir = str(tmp_path / label)
        build_index(spark, docs.limit(100), index_dir, cfg, resume=False)
        update_documents(spark, index_dir, docs.limit(120), cfg)
        if label == "mixed":
            _downgrade_metrics_file(index_dir)
        meta = _meta(index_dir)
        metrics = read_table(
            spark, table_path(index_dir, meta, "metrics"), "metrics"
        )
        assert metrics.count() == meta["n_shards"]
        fts = FtsIndex(spark, index_dir).warm()
        try:
            hits = fts.search_bm25_point("turtle hotel", k=10)
        finally:
            fts.close()
        update_documents(spark, index_dir, docs.limit(30), cfg)
        meta = compact_index(spark, index_dir)
        assert meta["n_docs"] == 120 and meta.get("n_deleted", 0) == 0
        tables = {
            name: sorted(
                map(tuple, read_table(
                    spark, table_path(index_dir, meta, name), name
                ).collect())
            )
            for name in ("postings", "terms", "docs", "metrics")
        }
        assert [r[0] for r in tables["metrics"]] == list(range(meta["n_shards"]))
        out[label] = (hits, tables, meta["avgdl"])
    assert out["mixed"] == out["twin"]
