"""The two envelopes of a staged append: a batch small enough for one
tokenize task stages in the driver (``build.stage_in_driver``), any other
through the Spark staged build. Both must leave identical indexes. The
same holds for the delete: a url list resolves in the driver
(``mutate._tombstones_in_driver``), a DataFrame of urls on Spark."""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from fts_engine_spark.build import BuildConfig, build_index
from fts_engine_spark.checkpoint import Manifest
from fts_engine_spark.layout import read_table, table_path
from fts_engine_spark.mutate import delete_documents, update_documents
from fts_engine_spark.sources.pages import conform_pages
from fts_engine_spark.streaming import incremental
from fts_engine_spark.streaming.compact import compact_index

CFG = BuildConfig(preset="by_lang", shard_size=32, id_buckets=8)
ENVELOPES = ("driver", "spark")


def _meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "meta.json")) as f:
        return json.load(f)


def _last_envelope(index_dir: str) -> str:
    steps = Manifest(index_dir).steps()
    last = max(
        (s for s in steps if s.startswith("delta_batch_")),
        key=lambda s: int(s.rsplit("_", 1)[1]),
    )
    return steps[last]["metrics"]["envelope"]


def _snapshot(spark, index_dir: str) -> dict:
    """Every live table's rows (sorted) and the meta counters."""
    meta = _meta(index_dir)
    out = {
        k: meta.get(k) for k in ("n_docs", "n_shards", "avgdl", "n_deleted")
    }
    names = ["postings", "terms", "docs", "metrics"]
    if meta.get("tombstones_dir"):
        names.append("tombstones")
    for name in names:
        rows = read_table(spark, table_path(index_dir, meta, name), name)
        out[name] = sorted(map(tuple, rows.collect()), key=repr)
    return out


def _batch(spark, corpus: str, lo: int, hi: int, suffix: str):
    """Pages ``lo..hi`` of the corpus with new text, ``text`` re-derived
    from ``html`` (so the extract UDF runs inside the staging reads),
    plus an empty and a stopword-only page (docs with no postings)."""
    pages = (
        spark.read.parquet(corpus)
        .where(F.col("url").isin(_urls(spark, corpus)[lo:hi]))
        .withColumn(
            "html", F.concat(F.col("html"), F.lit(f" {suffix}").cast("binary"))
        )
        .drop("text")
    )
    extra = spark.createDataFrame(
        [(f"doc://empty-{suffix}", b""), (f"doc://stop-{suffix}", b"the and of")],
        "url string, html binary",
    )
    return conform_pages(pages.unionByName(extra, allowMissingColumns=True))


def _urls(spark, corpus: str) -> list[str]:
    return [r["url"] for r in spark.read.parquet(corpus).select("url").collect()]


@pytest.fixture
def base_index(spark, small_corpus, tmp_path):
    index_dir = str(tmp_path / "base")
    docs = spark.read.parquet(small_corpus).select("url", "text", "lang")
    build_index(
        spark, docs.where(F.col("url").isin(_urls(spark, small_corpus)[:60])),
        index_dir, CFG, resume=False,
    )
    return index_dir


def _force(monkeypatch, envelope: str) -> None:
    """Batches take the default (driver) envelope until forced to Spark:
    a 0-doc driver threshold sends every non-empty batch to Spark."""
    if envelope == "spark":
        monkeypatch.setattr(incremental, "_DRIVER_STAGE_MAX_DOCS", 0)


def test_lifecycle_is_identical_through_both_envelopes(
    spark, small_corpus, base_index, tmp_path, monkeypatch
):
    """The scripted scenario, staged once by each envelope: build, append,
    upsert with recrawls (50 recrawled urls, 10 new ones, an empty and a
    stopword-only page: 62 docs over two 32-doc delta shards), delete,
    compaction with tombstones, another append and a compaction without
    tombstones. After every step the postings, terms, docs, metrics and
    tombstone rows are identical and n_docs / n_shards / avgdl /
    n_deleted bit-identical."""
    steps = {env: [] for env in ENVELOPES}
    for env in ENVELOPES:
        index_dir = str(tmp_path / env)
        shutil.copytree(base_index, index_dir)
        _force(monkeypatch, env)
        snap = steps[env].append

        incremental._append_batch(
            spark, _batch(spark, small_corpus, 60, 90, "a1"), index_dir, CFG
        )
        assert _last_envelope(index_dir) == env
        snap(_snapshot(spark, index_dir))
        out = update_documents(
            spark, index_dir, _batch(spark, small_corpus, 40, 100, "u1"), CFG
        )
        assert out["replaced"] == 50 and _last_envelope(index_dir) == env
        snap(_snapshot(spark, index_dir))
        urls = _urls(spark, small_corpus)
        delete_documents(spark, index_dir, [urls[5], urls[33], urls[70]])
        snap(_snapshot(spark, index_dir))
        compact_index(spark, index_dir)
        snap(_snapshot(spark, index_dir))
        incremental._append_batch(
            spark, _batch(spark, small_corpus, 100, 120, "a2"), index_dir, CFG
        )
        snap(_snapshot(spark, index_dir))
        compact_index(spark, index_dir)
        snap(_snapshot(spark, index_dir))
    monkeypatch.undo()
    driver, spark_ = steps["driver"], steps["spark"]
    assert len(driver) == len(spark_) == 6
    # the upsert staged 62 docs into two delta shards (3-4) after the
    # 60-doc base (shards 0-1) and the append's 32 docs (shard 2)
    assert driver[1]["n_docs"] == 60 + 32 + 62 and driver[1]["n_shards"] == 5
    for i, (d, s) in enumerate(zip(driver, spark_)):
        assert d["postings"], i
        for key in d:
            assert d[key] == s[key], (i, key)
    assert driver[-1]["n_deleted"] in (None, 0)


def _delete_urls(spark, envelope: str, urls: list):
    """The delete's input for ``envelope``: a url list resolves in the
    driver, the same urls as a DataFrame on Spark."""
    if envelope == "spark":
        return spark.createDataFrame([(u,) for u in urls], "url string")
    return urls


def _delete_jobs(spark, index_dir: str, urls) -> tuple[dict, int]:
    """``delete_documents``'s result and the Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"delete-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = delete_documents(spark, index_dir, urls)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_delete_is_identical_through_both_envelopes(spark, tmp_path):
    """The delete's two envelopes over one scripted sequence on an index
    with fresh stored/positions sidecars and a null-url doc: unknown urls,
    a ``None`` in the url list, a re-delete, an append-only duplicate url
    (two doc ids), prior tombstones. After every step the tombstone rows,
    ``matched``, ``n_deleted``, the tombstones pointer and the sidecar pins
    are identical, and only the Spark envelope launched jobs."""
    rows = [(f"doc://{i}", f"alpha beta w{i % 5} gamma", "en") for i in range(40)]
    rows.append((None, "alpha nullurl", "en"))
    base = str(tmp_path / "base")
    build_index(
        spark, spark.createDataFrame(rows, "url string, text string, lang string"),
        base, BuildConfig(
            preset="by_lang", shard_size=16, id_buckets=4,
            store_text=True, store_positions=True,
        ),
        resume=False,
    )
    dup = spark.createDataFrame(
        [("doc://5", "alpha again", "en")], "url string, text string, lang string"
    )
    script = [
        ["unknown://a"],
        [None, "doc://1", "doc://2", "unknown://b"],
        ["doc://2", "doc://1"],  # a re-delete
        "append",  # doc://5 now held by two doc ids
        ["doc://5", "doc://3", None],
        ["unknown://c"],
    ]
    steps = {env: [] for env in ENVELOPES}
    for env in ENVELOPES:
        index_dir = str(tmp_path / env)
        shutil.copytree(base, index_dir)
        for urls in script:
            if urls == "append":
                incremental._append_batch(spark, dup, index_dir, CFG)
                continue
            out, jobs = _delete_jobs(
                spark, index_dir, _delete_urls(spark, env, urls)
            )
            assert (jobs == 0) == (env == "driver"), (env, urls, jobs)
            meta = _meta(index_dir)
            assert out["meta"] == meta
            steps[env].append(
                {
                    "matched": out["matched"],
                    "n_deleted": out["n_deleted"],
                    **{
                        k: meta.get(k)
                        for k in ("table_version", "tombstones_dir", "stored",
                                  "positions")
                    },
                    "tombstones": _snapshot(spark, index_dir).get("tombstones"),
                }
            )
    driver, spark_ = steps["driver"], steps["spark"]
    assert [s["matched"] for s in driver] == [0, 2, 2, 3, 0]
    assert [s["n_deleted"] for s in driver] == [0, 2, 2, 5, 5]
    # no-ops commit nothing: unknown urls, the re-delete, unknown again
    tv = [s["table_version"] for s in driver]
    assert tv[0] is None and tv[2] == tv[1] and tv[4] == tv[3] != tv[1]
    assert {u for _, u in driver[3]["tombstones"]} == {
        "doc://1", "doc://2", "doc://3", "doc://5"
    }
    for s in driver[1:]:
        # the sidecars stay current through every delete
        assert s["stored"]["table_version"] == s["table_version"]
        assert s["positions"]["table_version"] == s["table_version"]
    for i, (d, s) in enumerate(zip(driver, spark_)):
        assert d == s, i
