"""The two envelopes of a staged append: a batch small enough for one
tokenize task stages in the driver (``build.stage_in_driver``), any other
through the Spark staged build. Both must leave identical indexes. The
same holds for the delete (a url list resolves in the driver,
``mutate._tombstones_in_driver``; a DataFrame of urls on Spark) and for
the dictionary merge (``layout.merge_terms``: in the driver within
``layout.DRIVER_MERGE_MAX_BYTES`` of estimated memory, else on Spark)."""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fts_engine_spark import layout
from fts_engine_spark.build import BuildConfig, build_index
from fts_engine_spark.checkpoint import Manifest
from fts_engine_spark.layout import read_table, table_path
from fts_engine_spark.mutate import delete_documents, update_documents
from fts_engine_spark.sources.pages import conform_pages
from fts_engine_spark.streaming import incremental
from fts_engine_spark.streaming.compact import compact_index

from .oracle import dictionary_avgdl

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
    """Every live table's rows (sorted) and the meta counters; avgdl is
    the dictionary's Σcf over n_docs, bit for bit."""
    meta = _meta(index_dir)
    assert meta["avgdl"] == dictionary_avgdl(index_dir)
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
    assert _meta(index_dir)["avgdl"] == dictionary_avgdl(index_dir)
    return index_dir


def _force(monkeypatch, envelope: str) -> None:
    """Batches take the default (driver) envelope until forced to Spark:
    a 0-doc driver threshold sends every non-empty batch to Spark."""
    if envelope == "spark":
        monkeypatch.setattr(incremental, "_DRIVER_STAGE_MAX_DOCS", 0)


def _lifecycle(spark, corpus: str, index_dir: str, staged: str) -> list:
    """The scripted scenario on ``index_dir``: append, upsert with
    recrawls (50 recrawled urls, 10 new ones, an empty and a stopword-only
    page: 62 docs over two 32-doc delta shards), delete, compaction with
    tombstones, another append and a compaction without tombstones. Every
    batch stages through envelope ``staged``. Returns the snapshot after
    each step."""
    steps = []
    incremental._append_batch(
        spark, _batch(spark, corpus, 60, 90, "a1"), index_dir, CFG
    )
    assert _last_envelope(index_dir) == staged
    steps.append(_snapshot(spark, index_dir))
    out = update_documents(
        spark, index_dir, _batch(spark, corpus, 40, 100, "u1"), CFG
    )
    assert out["replaced"] == 50 and _last_envelope(index_dir) == staged
    steps.append(_snapshot(spark, index_dir))
    urls = _urls(spark, corpus)
    delete_documents(spark, index_dir, [urls[5], urls[33], urls[70]])
    steps.append(_snapshot(spark, index_dir))
    compact_index(spark, index_dir)
    steps.append(_snapshot(spark, index_dir))
    incremental._append_batch(
        spark, _batch(spark, corpus, 100, 120, "a2"), index_dir, CFG
    )
    steps.append(_snapshot(spark, index_dir))
    compact_index(spark, index_dir)
    steps.append(_snapshot(spark, index_dir))
    return steps


def _assert_identical(steps: dict) -> None:
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


def test_lifecycle_is_identical_through_both_envelopes(
    spark, small_corpus, base_index, tmp_path, monkeypatch
):
    """The scripted scenario (:func:`_lifecycle`), staged once by each
    envelope. After every step the postings, terms, docs, metrics and
    tombstone rows are identical and n_docs / n_shards / avgdl /
    n_deleted bit-identical."""
    steps = {}
    for env in ENVELOPES:
        index_dir = str(tmp_path / env)
        shutil.copytree(base_index, index_dir)
        _force(monkeypatch, env)
        steps[env] = _lifecycle(spark, small_corpus, index_dir, env)
    monkeypatch.undo()
    _assert_identical(steps)


def _force_dictionary(monkeypatch, envelope: str) -> None:
    """Dictionaries merge in the driver until forced to Spark: a 0-byte
    budget sends every merge to the Spark envelope."""
    if envelope == "spark":
        monkeypatch.setattr(layout, "DRIVER_MERGE_MAX_BYTES", 0)


def _terms_in_file_order(index_dir: str) -> list:
    """The live dictionary's terms, file by file in name order (the
    order of the range split), rows in file order."""
    terms_dir = table_path(index_dir, _meta(index_dir), "terms")
    files = sorted(
        f for f in os.listdir(terms_dir) if f.endswith(".parquet")
    )
    return [
        t for f in files
        for t in pq.read_table(os.path.join(terms_dir, f))["term"].to_pylist()
    ]


def _terms_bytes(index_dir: str) -> dict:
    """``{file name: bytes}`` of the live dictionary's files."""
    terms_dir = pathlib.Path(table_path(index_dir, _meta(index_dir), "terms"))
    return {f.name: f.read_bytes() for f in sorted(terms_dir.iterdir())}


def test_lifecycle_is_identical_through_both_dictionary_envelopes(
    spark, small_corpus, base_index, tmp_path, monkeypatch
):
    """The scripted scenario with every dictionary merge (upserts and
    appends, the compaction under tombstones) forced through each
    envelope: identical tables after every step, n_docs / avgdl
    bit-identical, and both dictionaries sorted by term across their
    files in UTF-8 byte order, over a corpus holding Cyrillic (``ru``)
    terms. Only the Spark envelope leaves a ``_SUCCESS`` marker."""
    steps, order = {}, {}
    for env in ENVELOPES:
        index_dir = str(tmp_path / env)
        shutil.copytree(base_index, index_dir)
        _force_dictionary(monkeypatch, env)
        steps[env] = _lifecycle(spark, small_corpus, index_dir, "driver")
        monkeypatch.undo()
        # the last merge is the tombstone compaction's (step 4): the
        # final compaction has none to purge and keeps that dictionary
        terms_dir = table_path(index_dir, _meta(index_dir), "terms")
        assert os.path.exists(os.path.join(terms_dir, "_SUCCESS")) == (
            env == "spark"
        )
        order[env] = _terms_in_file_order(index_dir)
    _assert_identical(steps)
    terms = order["driver"]
    assert any(
        any("\u0400" <= ch <= "\u04ff" for ch in t) for t in terms
    ), "no ru terms"
    assert terms == sorted(terms, key=lambda t: t.encode("utf-8"))
    assert order["spark"] == terms


def test_dictionary_commit_is_crash_atomic(
    spark, small_corpus, base_index, tmp_path, monkeypatch
):
    """Through each dictionary envelope, after recrawled urls are
    deleted, a kill between the dictionary write and the meta commit (of
    the append, then of the compaction purging the tombstones) leaves the
    live meta untouched, and the retry leaves the same tables as an
    uninterrupted run — in the driver envelope the same dictionary bytes
    too."""
    from fts_engine_spark.streaming import compact

    def boom(*a, **kw):
        raise RuntimeError("injected kill before commit")

    recrawled = _urls(spark, small_corpus)[40:100]
    batch = _batch(spark, small_corpus, 40, 100, "u1")
    for env in ENVELOPES:
        runs = {}
        for run in ("clean", "killed"):
            index_dir = runs[run] = str(tmp_path / f"{env}-{run}")
            shutil.copytree(base_index, index_dir)
            delete_documents(spark, index_dir, recrawled)
            _force_dictionary(monkeypatch, env)
            for module, name, op in (
                (incremental, "atomic_write_json",
                 lambda: incremental._append_batch(
                     spark, batch, index_dir, CFG
                 )),
                (compact, "_commit_compaction",
                 lambda: compact_index(spark, index_dir)),
            ):
                if run == "killed":
                    before = _meta(index_dir)
                    with monkeypatch.context() as m:
                        m.setattr(module, name, boom)
                        with pytest.raises(RuntimeError, match="injected"):
                            op()
                    assert _meta(index_dir) == before, name
                op()
            monkeypatch.undo()
        clean, killed = runs["clean"], runs["killed"]
        assert _meta(killed)["n_deleted"] == 0
        assert _snapshot(spark, killed) == _snapshot(spark, clean), env
        if env == "driver":
            assert _terms_bytes(killed) == _terms_bytes(clean)


def test_driver_dictionary_bytes_are_deterministic(
    spark, small_corpus, base_index, tmp_path
):
    """The same upsert and tombstone compaction on two copies of one
    index, with RDDs created between the runs (they advance the session's
    RDD counter, which seeds Spark's range-partition sample), write
    byte-identical dictionaries after each step."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for d in (a, b):
        shutil.copytree(base_index, d)
    batch = _batch(spark, small_corpus, 40, 100, "u1")
    for op in (
        lambda ix: update_documents(spark, ix, batch, CFG),
        lambda ix: compact_index(spark, ix),
    ):
        op(a)
        for _ in range(3):
            spark.sparkContext.emptyRDD()
        op(b)
        assert _terms_bytes(a) == _terms_bytes(b)


def test_batch_build_dictionary_bytes_are_deterministic(
    spark, small_corpus, tmp_path
):
    """The same corpus built twice, with RDDs created between the builds
    (they advance the session's RDD counter, which seeds Spark's
    range-partition sample), writes byte-identical dictionaries."""
    docs = spark.read.parquet(small_corpus).select("url", "text", "lang")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, docs, a, CFG, resume=False)
    for _ in range(3):
        spark.sparkContext.emptyRDD()
    build_index(spark, docs, b, CFG, resume=False)
    assert _terms_bytes(a) and _terms_bytes(a) == _terms_bytes(b)


def test_dictionary_envelope_follows_term_bytes(spark, tmp_path, monkeypatch):
    """The envelope rule weighs rows by their term bytes: two dictionaries
    of equal row count, one of 6-byte terms and one of 400-byte terms,
    with a budget between their estimates. The short one merges in the
    driver, the long one on Spark (its ``_SUCCESS`` marker), and both
    write their rows plus the delta's, summed by term."""
    import pyarrow as pa

    monkeypatch.setattr(layout, "DRIVER_MERGE_MAX_BYTES", 100_000)
    written = {}
    for pad in (0, 394):
        index_dir = str(tmp_path / f"pad{pad}")
        terms = [f"t{i:05d}" + "x" * pad for i in range(200)]
        for name, rows in (("terms", terms), ("delta", terms[:50])):
            os.makedirs(os.path.join(index_dir, name))
            pq.write_table(
                pa.table({"term": rows, "df": [1] * len(rows),
                          "cf": [2] * len(rows)}),
                os.path.join(index_dir, name, "part-0.parquet"),
            )
        inputs = [
            layout.TermDelta(os.path.join(index_dir, name), "terms")
            for name in ("terms", "delta")
        ]
        assert (layout._merge_peak_bytes(inputs) <= 100_000) == (pad == 0)
        ptr, total_cf = layout.merge_terms(spark, index_dir, {}, inputs[1:])
        out = os.path.join(index_dir, ptr["terms_dir"])
        assert os.path.exists(os.path.join(out, "_SUCCESS")) == (pad > 0)
        assert total_cf == 500
        written[pad] = [
            (r["term"][:6], r["df"], r["cf"])
            for r in layout._dataset(out, "terms").to_table().to_pylist()
        ]
    expected = [(t[:6], 2 if i < 50 else 1, 4 if i < 50 else 2)
                for i, t in enumerate(terms)]
    assert written[0] == written[394] == expected


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
