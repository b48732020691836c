"""Document deletion (mutate.delete_documents): logical tombstones excluded
on every serving path, physically purged at compaction with exact stat
correction — compacted results hash-identical to a fresh build of the
surviving corpus. An extension beyond the append-only reference engine
(no Delete anywhere in pkg/fts); Lucene deleted-doc semantics."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fts_engine_spark.build import BuildConfig, build_index
from fts_engine_spark.checkpoint import atomic_write_json
from fts_engine_spark.engine import EngineOptions, FtsEngine
from fts_engine_spark.mutate import delete_documents
from fts_engine_spark.query import FtsIndex
from fts_engine_spark.streaming.compact import compact_index
from fts_engine_spark.streaming.incremental import _append_batch

from .oracle import dictionary_avgdl

CFG = BuildConfig(preset="simple", shard_size=64, id_buckets=4, n_waves=1)
QUERIES = ["alpha w12", "epsilon gamma", "w12 delta", "w10 w11 beta"]


def _docs(spark, n, start=0, skip: set[int] | None = None):
    rows = [
        (
            f"doc://{i}",
            f"alpha beta w{i % 7} w{i % 13} gamma delta w{i % 5} "
            f"{'epsilon ' * (i % 3)}",
            "en",
        )
        for i in range(start, start + n)
        if not skip or i not in skip
    ]
    return spark.createDataFrame(rows, "url string, text string, lang string")


def _results(fts: FtsIndex, mode="wand", k=10, **kw):
    out = {}
    for q in QUERIES:
        rows = fts.search_bm25(q, k=k, mode=mode, hydrate=True, **kw).collect()
        out[q] = [(r["url"], round(float(r["score"]), 9)) for r in rows]
    return out


DEAD = {3, 7, 64, 65, 130, 131, 132, 199}  # spans prefix + several shards


@pytest.fixture(scope="module")
def deleted_index(spark, tmp_path_factory):
    """200-doc build (shards 0-2 full, 3 partial) with 8 urls tombstoned,
    including docs inside full prefix shards."""
    index_dir = str(tmp_path_factory.mktemp("del_ix"))
    build_index(spark, _docs(spark, 200), index_dir, CFG, resume=False)
    out = delete_documents(
        spark, index_dir, [f"doc://{i}" for i in sorted(DEAD)]
    )
    assert out["matched"] == len(DEAD)
    assert out["n_deleted"] == len(DEAD)
    return index_dir


def test_tombstones_excluded_on_every_serving_path(spark, deleted_index):
    fts = FtsIndex(spark, deleted_index)
    dead_urls = {f"doc://{i}" for i in DEAD}

    # wand + relational agree with each other and never surface dead docs
    wand = _results(fts)
    rel = _results(fts, mode="relational")
    assert wand == rel
    for q, rows in wand.items():
        assert rows, q
        assert not ({u for u, _ in rows} & dead_urls)

    # conjunctive + NOT compose with tombstones
    both = fts.search_bm25(
        "alpha gamma", k=0, conjunctive=True, exclude="epsilon", hydrate=True
    ).collect()
    assert both and not ({r["url"] for r in both} & dead_urls)

    # batch kernel
    batch = fts.search_bm25_batch(QUERIES, k=10)
    ids = {int(r["doc_id"]) for r in batch.collect()}
    dead_ids = {
        int(r["doc_id"])
        for r in fts.docs().where(F.col("url").isin(list(dead_urls))).collect()
    }
    assert dead_ids and not (ids & dead_ids)

    # reference scorer
    ref = fts.search_reference("alpha w3", k=0, hydrate=True).collect()
    assert ref and not ({r["url"] for r in ref} & dead_urls)

    # pre-truncation total shrinks by exactly the dead matches
    full = fts.search_full("alpha", k=5)
    n_docs_live = 200 - len(DEAD)
    assert full.total_results_count == n_docs_live  # 'alpha' in every doc

    # point tier serves bit-identically to the distributed path
    fts.warm().enable_point_serving()
    try:
        for q in QUERIES:
            pt = fts.search_bm25_point(q, k=10)
            dist = [
                (int(r["doc_id"]), float(r["score"]))
                for r in fts.search_bm25(q, k=10).collect()
            ]
            assert pt == dist
            assert not ({d for d, _ in pt} & dead_ids)
    finally:
        fts.close()


def test_delete_is_idempotent_and_ignores_unknown_urls(spark, deleted_index):
    out = delete_documents(
        spark, deleted_index, ["doc://3", "doc://nope", "doc://7"]
    )
    assert out["matched"] == 2  # already-tombstoned urls still match...
    assert out["n_deleted"] == len(DEAD)  # ...but the distinct set is stable


def test_scores_match_filtered_scoring_with_stale_stats(
    spark, deleted_index, tmp_path
):
    """Pre-compaction semantics pinned: dead docs are EXCLUDED but stats
    (df/n_docs/avgdl) still count them — so each surviving doc scores
    exactly what it scored BEFORE the delete (Lucene
    deleted-but-unmerged), not what a fresh build of the survivors would
    give it."""
    full_dir = str(tmp_path / "full")
    build_index(spark, _docs(spark, 200), full_dir, CFG, resume=False)
    full = FtsIndex(spark, full_dir)
    fts = FtsIndex(spark, deleted_index)
    dead_urls = {f"doc://{i}" for i in DEAD}
    for q in QUERIES:
        pre = [
            (r["url"], round(float(r["score"]), 9))
            for r in full.search_bm25(q, k=0, hydrate=True).collect()
        ]
        want = [x for x in pre if x[0] not in dead_urls][:10]
        assert _results(fts)[q] == want


def test_compaction_purges_and_matches_fresh_build(
    spark, deleted_index, tmp_path
):
    meta = compact_index(spark, deleted_index, CFG)
    n_live = 200 - len(DEAD)
    assert meta["n_docs"] == n_live
    assert meta["avgdl"] == dictionary_avgdl(deleted_index)
    assert meta.get("n_deleted", 0) == 0
    assert "tombstones_dir" not in meta
    assert meta["n_shards"] == -(-n_live // 64)

    fts = FtsIndex(spark, deleted_index)
    # ids are dense 0..n_live-1 again
    ids = sorted(r["doc_id"] for r in fts.docs().select("doc_id").collect())
    assert ids == list(range(n_live))

    # hash-identical to a FRESH build of the surviving corpus: same urls,
    # same doc ids (assign_doc_ids ranks by a subset-stable order), same
    # scores, same dictionary
    fresh_dir = str(tmp_path / "fresh")
    build_index(
        spark, _docs(spark, 200, skip=DEAD), fresh_dir, CFG, resume=False
    )
    fresh = FtsIndex(spark, fresh_dir)
    assert fts.n_docs == fresh.n_docs and fts.avgdl == fresh.avgdl
    assert _results(fts) == _results(fresh)

    ours = {
        (r["doc_id"], r["url"])
        for r in fts.docs().select("doc_id", "url").collect()
    }
    theirs = {
        (r["doc_id"], r["url"])
        for r in fresh.docs().select("doc_id", "url").collect()
    }
    assert ours == theirs

    terms_a = {
        (r["term"], r["df"], r["cf"])
        for r in spark.read.parquet(fts._terms_path).collect()
    }
    terms_b = {
        (r["term"], r["df"], r["cf"])
        for r in spark.read.parquet(fresh._terms_path).collect()
    }
    assert terms_a == terms_b


def test_delete_then_append_then_compact(spark, tmp_path):
    """Deletes compose with incremental appends: tombstones in the base,
    delta shards on top, one compaction settles both."""
    index_dir = str(tmp_path / "ix")
    build_index(spark, _docs(spark, 130), index_dir, CFG, resume=False)
    delete_documents(spark, index_dir, ["doc://0", "doc://100", "doc://129"])
    _append_batch(spark, _docs(spark, 30, start=130), index_dir, CFG)
    meta = compact_index(spark, index_dir, CFG)
    assert meta["n_docs"] == 157

    fresh_dir = str(tmp_path / "fresh")
    build_index(
        spark,
        _docs(spark, 160, skip={0, 100, 129}),
        fresh_dir,
        CFG,
        resume=False,
    )
    fts, fresh = FtsIndex(spark, index_dir), FtsIndex(spark, fresh_dir)
    assert fts.avgdl == fresh.avgdl
    # appended docs carry different engine ids than a fresh interleaved
    # build assigns (the incremental path numbers them after the base), so
    # compare tie-insensitively: full result set, (score, url)-sorted
    a, b = _results(fts, k=0), _results(fresh, k=0)
    key = lambda rows: sorted(rows, key=lambda x: (-x[1], x[0]))
    assert {q: key(r) for q, r in a.items()} == {q: key(r) for q, r in b.items()}


def test_engine_api_and_stats(spark, tmp_path):
    index_dir = str(tmp_path / "eix")
    eng = FtsEngine(
        spark, index_dir,
        options=EngineOptions(preset="simple", shard_size=64, id_buckets=4),
    )
    eng.index_documents(_docs(spark, 100), resume=False)
    out = eng.delete_documents(["doc://1", "doc://2"])
    assert out["n_deleted"] == 2
    s = eng.stats()
    assert s["n_deleted"] == 2 and s["n_docs"] == 100  # stale until compact
    top = eng.search("alpha", k=0, hydrate=True).collect()
    assert {r["url"] for r in top}.isdisjoint({"doc://1", "doc://2"})
    eng.compact()
    s = eng.stats()
    assert s["n_deleted"] == 0 and s["n_docs"] == 98


def test_delete_commit_is_crash_atomic(spark, tmp_path, monkeypatch):
    """A delete killed after its tombstone write and before the meta
    commit leaves the live meta and the previous tombstones untouched; the
    retry commits the rows the killed attempt wrote. Through both
    envelopes (a url list resolves in the driver, a DataFrame on Spark)."""
    import fts_engine_spark.mutate as mutate_mod

    for envelope in ("driver", "spark"):
        with monkeypatch.context() as mp:
            index_dir = str(tmp_path / envelope)
            build_index(spark, _docs(spark, 80), index_dir, CFG, resume=False)

            def urls(*u):
                if envelope == "spark":
                    return spark.createDataFrame([(x,) for x in u], "url string")
                return list(u)

            delete_documents(spark, index_dir, urls("doc://3"))
            with open(os.path.join(index_dir, "meta.json")) as f:
                meta0 = json.load(f)
            fts0 = FtsIndex(spark, index_dir)
            old_rows = sorted(map(tuple, fts0.tombstones().collect()))
            new_dir = os.path.join(
                index_dir, f"tombstones_v{int(meta0['table_version']) + 1}"
            )
            written = []

            def boom(*a, **k):
                t = pq.read_table(new_dir, columns=["doc_id", "url"])
                written.extend(zip(t["doc_id"].to_pylist(), t["url"].to_pylist()))
                raise RuntimeError("injected kill before delete commit")

            mp.setattr(mutate_mod, "atomic_write_json", boom)
            with pytest.raises(RuntimeError, match="injected kill"):
                delete_documents(spark, index_dir, urls("doc://5"))
            with open(os.path.join(index_dir, "meta.json")) as f:
                assert json.load(f) == meta0, envelope  # live meta untouched
            assert sorted(map(tuple, fts0.tombstones().collect())) == old_rows
            mp.setattr(mutate_mod, "atomic_write_json", atomic_write_json)

            out = delete_documents(spark, index_dir, urls("doc://5"))
            assert out["n_deleted"] == 2 and out["matched"] == 1
            rows = sorted(
                map(tuple, FtsIndex(spark, index_dir).tombstones().collect())
            )
            assert sorted(u for _, u in rows) == ["doc://3", "doc://5"]
            assert rows == sorted(written), envelope


def test_noop_delete_commits_nothing(spark, tmp_path):
    """Unknown urls on an index with no prior tombstones: no empty
    tombstone table, no table_version bump (an empty table would stale
    the sidecars and anti-join every relational plan forever)."""
    index_dir = str(tmp_path / "nix")
    build_index(spark, _docs(spark, 64), index_dir, CFG, resume=False)
    with open(os.path.join(index_dir, "meta.json")) as f:
        meta0 = json.load(f)
    out = delete_documents(spark, index_dir, ["unknown://url"])
    assert out["matched"] == 0 and out["n_deleted"] == 0
    with open(os.path.join(index_dir, "meta.json")) as f:
        assert json.load(f) == meta0
    assert "tombstones_dir" not in out["meta"]


def test_delete_preserves_current_sidecars(spark, tmp_path):
    """A pure tombstone-add neither renumbers nor grows doc ids, so a
    CURRENT stored-fields / positions sidecar must stay servable after
    the delete (both paths exclude tombstoned docs at query time)."""
    from fts_engine_spark.positions import add_positions_to_index
    from fts_engine_spark.stored import add_stored_fields

    index_dir = str(tmp_path / "six")
    docs = _docs(spark, 64)
    build_index(spark, docs, index_dir, CFG, resume=False)
    add_stored_fields(spark, index_dir, docs)
    add_positions_to_index(spark, index_dir, docs)

    delete_documents(spark, index_dir, ["doc://1"])
    fts = FtsIndex(spark, index_dir)
    # stored: still servable, correct text for a live doc
    live = fts.docs().where(F.col("url") == "doc://2").collect()[0]["doc_id"]
    rows = fts.stored_text([int(live)]).collect()
    assert len(rows) == 1 and rows[0]["text"].startswith("alpha beta")
    # positions: still servable, excludes the tombstoned doc
    hits = fts.search_phrase_positional("alpha beta", k=0).collect()
    assert hits and "doc://1" not in {r["url"] for r in hits}

    # an append now EXTENDS fresh sidecars (r5-cont maintenance): the
    # new docs are stored-servable and phrase-searchable immediately
    _append_batch(spark, _docs(spark, 8, start=64), index_dir, CFG)
    fts2 = FtsIndex(spark, index_dir)
    new_id = fts2.docs().where(F.col("url") == "doc://64").collect()[0][
        "doc_id"
    ]
    rows = fts2.stored_text([int(new_id)]).collect()
    assert len(rows) == 1 and rows[0]["text"].startswith("alpha beta w1")
    hits = {
        r["url"]
        for r in fts2.search_phrase_positional("alpha beta", k=0).collect()
    }
    assert "doc://64" in hits and "doc://1" not in hits and len(hits) == 71


def test_engine_mutations_close_the_old_handle(spark, tmp_path):
    """Mutations must close() the open index (unpersist warm caches,
    restore the AQE session conf) — dropping the reference alone strands
    both for the rest of the session."""
    index_dir = str(tmp_path / "clix")
    eng = FtsEngine(
        spark, index_dir,
        options=EngineOptions(preset="simple", shard_size=64, id_buckets=4),
    )
    eng.index_documents(_docs(spark, 64), resume=False)
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    eng.index.warm()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    old_handle = eng._index
    eng.delete_documents(["doc://3"])
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before
    assert eng._index is None and not old_handle._warm


def test_compaction_maintains_sidecars(spark, tmp_path):
    """Delete -> compact with maintain_sidecars (the default): the
    stored-fields table is renumbered with the compaction's own remap
    (no tokenize) and the positional table is rebuilt from it, so BOTH
    sidecars keep serving — and their contents equal a fresh build +
    retrofit over the surviving corpus."""
    from fts_engine_spark.positions import add_positions_to_index
    from fts_engine_spark.stored import add_stored_fields

    index_dir = str(tmp_path / "mix")
    docs = _docs(spark, 200)
    build_index(spark, docs, index_dir, CFG, resume=False)
    add_stored_fields(spark, index_dir, docs)
    add_positions_to_index(spark, index_dir, docs)
    delete_documents(spark, index_dir, [f"doc://{i}" for i in DEAD])

    compact_index(spark, index_dir, CFG)  # maintain_sidecars default True
    fts = FtsIndex(spark, index_dir)

    # stored: servable post-compaction, ids renumbered correctly — the
    # text fetched for a renumbered id belongs to that id's url
    pairs = {
        int(r["doc_id"]): r["url"]
        for r in fts.docs().select("doc_id", "url").collect()
    }
    probe = sorted(pairs)[:5] + sorted(pairs)[-5:]
    for r in fts.stored_text(probe).collect():
        url = pairs[int(r["doc_id"])]
        i = int(url[6:])
        assert r["text"].startswith("alpha beta w%d" % (i % 7)), url
    # dead urls are gone from the stored table
    stored_urls = {
        r["url"]
        for r in spark.read.parquet(index_dir + "/stored").collect()
    }
    assert stored_urls == {f"doc://{i}" for i in range(200) if i not in DEAD}

    # positions: servable post-compaction and identical (by url) to a
    # fresh build + retrofit of the surviving corpus
    surv = _docs(spark, 200, skip=DEAD)
    fresh_dir = str(tmp_path / "freshpos")
    build_index(spark, surv, fresh_dir, CFG, resume=False)
    add_positions_to_index(spark, fresh_dir, surv)
    fresh = FtsIndex(spark, fresh_dir)
    for phrase in ("alpha beta", "gamma delta", "beta w1"):
        ours = {
            (r["url"], int(r["phrase_count"]))
            for r in fts.search_phrase_positional(phrase, k=0).collect()
        }
        theirs = {
            (r["url"], int(r["phrase_count"]))
            for r in fresh.search_phrase_positional(phrase, k=0).collect()
        }
        assert ours == theirs and ours, phrase
    # span-near rides the same rebuilt table
    got = {
        (r["url"], int(r["near_count"]))
        for r in fts.search_near_positional("alpha gamma", 2, k=0).collect()
    }
    want = {
        (r["url"], int(r["near_count"]))
        for r in fresh.search_near_positional("alpha gamma", 2, k=0).collect()
    }
    assert got == want and got


def test_compaction_sidecar_maintenance_opt_out_and_stale_in(spark, tmp_path):
    """maintain_sidecars=False leaves both sidecars stale (loud errors,
    the pre-r5 behavior); a sidecar that was ALREADY stale going into
    the compaction stays stale even with maintenance on (positions
    without a stored text source cannot be rebuilt)."""
    from fts_engine_spark.positions import (
        PositionsUnavailableError,
        add_positions_to_index,
    )
    from fts_engine_spark.stored import (
        StoredFieldsUnavailableError,
        add_stored_fields,
    )

    # opt-out: both stale after compaction
    d1 = str(tmp_path / "optout")
    docs = _docs(spark, 96)
    build_index(spark, docs, d1, CFG, resume=False)
    add_stored_fields(spark, d1, docs)
    add_positions_to_index(spark, d1, docs)
    delete_documents(spark, d1, ["doc://3"])
    compact_index(spark, d1, CFG, maintain_sidecars=False)
    fts1 = FtsIndex(spark, d1)
    with pytest.raises(StoredFieldsUnavailableError, match="stale"):
        fts1.stored_text([0])
    with pytest.raises(PositionsUnavailableError, match="stale"):
        fts1.search_phrase_positional("alpha beta", k=1)

    # positions WITHOUT stored: no text source -> stays stale, loudly
    d2 = str(tmp_path / "posonly")
    build_index(spark, docs, d2, CFG, resume=False)
    add_positions_to_index(spark, d2, docs)
    delete_documents(spark, d2, ["doc://3"])
    compact_index(spark, d2, CFG)
    fts2 = FtsIndex(spark, d2)
    with pytest.raises(PositionsUnavailableError, match="stale"):
        fts2.search_phrase_positional("alpha beta", k=1)


def test_sidecar_compaction_with_duplicate_urls(spark, tmp_path):
    """Sidecar-maintained compaction must not depend on url uniqueness:
    append-only semantics allow re-adding an existing url (each copy is
    a distinct document), and the positional rebuild used to round-trip
    through add_positions_to_index's url join — ambiguous under
    duplicates, so the whole compaction aborted on the retrofit's count
    check (the exact failure the bench's compact_6000_sidecars row hit,
    whose delta tail is drawn from the same corpus as the base index).
    Now the rebuild reads (doc_id, text) straight off the remapped
    stored table."""
    from fts_engine_spark.positions import add_positions_to_index
    from fts_engine_spark.stored import add_stored_fields

    d = str(tmp_path / "dupix")
    docs = _docs(spark, 100)
    build_index(spark, docs, d, CFG, resume=False)
    add_stored_fields(spark, d, docs)
    add_positions_to_index(spark, d, docs)
    _append_batch(
        spark, docs.limit(40), d, CFG, batch_id=0, stream_id="dup"
    )

    compact_index(spark, d, CFG)  # maintain_sidecars default True

    fts = FtsIndex(spark, d)
    # every doc (both copies of a re-added url) holds one "alpha beta"
    rows = fts.search_phrase_positional("alpha beta", k=0).collect()
    assert len(rows) == 140
    per_url: dict[str, int] = {}
    for r in rows:
        assert int(r["phrase_count"]) == 1
        per_url[r["url"]] = per_url.get(r["url"], 0) + 1
    for i in range(100):
        assert per_url[f"doc://{i}"] == (2 if i < 40 else 1)
    # stored text still attaches to the right ids post-remap
    pairs = {
        int(r["doc_id"]): r["url"]
        for r in fts.docs().select("doc_id", "url").collect()
    }
    probe = sorted(pairs)[:3] + sorted(pairs)[-3:]
    for r in fts.stored_text(probe).collect():
        i = int(pairs[int(r["doc_id"])][6:])
        assert r["text"].startswith("alpha beta w%d" % (i % 7))
