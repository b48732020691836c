"""Document deletion: logical tombstones, physically purged at compaction.

The reference engine is append-only (no ``Delete`` anywhere in
``pkg/fts``); a production index over a crawled corpus is not — takedowns,
decontamination lists (see ``operators.curation.decontaminate``) and
re-crawls all need document removal. The design follows the
Lucene/segment-file posture, re-expressed over the repo's sharded layout:

* :func:`delete_documents` resolves urls to doc ids against the docs
  table and appends them to a small ``tombstones`` parquet table,
  committed via the same versioned-dir + meta-pointer flip every other
  mutation uses (:mod:`.layout`) — crash-atomic and idempotent
  (re-deleting is a distinct-union no-op). It never touches postings:
  resolving reads the docs table's ``(doc_id, url)`` columns once and
  the write is O(tombstones). A url list resolves in the driver with
  pyarrow (no Spark job); a DataFrame of urls resolves on Spark.
* Every serving path excludes tombstoned doc ids *inside* its pruning
  boundary (the WAND kernels take the set pre-theta via the existing
  ``excl_docs`` mechanism, so top-k truncation can never resurrect a
  deleted doc; relational paths anti-join) — see ``FtsIndex._dead_*``.
* BM25 **stats stay stale until compaction** (df/cf/n_docs/avgdl still
  count deleted docs) — exactly Lucene's semantics for deleted-but-unmerged
  segments. ``compact_index`` applies tombstones physically: affected
  shards are re-encoded without the dead docs (the untouched full-shard
  prefix is still file-copied), doc ids are densely renumbered with the
  same monotone remap compaction already uses, per-term df/cf are
  corrected by the dead docs' exact contributions (an O(tail) pass), and
  avgdl/n_docs are recomputed — after which search results are
  hash-identical to a fresh build of the surviving corpus
  (tests/test_delete.py asserts this).

Scale posture: the tombstone set between compactions rides to executors
as ONE sorted int64 broadcast (8 B/entry — 10M pending deletes = 80 MB,
sent once per executor, not per task). Above
``FtsIndex.dead_broadcast_max`` pending deletes the WAND paths fall back
to the relational plan (anti-join — fully distributed, no driver array)
and the fix is to compact. Deletion volume per epoch is operator-bounded
the same way delta-shard count is.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from .checkpoint import Manifest, atomic_write_json
from .layout import (
    TABLE_SCHEMAS,
    TermDelta,
    avgdl,
    merge_terms,
    next_version_dir,
    read_table,
    table_path,
)



def read_tombstones(spark: SparkSession, index_dir: str, meta: dict) -> DataFrame | None:
    """The live tombstone table, or None when the index has none."""
    if not meta.get("tombstones_dir"):
        return None
    return read_table(spark, table_path(index_dir, meta, "tombstones"), "tombstones")


def delete_documents(
    spark: SparkSession,
    index_dir: str,
    urls: list[str] | DataFrame,
) -> dict:
    """Tombstone every index document whose url is in ``urls``.

    ``urls`` is a list (bounded, pushed into a driver-side docs scan as
    an ``isin``) or a DataFrame with a ``url`` column (unbounded — e.g. the
    output of a decontamination sweep; a plain join, so Catalyst/AQE pick
    the strategy). Unknown urls and ``None`` are ignored (SQL ``IN`` never
    matches a null); re-deleting is a no-op: when no doc id is newly
    tombstoned nothing is written and the version does not move.

    Returns ``{"matched": docs newly+already tombstoned in this url set,
    "n_new": docs newly tombstoned, "n_deleted": total live tombstones,
    "meta": committed meta}``.

    Job count: a list resolves in the driver
    (:func:`_tombstones_in_driver`: a pyarrow scan of the docs table's
    ``(doc_id, url)`` columns that keeps only the matched rows) and runs
    no Spark job. A DataFrame runs on Spark (:func:`_tombstones_on_spark`):
    one docs join, whose small matched set is persisted, one aggregate
    over it and the previous tombstones for the counts, and the table
    write over the cache.

    Commit is the standard versioned-dir + single atomic meta write; a
    crash at any point leaves the previous tombstone table (or none)
    live. Serving handles opened BEFORE the commit keep their snapshot
    (delete-invisible), exactly like every other mutation here; reopen
    ``FtsIndex`` to observe the deletes.
    """
    meta_path = os.path.join(index_dir, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    from .build import META_VERSION

    if int(meta.get("version", -1)) != META_VERSION:
        from .query import IndexVersionError

        raise IndexVersionError(
            f"index at {index_dir} has meta version {meta.get('version')}, "
            f"this build mutates version {META_VERSION}"
        )

    new_dir, _, ptr = next_version_dir(index_dir, meta, "tombstones")
    shutil.rmtree(new_dir, ignore_errors=True)
    if isinstance(urls, DataFrame):
        n_matched, n_total, n_new = _tombstones_on_spark(
            spark, index_dir, meta, urls, new_dir
        )
    else:
        n_matched, n_total, n_new = _tombstones_in_driver(
            index_dir, meta, urls, new_dir
        )
    if n_new == 0:
        # nothing newly tombstoned: no table write, no version bump.
        # With no prior tombstones this also avoids committing an empty
        # table that every relational plan would anti-join forever.
        return {
            "matched": n_matched,
            "n_new": 0,
            "n_deleted": int(meta.get("n_deleted", 0)),
            "meta": meta,
        }

    old_dir = (
        table_path(index_dir, meta, "tombstones")
        if meta.get("tombstones_dir")
        else None
    )
    old_tv = int(meta.get("table_version", 0))
    meta = dict(meta)
    meta.update(ptr)
    meta["n_deleted"] = n_total
    # a pure tombstone-add neither renumbers nor grows doc ids, so the
    # stored-fields / positions sidecars stay valid: carry a CURRENT
    # sidecar's table_version pin forward with the bump (an already-stale
    # sidecar stays stale). Both serving paths exclude tombstoned docs at
    # query time, so the tables' contents need no rewrite.
    for sidecar in ("stored", "positions"):
        sc = meta.get(sidecar)
        if sc and int(sc.get("table_version", 0)) == old_tv and int(
            sc.get("n_docs", -1)
        ) == int(meta["n_docs"]):
            sc = dict(sc)
            sc["table_version"] = int(ptr["table_version"])
            meta[sidecar] = sc
    atomic_write_json(meta_path, meta)
    Manifest(index_dir).mark_done(
        f"delete_{ptr['tombstones_dir']}", {"matched": n_matched, "n_deleted": n_total}
    )
    if old_dir and os.path.abspath(old_dir) != os.path.abspath(new_dir):
        shutil.rmtree(old_dir, ignore_errors=True)
    return {"matched": n_matched, "n_new": n_new, "n_deleted": n_total,
            "meta": meta}


def _tombstones_on_spark(
    spark: SparkSession, index_dir: str, meta: dict, urls: DataFrame,
    new_dir: str,
) -> tuple[int, int, int]:
    """The Spark envelope of the delete: resolve the ``url`` column of
    ``urls`` against the docs table, and when a doc id is newly
    tombstoned write the distinct union with the previous tombstones to
    ``new_dir``. Returns ``(matched, total, newly tombstoned)``."""
    # only (doc_id, url) are read: the pinned base schema covers them
    # whether or not the table carries meta_cols
    docs = read_table(spark, table_path(index_dir, meta, "docs"), "docs")
    url_rel = urls.select(F.col("url").cast("string")).distinct()
    matched = (
        docs.join(url_rel, "url", "left_semi").select("doc_id", "url").persist()
    )
    try:
        prev = read_tombstones(spark, index_dir, meta)
        # matched rows are distinct (doc ids are unique): over the
        # distinct union with the previous tombstones, the row count is
        # the new total, Σ max(is-matched) counts the matched rows and
        # Σ max(is-previous) the previous total
        tagged = matched.withColumn("_m", F.lit(1)).withColumn("_p", F.lit(0))
        if prev is not None:
            tagged = (
                prev.withColumn("_m", F.lit(0))
                .withColumn("_p", F.lit(1))
                .unionByName(tagged)
                .groupBy("doc_id", "url")
                .agg(F.max("_m").alias("_m"), F.max("_p").alias("_p"))
            )
        n_total, n_matched, n_prev = tagged.agg(
            F.count("*"), F.sum("_m"), F.sum("_p")
        ).first()
        n_new = int(n_total) - int(n_prev or 0)
        if n_new:
            # tombstones are tiny relative to the index (bounded per
            # epoch); a handful of files is fine and keeps the write
            # distributed
            combined = (
                matched if prev is None else prev.unionByName(matched).distinct()
            )
            combined.write.mode("overwrite").parquet(new_dir)
    finally:
        matched.unpersist()
    return int(n_matched or 0), int(n_total), n_new


def _tombstones_in_driver(
    index_dir: str, meta: dict, urls: list[str], new_dir: str
) -> tuple[int, int, int]:
    """The driver envelope of :func:`_tombstones_on_spark`, for a url
    list: the docs table's ``(doc_id, url)`` columns are scanned with
    pyarrow under the ``url`` filter, the matched rows join the previous
    tombstones with doc ids kept distinct, and the union is written as one
    snappy file under the tombstones schema. Same counts, same rows, no
    Spark job."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    # the tombstone columns are the docs table's (doc_id, url): under
    # this schema a docs scan reads only those two, meta_cols or not
    schema = to_arrow_schema(TABLE_SCHEMAS["tombstones"])

    def scan(name: str, where=None) -> pa.Table:
        path = table_path(index_dir, meta, name)
        return ds.dataset(path, format="parquet", schema=schema).to_table(
            filter=where
        )

    # SQL IN never matches a null url, but pyarrow's is_in matches a
    # null to a null: the nulls leave the value set
    values = pa.array([u for u in urls if u is not None], pa.string())
    matched = scan("docs", pc.field("url").isin(values))
    prev = (
        scan("tombstones") if meta.get("tombstones_dir") else schema.empty_table()
    )
    n_prev = len(np.unique(prev.column("doc_id").to_numpy()))
    combined = pa.concat_tables([prev, matched])
    _, first = np.unique(combined.column("doc_id").to_numpy(), return_index=True)
    n_total = len(first)
    if n_total > n_prev:
        os.makedirs(new_dir)
        pq.write_table(
            combined.take(first), os.path.join(new_dir, "part-00000.parquet"),
            compression="snappy",
        )
    return matched.num_rows, n_total, n_total - n_prev


def update_documents(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    cfg=None,
) -> dict:
    """Upsert (re-crawl): replace any already-indexed url in ``docs`` with
    its new content and insert the rest.

    Composition of the two verified mutation primitives — tombstone the
    incoming urls (:func:`delete_documents`; unknown urls are a no-op,
    making this a plain insert for them), then append the new versions as
    a delta batch (the exactly-once incremental splice). Between the two
    commits a reader sees the delete-only state — never both versions of
    a url. Old rows purge physically at the next compaction, after which
    the index is hash-identical to a fresh build of the updated corpus
    (tests/test_update.py). ``docs``: (url, text, lang) like every build
    entry point; cost O(updates), never touching unrelated postings.
    ``replaced`` counts the docs this upsert tombstoned; docs of its urls
    that an earlier upsert already tombstoned are not counted again.

    Job count: one bounded collect (``incremental._batch_head``) serves
    both halves. When it holds the whole batch, its urls go to the delete
    as a list (resolved in the driver, no job) and the batch stages in the
    driver (no ``meta_cols``, no fresh sidecar); the dictionary merges in
    the driver too (``layout.merge_terms``, within
    ``layout.DRIVER_MERGE_MAX_BYTES`` of estimated memory), so a small
    upsert runs one Spark job, the collect. A larger batch deletes by a
    join and stages through the Spark staged build.
    """
    from .build import BuildConfig
    from .streaming import incremental

    cfg = cfg or BuildConfig()
    head, whole = incremental._batch_head(docs)
    deleted = delete_documents(
        spark, index_dir,
        head.column("url").to_pylist() if whole else docs.select("url"),
    )
    incremental._append_batch(
        spark, docs, index_dir, cfg, head=(head, whole)
    )
    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    return {
        "replaced": deleted["n_new"],
        "n_deleted": int(meta.get("n_deleted", 0)),
        "meta": meta,
    }


def merge_indexes(
    spark: SparkSession,
    dst_dir: str,
    src_dir: str,
    compact_after: bool = True,
) -> dict:
    """Merge the index at ``src_dir`` INTO the index at ``dst_dir`` —
    the user-facing "merge partial segment indexes into a global index"
    operation (per-lang or per-crawl segment indexes built independently,
    unified without re-tokenizing anything).

    The splice never decodes a posting: src doc ids shift by
    ``dst.n_shards * shard_size`` — a multiple of the shard size, so every
    delta-compressed blob stays byte-valid at its new shard id (blobs
    store shard-relative deltas) and only the absolute ``skip_last_doc``
    arrays shift, a pure JVM ``transform`` over the src postings scan.
    Dictionaries delta-merge (df/cf add), docs/metrics splice in with
    shifted ids, avgdl is the merged dictionary's Σcf over the summed
    n_docs (``layout.avgdl``), and src tombstones
    (pending deletes) carry over at their shifted ids. Cost is O(src),
    independent of dst's size.

    Sidecars: when BOTH indexes carry fresh stored/positional tables,
    the merge splices the src rows at the shifted ids (stored doc_id
    shifts; positional blobs are shard-relative, so their shard_id bump
    never decodes a blob) and re-pins them in the same commit — the
    merged index keeps serving text/phrase/proximity queries. A side
    missing a sidecar leaves the merged one stale (it cannot answer for
    the other side's docs), failing loudly as usual.

    Both indexes must share META_VERSION, preset and shard_size (compact
    or rebuild the src otherwise). Commit is the single atomic meta write
    after every table write lands (same discipline as incremental
    ``_append_batch``: pre-commit orphans above the old shard high-water
    mark are cleaned on retry). ``compact_after`` (default) runs
    ``compact_index`` to close the id gap the src's partial last shard
    leaves — skip it when chaining several merges and compact once at the
    end. Returns the committed meta.
    """
    import glob

    from .layout import gate_tag
    from .streaming.incremental import _move_in_tagged

    dst_meta_path = os.path.join(dst_dir, "meta.json")
    with open(dst_meta_path) as f:
        dst = json.load(f)
    with open(os.path.join(src_dir, "meta.json")) as f:
        src = json.load(f)
    from .build import META_VERSION, meta_bloom_ndv

    for name, m in (("dst", dst), ("src", src)):
        if int(m.get("version", -1)) != META_VERSION:
            from .query import IndexVersionError

            raise IndexVersionError(
                f"{name} index has meta version {m.get('version')}, "
                f"this build merges version {META_VERSION}"
            )
    for key in ("preset", "shard_size"):
        if dst.get(key) != src.get(key):
            raise ValueError(
                f"merge_indexes requires equal {key}: dst={dst.get(key)!r} "
                f"src={src.get(key)!r} — compact/rebuild the src to match"
            )
    if list(dst.get("meta_cols", ())) != list(src.get("meta_cols", ())):
        # unioned docs tables must share one schema, or field filters on
        # the merged index would silently see NULLs for half the corpus
        raise ValueError(
            "merge_indexes requires equal meta_cols: "
            f"dst={dst.get('meta_cols', [])!r} src={src.get('meta_cols', [])!r}"
        )

    shard_size = int(dst["shard_size"])
    next_shard = int(dst["n_shards"])
    offset_docs = next_shard * shard_size
    tag = f"m{next_shard}_"

    # pre-commit crash cleanup (same as incremental._append_batch): shard
    # dirs above the committed high-water mark and tagged files are
    # orphans of a failed earlier attempt
    dst_postings = table_path(dst_dir, dst, "postings")
    for d in glob.glob(os.path.join(dst_postings, "shard_id=*")):
        try:
            if int(d.rsplit("=", 1)[1]) >= next_shard:
                shutil.rmtree(d, ignore_errors=True)
        except ValueError:
            pass
    shutil.rmtree(os.path.join(dst_postings, "_temporary"), ignore_errors=True)
    for base in ("docs", "metrics"):
        for f_ in glob.glob(
            os.path.join(table_path(dst_dir, dst, base), tag + "*")
        ):
            os.remove(f_)

    # sidecar maintenance (same discipline as the incremental splice):
    # when BOTH sides carry a fresh sidecar, the src rows splice in at
    # the shifted ids — positional blobs are shard-relative so the shift
    # never decodes them, stored rows shift doc_id — and the pins flip in
    # the single commit below. A side missing its sidecar leaves the
    # merged one stale (it cannot serve the other side's docs), loudly.
    from .positions import POSITIONS_TABLE
    from .stored import DEFAULT_ROWGROUP_BYTES, STORED_TABLE, STORED_VERSION

    def _fresh(m: dict, d: str, key: str, ver: int, table: str) -> bool:
        sc = m.get(key)
        return (
            bool(sc)
            and int(sc.get("version", 1)) == ver
            and int(sc.get("n_docs", -1)) == int(m["n_docs"])
            # batch-built pins have no table_version key: default 0
            and int(sc.get("table_version", 0))
            == int(m.get("table_version", 0))
            and os.path.isdir(os.path.join(d, table))
        )

    stored_fresh = _fresh(
        dst, dst_dir, "stored", STORED_VERSION, STORED_TABLE
    ) and _fresh(src, src_dir, "stored", STORED_VERSION, STORED_TABLE)
    positions_fresh = _fresh(
        dst, dst_dir, "positions", 1, POSITIONS_TABLE
    ) and _fresh(src, src_dir, "positions", 1, POSITIONS_TABLE)
    dst_positions = os.path.join(dst_dir, POSITIONS_TABLE)
    dst_stored = os.path.join(dst_dir, STORED_TABLE)
    if positions_fresh:
        for d in glob.glob(os.path.join(dst_positions, "shard_id=*")):
            try:
                if int(d.rsplit("=", 1)[1]) >= next_shard:
                    shutil.rmtree(d, ignore_errors=True)
            except ValueError:
                pass
        shutil.rmtree(
            os.path.join(dst_positions, "_temporary"), ignore_errors=True
        )
    if stored_fresh:
        for f_ in glob.glob(os.path.join(dst_stored, tag + "*")):
            os.remove(f_)

    # postings: shard ids += next_shard, absolute skip docids += offset;
    # blobs untouched (no Python stage at all)
    (
        read_table(spark, table_path(src_dir, src, "postings"), "postings")
        .withColumn("shard_id", F.col("shard_id").cast("long") + next_shard)
        .withColumn(
            "skip_last_doc",
            F.expr(
                f"transform(skip_last_doc, d -> d + cast({offset_docs} as bigint))"
            ),
        )
        .write.mode("append")
        .partitionBy("shard_id")
        .parquet(dst_postings)
    )

    staging = os.path.join(dst_dir, "_staging_merge")
    shutil.rmtree(staging, ignore_errors=True)
    src_docs = read_table(
        spark, table_path(src_dir, src, "docs"), "docs", src.get("meta_cols", ())
    )
    docs_delta = os.path.join(staging, "_docs_delta")
    (
        src_docs.withColumn("doc_id", F.col("doc_id") + offset_docs)
        .write.mode("overwrite")
        .parquet(docs_delta)
    )
    _move_in_tagged(docs_delta, table_path(dst_dir, dst, "docs"), tag)

    metrics_delta = os.path.join(staging, "_metrics_delta")
    (
        read_table(spark, table_path(src_dir, src, "metrics"), "metrics")
        .withColumn("shard_id", F.col("shard_id").cast("long") + next_shard)
        .write.mode("overwrite")
        .parquet(metrics_delta)
    )
    _move_in_tagged(metrics_delta, table_path(dst_dir, dst, "metrics"), tag)

    # dictionary delta-merge (df/cf add), atomic via versioned dir +
    # pointer flip
    old_terms = table_path(dst_dir, dst, "terms")
    terms_ptr, total_cf = merge_terms(
        spark, dst_dir, dst,
        [TermDelta(table_path(src_dir, src, "terms"), "terms")],
    )

    # pending deletes on either side survive the merge at shifted ids
    ptr_updates = dict(terms_ptr)
    n_deleted = int(dst.get("n_deleted", 0)) + int(src.get("n_deleted", 0))
    old_tomb = (
        table_path(dst_dir, dst, "tombstones")
        if dst.get("tombstones_dir")
        else None
    )
    if n_deleted:
        parts = []
        if dst.get("tombstones_dir"):
            parts.append(read_tombstones(spark, dst_dir, dst))
        if src.get("tombstones_dir"):
            parts.append(
                read_tombstones(spark, src_dir, src)
                .withColumn("doc_id", F.col("doc_id") + offset_docs)
            )
        combined = parts[0]
        for p in parts[1:]:
            combined = combined.unionByName(p)
        # allocate AFTER the terms pointer so the version numbers differ
        meta_after_terms = {**dst, **terms_ptr}
        new_tomb, _, tomb_ptr = next_version_dir(
            dst_dir, meta_after_terms, "tombstones"
        )
        shutil.rmtree(new_tomb, ignore_errors=True)
        combined.write.mode("overwrite").parquet(new_tomb)
        ptr_updates.update(tomb_ptr)

    if positions_fresh:
        (
            read_table(
                spark, os.path.join(src_dir, POSITIONS_TABLE), "positions"
            )
            .withColumn(
                "shard_id", F.col("shard_id").cast("long") + next_shard
            )
            .write.mode("append")
            .partitionBy("shard_id")
            .option("parquet.bloom.filter.enabled#term", "true")
            .option(
                "parquet.bloom.filter.expected.ndv#term",
                str(meta_bloom_ndv(dst)),
            )
            .parquet(dst_positions)
        )
    if stored_fresh:
        stored_delta = os.path.join(staging, "_stored_delta")
        (
            read_table(spark, os.path.join(src_dir, STORED_TABLE), "stored")
            .withColumn("doc_id", F.col("doc_id") + offset_docs)
            .write.mode("overwrite")
            .option("parquet.block.size", str(DEFAULT_ROWGROUP_BYTES))
            .parquet(stored_delta)
        )
        _move_in_tagged(stored_delta, dst_stored, tag)

    n_total = int(dst["n_docs"]) + int(src["n_docs"])
    meta = dict(dst)
    meta["avgdl"] = avgdl(total_cf, n_total)
    meta["n_docs"] = n_total
    meta["n_shards"] = next_shard + int(src["n_shards"])
    meta["n_deleted"] = n_deleted
    meta["delta_batches"] = int(meta.get("delta_batches", 0)) + 1
    meta.update(ptr_updates)
    # sidecar pins flip with the merge when both sides were fresh;
    # otherwise the old pins stay and the staleness gates (keyed on
    # n_docs + table_version) fail loudly for the merged index
    for key, fresh, ver in (
        ("stored", stored_fresh, STORED_VERSION),
        ("positions", positions_fresh, 1),
    ):
        if fresh:
            meta[key] = {
                "version": ver,
                "n_docs": n_total,
                "table_version": int(meta.get("table_version", 0)),
            }
    atomic_write_json(dst_meta_path, meta)
    if os.path.exists(old_terms):
        shutil.rmtree(old_terms, ignore_errors=True)
    if old_tomb and meta.get("tombstones_dir") != dst.get("tombstones_dir"):
        shutil.rmtree(old_tomb, ignore_errors=True)
    new_tag = gate_tag(meta)
    for g in glob.glob(os.path.join(dst_dir, "_term_gate_*")):
        if not g.endswith(new_tag):
            shutil.rmtree(g, ignore_errors=True)
    Manifest(dst_dir).mark_done(
        f"merge_{tag}", {"src": src_dir, "n_docs": int(src["n_docs"])}
    )
    shutil.rmtree(staging, ignore_errors=True)

    if compact_after:
        from .build import BuildConfig
        from .streaming.compact import compact_index

        cfg = BuildConfig(
            preset=meta["preset"],
            shard_size=shard_size,
            skip_block=int(meta.get("skip_block", BuildConfig().skip_block)),
        )
        return compact_index(spark, dst_dir, cfg)
    return meta


def reindex(
    spark: SparkSession,
    src_index_dir: str,
    dst_index_dir: str,
    cfg,
    resume: bool = False,
):
    """Elasticsearch ``_reindex`` analog: rebuild the corpus under a NEW
    ``BuildConfig`` — different analyzer preset, shard_size, sidecars,
    filters — from the index's own stored-fields sidecar, with no access
    to the original source table. The crawler's table can be archived or
    re-laid-out; the index stays self-sufficient, exactly the operational
    property Lucene stored fields exist for.

    Semantics: the stored text is byte-identical to what the source build
    tokenized (:mod:`.stored`), so ``reindex(src, dst, cfg2)`` produces an
    index IDENTICAL in results to ``build_index(original_docs, dst,
    cfg2)`` — asserted in tests/test_reindex.py — with one deliberate
    difference: pending tombstones are EXCLUDED (a reindex is a fresh
    start; logical deletes become physical, like ``_reindex`` from an
    index with deleted docs). Columns named in ``cfg.meta_cols`` are
    pulled from the source docs table (the stored sidecar carries only
    url/text/lang) via one doc_id equi-join.

    Scale: input is the range-partitioned stored table — a full scan laid
    out in contiguous doc_id runs, pruned nothing (a reindex reads the
    corpus by definition) but already columnar and already clean; the
    build itself is the standard one-wide-shuffle DAG. Raises
    :class:`..stored.StoredFieldsUnavailableError` when the sidecar is
    absent or stale (a mutation renumbered ids after it was written).
    """
    from .build import build_index
    from .query import FtsIndex
    from .stored import _checked_path

    src_abs = os.path.abspath(src_index_dir)
    if os.path.abspath(dst_index_dir) == src_abs:
        raise ValueError("reindex cannot target the source index dir")
    src = FtsIndex(spark, src_index_dir)
    stored_path = _checked_path(src)
    docs = read_table(spark, stored_path, "stored").select(
        "doc_id", "url", "text", "lang"
    )
    meta_cols = tuple(getattr(cfg, "meta_cols", ()) or ())
    if meta_cols:
        src_docs = src.docs()
        missing = [c for c in meta_cols if c not in src_docs.columns]
        if missing:
            raise ValueError(
                f"meta_cols {missing} are not source docs-table columns "
                f"(have: {src_docs.columns})"
            )
        docs = docs.join(
            src_docs.select("doc_id", *meta_cols), "doc_id"
        )
    ts = src.tombstones()
    if ts is not None:
        docs = docs.join(ts.select("doc_id"), "doc_id", "left_anti")
    return build_index(
        spark, docs.drop("doc_id"), dst_index_dir, cfg, resume=resume
    )
