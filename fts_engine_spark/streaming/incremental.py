"""Structured Streaming: incremental index ingest + watermarked ingest stats.

The reference is strictly batch (SURVEY.md §2.9) — its only "incremental"
feature is snapshot load-skip-rebuild. This module is the Spark-native
extension a web-scale deployment needs: newly crawled pages arrive as files
in a landing directory; each micro-batch becomes a fresh **delta shard
range** appended to the same index layout the batch engine built, so the
query side (`FtsIndex`) picks new documents up with zero changes — shards
are the unit of both skew control and incremental growth.

Docid discipline: a batch's documents get ids starting at the next
shard_size-aligned boundary after the current high-water mark (gap < one
shard, recorded in meta). Ids never collide with existing shards, deltas
are delta/varbyte-encodable, and determinism holds within each batch.

``ingest_stats`` is the canonical watermark + windowed aggregation over the
page stream (late pages tolerated up to the watermark horizon).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..build import (
    _MIN_TOKENIZE_TASK_DOCS,
    BuildConfig,
    build_index,
    stage_in_driver,
)
from ..checkpoint import Manifest, atomic_write_json
from ..layout import TermDelta, avgdl, merge_terms, table_path

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

# a batch of at most this many docs stages in the driver: the Spark staged
# build would tokenize it in one task anyway (assign_doc_ids sizes its
# partitions by the same constant), so its jobs would be all fixed cost
_DRIVER_STAGE_MAX_DOCS = _MIN_TOKENIZE_TASK_DOCS


def _checkpoint_stream_id(spark: SparkSession, checkpoint_dir: str) -> str:
    """Epoch identity = the streaming query id Spark PERSISTS inside the
    checkpoint (``<ckpt>/metadata``). Batch ids are unique only within one
    checkpoint lifetime — Spark's id is regenerated exactly when batch
    numbering restarts, so (id, batch_id) is collision-free across
    checkpoint resets AND stable across restarts of the same checkpoint.
    Read lazily at batch time (the file exists before the first
    micro-batch runs): local ``open()`` first, then the Hadoop FS API for
    remote checkpoint stores (hdfs://, s3a://, ...). NO silent fallback —
    a path hash would survive a checkpoint reset, so a new stream at the
    same path whose batch id equals the committed ``last_epoch`` would be
    silently skipped (data loss, ADVICE r4 #1). If the id cannot be read,
    fail loudly and tell the caller to pass an explicit ``stream_id``."""
    meta_file = os.path.join(checkpoint_dir, "metadata")
    try:
        with open(meta_file) as f:
            qid = json.load(f).get("id")
        if qid:
            return str(qid)
    except OSError:
        # not a local path — go through the Hadoop FS API
        try:
            jvm = spark._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(meta_file)
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            stream = fs.open(jpath)
            try:
                reader = jvm.java.io.BufferedReader(
                    jvm.java.io.InputStreamReader(stream, "UTF-8")
                )
                lines = []
                while True:
                    line = reader.readLine()
                    if line is None:
                        break
                    lines.append(line)
            finally:
                stream.close()
            qid = json.loads("\n".join(lines)).get("id")
            if qid:
                return str(qid)
        except Exception:
            pass
    except ValueError:
        pass
    raise RuntimeError(
        f"cannot read the streaming query id from {meta_file}; exactly-once "
        "epoch identity needs it (a path-derived fallback would survive a "
        "checkpoint reset and silently skip a colliding batch id). Pass an "
        "explicit stream_id= to incremental_index, unique per checkpoint "
        "lifetime."
    )


def _move_in_tagged(src_dir: str, target_dir: str, tag: str) -> None:
    """Move a written delta's parquet part files into a live table dir
    under deterministic ``{tag}{i}.parquet`` names — a retry after a
    pre-commit crash can then FIND and remove the orphans (a blind
    ``mode("append")`` write leaves unidentifiable duplicates)."""
    import glob

    os.makedirs(target_dir, exist_ok=True)
    parts = sorted(glob.glob(os.path.join(src_dir, "*.parquet")))
    for i, f in enumerate(parts):
        os.replace(f, os.path.join(target_dir, f"{tag}{i:05d}.parquet"))


def stream_pages(spark: SparkSession, input_dir: str, fmt: str = "parquet") -> DataFrame:
    """readStream over a landing directory of page files."""
    return (
        spark.readStream.format(fmt)
        .schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .load(input_dir)
    )


def _batch_head(batch_df: DataFrame):
    """``(head, whole)``: at most ``_DRIVER_STAGE_MAX_DOCS + 1`` rows of
    ``(url, text, lang, _h = xxhash64(url))`` as an Arrow table, and
    whether they are the whole batch, small enough to stage in the driver.
    One job of one task: ``coalesce(1)`` makes the limit a
    single-partition collect with no exchange, and a ``text`` derived from
    ``html`` is extracted inside that task."""
    head = (
        batch_df.select("url", "text", "lang", F.xxhash64("url").alias("_h"))
        .coalesce(1)
        .limit(_DRIVER_STAGE_MAX_DOCS + 1)
        .toArrow()
    )
    return head, head.num_rows <= _DRIVER_STAGE_MAX_DOCS


def _stage_batch(
    spark: SparkSession, batch_df: DataFrame, head, staging: str,
    cfg: BuildConfig, first_shard: int,
) -> dict:
    """Stage the batch at its final ids under ``staging``: in the driver
    when ``head`` holds the whole batch (:func:`..build.stage_in_driver`),
    else through the Spark staged build. Both write the same layout and
    return the staged ``n_docs`` / ``n_shards``."""
    if head is not None:
        return stage_in_driver(head, staging, cfg, first_shard)
    return build_index(
        spark, batch_df, staging, cfg, resume=False, _first_shard=first_shard
    )


def _append_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    index_dir: str,
    cfg: BuildConfig,
    compact_every: int | None = None,
    batch_id: int | None = None,
    stream_id: str = "default",
    compact_keep_old: bool = False,
    *,
    head=None,
) -> None:
    """foreachBatch body: build the micro-batch as delta shards appended to
    ``index_dir``. The batch is staged in a staging dir, numbered from the
    next free shard, so every staged table already holds its final ids:
    the splice MOVES the staged postings shard dirs and the docs, metrics
    and sidecar files into the live tables (``os.replace`` /
    :func:`_move_in_tagged`) — no Spark job re-reads or re-writes them.
    Only the term dictionary is re-written: the staged build writes none,
    and :func:`..layout.merge_terms` folds the staged postings'
    ``count``/``tf_sum`` into the live one before they move — in the
    driver with pyarrow (no Spark job) while its estimated memory over the
    live and staged rows fits ``layout.DRIVER_MERGE_MAX_BYTES``, else on
    Spark. avgdl is the merged dictionary's Σcf over the new n_docs
    (``layout.avgdl``), so the staging computes none; every read pins its
    schema (no inference). A driver-staged batch therefore runs one Spark
    job, the collect.

    Two staging envelopes, one kernel (:func:`_stage_batch`). The append
    first collects at most ``_DRIVER_STAGE_MAX_DOCS + 1`` batch rows in
    one Spark job (an empty batch returns there). A batch that fits, has
    no ``meta_cols`` and has no fresh sidecar to extend stages in the
    driver from those rows (``build.stage_in_driver``: the build's id
    rule, tokenize pair function and postings encoder, written with
    pyarrow). Any other batch runs the Spark staged build
    (``build_index``'s internal ``_first_shard``). The manifest's
    ``delta_batch_N`` entry records which envelope ran. A caller that
    already collected them with :func:`_batch_head` (an upsert, whose
    delete reads their urls) passes its result as ``head``, so the batch
    is read once.

    EXACTLY-ONCE under foreachBatch retries: Structured Streaming re-runs
    a micro-batch after a crash, so the splice must be idempotent —
    (1) a batch whose (stream id, batch id) pair equals the committed
    ``last_epoch`` is a no-op (the crash happened after the commit);
    (2) before splicing, orphan artifacts of a PRE-commit crash are
    removed deterministically: postings (and positional) shard dirs at
    ids >= the committed ``n_shards``, and docs/metrics/stored delta
    files carrying this splice's ``e{next_shard}_`` name tag (deltas are
    moved in as tagged files, not blind parquet appends, precisely so a
    retry can find them). Every mutation before the single committing
    ``atomic_write_json`` is therefore re-runnable.

    Sidecar maintenance: a stored-fields / positional sidecar that is
    FRESH going in is EXTENDED by the batch — the staged build produces
    the batch's sidecar rows at their final ids, the splice moves them
    in, and the pins flip to the new (n_docs, table_version)
    inside the same commit. A stale sidecar stays stale and keeps
    failing loudly (retrofit to re-enable maintenance).

    ``compact_every``: after the commit, when ``delta_batches`` reaches
    this count, run :func:`..compact.compact_index` — bounds shard-count
    growth (and therefore warm-cache task count) of a long-running ingest
    without an external scheduler. Compaction commits atomically, so a
    crash inside it never harms the just-committed append.
    """
    head, whole = head if head is not None else _batch_head(batch_df)
    if not head.num_rows:
        return
    meta_path = os.path.join(index_dir, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    from ..build import META_VERSION

    if int(meta.get("version", -1)) != META_VERSION:
        # fail BEFORE mutating: splicing current-format rows into an
        # older-format postings table would mix schemas silently
        from ..query import IndexVersionError

        raise IndexVersionError(
            f"index at {index_dir} has meta version {meta.get('version')}, "
            f"this build appends version {META_VERSION} rows — rebuild or "
            "migrate before ingesting"
        )
    shard_size = int(meta["shard_size"])
    next_shard = int(meta["n_shards"])
    # epoch identity = (stream, batch): micro-batch ids RESTART at 0 for
    # every new checkpoint, so the id alone would drop the first batch of
    # a later stream whose id collides with this one's last commit
    if batch_id is not None and meta.get("last_epoch") == [stream_id, batch_id]:
        return  # retry of an already-committed epoch

    staging = os.path.join(index_dir, "_staging_batch")
    import glob
    import shutil

    shutil.rmtree(staging, ignore_errors=True)
    # pre-commit crash cleanup: shard dirs above the committed high-water
    # mark and tagged delta files can only be orphans of a failed attempt
    postings_dir = table_path(index_dir, meta, "postings")
    for d in glob.glob(os.path.join(postings_dir, "shard_id=*")):
        try:
            if int(d.rsplit("=", 1)[1]) >= next_shard:
                shutil.rmtree(d, ignore_errors=True)
        except ValueError:
            pass
    tag = f"e{next_shard}_"
    for base in ("docs", "metrics"):
        for f_ in glob.glob(
            os.path.join(table_path(index_dir, meta, base), tag + "*")
        ):
            os.remove(f_)

    # sidecar maintenance (mirrors compaction's): a FRESH stored-fields /
    # positional sidecar is EXTENDED by this batch — the staged build
    # produces the batch's sidecar rows at their final ids and the splice
    # moves them in. Stale-in stays stale-out. Cleanup below follows the
    # same orphan discipline: positional shard dirs >= next_shard and
    # tagged stored files can only be pre-commit orphans.
    from ..positions import POSITIONS_TABLE
    from ..stored import STORED_TABLE, STORED_VERSION

    def _sidecar_fresh(key: str, version: int) -> bool:
        sc = meta.get(key)
        return (
            bool(sc)
            and int(sc.get("version", 1)) == version
            and int(sc.get("n_docs", -1)) == int(meta["n_docs"])
            # a batch-built pin has no table_version key: default 0, the
            # same default the serving staleness gates use
            and int(sc.get("table_version", 0))
            == int(meta.get("table_version", 0))
        )

    stored_dir = os.path.join(index_dir, STORED_TABLE)
    positions_dir = os.path.join(index_dir, POSITIONS_TABLE)
    stored_fresh = _sidecar_fresh("stored", STORED_VERSION) and os.path.isdir(
        stored_dir
    )
    positions_fresh = _sidecar_fresh("positions", 1) and os.path.isdir(
        positions_dir
    )
    if positions_fresh:
        for d in glob.glob(os.path.join(positions_dir, "shard_id=*")):
            try:
                if int(d.rsplit("=", 1)[1]) >= next_shard:
                    shutil.rmtree(d, ignore_errors=True)
            except ValueError:
                pass
    if stored_fresh:
        for f_ in glob.glob(os.path.join(stored_dir, tag + "*")):
            os.remove(f_)
    # the INDEX defines its analyzer and physical layout: preset,
    # skip_block and bloom_ndv come from meta so a caller passing a
    # default cfg can never splice differently-tokenized rows (or
    # differently-sized bloom filters) into an existing table; cfg keeps
    # the operational knobs (id_buckets parallelism hint)
    stage_cfg = BuildConfig(
        preset=meta.get("preset", cfg.preset),
        shard_size=shard_size,
        skip_block=int(meta.get("skip_block", cfg.skip_block)),
        id_buckets=min(cfg.id_buckets or 64, 16),
        n_waves=1,
        bloom_ndv=int(meta.get("bloom_ndv", cfg.bloom_ndv)),
        # the index defines its docs-table metadata columns too: a batch
        # missing one fails loudly in build_index instead of splicing
        # NULL-schema'd delta rows under full rows
        meta_cols=tuple(meta.get("meta_cols", ())),
        # fresh sidecars get the batch's rows built alongside (moved in
        # below)
        store_text=stored_fresh,
        store_positions=positions_fresh,
    )
    # the write-side point tier: a batch the Spark build would tokenize in
    # one task, with no metadata columns and no sidecar to extend, stages
    # in the driver from the rows already collected
    in_driver = whole and not (
        stage_cfg.meta_cols or stored_fresh or positions_fresh
    )
    stage_meta = _stage_batch(
        spark, batch_df, head if in_driver else None, staging, stage_cfg,
        next_shard,
    )

    # the dictionary merge reads the staged postings' count/tf_sum, so it
    # runs before they move; its versioned dir is uncommitted until the
    # meta write
    old_terms = table_path(index_dir, meta, "terms")
    terms_ptr, total_cf = merge_terms(
        spark, index_dir, meta,
        [TermDelta(os.path.join(staging, "postings"), "postings")],
    )

    # splice: the staged tables already carry their final shard and doc
    # ids, so the postings (and positional) shard dirs move in whole and
    # the docs/metrics/stored part files move in under this splice's tag.
    # Pre-commit: a crash leaves only orphans the cleanup above removes.
    def _move_shards(src_table: str, dst_table: str) -> None:
        for d in glob.glob(os.path.join(staging, src_table, "shard_id=*")):
            os.replace(d, os.path.join(dst_table, os.path.basename(d)))

    _move_shards("postings", postings_dir)
    if positions_fresh:
        _move_shards(POSITIONS_TABLE, positions_dir)
    for src, dst, fresh in (
        ("docs", table_path(index_dir, meta, "docs"), True),
        ("metrics", table_path(index_dir, meta, "metrics"), True),
        (STORED_TABLE, stored_dir, stored_fresh),
    ):
        if fresh:
            _move_in_tagged(os.path.join(staging, src), dst, tag)

    n_new = int(stage_meta["n_docs"])
    meta["n_docs"] += n_new
    meta["avgdl"] = avgdl(total_cf, meta["n_docs"])
    meta["n_shards"] = next_shard + int(stage_meta["n_shards"])
    meta.setdefault("delta_batches", 0)
    meta["delta_batches"] += 1
    if batch_id is not None:
        meta["last_epoch"] = [stream_id, batch_id]
    meta.update(terms_ptr)
    # re-pin maintained sidecars against the NEW (n_docs, table_version)
    # inside the SAME commit — a crash before this line leaves the old
    # pins, the delta rows above are orphans the retry cleans up
    for key, fresh, ver in (
        ("stored", stored_fresh, STORED_VERSION),
        ("positions", positions_fresh, 1),
    ):
        if fresh:
            meta[key] = {
                "version": ver,
                "n_docs": int(meta["n_docs"]),
                "table_version": int(meta.get("table_version", 0)),
            }
    atomic_write_json(meta_path, meta)
    if os.path.exists(old_terms):
        shutil.rmtree(old_terms, ignore_errors=True)
    # gate snapshots are keyed by (build_id, terms version) — stale ones
    # would be false-negative-unsafe; FtsIndex never loads a non-matching
    # tag, so removal is pure housekeeping
    from ..layout import gate_tag

    new_tag = gate_tag(meta)
    for g in glob.glob(os.path.join(index_dir, "_term_gate_*")):
        if not g.endswith(new_tag):
            shutil.rmtree(g, ignore_errors=True)
    Manifest(index_dir).mark_done(
        f"delta_batch_{meta['delta_batches']}",
        {
            "n_docs": n_new,
            "first_shard": next_shard,
            "envelope": "driver" if in_driver else "spark",
        },
    )
    shutil.rmtree(staging, ignore_errors=True)

    if compact_every and meta["delta_batches"] >= compact_every:
        from .compact import compact_index

        compact_index(
            spark, index_dir, cfg, remove_old=not compact_keep_old
        )


def incremental_index(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    cfg: BuildConfig | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    compact_every: int | None = None,
    compact_keep_old: bool = True,
    stream_id: str | None = None,
) -> StreamingQuery:
    """Start the incremental-ingest stream. The index must already exist
    (bootstrap with ``build_index`` on an initial corpus, possibly empty).
    ``compact_every=N`` merges delta shards back to full shards after
    every N micro-batches (atomic; see ``compact.compact_index``).

    ``compact_keep_old`` defaults to True here (unlike the batch CLI
    ``jobs/compact.py``): auto-compaction runs INSIDE a live ingest, where
    concurrently-serving ``FtsIndex`` readers hold paths resolved at open —
    eager removal would yield FileNotFoundException mid-query for a warm
    reader's evicted cache blocks (ADVICE r4 #3). Superseded ``*_vN`` dirs
    accumulate until garbage-collected after a reader drain; eager removal
    belongs in the explicit CLI where a drain can be coordinated.

    ``stream_id``: explicit epoch identity for checkpoint stores whose
    query id cannot be read via local or Hadoop FS access; must be unique
    per checkpoint lifetime (reuse across a checkpoint reset would skip a
    colliding batch id). Default: read Spark's persisted query id.
    """
    cfg = cfg or BuildConfig()
    checkpoint_dir = checkpoint_dir or os.path.join(index_dir, "_stream_checkpoint")
    pages = stream_pages(spark, input_dir)

    writer = (
        pages.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda bdf, _bid: _append_batch(
                spark, bdf, index_dir, cfg,
                compact_every=compact_every, batch_id=int(_bid),
                stream_id=(
                    stream_id
                    if stream_id is not None
                    else _checkpoint_stream_id(spark, checkpoint_dir)
                ),
                compact_keep_old=compact_keep_old,
            )
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ingest_stats(
    pages: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked windowed ingest metrics over the page stream:
    (window_start, lang, n_pages, total_bytes). Late pages within the
    watermark horizon update their window; older ones are dropped."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.octet_length("html")).alias("total_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "lang",
            "n_pages",
            "total_bytes",
        )
    )
