"""Distributed inverted-index build (the reference's ``IndexDocument`` loop
as one declarative Spark job).

Reference semantics (``/root/reference/pkg/fts/engine.go:51-80``): for every
document, tokenize → for each token ``index.Insert(term, docID)`` which
upserts the posting and increments tf (``pkg/index/radix/radix.go:127-163``
etc.). Relationally that whole loop is::

    docs → tokenize + doc-local tf (Arrow pandas UDF)          [(term,tf)*]
         → term-salt the pairs ARRAY (JVM F.filter, no explode)
         → ONE repartition(shard, salt) shuffle of doc rows
         → explode + dict-encode + lexsort + varbyte encode    [blobs]
           (all inside one Arrow kernel, _make_doc_encoder)
         → write parquet, partitioned by shard_id

    The ``groupBy(term, doc_id).count()`` tf aggregation of the naive plan
    is folded into the tokenize UDF (``Counter`` per doc), and the
    explode/sort happen INSIDE the encode kernel: the build's one wide
    exchange and its JVM→Python boundary both carry one packed row per
    document (not per posting), and there is no JVM sort at all.

Scale design (north rule):

- **Dense docids** via a deterministic two-pass assignment (count per hash
  bucket → prefix offsets broadcast → per-partition rank), no global sort,
  no driver collect of data rows.
- **Doc-sharded postings**: ``shard_id = doc_id // shard_size``. Head-term
  skew is defused *structurally* — "the" becomes one bounded row per shard
  (≤ shard_size postings) instead of one giant reducer key; this is the
  salted-repartition idea (SURVEY.md §4 P6) with the doc-range as salt, and
  it simultaneously gives document-partitioned WAND locality at query time.
  AQE skew-join/partition splitting stays on as the safety net.
- **Resumable**: shards are built in waves; each wave commits its shard
  range to the manifest atomically (temp+rename, the reference's
  ``persist/atomic.go:34-98`` pattern). Re-running skips committed waves.
- **Per-partition lineage/metrics**: a ``metrics`` table records per-shard
  term/posting/byte counts (reference ``Analyze``, SURVEY.md §2.3 I7).
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from .codec import SKIP_BLOCK
from .checkpoint import Manifest, atomic_write_json
from .layout import POSTINGS_SCHEMA, TermDelta, avgdl, read_table
from .layout import terms_cf, write_terms
from .functions.udfs import (
    make_term_tf_by_lang_udf,
    make_term_tf_udf,
    term_tf_pairs,
)

# v2: postings gained skip_dl_off (per-block byte offsets into dl_blob) so
# the WAND kernel can decode doc/tf/dl per skip block instead of whole blobs
META_VERSION = 2

# assign_doc_ids ships per-bucket offsets as a literal map up to this many
# buckets; beyond it (auto-scaled counts grow with cluster parallelism) a
# broadcast-join relation keeps the plan O(1)-sized
_OFFSET_MAP_MAX_BUCKETS = 1024
# smallest per-encode-task doc slice worth creating via term salting:
# below this the fixed per-task cost (~60-90 ms python task floor)
# exceeds the slice's encode work (~30 us/doc), and every extra salt
# copy pays the interpreted pairs-filter fan-out (see postings wave)
_MIN_SALT_SLICE_DOCS = 2048
# smallest doc count worth its own id/tokenize task: ~50 ms of tokenize
# on the bench corpus (~50 us/doc), the order of the python task floor.
# A small batch (an upsert) tokenizes in ceil(n / this) tasks instead of
# one near-empty task per shuffle partition; big builds keep full width
_MIN_TOKENIZE_TASK_DOCS = 1024


@dataclass
class BuildConfig:
    preset: str = "by_lang"  # 'english' | 'russian' | 'multilingual' | 'simple' | 'by_lang'
    shard_size: int = 1 << 20  # docs per shard (1M at scale)
    skip_block: int = SKIP_BLOCK
    # hash buckets for dense-id assignment; None (the default) auto-scales
    # to max(64, 4x parallelism) so no single window task ranks more than
    # ~N/(4*cores) rows at scale — a fixed small bucket count at 10^12 docs
    # would put ~15G rows in one window task (VERDICT r2 missing #3)
    id_buckets: int | None = None
    n_waves: int = 1  # checkpoint granularity (shards split into waves)
    enc_partitions: int | None = None  # encode parallelism (None = 2x cores)
    # expected distinct terms per row group, sizes the parquet bloom filter
    # on `term` (~1.2 bytes/ndv at 1% fpp); production shards (1M docs)
    # want ~1M, bench shards (2-4k docs) a few 10k
    bloom_ndv: int = 1 << 16
    # opt-in positional table for index-only phrase queries (positions.py);
    # costs one extra tokenize pass + ~cf varbyte-encoded positions
    store_positions: bool = False
    # opt-in stored fields (stored.py): text persisted doc_id-sorted
    # beside the index so snippets/hydration point-read k row groups
    # instead of scanning the source table; costs one narrow range
    # shuffle + a copy of the text bytes
    store_text: bool = False
    # extra input metadata columns persisted into the docs table (e.g.
    # warc_ts from the web-pages input_hint) so query-time field filters
    # (`warc_ts:[a TO b]`, queryparse.py) can gate on them. Joined back
    # on url AFTER the tokenize pass — metadata never crosses the
    # Python/Arrow boundary; duplicate urls resolve per column via max()
    # (deterministic; for a recrawl timestamp that is "latest wins")
    meta_cols: tuple = ()
    extra: dict = field(default_factory=dict)


def meta_bloom_ndv(meta: dict) -> int:
    """The ``bloom_ndv`` an index's postings and positions were written
    with; a meta written before it was recorded gets
    :class:`BuildConfig`'s default."""
    return int(meta.get("bloom_ndv", BuildConfig.bloom_ndv))


def _term_tf_col(cfg: BuildConfig):
    if cfg.preset == "by_lang":
        udf = make_term_tf_by_lang_udf()
        return lambda df: udf(F.col("text"), F.col("lang"))
    udf = make_term_tf_udf(cfg.preset)
    return lambda df: udf(F.col("text"))


def _term_tf_pairs(cfg: BuildConfig):
    """The pair function :func:`_term_tf_col`'s UDF runs, called in the
    driver by :func:`stage_in_driver`."""
    if cfg.preset == "by_lang":
        return term_tf_pairs("multilingual", by_lang=True)
    return term_tf_pairs(cfg.preset)


def assign_doc_ids(
    docs: DataFrame, id_buckets: int = 64, url_col: str = "url"
) -> DataFrame:
    """Deterministic dense ``doc_id:LONG`` per distinct url.

    Two passes, no global sort: (1) count rows per hash bucket, prefix-sum on
    the driver (``id_buckets`` values only); (2) per-bucket JVM window
    ``row_number() over (partition by bucket order by xxhash64(url), url)``
    plus a literal offset map. Docids are stable for a fixed
    (input, id_buckets).

    Deliberately NO Python stage here: a mapInPandas rank chained into the
    downstream tokenize pandas-UDF would run two Python workers per task in
    one pipelined stage (2x process oversubscription — measured 2.5x
    anti-scaling at local[32]); the window keeps this stage wholly in the
    JVM so tokenize is the only Python hop.

    Mirrors ``generateID`` (``loader.go:96-100``) — the string identity stays
    as ``md5(url)`` in the docs table; the dense surrogate enables
    delta/varbyte compression (SURVEY.md §7 hard parts).

    The window's exchange is sized by the collected doc count: at most
    ``ceil(n / _MIN_TOKENIZE_TASK_DOCS)`` partitions, so the downstream
    tokenize (same stage) of a small batch runs in one or a few tasks.
    :func:`stage_in_driver` applies the same rule to a collected batch.
    """
    from pyspark.sql.window import Window

    h = F.xxhash64(F.col(url_col))
    docs = docs.withColumn("_h", h).withColumn(
        "_bucket", F.pmod(F.col("_h"), F.lit(id_buckets)).cast("long")
    )
    counts = dict(
        (r["_bucket"], r["cnt"])
        for r in docs.groupBy("_bucket").agg(F.count("*").alias("cnt")).collect()
    )
    offsets = {}
    acc = 0
    for b in range(id_buckets):
        offsets[b] = acc
        acc += counts.get(b, 0)
    width = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n_parts = max(1, math.ceil(acc / _MIN_TOKENIZE_TASK_DOCS))
    if n_parts < width:
        # the window's own exchange would be shuffle-partitions wide; this
        # one satisfies its clustering, so it replaces it (ids unchanged)
        docs = docs.repartition(n_parts, "_bucket")

    w = Window.partitionBy("_bucket").orderBy("_h", url_col)
    if id_buckets <= _OFFSET_MAP_MAX_BUCKETS:
        # small bucket counts: ship offsets as a literal map (no extra plan
        # nodes, constant-folded)
        offset_map = F.create_map(
            *[F.lit(x) for b in range(id_buckets) for x in (b, offsets[b])]
        )
        ranked = docs.withColumn(
            "doc_id",
            (
                offset_map[F.col("_bucket")] + F.row_number().over(w) - F.lit(1)
            ).cast("long"),
        )
    else:
        # auto-scaled bucket counts grow with cluster parallelism (4x cores
        # — ~128k buckets on a 1000-executor cluster): a create_map literal
        # would be a 2x-that-size expression tree that Catalyst must
        # analyze/serialize per stage. Ship the offsets as a broadcast-join
        # relation instead — same determinism, O(1) plan size.
        from .localdf import local_df

        offsets_df = local_df(
            docs.sparkSession,
            [(b, offsets[b]) for b in range(id_buckets)],
            "_bucket long, _bucket_offset long",
        )
        ranked = (
            docs.join(F.broadcast(offsets_df), "_bucket", "left")
            .withColumn(
                "doc_id",
                (
                    F.col("_bucket_offset") + F.row_number().over(w) - F.lit(1)
                ).cast("long"),
            )
            .drop("_bucket_offset")
        )
    return ranked.drop("_h", "_bucket"), acc


def _group_encoder(shard_size: int, skip: int):
    """Shared batch-vectorized group encoder.

    Returns ``encode_groups``, which emits one output RecordBatch for the
    complete (shard, term) groups ``[gstarts, gends)`` over sorted posting
    arrays. Every group in the call
    is encoded by ONE whole-batch varbyte pass (``codec.varbyte_encode_all``)
    — the deltas for all groups are computed in one numpy pass (per-group
    bases patched in at the group starts), packed into a single byte buffer,
    and each group's blob is a zero-copy byte-range of that buffer exposed
    through ``pa.Array.from_buffers``. Skip-block arrays are likewise built
    for all groups at once (``np.maximum.reduceat`` + fancy indexing).
    Per-group Python/numpy work is therefore O(1) slicing, not O(30 numpy
    calls) — the r2 encoder's per-group temporaries were the memcpy traffic
    that capped build scaling efficiency at ~0.72 (VERDICT r2 #1).

    ``term_at_starts`` is a pa.Array of length ``len(gstarts)`` holding the
    term string of each group — callers keep term strings out of Python
    (Arrow ``take`` on string/dictionary buffers).
    """
    import pyarrow as pa

    from .codec import varbyte_encode_all

    out_schema = pa.schema(
        [
            ("term", pa.string()),
            ("shard_id", pa.int64()),
            ("count", pa.int32()),
            ("tf_sum", pa.int64()),
            ("doc_blob", pa.binary()),
            ("tf_blob", pa.binary()),
            ("dl_blob", pa.binary()),
            ("skip_last_doc", pa.list_(pa.int64())),
            ("skip_max_tf", pa.list_(pa.int32())),
            ("skip_doc_off", pa.list_(pa.int32())),
            ("skip_tf_off", pa.list_(pa.int32())),
            ("skip_dl_off", pa.list_(pa.int32())),
        ]
    )

    def encode_groups(term_at_starts, shard_np, doc_np, tf_np, dl_np, gstarts, gends):
        """One output RecordBatch for the complete groups [gstarts, gends)."""
        row_lo, row_hi = int(gstarts[0]), int(gends[-1])
        d = doc_np[row_lo:row_hi]
        t = tf_np[row_lo:row_hi]
        dl = dl_np[row_lo:row_hi]
        ls = gstarts - row_lo  # group starts, local row idx
        le = gends - row_lo
        m = row_hi - row_lo
        G = len(ls)

        # per-row docid deltas, group starts rebased to the shard base
        diff = np.empty(m, dtype=np.int64)
        diff[0] = 0
        np.subtract(d[1:], d[:-1], out=diff[1:])
        diff[ls] = d[ls] - shard_np[gstarts] * shard_size
        doc_packed, doc_csum = varbyte_encode_all(diff)  # int64 viewed as u64
        tf_packed, tf_csum = varbyte_encode_all(t)
        dl_packed, dl_csum = varbyte_encode_all(dl)
        # the per-group byte offsets below are int32 slices of these packed
        # buffers; numpy astype would WRAP silently past 2 GiB, corrupting
        # every emitted blob — callers bound chunks by rows (see
        # _make_doc_encoder), this is the hard backstop
        if max(int(doc_csum[-1]), int(tf_csum[-1]), int(dl_csum[-1])) >= 2**31:
            raise ValueError(
                "encoder chunk packs >=2GiB of varbyte bytes (doc/tf/dl = "
                f"{int(doc_csum[-1])}/{int(tf_csum[-1])}/{int(dl_csum[-1])}); "
                "int32 blob offsets would wrap — lower the encoder chunk "
                "row bound"
            )

        def _binary(packed: np.ndarray, csum: np.ndarray) -> pa.Array:
            offs = csum[np.append(ls, m)].astype(np.int32)
            return pa.Array.from_buffers(
                pa.binary(), G,
                [None, pa.py_buffer(offs), pa.py_buffer(packed)],
            )

        counts = (le - ls).astype(np.int32)
        ct = np.empty(m + 1, dtype=np.int64)
        ct[0] = 0
        np.cumsum(t, out=ct[1:])
        tf_sum = ct[le] - ct[ls]

        # skip blocks, all groups at once
        n_blocks = (counts.astype(np.int64) + skip - 1) // skip
        blk_csum = np.empty(G + 1, dtype=np.int64)
        blk_csum[0] = 0
        np.cumsum(n_blocks, out=blk_csum[1:])
        total_blocks = int(blk_csum[-1])
        grp_of_block = np.repeat(np.arange(G), n_blocks)
        within = np.arange(total_blocks) - blk_csum[grp_of_block]
        blk_start = ls[grp_of_block] + within * skip
        blk_end = np.minimum(blk_start + skip, le[grp_of_block])
        skip_last_doc = d[blk_end - 1]
        skip_max_tf = np.maximum.reduceat(t, blk_start).astype(np.int32)
        g_ls = ls[grp_of_block]
        skip_doc_off = (doc_csum[blk_start] - doc_csum[g_ls]).astype(np.int32)
        skip_tf_off = (tf_csum[blk_start] - tf_csum[g_ls]).astype(np.int32)
        skip_dl_off = (dl_csum[blk_start] - dl_csum[g_ls]).astype(np.int32)

        loffs = blk_csum.astype(np.int32)
        arrays = [
            term_at_starts,
            pa.array(shard_np[gstarts], type=pa.int64()),
            pa.array(counts, type=pa.int32()),
            pa.array(tf_sum, type=pa.int64()),
            _binary(doc_packed, doc_csum),
            _binary(tf_packed, tf_csum),
            _binary(dl_packed, dl_csum),
            pa.ListArray.from_arrays(loffs, pa.array(skip_last_doc, type=pa.int64())),
            pa.ListArray.from_arrays(loffs, pa.array(skip_max_tf, type=pa.int32())),
            pa.ListArray.from_arrays(loffs, pa.array(skip_doc_off, type=pa.int32())),
            pa.ListArray.from_arrays(loffs, pa.array(skip_tf_off, type=pa.int32())),
            pa.ListArray.from_arrays(loffs, pa.array(skip_dl_off, type=pa.int32())),
        ]
        return pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return encode_groups


def salt_policy(shard_size: int, n_shards: int, parallelism: int) -> int:
    """Term-salt fan-out of a ``(shard_id, salt)``-partitioned encode — the
    one rule the postings wave, the compaction re-encode and the positional
    encode share. Enough salt copies that ``n_shards * salt`` covers
    ``parallelism`` encode tasks (few-shard builds still use the cluster;
    a task holds ~``shard_size / salt`` docs' postings), capped so no slice
    drops below ``_MIN_SALT_SLICE_DOCS`` docs. Salting is NOT free: the
    postings wave's per-copy pairs filter is an interpreted higher-order
    function whose cost grows ~linearly in the salt (measured r6 on a
    6k-doc staged build: postings 1.6 s at salt 4 vs 10.3 s at salt 43,
    identical output), and below ~2k docs per slice the per-task floor
    exceeds the encode work (~30 us/doc). Production 1M-doc shards keep the
    full fan-out; 1-4k-doc shards drop to salt 1-2."""
    max_salt = max(1, shard_size // _MIN_SALT_SLICE_DOCS)
    return min(max(1, math.ceil(parallelism / max(1, n_shards))), max_salt)


def _flat_encoder(
    shard_size: int,
    skip: int,
    group_chunk: int = 1 << 16,
    max_chunk_rows: int = 1 << 24,
):
    """The sort-group-encode core shared by every postings write (batch
    build, incremental staging, compaction re-encode).

    Returns ``encode_flat(codes, dictionary, shard, doc, tf, dl)``: one
    partition's postings as flat int64 arrays in ANY order, terms as codes
    into the Arrow string ``dictionary``; yields encoded POSTINGS_SCHEMA
    batches, one row per (shard_id, term) group. The (shard, term, doc)
    sort is one ``np.lexsort`` over int keys and the varbyte encode is
    :func:`_group_encoder`'s whole-batch pass — no JVM sort, no per-group
    Python. Groups are ordered by term STRING (not dictionary code) so
    parquet row-group min/max stats on ``term`` stay tight.

    Output chunking is bounded by ``group_chunk`` groups AND
    ``max_chunk_rows`` postings: the group-count bound alone leaves chunk
    bytes unbounded (65536 head-term groups can pack >2 GiB, wrapping the
    int32 blob offsets — ``_group_encoder`` additionally hard-fails before
    the cast). 16M postings encode to <=160 MiB per blob (<=10 B/value),
    comfortably inside int32.
    """
    import pyarrow as pa

    encode_groups = _group_encoder(shard_size, skip)

    def encode_flat(codes, dictionary, shard, doc, tf, dl):
        m = len(doc)
        if not m:
            return
        vocab = np.asarray(dictionary, dtype=object)
        rank_of = np.empty(len(vocab), dtype=np.int64)
        rank_of[np.argsort(vocab, kind="stable")] = np.arange(len(vocab))
        ranks = rank_of[codes]

        order = np.lexsort((doc, ranks, shard))
        doc, tf, dl = doc[order], tf[order], dl[order]
        shard, ranks, codes = shard[order], ranks[order], codes[order]

        change = np.empty(m, dtype=bool)
        change[0] = True
        np.logical_or(
            ranks[1:] != ranks[:-1], shard[1:] != shard[:-1], out=change[1:]
        )
        gstarts = np.flatnonzero(change)
        gends = np.append(gstarts[1:], m)

        G = len(gstarts)
        i = 0
        while i < G:
            row_limit = int(gstarts[i]) + max_chunk_rows
            j_rows = int(np.searchsorted(gends, row_limit, side="right"))
            j = max(i + 1, min(i + group_chunk, G, j_rows))
            gs = gstarts[i:j]
            ge = gends[i:j]
            term_at = dictionary.take(pa.array(codes[gs], type=pa.int64()))
            yield encode_groups(term_at, shard, doc, tf, dl, gs, ge)
            i = j

    return encode_flat


def _one_table(batches):
    """A partition's non-empty batches as one single-chunk table (None when
    empty) — the encode kernels buffer their whole partition."""
    import pyarrow as pa

    got = [b for b in batches if b.num_rows]
    return pa.Table.from_batches(got).combine_chunks() if got else None


def _i64(col) -> np.ndarray:
    return col.to_numpy().astype(np.int64)


def _make_doc_encoder(
    shard_size: int,
    skip: int,
    group_chunk: int = 1 << 16,
    max_chunk_rows: int = 1 << 24,
):
    """mapInArrow kernel over DOCUMENT rows: consume (shard_id, doc_id, dl,
    pairs:[{term,tf}]) batches — one row per document, in any order — and
    emit one encoded posting row per (shard_id, term) group.

    This is the batch build's encode path. Crossing the JVM→Python boundary
    once per DOCUMENT instead of once per posting cuts Arrow exchange rows
    ~100x and deletes the JVM ``sortWithinPartitions`` over exploded
    postings entirely: the explode (Arrow list flatten, zero-copy) and the
    term dictionary encode (Arrow C++) feed :func:`_flat_encoder` — measured
    <2 core-seconds for a 60k-doc corpus, vs ~10s of JVM sort + exchange
    for the exploded plan.

    The kernel buffers its whole partition: task memory is bounded by
    construction — the build partitions by (shard_id, term-hash salt), so a
    task holds ``shard_size / salt_mod`` documents' pairs (the term-salt
    split happens JVM-side with ``F.filter`` on the pairs array; a term's
    (shard, term) group is never split across tasks because the salt is a
    deterministic hash of the term).
    """
    encode_flat = _flat_encoder(shard_size, skip, group_chunk, max_chunk_rows)

    def encode_stream(batches):
        tbl = _one_table(batches)
        if tbl is None:
            return
        pairs = tbl.column("pairs").chunk(0)
        parent = np.repeat(np.arange(tbl.num_rows), _i64(pairs.value_lengths()))
        flat = pairs.flatten()  # StructArray over the exact logical range
        denc = flat.field("term").dictionary_encode()
        yield from encode_flat(
            _i64(denc.indices),
            denc.dictionary,
            _i64(tbl.column("shard_id").chunk(0))[parent],
            _i64(tbl.column("doc_id").chunk(0))[parent],
            _i64(flat.field("tf")),
            _i64(tbl.column("dl").chunk(0))[parent],
        )

    return encode_stream


def _make_list_encoder(shard_size: int, skip: int):
    """mapInArrow kernel over POSTING-LIST pieces: consume (shard_id, term,
    doc_id[], tf[], dl[]) rows — a (shard, term) group may arrive as any
    number of pieces, in any order — and emit one encoded posting row per
    group through the same :func:`_flat_encoder` core as the batch build.
    The compaction re-encode feeds it (``compact._make_tail_decoder``)."""
    encode_flat = _flat_encoder(shard_size, skip)

    def encode_stream(batches):
        tbl = _one_table(batches)
        if tbl is None:
            return
        docs = tbl.column("doc_id").chunk(0)
        parent = np.repeat(np.arange(tbl.num_rows), _i64(docs.value_lengths()))
        denc = tbl.column("term").chunk(0).dictionary_encode()
        yield from encode_flat(
            _i64(denc.indices)[parent],
            denc.dictionary,
            _i64(tbl.column("shard_id").chunk(0))[parent],
            _i64(docs.flatten()),
            _i64(tbl.column("tf").chunk(0).flatten()),
            _i64(tbl.column("dl").chunk(0).flatten()),
        )

    return encode_stream


def postings_wave_plan(
    spark: SparkSession,
    tokens: DataFrame,
    cfg: BuildConfig,
    lo: int,
    hi: int,
    encode_stream=None,
) -> DataFrame:
    """The one-wave postings plan over packed document rows
    ``(shard_id, doc_id, dl, pairs)``.

    Salted repartition (SURVEY.md §4 P6 / north rule): hash-partitioning by
    shard alone caps encode parallelism at n_shards (and bounds task memory
    only by shard_size), so salt by term WITHIN the document row: each doc
    emits salt_mod rows, row k keeping only the pairs whose term hashes to
    salt k (JVM higher-order ``F.filter`` — no Python, no explode of
    postings). Groups stay whole (a term's salt is deterministic), head
    terms of one shard still bound by shard_size, the explicit partition
    count defeats key-cardinality collapse, and encode-task memory is
    bounded by shard_size/salt_mod docs' pairs.

    The resulting physical plan is exactly: Scan → [salt project/filter] →
    Exchange(shard, salt) → MapInArrow — NO JVM Sort (the (shard, term,
    doc) sort lives inside the kernel; asserted in tests/test_plans.py).
    """
    encode_stream = encode_stream or _make_doc_encoder(
        cfg.shard_size, cfg.skip_block
    )
    tf_df = tokens.where(
        (F.col("shard_id") >= lo) & (F.col("shard_id") < hi)
    )
    n_wave_shards = hi - lo
    enc_p = cfg.enc_partitions or spark.sparkContext.defaultParallelism * 2
    salt_mod = salt_policy(cfg.shard_size, n_wave_shards, enc_p)
    if salt_mod > 1:
        salted = (
            tf_df.withColumn(
                "_salt",
                F.explode(F.sequence(F.lit(0), F.lit(salt_mod - 1))),
            )
            .withColumn(
                "pairs",
                F.filter(
                    "pairs",
                    lambda t: F.pmod(
                        F.xxhash64(t["term"]), F.lit(salt_mod)
                    ).cast("int")
                    == F.col("_salt"),
                ),
            )
            .where(F.size("pairs") > 0)
        )
    else:
        salted = tf_df.withColumn("_salt", F.lit(0))
    return (
        salted.repartition(n_wave_shards * salt_mod, "shard_id", "_salt")
        .drop("_salt")
        .mapInArrow(encode_stream, schema=POSTINGS_SCHEMA)
    )


class _BuildLog:
    """Structured build log (reference setupLogger role, main.go:592-613:
    slog JSON to file; here one JSON line per completed phase) plus the
    phase timings a build returns as ``build_phases``. Appended, so a
    resumed build's log shows the whole history across attempts."""

    def __init__(self, index_dir: str):
        self.path = os.path.join(index_dir, "build_log.jsonl")
        self.t_start = time.monotonic()
        self.phases: dict[str, float] = {}

    def event(self, event: str, **fields) -> None:
        rec = {"ts": time.time(), "event": event, "app": "fts-build", **fields}
        with open(self.path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def lap(self, name: str, t0: float) -> float:
        now = time.monotonic()
        self.phases[name] = round(now - t0, 3)
        self.event("phase_done", phase=name, seconds=self.phases[name])
        return now

    def total(self) -> float:
        self.phases["total"] = round(time.monotonic() - self.t_start, 3)
        return self.phases["total"]


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    cfg: BuildConfig | None = None,
    resume: bool = True,
    _first_shard: int | None = None,
) -> dict:
    """Build the full index at ``index_dir``. Returns build stats.

    ``docs`` must carry (url, text, lang); ``html`` is accepted and ignored
    (use ``extract_text_udf`` upstream to materialize ``text`` from
    ``html``).

    ``_first_shard`` (internal) makes this a STAGED build numbered from
    shard ``_first_shard`` — doc ids from ``_first_shard * shard_size`` —
    so an incremental append stages its delta at its final ids and moves
    the written files into place instead of re-writing them shifted. Every
    table holds absolute ids; ``n_shards`` in the returned meta stays the
    number of shards built. A staged build writes no term dictionary and
    no avgdl: the append merges the staged postings' df/cf into the live
    dictionary directly (``layout.merge_terms``) and takes avgdl from the
    merged Σcf. An append whose batch fits one tokenize task stages
    through :func:`stage_in_driver` instead.

    A full build writes its dictionary with ``layout.write_terms`` from
    the postings (in the driver within ``layout.DRIVER_MERGE_MAX_BYTES``
    of estimated memory, else on Spark), and its avgdl is that
    dictionary's Σcf over ``n_docs`` (``layout.avgdl``).
    """
    cfg = cfg or BuildConfig()
    os.makedirs(index_dir, exist_ok=True)
    manifest = Manifest(index_dir)
    log = _BuildLog(index_dir)
    log.event(
        "build_start",
        preset=cfg.preset,
        shard_size=cfg.shard_size,
        n_waves=cfg.n_waves,
        resume=resume,
    )

    # ---- pass 0: dense docids + doclens (cached across waves).
    # Only (url, text, lang) cross the Python stages — payload columns like
    # html:binary would otherwise be Arrow-serialized through every
    # mapInPandas pass (measured 1.8x tokenize cost on the bench corpus).
    meta_cols = tuple(cfg.meta_cols)
    if meta_cols:
        reserved = {"doc_id", "url", "url_md5", "lang", "doclen", "text"}
        clash = [c for c in meta_cols if c in reserved]
        if clash:
            raise ValueError(
                f"meta_cols {clash} collide with built-in docs columns"
            )
        bad = [c for c in meta_cols if c not in docs.columns]
        if bad:
            raise ValueError(
                f"meta_cols {bad} not in the input columns {docs.columns}"
            )
        # one narrow relation of (url, meta...) — html/text never ride it
        meta_df = docs.groupBy("url").agg(
            *[F.max(c).alias(c) for c in meta_cols]
        )
    docs = docs.select("url", "text", "lang")
    id_buckets = cfg.id_buckets or max(
        64, spark.sparkContext.defaultParallelism * 4
    )
    with_ids, n_docs = assign_doc_ids(docs, id_buckets)
    first_shard = _first_shard or 0
    if first_shard:
        with_ids = with_ids.withColumn(
            "doc_id", F.col("doc_id") + first_shard * cfg.shard_size
        )
    ttf = _term_tf_col(cfg)
    # doclen = sum of doc-local tfs == token count; computed JVM-side from
    # the pairs array (higher-order aggregate, no second Python pass).
    base = with_ids.withColumn("pairs", ttf(with_ids)).select(
        "doc_id",
        "url",
        F.col("lang"),
        "pairs",
        F.aggregate(
            "pairs", F.lit(0), lambda acc, x: acc + x["tf"]
        ).alias("doclen"),
    )
    base = base.persist()

    docs_table = base.select(
        "doc_id",
        "url",
        F.md5(F.col("url")).alias("url_md5"),
        "lang",
        "doclen",
    )
    if meta_cols:
        # corpus-sized hash join on url: the one extra shuffle metadata
        # passthrough costs, and it carries only (url, meta) bytes
        docs_table = docs_table.join(meta_df, "url", "left").select(
            "doc_id", "url", "url_md5", "lang", "doclen", *meta_cols
        )
    t_phase = time.monotonic()
    if not (resume and manifest.is_done("docs")):
        docs_table.write.mode("overwrite").parquet(
            os.path.join(index_dir, "docs")
        )
        manifest.mark_done("docs", {"n_docs": n_docs})
    t_phase = log.lap("docs_write", t_phase)

    n_shards = max(1, math.ceil(n_docs / cfg.shard_size))
    n_waves = min(cfg.n_waves, n_shards)
    waves: list[tuple[int, int]] = []
    per = math.ceil(n_shards / n_waves)
    for w in range(n_waves):
        lo, hi = w * per, min((w + 1) * per, n_shards)
        if lo < hi:
            waves.append((lo + first_shard, hi + first_shard))

    postings_path = os.path.join(index_dir, "postings")
    encode_stream = _make_doc_encoder(cfg.shard_size, cfg.skip_block)

    # doclen travels with every document row so the index stores per-posting
    # norms (dl_blob) — BM25 scoring then needs no join against the docs
    # table. tf already carries the upsert-counter semantics (radix.go:127
    # etc.): the tokenize UDF aggregated it doc-locally, so there is NO
    # groupBy(term, doc_id) exchange — the repartition below is the build's
    # only wide shuffle, and it moves ONE row per document (the pairs array
    # stays packed); the explode/sort/encode all happen inside the Python
    # kernel (:func:`_make_doc_encoder`).
    tokens = base.select(
        (F.col("doc_id") / cfg.shard_size).cast("long").alias("shard_id"),
        "doc_id",
        F.col("doclen").cast("long").alias("dl"),
        "pairs",
    )

    for lo, hi in waves:
        wave_key = f"postings_wave_{lo}_{hi}"
        if resume and manifest.is_done(wave_key):
            continue
        postings = postings_wave_plan(
            spark, tokens, cfg, lo, hi, encode_stream
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            postings.write.mode("overwrite")
            .partitionBy("shard_id")
            # bloom filter on term: cold point lookups prune row groups a
            # query term cannot be in (the reference's bloom/cuckoo/ribbon
            # filter role, pkg/filter/bloom.go:26-143, on top of the
            # row-group min/max stats) — asserted in tests/test_plans.py.
            .option("parquet.bloom.filter.enabled#term", "true")
            .option("parquet.bloom.filter.expected.ndv#term", str(cfg.bloom_ndv))
            .parquet(postings_path)
        )
        manifest.mark_done(wave_key, {"shards": [lo, hi]})
        log.event("wave_done", wave=wave_key, shard_lo=lo, shard_hi=hi)
    t_phase = log.lap("postings", t_phase)

    # ---- optional positional table (index-only phrase queries)
    if cfg.store_positions and not (resume and manifest.is_done("positions")):
        from .positions import build_positions_table

        build_positions_table(
            spark, with_ids, index_dir, cfg.preset, cfg.shard_size,
            cfg.bloom_ndv, n_shards=n_shards,
        )
        manifest.mark_done("positions", {"n_docs": n_docs})
        t_phase = log.lap("positions", t_phase)

    # ---- optional stored fields (point-readable text for snippets)
    if cfg.store_text and not (resume and manifest.is_done("stored")):
        from .stored import build_stored_table

        build_stored_table(with_ids, index_dir, n_docs)
        manifest.mark_done("stored", {"n_docs": n_docs})
        t_phase = log.lap("stored", t_phase)

    # ---- global term stats (df/cf) merged across shards — the "merge
    # partial segment indexes into a global index" step, over the postings
    # table instead of the raw token stream, by the one dictionary writer
    # (layout.write_terms). Its Σcf is avgdl's numerator; a resumed build
    # whose dictionary is written reads Σcf back. A staged build writes
    # none: the append merges the staged postings into the live one.
    total_cf = None
    if _first_shard is None:
        terms_path = os.path.join(index_dir, "terms")
        if resume and manifest.is_done("terms"):
            total_cf = terms_cf(terms_path)
        else:
            total_cf = write_terms(
                spark, terms_path, None,
                [TermDelta(postings_path, "postings")],
            )
            manifest.mark_done("terms", {})
    t_phase = log.lap("terms", t_phase)

    # ---- per-shard metrics (lineage: reference Analyze, stats.go:3-11)
    if not (resume and manifest.is_done("meta")):
        metrics_path = os.path.join(index_dir, "metrics")
        postings_all = read_table(spark, postings_path, "postings")
        # shard_id as long, the metrics table's pinned read type: an
        # append moves these files into the live table
        metrics = postings_all.groupBy(
            F.col("shard_id").cast("long").alias("shard_id")
        ).agg(
            F.count("*").alias("n_terms"),
            F.sum("count").alias("n_postings"),
            F.sum(F.length("doc_blob") + F.length("tf_blob")).alias("blob_bytes"),
        )
        metrics.write.mode("overwrite").parquet(metrics_path)

    if resume and manifest.is_done("meta"):
        with open(os.path.join(index_dir, "meta.json")) as f:
            meta = json.load(f)
        base.unpersist()
        return meta

    t_phase = log.lap("metrics", t_phase)
    log.total()
    import uuid

    meta = {
        "version": META_VERSION,
        # unique per build run: downstream caches derived from this
        # index's content (e.g. term-gate snapshots) key on it, so an
        # in-place rebuild over a new corpus can never satisfy a stale
        # cache's tag (layout.gate_tag)
        "build_id": uuid.uuid4().hex,
        "n_docs": n_docs,
        "shard_size": cfg.shard_size,
        "n_shards": n_shards,
        "skip_block": cfg.skip_block,
        "preset": cfg.preset,
        "id_buckets": id_buckets,
        # persisted so retrofits / merges / CLI compaction size their
        # parquet term-bloom filters like the original build did instead
        # of silently falling back to the 65536 default
        "bloom_ndv": int(cfg.bloom_ndv),
        # persisted so incremental appends / upserts stage their delta
        # docs table with the SAME metadata columns (a splice without
        # them would leave delta rows NULL where full rows have values)
        "meta_cols": list(meta_cols),
        "build_seconds": time.monotonic() - log.t_start,
        "build_phases": log.phases,
    }
    if total_cf is not None:
        meta["avgdl"] = avgdl(total_cf, n_docs)
    if cfg.store_positions:
        # snapshot identity for the positional table: phrase-from-positions
        # refuses to serve when the index has grown past it (positions.py)
        meta["positions"] = {"version": 1, "n_docs": n_docs}
    if cfg.store_text:
        # same snapshot discipline for stored fields (stored.py)
        from .stored import STORED_VERSION

        meta["stored"] = {"version": STORED_VERSION, "n_docs": n_docs}
    atomic_write_json(os.path.join(index_dir, "meta.json"), meta)
    manifest.mark_done("meta", {})
    log.event(
        "build_done",
        n_docs=n_docs,
        n_shards=n_shards,
        seconds=log.phases["total"],
    )
    base.unpersist()
    return meta


def stage_in_driver(
    batch, index_dir: str, cfg: BuildConfig, first_shard: int
) -> dict:
    """The driver envelope of a staged build (``build_index(...,
    _first_shard=first_shard)``) for a batch that fits one tokenize task.

    ``batch`` is the whole batch as an Arrow table of ``(url, text, lang,
    _h)``, ``_h`` being Spark's ``xxhash64(url)`` (collected with the rows,
    never reimplemented). The id rule, the pair function and the encoder
    are the Spark build's own:

    - ids: :func:`assign_doc_ids` numbers rows by bucket
      (``pmod(_h, id_buckets)``) offsets plus a rank by ``(_h, url)``
      within the bucket, which is a row's position in the
      ``(bucket, _h, url)`` order (nulls first, as Spark sorts);
    - pairs: :func:`_term_tf_pairs`, the function the tokenize UDF runs;
    - postings: :func:`_make_doc_encoder` over the same document rows.

    It writes the staged layout with pyarrow (``postings/shard_id=N/``,
    ``docs/``, ``metrics/``; snappy, ``layout.TABLE_SCHEMAS`` types) and
    no Spark job. pyarrow writes no parquet bloom filters: a
    driver-staged delta shard keeps its row-group min/max stats and
    regains its ``term`` bloom filter when compaction re-encodes it.
    It writes no dictionary: the append merges the staged postings'
    ``count``/``tf_sum`` into the live one (``layout.merge_terms``, in
    the driver too within ``layout.DRIVER_MERGE_MAX_BYTES``), so the
    staged files are the only input that merge reads. Returns the staged
    meta fields the append reads (``n_docs``, ``n_shards``) and
    ``build_phases``.
    """
    import hashlib

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from .layout import TABLE_SCHEMAS

    os.makedirs(index_dir, exist_ok=True)
    log = _BuildLog(index_dir)
    log.event(
        "build_start", preset=cfg.preset, shard_size=cfg.shard_size,
        envelope="driver",
    )
    n_docs = batch.num_rows
    urls = batch.column("url").to_pylist()
    langs = batch.column("lang").to_pylist()
    t_phase = time.monotonic()
    pairs = _term_tf_pairs(cfg)(batch.column("text").to_pylist(), langs)
    t_phase = log.lap("tokenize", t_phase)

    h = batch.column("_h").to_numpy().astype(np.int64)
    bucket = np.mod(h, cfg.id_buckets)
    order = sorted(
        range(n_docs),
        key=lambda i: (bucket[i], h[i], urls[i] is not None, urls[i] or ""),
    )
    doc_id = np.empty(n_docs, dtype=np.int64)
    doc_id[order] = first_shard * cfg.shard_size + np.arange(n_docs)
    doclen = np.array([sum(p["tf"] for p in ps) for ps in pairs], np.int64)
    flat = [p for ps in pairs for p in ps]
    pairs_arr = pa.ListArray.from_arrays(
        np.concatenate([[0], np.cumsum([len(ps) for ps in pairs])]).astype(
            np.int32
        ),
        pa.StructArray.from_arrays(
            [
                pa.array([p["term"] for p in flat], pa.string()),
                pa.array([p["tf"] for p in flat], pa.int32()),
            ],
            names=["term", "tf"],
        ),
    )
    rows = pa.RecordBatch.from_arrays(
        [pa.array(doc_id // cfg.shard_size), pa.array(doc_id),
         pa.array(doclen), pairs_arr],
        names=["shard_id", "doc_id", "dl", "pairs"],
    )
    encoded = list(_make_doc_encoder(cfg.shard_size, cfg.skip_block)([rows]))
    t_phase = log.lap("encode", t_phase)

    def _write(table, name: str, path: str) -> None:
        schema = to_arrow_schema(TABLE_SCHEMAS[name])
        if name == "postings":  # shard_id is the partition directory
            schema = schema.remove(schema.get_field_index("shard_id"))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(
            table.select(schema.names).cast(schema), path,
            compression="snappy",
        )

    part = "part-00000.parquet"
    os.makedirs(os.path.join(index_dir, "postings"), exist_ok=True)
    metrics = {n: [] for n in TABLE_SCHEMAS["metrics"].names}
    if encoded:
        # groups come out ordered by (shard, term): one file per shard
        postings = pa.Table.from_batches(encoded)
        shard = postings.column("shard_id").to_numpy()
        starts = np.flatnonzero(np.diff(shard, prepend=-1))
        ends = np.append(starts[1:], len(shard))
        for lo, hi in zip(starts, ends):
            shard_rows = postings.slice(lo, hi - lo)
            _write(
                shard_rows, "postings",
                os.path.join(
                    index_dir, "postings", f"shard_id={shard[lo]}", part
                ),
            )
            # the Spark build's per-shard metrics aggregate, over the rows
            metrics["shard_id"].append(int(shard[lo]))
            metrics["n_terms"].append(shard_rows.num_rows)
            metrics["n_postings"].append(pc.sum(shard_rows["count"]).as_py())
            metrics["blob_bytes"].append(
                sum(
                    pc.sum(pc.binary_length(shard_rows[c])).as_py()
                    for c in ("doc_blob", "tf_blob")
                )
            )
    _write(pa.table(metrics), "metrics", os.path.join(index_dir, "metrics", part))
    order_ids = np.argsort(doc_id)
    docs = pa.table(
        {
            "doc_id": doc_id,
            "url": urls,
            "url_md5": [
                hashlib.md5(u.encode("utf-8")).hexdigest()
                if u is not None else None
                for u in urls
            ],
            "lang": langs,
            "doclen": doclen.astype(np.int32),
        }
    ).take(order_ids)
    _write(docs, "docs", os.path.join(index_dir, "docs", part))
    log.lap("write", t_phase)
    log.total()
    n_shards = max(1, math.ceil(n_docs / cfg.shard_size))
    log.event(
        "build_done", n_docs=n_docs, n_shards=n_shards,
        seconds=log.phases["total"],
    )
    return {
        "n_docs": n_docs,
        "n_shards": n_shards,
        "build_phases": log.phases,
    }
