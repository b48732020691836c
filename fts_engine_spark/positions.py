"""Opt-in positional postings: build + index-only phrase queries.

The default phrase plan (``operators/search.py:search_phrase``) answers a
phrase from the term-level index (conjunctive WAND candidates) plus a
verify pass that re-tokenizes the candidate docs from the SOURCE table.
That is the right default — no index growth, candidates are tiny — but it
re-reads source text at query time, and at 10^12 docs a phrase-heavy
workload wants the classic alternative: store token positions in the
index and resolve phrases entirely from posting data. This module is that
option (``BuildConfig.store_positions=True``), an extension beyond the
reference's term-level engine (``engine.go:82-158`` has no positional
queries).

Layout: a ``positions`` table beside ``postings``, partitioned by
``shard_id`` with a parquet bloom filter on ``term`` (same row-group
pruning story as the postings table), one row per (shard, term):

    term        string   -- analyzed term
    shard_id    long     -- partition column
    n_docs      long     -- postings in this (shard, term)
    doc_blob    binary   -- varbyte doc-id deltas (base = shard*shard_size)
    cnt_blob    binary   -- varbyte positions-per-doc counts (== tf)
    pos_blob    binary   -- varbyte positions, per-doc delta-encoded
                            (first absolute, rest diffs), docs concatenated

``cnt_blob`` is stored SEPARATELY from ``pos_blob`` so the query kernel
can locate a candidate doc's position slice by prefix-sum + searchsorted
without sequentially walking every doc's positions — only candidate docs
(the conjunction of all phrase terms, typically a handful) ever have
their positions materialized.

Positions are 0-based indices into the ANALYZED token stream (the same
post-pipeline stream the verify UDFs match), so results are identical to
``search_phrase`` / ``search_phrase_direct`` by construction (asserted in
tests/test_positions.py). Under ``by_lang`` a doc's positions live in its
OWN language pipeline's stream; the query analyzes the phrase once per
pipeline and keeps, per doc, the sequence of the doc's pipeline.

Scale shape: the build is one extra tokenize pass (opt-in cost) feeding
the same shard-hash shuffle as the postings wave; the query is a pruned
scan of ONLY the phrase terms' rows (bloom + min/max on ``term``,
partition pruning on ``shard_id``) → one ``applyInPandas`` per shard →
a docs-table join for url/lang. No source-table scan at any query.

Mutation lifecycle: the batch build (or the retrofit) writes the table;
a pure tombstone-add keeps it servable (dead docs are excluded at query
time); incremental appends EXTEND a fresh table (the staged batch's
positional rows splice in at the shifted shard ids — blobs are
shard-relative, zero re-encode); compaction REBUILDS it from the
renumbered stored-fields text when both sidecars were fresh going in
(``streaming.compact._rebuild_sidecars`` — one tokenize pass over the
live corpus). A table that ever went stale (e.g. appends landed while
it was absent) stays stale, and ``search_phrase_positional`` fails
loudly on any stale snapshot instead of silently missing or
misattributing docs — retrofit via ``add_positions_to_index`` to
re-enter maintenance.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import partial
from typing import TYPE_CHECKING, Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .build import meta_bloom_ndv, salt_policy
from .codec import varbyte_decode, varbyte_encode
from .layout import read_table

if TYPE_CHECKING:  # pragma: no cover
    from .query import FtsIndex

POSITIONS_TABLE = "positions"

_POS_ROW_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("shard_id", T.LongType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("doc_blob", T.BinaryType(), False),
        T.StructField("cnt_blob", T.BinaryType(), False),
        T.StructField("pos_blob", T.BinaryType(), False),
    ]
)


# ------------------------------------------------------------------ codec


def encode_position_group(
    doc_ids: np.ndarray, pos_lists: list[np.ndarray], base_doc: int
) -> tuple[bytes, bytes, bytes]:
    """Encode one (shard, term) group: sorted ``doc_ids`` and, per doc,
    its ascending position array. Returns (doc_blob, cnt_blob, pos_blob)."""
    d = np.asarray(doc_ids, dtype=np.int64)
    deltas = np.empty_like(d)
    deltas[0] = d[0] - base_doc
    deltas[1:] = np.diff(d)
    cnts = np.array([len(p) for p in pos_lists], dtype=np.int64)
    if cnts.sum():
        flat = np.concatenate(
            [np.asarray(p, dtype=np.int64) for p in pos_lists]
        )
        dpos = flat.copy()
        dpos[1:] -= flat[:-1]
        starts = np.concatenate(([0], np.cumsum(cnts)[:-1]))
        dpos[starts] = flat[starts]  # first position per doc is absolute
    else:  # degenerate: every list empty (never produced by the build)
        dpos = np.empty(0, dtype=np.int64)
    return (
        varbyte_encode(deltas),
        varbyte_encode(cnts),
        varbyte_encode(dpos),
    )


def decode_position_group(
    doc_blob: bytes, cnt_blob: bytes, base_doc: int
) -> tuple[np.ndarray, np.ndarray]:
    """Decode (doc_ids, value_offsets) WITHOUT touching ``pos_blob`` —
    offsets index into the decoded pos stream for on-demand slicing."""
    doc_ids = np.cumsum(varbyte_decode(doc_blob).astype(np.int64)) + base_doc
    cnts = varbyte_decode(cnt_blob).astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(cnts)))
    return doc_ids, offsets


def positions_for(
    pos_vals: np.ndarray, offsets: np.ndarray, idx: int
) -> np.ndarray:
    """Absolute positions of doc at posting index ``idx`` given the fully
    varbyte-decoded ``pos_vals`` stream."""
    seg = pos_vals[offsets[idx] : offsets[idx + 1]]
    return np.cumsum(seg.astype(np.int64))


# ------------------------------------------------------------------ build


def _make_flat_positions_kernel(preset: str, shard_size: int):
    """mapInArrow kernel: (doc_id, text[, lang]) batches -> FLAT
    (shard_id, doc_id, term, pos) rows, one per analyzed token
    occurrence. Replaces the r5 nested pandas UDF + JVM explode: the
    ``array<struct<term, array<int>>>`` column cost far more in
    pandas->Arrow nested conversion than the tokenize itself (measured
    r6: the 30k-doc positions tokenize pass was ~7.4 s wall while the
    pipeline compute is ~9 CPU-seconds total); flat int64/string arrays
    convert at memcpy speed."""
    import pyarrow as pa

    from .textproc.pipeline import get_pipeline

    by_lang = preset == "by_lang"

    def kernel(batches):
        from .functions.udfs import _LANG_PRESETS

        if by_lang:
            pipes = {
                k: get_pipeline(v).process for k, v in _LANG_PRESETS.items()
            }
            fallback = get_pipeline("multilingual").process
        else:
            proc = get_pipeline(preset).process
        for batch in batches:
            doc_ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()
            langs = (
                batch.column("lang").to_pylist()
                if by_lang
                else [None] * len(doc_ids)
            )
            out_docs: list[np.ndarray] = []
            out_terms: list[str] = []
            out_pos: list[np.ndarray] = []
            for d, text, lg in zip(doc_ids, texts, langs):
                if text is None:
                    continue
                toks = (
                    pipes.get(lg, fallback)(text) if by_lang else proc(text)
                )
                if not toks:
                    continue
                n = len(toks)
                out_docs.append(np.full(n, d, dtype=np.int64))
                out_terms.extend(toks)
                out_pos.append(np.arange(n, dtype=np.int32))
            if not out_terms:
                continue
            docs_arr = np.concatenate(out_docs)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(docs_arr // shard_size, type=pa.int64()),
                    pa.array(docs_arr, type=pa.int64()),
                    pa.array(out_terms, type=pa.string()),
                    pa.array(np.concatenate(out_pos), type=pa.int32()),
                ],
                names=["shard_id", "doc_id", "term", "pos"],
            )

    return kernel


def build_positions_table(
    spark: SparkSession,
    with_ids: DataFrame,
    index_dir: str,
    preset: str,
    shard_size: int,
    bloom_ndv: int,
    n_shards: int | None = None,
) -> None:
    """Write the positional table from the id-assigned docs
    (``with_ids``: url, text, lang, doc_id — the same ids the postings
    build assigned, so (shard, doc) coordinates line up exactly).

    One extra tokenize pass (cost of the option), then one wide shuffle
    of FLAT ``(shard_id, doc_id, term, pos)`` occurrence rows into the
    per-shard encode kernel. r6: the r5 shape (nested
    ``array<struct<term, array<int>>>`` pandas UDF -> packed exchange ->
    JVM explode) spent most of its wall time converting the nested
    column between pandas and Arrow; the flat ``mapInArrow`` emission
    converts plain int64/string arrays instead and the encode kernel
    reconstructs per-doc position runs vectorized — identical blobs
    (same sorted (term, doc, pos) order feeds the same varbyte
    encoding). Per-shard encoding stays one kernel group (memory bound:
    a shard's occurrence rows)."""
    proj = ["doc_id", "text"] + (["lang"] if preset == "by_lang" else [])
    flat = with_ids.select(*proj).mapInArrow(
        _make_flat_positions_kernel(preset, shard_size),
        schema="shard_id long, doc_id long, term string, pos int",
    )

    def encode_partition(batches):
        """One pass over a (shard, term-salt) partition: every
        (shard, term) group lands wholly here (the salt is a
        deterministic term hash), so the kernel sorts by integer keys
        (dictionary-encoded term codes — no python string compares),
        encodes each group with the same vectorized delta forms as
        :func:`encode_position_group`, and emits rows sorted by
        (shard, term STRING) so parquet min/max stats on ``term`` stay
        tight. Memory bound: one partition's occurrence rows
        (~shard_size/salt_mod documents' positions)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        got = [b for b in batches if b.num_rows]
        if not got:
            return
        tbl = pa.Table.from_batches(got).combine_chunks()
        shard_np = tbl.column("shard_id").chunk(0).to_numpy().astype(np.int64)
        doc_np = tbl.column("doc_id").chunk(0).to_numpy().astype(np.int64)
        pos_np = (
            tbl.column("pos").chunk(0).to_numpy().astype(np.int64)
        )
        dct = pc.dictionary_encode(tbl.column("term").chunk(0))
        codes = dct.indices.to_numpy().astype(np.int64)
        terms_dict = dct.dictionary.to_pylist()
        order = np.lexsort((pos_np, doc_np, codes, shard_np))
        shard_s = shard_np[order]
        code_s = codes[order]
        doc_s = doc_np[order]
        pos_s = pos_np[order]
        change = np.concatenate(
            (
                [True],
                (shard_s[1:] != shard_s[:-1]) | (code_s[1:] != code_s[:-1]),
            )
        )
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], len(shard_s))
        rows = []
        for lo, hi in zip(starts, ends):
            shard_id = int(shard_s[lo])
            base = shard_id * shard_size
            dg = doc_s[lo:hi]
            pg = pos_s[lo:hi]
            run = np.flatnonzero(
                np.concatenate(([True], dg[1:] != dg[:-1]))
            )
            ud = dg[run]
            cnts = np.diff(np.append(run, len(dg)))
            deltas = np.empty_like(ud)
            deltas[0] = ud[0] - base
            deltas[1:] = np.diff(ud)
            # per-doc delta form: first position absolute, rest diffs —
            # exactly encode_position_group's bytes
            dpos = np.empty_like(pg)
            dpos[0] = pg[0]
            dpos[1:] = pg[1:] - pg[:-1]
            dpos[run] = pg[run]
            rows.append(
                (
                    terms_dict[int(code_s[lo])],
                    shard_id,
                    len(ud),
                    varbyte_encode(deltas),
                    varbyte_encode(cnts),
                    varbyte_encode(dpos),
                )
            )
        rows.sort(key=lambda r: (r[1], r[0]))
        cols = list(zip(*rows))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(cols[0], type=pa.string()),
                pa.array(cols[1], type=pa.int64()),
                pa.array(cols[2], type=pa.int64()),
                pa.array(cols[3], type=pa.binary()),
                pa.array(cols[4], type=pa.binary()),
                pa.array(cols[5], type=pa.binary()),
            ],
            names=[f.name for f in _POS_ROW_SCHEMA.fields],
        )

    # term-salted encode partitioning under the postings wave's salt
    # policy (build.salt_policy): with few shards a shard-only hash
    # leaves most of the cluster idle, so a deterministic term hash
    # spreads each shard's groups over more tasks while keeping every
    # (shard, term) group intact — never below the policy's minimum
    # slice, where the task floor outweighs the encode. At production
    # shard counts salt_mod collapses to 1 (the old per-shard hash).
    if n_shards is not None:
        salt_mod = salt_policy(
            shard_size, int(n_shards), spark.sparkContext.defaultParallelism * 2
        )
        n_parts = max(1, int(n_shards) * salt_mod)
    else:
        salt_mod = 1
        n_parts = None
    salted = flat.withColumn(
        "_salt", F.pmod(F.xxhash64("term"), F.lit(salt_mod)).cast("int")
    )
    if n_parts is not None:
        salted = salted.repartition(n_parts, "shard_id", "_salt")
    else:
        salted = salted.repartition("shard_id", "_salt")
    out = salted.drop("_salt").mapInArrow(
        encode_partition, schema=_POS_ROW_SCHEMA
    )
    (
        out.write.mode("overwrite")
        .partitionBy("shard_id")
        .option("parquet.bloom.filter.enabled#term", "true")
        .option("parquet.bloom.filter.expected.ndv#term", str(bloom_ndv))
        .parquet(os.path.join(index_dir, POSITIONS_TABLE))
    )


def add_positions_to_index(
    spark: SparkSession, index_dir: str, docs: DataFrame
) -> None:
    """Retrofit the positional table onto an EXISTING index without a
    rebuild: join the source ``docs`` (url, text [, lang]) to the index's
    docs table for the assigned ids, write the positions table, then
    commit the ``positions`` meta entry atomically. ``docs`` must be the
    same corpus the index was built from (checked by doc count)."""
    from .stored import commit_sidecar_meta, retrofit_with_ids

    meta, with_ids = retrofit_with_ids(
        spark, index_dir, docs, force_lang=True
    )
    build_positions_table(
        spark,
        with_ids,
        index_dir,
        meta["preset"],
        int(meta["shard_size"]),
        meta_bloom_ndv(meta),
        n_shards=-(-int(meta["n_docs"]) // int(meta["shard_size"])),
    )
    commit_sidecar_meta(index_dir, meta, "positions", 1)


# ------------------------------------------------------------------ query


class PositionsUnavailableError(RuntimeError):
    """No positional table, or it is stale relative to the index."""


def check_positions_fresh(index: "FtsIndex") -> str:
    """Return the positional table path, raising
    :class:`PositionsUnavailableError` when the table is absent or was
    built for a different index state (n_docs or table_version moved —
    the latter catches n_docs-preserving mutations like a pure
    delta-merge compaction that renumbers tail doc ids)."""
    meta = index.meta
    pos_meta = meta.get("positions")
    pos_path = os.path.join(index.index_dir, POSITIONS_TABLE)
    if not pos_meta or not os.path.isdir(pos_path):
        raise PositionsUnavailableError(
            "index has no positional table; rebuild with "
            "store_positions=True or use search_phrase (verify-scan path)"
        )
    if int(pos_meta["n_docs"]) != int(meta["n_docs"]) or int(
        pos_meta.get("table_version", 0)
    ) != int(meta.get("table_version", 0)):
        raise PositionsUnavailableError(
            f"positional table is stale: built at n_docs="
            f"{pos_meta['n_docs']}/v{pos_meta.get('table_version', 0)}, "
            f"index now has {meta['n_docs']}/v{meta.get('table_version', 0)} "
            "(appends/compaction maintain the positional table only when "
            "it was fresh going in); rebuild with store_positions=True "
            "or add_positions_to_index"
        )
    return pos_path


def phrase_match_kernel(
    docs_offs: dict[str, tuple[np.ndarray, np.ndarray]],
    pos_vals,
    seq: list[str],
) -> tuple[list[int], list[int]]:
    """(matching doc_ids, phrase counts) for one contiguous analyzed
    term sequence over decoded positional postings. Pure function — the
    distributed per-shard kernel and the driver point tier both run
    exactly this, so their results are identical by construction.

    ``docs_offs`` maps term -> (sorted doc_ids, value offsets) as
    returned by :func:`decode_position_group`; ``pos_vals`` is a
    callable term -> delta-form position value array (first position
    per doc absolute, rest diffs), letting callers decode lazily.
    Every term of ``seq`` must be present in ``docs_offs``.

    Fully vectorized: on dense corpora a phrase conjunction can survive
    with thousands of candidate docs, and a per-doc Python loop was the
    serving cost (measured 870 ms on a 30k-doc bench corpus vs ~10 ms
    for this formulation). Shape: gather every candidate's position
    slice per distinct term with one ragged take, reconstruct absolute
    positions with a segmented cumsum, pack (doc, start) into int64
    keys (start = position - term offset), and intersect the key sets
    across the sequence — surviving keys ARE the phrase starts."""
    cand, gathered, cap = _gather_positions(docs_offs, pos_vals, seq)
    if cand.size == 0:
        return [], []
    running: np.ndarray | None = None
    for j, t in enumerate(seq):
        dense, absp = gathered[t]
        if j:
            keep = absp >= j
            keys = dense[keep] * cap + (absp[keep] - j)
        else:
            keys = dense * cap + absp
        running = (
            keys
            if running is None
            else running[np.isin(running, keys, assume_unique=True)]
        )
        if running.size == 0:
            return [], []
    uniq, counts = np.unique(running // cap, return_counts=True)
    return cand[uniq].tolist(), counts.tolist()


def _gather_positions(
    docs_offs: dict[str, tuple[np.ndarray, np.ndarray]],
    pos_vals,
    seq: list[str],
) -> tuple[np.ndarray, dict[str, tuple[np.ndarray, np.ndarray]], int]:
    """Shared front half of the positional kernels: conjunction
    candidates (docs containing every DISTINCT ``seq`` term) plus, per
    distinct term, its candidate-restricted ``(dense candidate index,
    absolute position)`` arrays, and the packing modulus ``cap`` for
    (candidate, position) -> int64 keys (position <= max_pos < cap;
    n_cand * cap stays far under 2^63 since positions are token
    indices). Returns ``(empty, {}, 0)`` when the conjunction dies."""
    cand = docs_offs[seq[0]][0]
    for t in set(seq[1:]):
        cand = cand[np.isin(cand, docs_offs[t][0], assume_unique=True)]
        if cand.size == 0:
            return cand, {}, 0
    n_cand = cand.size
    gathered: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    max_pos = 0
    for t in dict.fromkeys(seq):
        docs_t, offs_t = docs_offs[t]
        idx = np.searchsorted(docs_t, cand)
        starts = offs_t[idx]
        lens = (offs_t[idx + 1] - starts).astype(np.int64)
        total = int(lens.sum())
        excl = np.concatenate(([0], np.cumsum(lens)[:-1]))
        take = np.arange(total, dtype=np.int64) + np.repeat(
            starts - excl, lens
        )
        vals = pos_vals(t)[take]
        run = np.cumsum(vals)
        base = run[excl] - vals[excl]  # every candidate has lens > 0
        absp = run - np.repeat(base, lens)
        gathered[t] = (np.repeat(np.arange(n_cand, dtype=np.int64), lens),
                       absp)
        max_pos = max(max_pos, int(absp.max()))
    return cand, gathered, max_pos + 2


def span_near_unordered_kernel(
    docs_offs: dict[str, tuple[np.ndarray, np.ndarray]],
    pos_vals,
    seq: list[str],
    slop: int,
) -> tuple[list[int], list[int]]:
    """(matching doc_ids, qualifying-anchor counts) for an UNORDERED
    proximity match — the ``SpanNearQuery(inOrder=false)`` analog: a doc
    matches when all DISTINCT terms of ``seq`` co-occur, in any order,
    within a window of ``n_distinct + slop`` tokens. Duplicates in
    ``seq`` collapse (multiplicity has no natural unordered meaning);
    the count per doc is the number of distinct anchor positions — any
    position ``p`` of any of the terms such that every term occurs in
    ``[p, p + n_distinct - 1 + slop]``.

    Vectorized like the ordered kernel: one ``searchsorted`` per term
    over the merged anchor keys (earliest occurrence >= anchor, same
    doc, within the window)."""
    if slop < 0:
        raise ValueError(f"slop must be >= 0, got {slop}")
    terms = list(dict.fromkeys(seq))
    cand, gathered, cap = _gather_positions(docs_offs, pos_vals, terms)
    if cand.size == 0:
        return [], []
    window = len(terms) - 1 + slop  # max (last - anchor) token span
    anchors = np.sort(
        np.concatenate([d * cap + p for d, p in gathered.values()])
    )
    ok = np.ones(anchors.size, dtype=bool)
    for t in terms:
        dense, absp = gathered[t]
        nxt = dense * cap + absp
        idx = np.searchsorted(nxt, anchors, side="left")
        inb = idx < nxt.size
        near = nxt[np.minimum(idx, nxt.size - 1)]
        ok &= (
            inb
            & ((near // cap) == (anchors // cap))
            & ((near % cap) - (anchors % cap) <= window)
        )
    hits = anchors[ok]
    if hits.size == 0:
        return [], []
    uniq, counts = np.unique(hits // cap, return_counts=True)
    return cand[uniq].tolist(), counts.tolist()


def span_near_kernel(
    docs_offs: dict[str, tuple[np.ndarray, np.ndarray]],
    pos_vals,
    seq: list[str],
    slop: int,
) -> tuple[list[int], list[int]]:
    """(matching doc_ids, qualifying-start counts) for an ORDERED
    proximity match — the Lucene ``SpanNearQuery(inOrder=true)`` /
    interval-query analog of :func:`phrase_match_kernel`: a doc matches
    when it has positions ``p_0 < p_1 < ... < p_{n-1}``, one per
    sequence term IN ORDER, spanning at most ``len(seq) + slop`` tokens
    (``p_last - p_0 <= len(seq) - 1 + slop``). The count per doc is the
    number of distinct start positions ``p_0`` that open a qualifying
    chain; ``slop=0`` is exactly the phrase kernel (positions strictly
    increase, so a span of n-1 forces consecutiveness — property-tested
    in tests/test_phrase_kernel.py).

    Same fully-vectorized shape as the phrase kernel, and the same
    pure-function contract (the distributed per-shard path and the
    driver point tier run THIS function, so the tiers agree by
    construction). The chain steps with ONE ``searchsorted`` per
    sequence term: greedy earliest-next-occurrence minimizes the chain
    end for every start simultaneously, so "some chain fits the window"
    is equivalent to "the greedy chain fits" — no per-doc loops, no
    backtracking. A step that leaves the start's doc (the packed key
    jumps candidates) drops that start."""
    if slop < 0:
        raise ValueError(f"slop must be >= 0, got {slop}")
    cand, gathered, cap = _gather_positions(docs_offs, pos_vals, seq)
    if cand.size == 0:
        return [], []
    dense0, abs0 = gathered[seq[0]]
    starts = dense0 * cap + abs0  # packed (candidate, p_0); stays fixed
    cur = starts  # chain frontier: packed (candidate, p_j)
    for t in seq[1:]:
        dense, absp = gathered[t]
        nxt = dense * cap + absp  # ascending: candidates asc, pos asc
        idx = np.searchsorted(nxt, cur, side="right")
        ok = idx < nxt.size
        cur = nxt[idx[ok]]
        starts = starts[ok]
        same_doc = (cur // cap) == (starts // cap)
        cur = cur[same_doc]
        starts = starts[same_doc]
        if cur.size == 0:
            return [], []
    fits = (cur % cap) - (starts % cap) <= len(seq) - 1 + slop
    starts = starts[fits]
    if starts.size == 0:
        return [], []
    uniq, counts = np.unique(starts // cap, return_counts=True)
    return cand[uniq].tolist(), counts.tolist()


def _pipelines(index: "FtsIndex") -> list[str]:
    """The analysis pipelines a doc of this index can have been built
    with: the preset itself, or under by_lang every language pipeline
    plus multilingual (sorted)."""
    if index.preset != "by_lang":
        return [index.preset]
    from .functions.udfs import _LANG_PRESETS

    return sorted({*_LANG_PRESETS.values(), "multilingual"})


def _doc_pipeline_col(index: "FtsIndex") -> F.Column:
    """The pipeline that analyzed each doc at build time."""
    if index.preset != "by_lang":
        return F.lit(index.preset)
    from .functions.udfs import _LANG_PRESETS

    col = F.lit("multilingual")
    for lang, preset in sorted(_LANG_PRESETS.items()):
        col = F.when(F.col("lang") == lang, F.lit(preset)).otherwise(col)
    return col


def fetch_point_positions(
    index: "FtsIndex", terms: list[str]
) -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """ONE Spark job fetching the positional rows of ``terms`` (pruned
    scan: bloom + min/max on ``term``), decoded and concatenated across
    shards into per-term GLOBAL arrays for the driver point tier:

        term -> (doc_ids, offsets, dpos)

    ``doc_ids`` is globally sorted (shard s owns ids in
    [s*shard_size, (s+1)*shard_size), so shard-order concatenation is a
    sorted merge for free); ``offsets`` indexes per-doc slices of
    ``dpos``; ``dpos`` stays in the codec's per-doc delta form so
    :func:`phrase_match_kernel` runs unchanged."""
    pos_path = check_positions_fresh(index)
    shard_size = int(index.meta["shard_size"])
    rows = (
        read_table(index.spark, pos_path, "positions")
        .where(F.col("term").isin(list(terms)))
        .collect()
    )
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r)
    out: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    for term, trs in by_term.items():
        trs.sort(key=lambda r: int(r["shard_id"]))
        doc_parts: list[np.ndarray] = []
        off_parts: list[np.ndarray] = [np.zeros(1, dtype=np.int64)]
        pos_parts: list[np.ndarray] = []
        pos_base = 0
        for r in trs:
            base = int(r["shard_id"]) * shard_size
            d, o = decode_position_group(
                bytes(r["doc_blob"]), bytes(r["cnt_blob"]), base
            )
            doc_parts.append(d)
            off_parts.append(o[1:] + pos_base)
            p = varbyte_decode(bytes(r["pos_blob"])).astype(np.int64)
            pos_parts.append(p)
            pos_base += int(o[-1])
        out[term] = (
            np.concatenate(doc_parts),
            np.concatenate(off_parts),
            np.concatenate(pos_parts) if pos_parts else
            np.empty(0, dtype=np.int64),
        )
    return out


@dataclass
class _PositionalQuery:
    """One phrase / near / phrase-prefix query resolved once, independent
    of the tier that runs it: ``sequences`` (pipeline -> concrete term
    sequences; a doc's counts sum over its pipeline's variants), the
    matching ``kernel(docs_offs, pos_vals, seq)``, the output
    ``count_col``, ``k`` (<= 0: all) and the fresh positional table
    ``path``. :func:`_search_positional` runs it distributed,
    :meth:`FtsIndex._positional_point` in-process."""

    sequences: dict[str, list[list[str]]]
    kernel: Callable
    count_col: str
    k: int
    path: str


def _resolve_positional(
    index: "FtsIndex",
    phrase: str,
    k: int,
    slop: int | None = None,
    in_order: bool = True,
    max_expansions: int | None = None,
) -> _PositionalQuery:
    """Resolve a positional query once for either tier. Each pipeline
    analyzes ``phrase`` on its own (under by_lang a doc matches through
    its build pipeline's sequence). ``slop=None`` is a phrase
    (:func:`phrase_match_kernel`, counted as ``phrase_count``); an int
    is a proximity query (:func:`span_near_kernel`, or
    :func:`span_near_unordered_kernel` with ``in_order=False``, counted
    as ``near_count``).

    ``max_expansions`` makes it ES ``match_phrase_prefix``: the LAST
    whitespace token (an optional trailing ``*`` stripped) is a
    Go-lowered dictionary prefix — never stemmed, the multi-term-rewrite
    semantics of ``_rewrite_mult`` — and each of its top
    ``max_expansions`` expansions (``index._expand``: df desc, term asc)
    completes one variant of the analyzed head. A head that analyzes to
    nothing degrades to a counted prefix term, so single-token
    autocomplete works.

    Empty sequences drop, and so — when the driver holds the
    dictionary, the one place that costs no job — do sequences with a
    term outside it: they can never match. Raises
    ``PositionsUnavailableError`` when the table is absent or stale."""
    from .query import normalize_query

    path = check_positions_fresh(index)
    head, tails = phrase, [[]]
    if max_expansions is not None:
        toks = phrase.split()
        pat = toks[-1] if toks else ""
        if len(pat) > 1 and pat.endswith("*"):
            pat = pat[:-1]
        from .textproc.gocompat import go_lower

        expansions = (
            index._expand(go_lower(pat), "prefix", 0, max_expansions)
            if pat and pat != "*"
            else []
        )
        head, tails = " ".join(toks[:-1]), [[e] for e in expansions]
    td = index._term_dict
    sequences = {}
    for pipe in _pipelines(index):
        fixed = normalize_query(head, pipe)
        kept = [
            s
            for s in (fixed + tail for tail in tails)
            if s and (td is None or all(t in td for t in s))
        ]
        if kept:
            sequences[pipe] = kept
    if slop is None:
        kernel, count_col = phrase_match_kernel, "phrase_count"
    else:
        base = span_near_kernel if in_order else span_near_unordered_kernel
        kernel, count_col = partial(base, slop=slop), "near_count"
    return _PositionalQuery(sequences, kernel, count_col, k, path)


def _match_variants(sequences, kernel, docs_offs, pos_vals):
    """Run every sequence variant through ``kernel`` and sum a doc's
    counts over its pipeline's variants, yielding ``(pipeline, doc_ids
    asc, counts)`` per pipeline that matched — the one accumulation both
    tiers run (per shard distributed, over the driver's global arrays
    in-process). A variant with a term absent from ``docs_offs`` cannot
    match and is skipped; variant match sets are position-disjoint (one
    token occupies each (doc, start)), so the sum is exact. A sequence
    several pipelines share (english and multilingual often agree) runs
    once."""
    memo: dict[tuple[str, ...], tuple[list[int], list[int]]] = {}
    for pipe, seqs in sorted(sequences.items()):
        acc: dict[int, int] = {}
        for seq in seqs:
            if any(t not in docs_offs for t in seq):
                continue
            key = tuple(seq)
            if key not in memo:
                memo[key] = kernel(docs_offs, pos_vals, seq)
            for d, c in zip(*memo[key]):
                acc[d] = acc.get(d, 0) + c
        if acc:
            docs = sorted(acc)
            yield pipe, docs, [acc[d] for d in docs]


def search_phrase_positional(
    index: "FtsIndex", phrase: str, k: int = 10
) -> DataFrame:
    """(doc_id, url, phrase_count) for docs containing the contiguous
    analyzed-token sequence, count desc / doc_id asc, LIMIT k (k<=0 =
    all) — identical output contract to ``operators.search.search_phrase``
    but resolved ENTIRELY from the positional table: pruned scan of the
    phrase terms' rows → per-shard intersection kernel → docs join for
    url (and, under by_lang, the doc-pipeline filter)."""
    return _search_positional(index, _resolve_positional(index, phrase, k))


def search_phrase_prefix_positional(
    index: "FtsIndex", phrase: str, k: int = 10, max_expansions: int = 50
) -> DataFrame:
    """ES ``match_phrase_prefix`` (autocomplete): the last whitespace
    token of ``phrase`` is a dictionary prefix; a doc matches when any
    expansion completes the contiguous phrase. ``(doc_id, url,
    phrase_count)`` where the count sums phrase starts over expansions
    (disjoint by construction — one token per position), count desc /
    doc_id asc, LIMIT k (k<=0 = all). Expansion is ``index._expand``'s
    deterministic df-desc/term-asc top-``max_expansions`` (one bounded
    dictionary job, none when the handle holds the driver dictionary),
    then ONE positional job runs every variant over the same pruned scan
    of fixed-terms ∪ expansions rows."""
    return _search_positional(
        index,
        _resolve_positional(index, phrase, k, max_expansions=max_expansions),
    )


def search_near_positional(
    index: "FtsIndex",
    phrase: str,
    slop: int,
    k: int = 10,
    in_order: bool = True,
) -> DataFrame:
    """(doc_id, url, near_count) for docs matching the analyzed terms of
    ``phrase`` as a proximity query (Lucene SpanNearQuery analog) —
    ordered within ``len(terms) + slop`` tokens by default
    (:func:`span_near_kernel`), or any-order co-occurrence within
    ``n_distinct + slop`` tokens with ``in_order=False``
    (:func:`span_near_unordered_kernel`) — count desc / doc_id asc,
    LIMIT k (k<=0 = all). Same plan shape as
    :func:`search_phrase_positional` — pruned positional scan, one
    kernel call per shard, docs join for url — and ordered ``slop=0``
    returns exactly the phrase result (modulo the count column's
    name)."""
    return _search_positional(
        index,
        _resolve_positional(index, phrase, k, slop=slop, in_order=in_order),
    )


def _search_positional(index: "FtsIndex", pq: _PositionalQuery) -> DataFrame:
    """The distributed executor of a resolved positional query: pruned
    scan of the sequence terms' positional rows → :func:`_match_variants`
    per shard → tombstone exclusion + docs join (url, and the
    doc-pipeline filter under by_lang) → (count desc, doc_id asc) top-k."""
    spark = index.spark
    count_col = pq.count_col
    if not pq.sequences:
        return spark.createDataFrame(
            [], f"doc_id long, url string, {count_col} long"
        )
    all_terms = sorted(
        {t for seqs in pq.sequences.values() for seq in seqs for t in seq}
    )
    shard_size = int(index.meta["shard_size"])
    scan = read_table(spark, pq.path, "positions").where(
        F.col("term").isin(all_terms)
    )
    sequences, kernel = pq.sequences, pq.kernel

    def match_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        out_docs: list[int] = []
        out_pipes: list[str] = []
        out_counts: list[int] = []
        if not pdf.empty:
            base = int(pdf["shard_id"].iloc[0]) * shard_size
            # term -> (doc_ids, offsets, lazy pos values)
            decoded: dict[str, tuple[np.ndarray, np.ndarray, bytes]] = {}
            for r in pdf.itertuples(index=False):
                doc_ids, offsets = decode_position_group(
                    bytes(r.doc_blob), bytes(r.cnt_blob), base
                )
                decoded[r.term] = (doc_ids, offsets, bytes(r.pos_blob))
            pos_cache: dict[str, np.ndarray] = {}

            def pos_vals(term: str) -> np.ndarray:
                v = pos_cache.get(term)
                if v is None:
                    v = varbyte_decode(decoded[term][2]).astype(np.int64)
                    pos_cache[term] = v
                return v

            docs_offs = {t: (d, o) for t, (d, o, _) in decoded.items()}
            for pipe, docs_m, counts_m in _match_variants(
                sequences, kernel, docs_offs, pos_vals
            ):
                out_docs.extend(docs_m)
                out_counts.extend(counts_m)
                out_pipes.extend([pipe] * len(docs_m))
        return pd.DataFrame(
            {
                "doc_id": pd.Series(out_docs, dtype="int64"),
                "pipeline": pd.Series(out_pipes, dtype="object"),
                "match_count": pd.Series(out_counts, dtype="int64"),
            }
        )

    # shard-bounded exchange into the kernel (FtsIndex._agg_parts): the
    # positional scan is never cached, so the groupBy would otherwise
    # shuffle into the full session partition count — ~250-300 ms of
    # reduce-task overhead at bench scale for a 15-shard index (r6)
    matched = (
        scan.repartition(index._agg_parts(), "shard_id")
        .groupBy("shard_id")
        .applyInPandas(
            match_shard,
            schema="doc_id long, pipeline string, match_count long",
        )
    )
    docs = index.docs().select("doc_id", "url", "lang")
    out = (
        # tombstoned docs (mutate.delete_documents) are excluded before
        # the top-k; their positional rows purge at compaction (which
        # staleness-checks this table via n_docs + table_version anyway)
        index._exclude_dead(matched.join(docs, "doc_id"))
        .where(F.col("pipeline") == _doc_pipeline_col(index))
        .select(
            "doc_id", "url", F.col("match_count").alias(count_col)
        )
        .orderBy(F.desc(count_col), F.asc("doc_id"))
    )
    return out.limit(pq.k) if pq.k > 0 else out
