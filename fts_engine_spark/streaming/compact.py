"""Delta-shard compaction for incrementally-grown indexes.

Every incremental micro-batch appends >=1 delta shard
(``incremental._append_batch``), so a long-running ingest accumulates many
small shards; warm-cache task count and per-query kernel invocations both
scale with shard count (VERDICT r3 missing #3). Compaction restores the
batch-build invariant — every shard full except possibly the last — and
commits atomically via the meta-pointer swap (:mod:`..layout`).

Prefix preservation (the 100 TB shape of the job): shards ``0..P-1``,
where ``P`` is the first non-full shard, already hold a dense prefix of
doc ids — their postings files are carried into the new postings directory
UNCHANGED via a local file copy (no decode, no shuffle; an object-store
deployment would swap this one step for server-side copy, which this local
implementation does not do). Only docs with ``doc_id >= P*shard_size``
(the partial base tail plus every delta shard) are renumbered — densely,
in doc-id order, so the remap is MONOTONE and re-sorting within posting
lists is never needed. The tail is decoded by one ``mapInArrow`` kernel
straight off the Arrow binary buffers (:func:`_make_tail_decoder`: one
varbyte pass per batch, doc ids rebuilt by a segmented cumsum, tombstones
dropped, ids remapped) and re-encoded by the batch build's own
sort-group-encode core (``build._make_list_encoder``), term-salted under
``build.salt_policy`` — no pandas stage and no JVM sort. After a long
ingest P covers almost the whole index, so compaction cost is
proportional to the delta tail, not the index.

Crash safety: new postings/docs/metrics are written to versioned dirs; one
``atomic_write_json`` flips all three pointers + ``n_shards`` together. A
kill at ANY earlier point leaves the live index untouched (pytest
kill-injection in tests/test_compact.py); stale ``*_vN`` dirs from a
killed run are overwritten by the retry (same version allocated until a
commit bumps ``table_version``).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..build import (
    POSTINGS_SCHEMA,
    BuildConfig,
    _i64,
    _make_list_encoder,
    meta_bloom_ndv,
    salt_policy,
)
from ..checkpoint import Manifest, atomic_write_json
from ..codec import decode_doc_blobs, varbyte_decode_binary
from ..layout import (
    TermDelta,
    avgdl,
    merge_terms,
    next_version_dir,
    read_table,
    table_path,
)

# posting-list pieces of the decoded tail: one row per (old row, new shard)
_TAIL_PIECES_SCHEMA = (
    "shard_id long, term string, doc_id array<long>, tf array<int>, "
    "dl array<int>"
)


def remap_ids(
    ids: np.ndarray,
    P: int,
    shard_size: int,
    shift_arr: np.ndarray,
    dead: np.ndarray,
) -> np.ndarray:
    """The compaction renumbering, as one pure vectorized function (shared
    by the postings re-encode and the docs-table rewrite; property-tested
    in tests/test_delete_property.py): prefix ids (< P*shard_size) are
    unchanged; a live tail id maps to ``P*shard_size + (live tail ids
    before it)`` — occupancy gaps via the per-shard scalar shift, pending
    deletes via the id's rank in the sorted dead array. Monotone by
    construction; callers must have dropped dead ids already."""
    ids = np.asarray(ids, dtype=np.int64)
    out = ids.copy()
    tail = ids >= P * shard_size
    if tail.any():
        t = ids[tail]
        shifted = t + shift_arr[(t // shard_size) - P]
        if dead.size:
            shifted = shifted - np.searchsorted(dead, t)
        out[tail] = shifted
    return out


def _tail_postings(spark: SparkSession, postings_path: str, P: int) -> DataFrame:
    """Postings rows of shards >= P. The predicate is on the PARTITION
    column, so the scan prunes whole shard directories — compaction reads
    only the delta tail, never the full-shard prefix (plan-asserted in
    tests/test_plans.py)."""
    return (
        read_table(spark, postings_path, "postings")
        .where(F.col("shard_id") >= P)
        .withColumn("shard_id", F.col("shard_id").cast("long"))
    )


def _make_tail_decoder(
    P: int, shard_size: int, shift_arr: np.ndarray, dead_bc
):
    """mapInArrow kernel over tail posting rows ``(shard_id, term, count,
    doc_blob, tf_blob, dl_blob)``: decode each batch in ONE varbyte pass
    per blob column straight off the Arrow buffers (doc ids by
    ``codec.decode_doc_blobs``, tf/dl by ``codec.varbyte_decode_binary``),
    check every row's posting count against ``count``, drop tombstoned
    postings, renumber with :func:`remap_ids` and emit posting-list
    pieces — one row per (input row, new shard), since the remap can
    carry a list across a shard boundary — for
    ``build._make_list_encoder``. No per-row Python."""
    import pyarrow as pa

    def decode(batches):
        dead = dead_bc.value
        for b in batches:
            n = b.num_rows
            if not n:
                continue
            parent, doc = decode_doc_blobs(
                b.column("doc_blob"), _i64(b.column("shard_id")) * shard_size
            )
            tf = varbyte_decode_binary(b.column("tf_blob")).astype(np.int32)
            dl = varbyte_decode_binary(b.column("dl_blob")).astype(np.int32)
            if not (
                len(tf) == len(dl) == len(doc)
                and np.array_equal(
                    np.bincount(parent, minlength=n), _i64(b.column("count"))
                )
            ):
                raise ValueError("tail blobs disagree with their counts")
            if dead.size:
                pos = np.searchsorted(dead, doc)
                np.minimum(pos, dead.size - 1, out=pos)
                keep = dead[pos] != doc
                doc, tf, dl, parent = doc[keep], tf[keep], dl[keep], parent[keep]
            m = len(doc)
            if not m:
                continue
            new_ids = remap_ids(doc, P, shard_size, shift_arr, dead)
            shard = new_ids // shard_size
            cut = np.empty(m, dtype=bool)
            cut[0] = True
            np.logical_or(
                parent[1:] != parent[:-1], shard[1:] != shard[:-1], out=cut[1:]
            )
            first = np.flatnonzero(cut)
            offs = pa.array(np.append(first, m).astype(np.int32))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(shard[first]),
                    b.column("term").take(pa.array(parent[first])),
                    pa.ListArray.from_arrays(offs, pa.array(new_ids)),
                    pa.ListArray.from_arrays(offs, pa.array(tf)),
                    pa.ListArray.from_arrays(offs, pa.array(dl)),
                ],
                names=["shard_id", "term", "doc_id", "tf", "dl"],
            )

    return decode


def _reencoded_tail(
    tail: DataFrame,
    P: int,
    shard_size: int,
    skip: int,
    shift_arr: np.ndarray,
    dead_bc,
    n_tail_new: int,
    enc_p: int,
) -> DataFrame:
    """The re-encode plan over the tail scan: Scan → MapInArrow(decode) →
    Exchange(shard, term salt) → MapInArrow(encode) — no pandas stage, no
    JVM sort (plan-asserted in tests/test_plans.py). The salt follows the
    postings wave's policy, so an encode task holds ~shard_size/salt docs'
    postings even at 1M-doc shards; a (shard, term) group may arrive in
    pieces from several old shards, which the encoder's in-kernel sort
    merges."""
    salt_mod = salt_policy(shard_size, n_tail_new, enc_p)
    pieces = tail.select(
        "shard_id", "term", "count", "doc_blob", "tf_blob", "dl_blob"
    ).mapInArrow(
        _make_tail_decoder(P, shard_size, shift_arr, dead_bc),
        _TAIL_PIECES_SCHEMA,
    )
    return (
        pieces.withColumn(
            "_salt", F.pmod(F.xxhash64("term"), F.lit(salt_mod)).cast("int")
        )
        .repartition(n_tail_new * salt_mod, "shard_id", "_salt")
        .drop("_salt")
        .mapInArrow(_make_list_encoder(shard_size, skip), POSTINGS_SCHEMA)
    )


def _occupancy(docs: DataFrame, shard_size: int) -> dict[int, int]:
    """Docs per shard — one small aggregate row per shard (collect is
    bounded by shard count: 10^6 rows at 10^12 docs / 1M shard_size)."""
    rows = (
        docs.groupBy(
            (F.col("doc_id") / shard_size).cast("long").alias("shard_id")
        )
        .count()
        .collect()
    )
    return {int(r["shard_id"]): int(r["count"]) for r in rows}


def compact_index(
    spark: SparkSession,
    index_dir: str,
    cfg: BuildConfig | None = None,
    remove_old: bool = True,
    bloom_ndv: int | None = None,
    maintain_sidecars: bool = True,
) -> dict:
    """Merge under-filled (delta) shards into full ``shard_size`` shards.

    Returns the committed meta. No-op (returns current meta) when the
    index is already compact (every shard full except possibly the last).

    ``remove_old=False`` keeps the previous table directories after the
    pointer flip: readers that resolved their paths BEFORE the commit
    keep working (the flip itself is atomic either way, but the default
    removal deletes the directories such readers still reference — on a
    deployment with long-lived readers, compact with ``remove_old=False``
    and garbage-collect old ``*_vN`` dirs after a reader drain).

    ``maintain_sidecars`` (default True) carries the stored-fields and
    positional sidecars through the compaction instead of leaving them
    stale: the stored table is renumbered with the SAME pure remap the
    postings/docs rewrite used (dead rows dropped, no tokenize), and the
    positional table is rebuilt from the renumbered stored text (one
    tokenize pass — the same cost class as the opt-in build pass). Only
    sidecars that were FRESH going in are maintained (an appends-made-it-
    stale sidecar stays stale and keeps failing loudly); positions
    additionally need the stored table as their text source, so
    positions-without-stored stays stale too (documented). The rebuild
    runs AFTER the compaction commit — a crash mid-rebuild leaves stale
    sidecar pins, which the staleness gates already reject loudly.

    Under tombstones the dictionary is corrected by
    :func:`..layout.merge_terms` from the old tail (sign −1) and the
    re-encoded tail (+1) posting rows at ``shard_id >= P`` — in the
    driver (no Spark job) within ``layout.DRIVER_MERGE_MAX_BYTES`` of
    estimated memory, else on Spark — and avgdl is re-derived from the
    Σcf the merge returns (``layout.avgdl``), so no job re-reads the
    written dictionary."""
    cfg = cfg or BuildConfig()
    meta_path = os.path.join(index_dir, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    # the index's own bloom sizing wins over a default cfg: a CLI caller
    # passing BuildConfig() must not shrink a 1M-ndv production filter to
    # the 65536 default (meta records bloom_ndv since r5). An explicit
    # bloom_ndv= argument resizes deliberately (vocabulary growth) and is
    # committed back into meta below.
    if bloom_ndv is None:
        bloom_ndv = int(meta.get("bloom_ndv", cfg.bloom_ndv))
    from ..build import META_VERSION

    if int(meta.get("version", -1)) != META_VERSION:
        from ..query import IndexVersionError

        raise IndexVersionError(
            f"index at {index_dir} has meta version {meta.get('version')}, "
            f"this build compacts version {META_VERSION} — migrate first"
        )
    shard_size = int(meta["shard_size"])
    skip = int(meta.get("skip_block", cfg.skip_block))
    n_docs = int(meta["n_docs"])
    n_shards = int(meta["n_shards"])

    # sidecar freshness BEFORE the rewrite (stale-in stays stale-out)
    from ..stored import STORED_TABLE, STORED_VERSION

    def _sidecar_fresh(key: str, version: int) -> bool:
        sc = meta.get(key)
        return (
            bool(sc)
            and int(sc.get("version", 1)) == version
            and int(sc.get("n_docs", -1)) == n_docs
            # batch-built pins have no table_version key: default 0, the
            # same default the serving staleness gates use
            and int(sc.get("table_version", 0))
            == int(meta.get("table_version", 0))
        )

    stored_fresh = (
        maintain_sidecars
        and _sidecar_fresh("stored", STORED_VERSION)
        and os.path.isdir(os.path.join(index_dir, STORED_TABLE))
    )
    positions_fresh = (
        maintain_sidecars and stored_fresh and _sidecar_fresh("positions", 1)
    )

    docs_path = table_path(index_dir, meta, "docs")
    postings_path = table_path(index_dir, meta, "postings")
    docs = read_table(spark, docs_path, "docs", meta.get("meta_cols", ()))
    occ = _occupancy(docs, shard_size)

    # tombstones (mutate.delete_documents): compaction is where logical
    # deletes become physical — dead docs drop out of the re-encoded tail,
    # ids close ranks (still monotone), and df/cf/avgdl/n_docs are
    # corrected exactly. The sorted dead-id array is bounded by the
    # deletes-between-compactions discipline (same posture as serving's
    # broadcast; see mutate.py docstring).
    from ..mutate import read_tombstones

    dead_df = read_tombstones(spark, index_dir, meta)
    dead = (
        np.sort(
            np.array(
                [r["doc_id"] for r in dead_df.select("doc_id").collect()],
                dtype=np.int64,
            )
        )
        if dead_df is not None
        else np.zeros(0, dtype=np.int64)
    )
    have_dead = dead.size > 0

    # P = first shard that is not full; everything before it is untouched.
    # A tombstone inside the full prefix forces that shard (and everything
    # after) into the re-encoded tail — the file-copy fast path only ever
    # carries shards with zero pending mutations.
    P = 0
    while P < n_shards and occ.get(P, 0) == shard_size:
        P += 1
    if have_dead:
        P = min(P, int(dead[0]) // shard_size)
    tail_shards = sorted(s for s in occ if s >= P)
    if len(tail_shards) <= 1 and not have_dead:
        return meta  # already compact

    # dense monotone renumbering of the tail: new ids continue from
    # P*shard_size in old-doc-id order; per old shard the occupancy part
    # of the remap is a single scalar shift (ids within a shard are
    # contiguous from base), and pending deletes subtract each id's rank
    # in the sorted dead array — still monotone, so posting lists never
    # need re-sorting. The combined remap equals a fresh build's id
    # assignment over the surviving corpus (assign_doc_ids ranks by a
    # subset-stable order), asserted in tests/test_delete.py.
    base = P * shard_size
    # shift indexed by (s - P): a flat int64 array (not a dict) so the
    # kernel closure stays ~8 B/tail-shard when pickled to executors
    shift_arr = np.zeros(tail_shards[-1] - P + 1, dtype=np.int64)
    acc = base
    for s in tail_shards:
        shift_arr[s - P] = acc - s * shard_size
        acc += occ[s]
    if acc != n_docs:
        raise RuntimeError(
            f"compaction occupancy mismatch: docs table holds {acc} "
            f"ids but meta.n_docs={n_docs}"
        )
    n_live = n_docs - int(dead.size)
    n_new_shards = max(1, -(-n_live // shard_size))
    dead_bc = spark.sparkContext.broadcast(dead)

    tail = _tail_postings(spark, postings_path, P)
    reencoded = _reencoded_tail(
        tail, P, shard_size, skip, shift_arr, dead_bc,
        max(1, n_new_shards - P),
        cfg.enc_partitions or spark.sparkContext.defaultParallelism * 2,
    )

    new_postings, _, post_ptr = next_version_dir(index_dir, meta, "postings")
    shutil.rmtree(new_postings, ignore_errors=True)
    (
        reencoded.write.mode("overwrite")
        .partitionBy("shard_id")
        .option("parquet.bloom.filter.enabled#term", "true")
        .option("parquet.bloom.filter.expected.ndv#term", str(bloom_ndv))
        .parquet(new_postings)
    )
    # carry the full prefix unchanged. Occupancy proved shards 0..P-1 are
    # full of DOCS; a missing postings directory is either corruption
    # (committing would flip to a table missing that shard's postings —
    # ADVICE r4 #2) or a legitimately posting-less shard (every doc
    # tokenized to zero terms: punctuation-only / empty pages, which
    # partitionBy writes no dir for). The metrics table tells them apart:
    # it has a row exactly for shards the build emitted posting rows for.
    shards_with_postings = {
        int(r["shard_id"])
        for r in read_table(
            spark, table_path(index_dir, meta, "metrics"), "metrics"
        )
        .select("shard_id").where(F.col("shard_id") < P).collect()
    }
    for s in range(P):
        src = os.path.join(postings_path, f"shard_id={s}")
        if not os.path.isdir(src):
            if s in shards_with_postings:
                raise RuntimeError(
                    f"compaction: prefix shard dir {src} is missing but "
                    "the metrics table says the shard has postings — "
                    "postings table is corrupt or the path is not locally "
                    "accessible; aborting before the pointer flip"
                )
            continue  # legitimately posting-less full shard
        shutil.copytree(
            src, os.path.join(new_postings, f"shard_id={s}"),
            dirs_exist_ok=True,
        )

    # docs: drop tombstoned rows, renumber the tail ids; one broadcast
    # join on shard plus (under deletes) a vectorized dead-rank subtraction
    # — every dead id is >= P*shard_size, so prefix ids subtract rank 0
    from ..localdf import local_df

    shift_df = local_df(
        spark,
        [(s, int(shift_arr[s - P])) for s in tail_shards],
        "shard long, shift long",
    )
    new_docs_dir, _, docs_ptr = next_version_dir(index_dir, meta, "docs")
    if have_dead:
        # one vectorized pandas UDF applying the SAME pure remap the
        # postings re-encode uses (shift_arr + dead ride the broadcast)
        from pyspark.sql.functions import pandas_udf

        shift_bc = spark.sparkContext.broadcast(shift_arr)

        @pandas_udf("long")
        def remap_udf(ids: pd.Series) -> pd.Series:
            return pd.Series(
                remap_ids(
                    ids.to_numpy(), P, shard_size,
                    shift_bc.value, dead_bc.value,
                ),
                dtype="int64",
            )

        (
            docs.join(
                F.broadcast(dead_df.select("doc_id")), "doc_id", "left_anti"
            )
            .withColumn("doc_id", remap_udf(F.col("doc_id")))
            .write.mode("overwrite")
            .parquet(new_docs_dir)
        )
    else:
        # no deletes: the remap is a per-shard scalar shift — stay JVM-side
        (
            docs.withColumn(
                "shard", (F.col("doc_id") / shard_size).cast("long")
            )
            .join(F.broadcast(shift_df), "shard", "left")
            .withColumn(
                "doc_id",
                F.col("doc_id") + F.coalesce(F.col("shift"), F.lit(0)),
            )
            .drop("shard", "shift")
            .write.mode("overwrite")
            .parquet(new_docs_dir)
        )

    # metrics: carry the prefix rows (shard < P) unchanged and recompute
    # only the re-encoded tail — rescanning every prefix shard's blob
    # columns would make this O(index) when the job is otherwise O(tail)
    new_metrics, _, metr_ptr = next_version_dir(index_dir, meta, "metrics")
    old_metrics = read_table(
        spark, table_path(index_dir, meta, "metrics"), "metrics"
    ).where(F.col("shard_id") < P)
    tail_metrics = (
        read_table(spark, new_postings, "postings")
        .where(F.col("shard_id") >= P)
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("count").alias("n_postings"),
            F.sum(F.length("doc_blob") + F.length("tf_blob")).alias(
                "blob_bytes"
            ),
        )
    )
    (
        old_metrics.select("shard_id", "n_terms", "n_postings", "blob_bytes")
        .unionByName(
            tail_metrics.withColumn(
                "shard_id", F.col("shard_id").cast("long")
            )
        )
        .write.mode("overwrite")
        .parquet(new_metrics)
    )

    # under deletes: correct the global dictionary by the dead docs' EXACT
    # contributions — each term's df/cf minus the old tail's
    # Σcount/Σtf_sum plus the re-encoded tail's (live postings re-encode
    # unchanged, so the difference is the dead docs'; no blob is decoded a
    # second time; terms left at df 0 drop) — then re-derive avgdl the way
    # every write derives it (Σcf/n_docs, Σcf from the merge), so a
    # compacted index's scores are hash-identical to a fresh build of the
    # surviving corpus (tests/test_delete.py).
    pointer_updates = {**post_ptr, **docs_ptr, **metr_ptr}
    meta_updates: dict = {}
    drop_keys: list[str] = []
    old_dirs = (
        [postings_path, docs_path, table_path(index_dir, meta, "metrics")]
        if remove_old
        else []
    )
    if have_dead:
        terms_path = table_path(index_dir, meta, "terms")
        terms_ptr, total_cf = merge_terms(
            spark, index_dir, meta,
            [TermDelta(postings_path, "postings", -1, P),
             TermDelta(new_postings, "postings", 1, P)],
        )
        pointer_updates.update(terms_ptr)
        meta_updates["n_docs"] = n_live
        meta_updates["avgdl"] = avgdl(total_cf, n_live)
        meta_updates["n_deleted"] = 0
        drop_keys.append("tombstones_dir")
        if remove_old:
            old_dirs.append(terms_path)
            old_dirs.append(table_path(index_dir, meta, "tombstones"))

    _commit_compaction(
        index_dir, meta_path, meta,
        {**pointer_updates,
         # pointer updates above each bumped table_version; keep the max
         "table_version": max(
             p["table_version"] for p in (post_ptr, docs_ptr, metr_ptr)
         ),
         "bloom_ndv": int(bloom_ndv),
         **meta_updates},
        n_new_shards,
        old_dirs=old_dirs,
        drop_keys=drop_keys,
    )
    if stored_fresh:
        with open(meta_path) as f:
            committed = json.load(f)
        _rebuild_sidecars(
            spark, index_dir, committed, positions_fresh,
            P, shard_size, shift_arr, dead,
        )
    with open(meta_path) as f:
        return json.load(f)


def _rebuild_sidecars(
    spark: SparkSession,
    index_dir: str,
    meta: dict,
    positions_fresh: bool,
    P: int,
    shard_size: int,
    shift_arr: np.ndarray,
    dead: np.ndarray,
) -> None:
    """Carry the stored-fields (and, on top of it, the positional)
    sidecar through a compaction. The stored table is rewritten with the
    SAME pure ``remap_ids`` the postings/docs rewrite used — dead rows
    dropped, tail ids shifted, no tokenize — into a temp dir, swapped
    in, and its meta pin re-committed against the NEW
    (n_docs, table_version). The positional table is then rebuilt from
    the renumbered stored rows directly (they already carry doc_id —
    no url join, which duplicate urls would make ambiguous): one
    tokenize pass over the live corpus, the cost the opt-in positions
    build already paid once.

    Runs post-commit by design: the compaction's atomic pointer flip
    must not wait on sidecar IO, and a crash anywhere in here leaves
    sidecar pins pointing at the OLD (n_docs, table_version) — the
    staleness gates reject that loudly, so readers can never attach
    text/positions to the wrong renumbered id. The dir swap itself has
    a tiny rmtree→rename window with the same failure mode."""
    from pyspark.sql.functions import pandas_udf

    from ..stored import (
        STORED_TABLE,
        STORED_VERSION,
        build_stored_table,
        commit_sidecar_meta,
    )

    stored_path = os.path.join(index_dir, STORED_TABLE)
    tmp_parent = os.path.join(index_dir, "_stored_compact_tmp")
    shutil.rmtree(tmp_parent, ignore_errors=True)
    dead_bc = spark.sparkContext.broadcast(dead)
    shift_bc = spark.sparkContext.broadcast(shift_arr)

    @pandas_udf("long")
    def remap_udf(ids: pd.Series) -> pd.Series:
        return pd.Series(
            remap_ids(
                ids.to_numpy(), P, shard_size, shift_bc.value, dead_bc.value
            ),
            dtype="int64",
        )

    stored = read_table(spark, stored_path, "stored")
    if dead.size:

        @pandas_udf("boolean")
        def alive_udf(ids: pd.Series) -> pd.Series:
            dl = dead_bc.value
            arr = ids.to_numpy()
            pos = np.searchsorted(dl, arr)
            np.minimum(pos, dl.size - 1, out=pos)
            return pd.Series(dl[pos] != arr)

        stored = stored.where(alive_udf(F.col("doc_id")))
    remapped = stored.withColumn("doc_id", remap_udf(F.col("doc_id")))
    # build_stored_table writes <dir>/stored — point it at the temp
    # parent, then swap the finished table in
    build_stored_table(remapped, tmp_parent, int(meta["n_docs"]))
    shutil.rmtree(stored_path, ignore_errors=True)
    os.replace(os.path.join(tmp_parent, STORED_TABLE), stored_path)
    shutil.rmtree(tmp_parent, ignore_errors=True)
    commit_sidecar_meta(index_dir, dict(meta), "stored", STORED_VERSION)

    if positions_fresh:
        from ..positions import build_positions_table

        # the compacted stored table already carries each live row's
        # (remapped) doc_id — build positions from it DIRECTLY instead
        # of round-tripping through add_positions_to_index's url join,
        # which is ambiguous whenever the corpus holds duplicate urls
        # (append-only semantics allow re-adding a url; each copy is a
        # distinct document, so a url join explodes and the retrofit's
        # count check aborts the whole sidecar-maintained compaction)
        with open(os.path.join(index_dir, "meta.json")) as f:
            committed = json.load(f)  # includes the stored pin above
        with_ids = read_table(spark, stored_path, "stored").select(
            "doc_id", "url", "text", "lang"
        )
        build_positions_table(
            spark,
            with_ids,
            index_dir,
            committed["preset"],
            int(committed["shard_size"]),
            meta_bloom_ndv(committed),
            n_shards=-(
                -int(committed["n_docs"]) // int(committed["shard_size"])
            ),
        )
        commit_sidecar_meta(index_dir, committed, "positions", 1)


def _commit_compaction(
    index_dir: str,
    meta_path: str,
    meta: dict,
    pointer_updates: dict,
    n_new_shards: int,
    old_dirs: list[str],
    drop_keys: list[str] | None = None,
) -> None:
    """The single commit point: one atomic meta write flips every table
    pointer + n_shards together (and, when tombstones were purged, the
    corrected n_docs/avgdl and the cleared tombstone pointer); old
    directories are removed only after. Split out so kill-injection tests
    can fail exactly here."""
    meta = dict(meta)
    meta.update(pointer_updates)
    for key in drop_keys or ():
        meta.pop(key, None)
    meta["n_shards"] = n_new_shards
    meta["compactions"] = int(meta.get("compactions", 0)) + 1
    meta["delta_batches"] = 0
    atomic_write_json(meta_path, meta)
    Manifest(index_dir).mark_done(
        f"compact_{meta['compactions']}", {"n_shards": n_new_shards}
    )
    for d in old_dirs:
        shutil.rmtree(d, ignore_errors=True)
