"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Every query here maps to an operator from SURVEY.md §2 or to the
training-data-pipeline extensions (dedup / similarity / text-analysis /
multimodal). All 30 queries have oracles: the approximate operators
(minhash/SRP-LSH, IVF) are built from md5-derived deterministic state, so
their oracles mirror the FULL computation in SQL; their accuracy relative
to the exact plans is measured separately with asserted recall floors
(tests/test_dedup_lsh.py, tests/test_similarity.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from fts_engine_spark.operators import (
    curation,
    dedup,
    multimodal,
    relational,
    search,
    similarity,
    textstats,
)
from fts_engine_spark.operators.sql_tokens import duckdb_tokens_sql, _STOPLIST

# constant query used by the search oracles (already-normalized tokens)
Q_TERMS = ["table", "value", "fast", "data"]
# phrase for the positional rows: ~30 matching docs at every sf
PHRASE = ["merge", "sort"]
Q_DUP = ["value", "value"]
# dictionary-expansion rows: 's*' expands to {scan, small, slow, sort,
# spark, stream} in the synthetic vocabulary; both fuzzy tokens are
# distance-1 typos of real terms (querry->query, valu->value)
PREFIX_QUERY = "data s*"
FUZZY_QUERY = "querry valu"
WILDCARD_QUERY = "t*le va?ue data"
# regexp row (Lucene RegexpQuery): full-match against the dictionary in
# the Java/RE2/Python common subset; expands to {scan, sort, slow}
REGEXP_QUERY = "data /s(can|ort|low)/"
REGEXP_PATTERN = "s(can|ort|low)"
EXPAND_MAX = 64
# boolean NOT row: both exclusion terms overlap ~80% of the Q_TERMS match
# set at every sf, so the exclusion genuinely reshapes the top-k
NOT_EXCLUDE = ["merge", "sort"]
# boolean query-string row (queryparse.py): scoring terms == Q_TERMS with
# mult 1 each, so the oracle reuses the bm25 CTE; gates: MUST 'table',
# MUST (value OR fast), NOT 'merge'
BOOL_QUERY = "+table +(value OR fast) data -merge"
# query-string row: the full ES/Lucene query_string composition — a
# term boost (fast^2.5 -> mult 2.5 in the oracle's q VALUES), a MUST
# term, a NOT term, a metadata equality filter (lang:en) and a numeric
# metadata range filter (doclen, the stored analyzed token count ==
# the oracle's dl CTE) in ONE parsed string
QS_QUERY = "value fast^2.5 +table -merge lang:en doclen:[40 TO 400]"
# meta-passthrough row: filters on columns that exist ONLY because the
# build persisted them via BuildConfig.meta_cols (source, n_chars join
# back onto the docs table after the tokenize pass) — the oracle reads
# the same columns off the source documents table
QS_META_QUERY = "value fast +table source:src7 n_chars:[150 TO 450]"
# more-like-this row: source doc (original id), selection bound — the
# characteristic terms of that doc (tf desc, df asc, term asc LIMIT n)
# run as an OR BM25 query with the source excluded
MLT_SOURCE_DOC, MLT_MAX_TERMS = 7, 10
# did-you-mean row: two real typos, one exact dictionary word (suggests
# itself at distance 0), one garbage token (no suggestion within 2)
SUGGEST_QUERY = "querry tabel value zzzzqqqq"
# synonym row (Lucene SynonymQuery semantics): 'slow'/'row' are real
# corpus terms so both groups genuinely re-rank; 'quick' is absent (max
# df must ignore it)
SYNONYMS = {"fast": ["slow", "quick"], "table": ["row"]}
ANN_QUERY_IDS = [0, 1, 2, 3, 4]
# hybrid search (RRF fusion): BM25 top-N for Q_TERMS fused with cosine
# top-N around this embedding row (vec_id == source doc_id)
HYBRID_VEC_ID, HYBRID_N, HYBRID_K, HYBRID_C = 0, 20, 10, 60
JACCARD_THRESHOLD = 0.12
# the driver's synthetic embeddings have max pairwise cos ~0.51; 0.42 keeps
# a small non-empty near-dup set at every sf (production default is ~0.95)
EMB_DUP_THRESHOLD = 0.42
# SRP-LSH band geometry. The low 0.42 threshold needs many bands for recall
# (P(candidate) = 1-(1-p^bits)^bands, p = 1-angle/π ≈ 0.65 at cos 0.42);
# at the production threshold ~0.95 (p ≈ 0.90), 8 bands × 8 bits suffice.
EMB_N_BANDS, EMB_BAND_BITS = 16, 4
ANN_N_BANDS, ANN_BAND_BITS = 8, 4
# IVF geometry: deterministic k-means (md5-seeded init, fixed iterations,
# centroids quantized to 6dp each step so Spark and the SQL oracle cannot
# drift); nprobe clusters probed per query. The centroid FIT (seeding +
# Lloyd) runs on a deterministic md5-threshold sample of the corpus
# (IVF_FIT_FRAC) — the scale path; mirrored exactly in the SQL oracle.
IVF_CLUSTERS, IVF_ITERS, IVF_NPROBE = 16, 2, 4
IVF_FIT_FRAC = 0.5
CJK = f"[{chr(0x4E00)}-{chr(0x9FFF)}]"

_INDEX_CACHE: dict[str, str] = {}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# real-index path: build the sharded compressed index over the driver's
# documents table (preset='simple' = SQL-expressible pipeline), search it,
# and map dense docids back to the original ids — so the full
# build→encode→scan→decode→score path is checked against the same SQL
# oracle as the direct relational plan.
# --------------------------------------------------------------------------


def _ensure_index(
    spark: SparkSession, sf_dir: str, positions: bool = False,
    stored: bool = False,
) -> str:
    import hashlib

    from fts_engine_spark.build import META_VERSION

    # version in the key: a format bump must not resume a stale on-disk
    # cache from a previous build (meta version check would refuse it)
    if stored:
        from fts_engine_spark.stored import STORED_VERSION

        st_tag = f":st{STORED_VERSION}"
    else:
        st_tag = ""
    # :m1 — docs-table metadata passthrough (meta_cols) added end of r5;
    # the tag forces a fresh build past any on-disk cache without it
    variant = ":m1" + (":pos" if positions else "") + st_tag
    key = hashlib.md5(
        f"{sf_dir}:v{META_VERSION}{variant}".encode()
    ).hexdigest()[:10]
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    from fts_engine_spark.build import BuildConfig, build_index

    index_dir = f"/tmp/fts_index_cache_{key}"
    docs = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    cfg = BuildConfig(
        preset="simple", shard_size=4096, id_buckets=16, n_waves=1,
        store_positions=positions, store_text=stored,
        meta_cols=("source", "n_chars"),
    )
    build_index(spark, docs, index_dir, cfg, resume=True)
    _INDEX_CACHE[key] = index_dir
    return index_dir


def _ensure_fielded_index(spark: SparkSession, sf_dir: str) -> str:
    """Two-field index (ES multi_match surface): field ``title`` = the
    first 8 whitespace tokens of ``text`` (a deterministic title proxy
    both Spark and the DuckDB oracle derive identically), field ``text``
    = the full document. One sub-index per field (Lucene's per-field
    statistics model, fts_engine_spark/fielded.py); internal doc ids
    align across sub-indexes because dense id assignment is
    deterministic on the shared url set."""
    import hashlib

    from fts_engine_spark.build import META_VERSION, BuildConfig
    from fts_engine_spark.fielded import build_fielded_index

    key = hashlib.md5(
        f"fielded:{sf_dir}:v{META_VERSION}".encode()
    ).hexdigest()[:10]
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    index_dir = f"/tmp/fts_fielded_cache_{key}"
    docs = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 8), " ").alias(
            "title"
        ),
        "text",
        "lang",
    )
    build_fielded_index(
        spark,
        docs,
        index_dir,
        fields={"title": "title", "text": "text"},
        cfg=BuildConfig(
            preset="simple", shard_size=4096, id_buckets=16, n_waves=1
        ),
        resume=True,
    )
    _INDEX_CACHE[key] = index_dir
    return index_dir


def _multifield_search(
    spark: SparkSession, sf_dir: str, mode: str, tie_breaker: float = 0.0
) -> DataFrame:
    from fts_engine_spark.fielded import FieldedIndex

    fidx = FieldedIndex(spark, _ensure_fielded_index(spark, sf_dir))
    out = fidx.search(
        " ".join(Q_TERMS),
        k=10,
        weights={"title": 2.0, "text": 1.0},
        mode=mode,
        tie_breaker=tie_breaker,
        hydrate=True,
    )
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


def _ensure_incremental_index(spark: SparkSession, sf_dir: str) -> str:
    """Index built through the MUTATION path (VERDICT r4 next #3):
    bootstrap ``build_index`` on ~60% of the corpus, two micro-batch
    appends (the exactly-once ``foreachBatch`` body, driven directly with
    deterministic epoch ids), then ``compact_index`` — so incremental
    splice + dictionary delta-merge + delta-shard compaction all sit
    under the same DuckDB hash gate as the batch build. The split is
    deterministic on the source doc_id (6/2/2 by ``doc_id % 10``);
    BM25 over the union corpus is split-invariant (term/df/dl exact;
    avgdl is the dictionary's Σcf over n_docs). The bootstrap builds
    stored+positional sidecars, so the appends EXTEND them and the
    compaction REBUILDS them (r5-cont maintenance) — fts_incremental_phrase
    then puts the whole sidecar mutation lifecycle under the same gate."""
    import hashlib
    import shutil

    from fts_engine_spark.build import META_VERSION, BuildConfig, build_index
    from fts_engine_spark.streaming.compact import compact_index
    from fts_engine_spark.streaming.incremental import _append_batch

    key = hashlib.md5(
        f"incr2:{sf_dir}:v{META_VERSION}".encode()
    ).hexdigest()[:10]
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    index_dir = f"/tmp/fts_incr_cache_{key}"
    marker = os.path.join(index_dir, "_contract_complete")
    if not os.path.exists(marker):
        shutil.rmtree(index_dir, ignore_errors=True)
        docs = _docs(spark, sf_dir).select(
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
            "text",
            "lang",
            (F.col("doc_id") % 10).alias("_split"),
        )
        cfg = BuildConfig(
            preset="simple", shard_size=2048, id_buckets=16, n_waves=1,
            store_positions=True, store_text=True,
        )
        build_index(
            spark,
            docs.where(F.col("_split") < 6).drop("_split"),
            index_dir,
            cfg,
            resume=False,
        )
        for bid, (lo, hi) in enumerate(((6, 8), (8, 10))):
            _append_batch(
                spark,
                docs.where(
                    (F.col("_split") >= lo) & (F.col("_split") < hi)
                ).drop("_split"),
                index_dir,
                cfg,
                batch_id=bid,
                stream_id="contract",
            )
        compact_index(spark, index_dir, cfg)
        with open(marker, "w") as f:
            f.write("ok")
    _INDEX_CACHE[key] = index_dir
    return index_dir


def _incremental_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_incremental_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    out = fts.search_bm25(" ".join(Q_TERMS), k=10, mode="wand", hydrate=True)
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


def _incremental_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search against the mutation-path index: the positional
    sidecar was built at bootstrap, EXTENDED by two micro-batch appends
    and REBUILT by the compaction (r5-cont sidecar maintenance) — this
    row hash-gates that whole lifecycle against the same DuckDB phrase
    oracle the batch-built index answers."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_incremental_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    out = fts.search_phrase_positional(" ".join(PHRASE), k=0)
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        "phrase_count",
    )


# deletion rows: docs with source doc_id % 7 == 3 (~14%) are tombstoned.
# Pending (uncompacted) semantics: dead docs excluded, stats stale
# (Lucene deleted-but-unmerged) — the oracle scores over the FULL corpus
# and filters afterwards. Compacted semantics: physically purged, stats
# recomputed — the oracle restricts every CTE to the surviving corpus.
DELETE_MOD, DELETE_REM = 7, 3


def _ensure_deleted_index(
    spark: SparkSession, sf_dir: str, compacted: bool
) -> str:
    import hashlib
    import shutil

    from fts_engine_spark.build import META_VERSION, BuildConfig, build_index
    from fts_engine_spark.mutate import delete_documents
    from fts_engine_spark.streaming.compact import compact_index

    key = hashlib.md5(
        f"del:{sf_dir}:v{META_VERSION}:{compacted}".encode()
    ).hexdigest()[:10]
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    index_dir = f"/tmp/fts_del_cache_{key}"
    marker = os.path.join(index_dir, "_contract_complete")
    if not os.path.exists(marker):
        shutil.rmtree(index_dir, ignore_errors=True)
        docs = _docs(spark, sf_dir).select(
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
            "text",
            "lang",
            (F.col("doc_id") % DELETE_MOD).alias("_rem"),
        )
        cfg = BuildConfig(
            preset="simple", shard_size=2048, id_buckets=16, n_waves=1
        )
        build_index(spark, docs.drop("_rem"), index_dir, cfg, resume=False)
        # DataFrame deletion path (the decontamination-sweep shape)
        delete_documents(
            spark, index_dir,
            docs.where(F.col("_rem") == DELETE_REM).select("url"),
        )
        if compacted:
            compact_index(spark, index_dir, cfg)
        with open(marker, "w") as f:
            f.write("ok")
    _INDEX_CACHE[key] = index_dir
    return index_dir


def _ensure_merged_index(spark: SparkSession, sf_dir: str) -> str:
    """Two segment indexes built independently over halves of the corpus
    (source doc_id parity), merged into one global index via
    ``merge_indexes`` (blob-carrying splice + dictionary delta-merge +
    compaction) — BM25 over the union corpus is split-invariant, so the
    same oracle as the batch build applies."""
    import hashlib
    import shutil

    from fts_engine_spark.build import META_VERSION, BuildConfig, build_index
    from fts_engine_spark.mutate import merge_indexes

    key = hashlib.md5(f"merge:{sf_dir}:v{META_VERSION}".encode()).hexdigest()[:10]
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    index_dir = f"/tmp/fts_merge_cache_{key}"
    marker = os.path.join(index_dir, "_contract_complete")
    if not os.path.exists(marker):
        shutil.rmtree(index_dir, ignore_errors=True)
        src_dir = index_dir + "_src"
        shutil.rmtree(src_dir, ignore_errors=True)
        docs = _docs(spark, sf_dir).select(
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
            "text",
            "lang",
            (F.col("doc_id") % 2).alias("_half"),
        )
        cfg = BuildConfig(
            preset="simple", shard_size=2048, id_buckets=16, n_waves=1
        )
        build_index(
            spark, docs.where(F.col("_half") == 0).drop("_half"),
            index_dir, cfg, resume=False,
        )
        build_index(
            spark, docs.where(F.col("_half") == 1).drop("_half"),
            src_dir, cfg, resume=False,
        )
        merge_indexes(spark, index_dir, src_dir)
        shutil.rmtree(src_dir, ignore_errors=True)
        with open(marker, "w") as f:
            f.write("ok")
    _INDEX_CACHE[key] = index_dir
    return index_dir


UPDATE_MOD = 5  # docs with source doc_id % 5 == 0 get re-crawled


def _ensure_updated_index(spark: SparkSession, sf_dir: str) -> str:
    """Upsert path under the hash gate: full batch build, then every
    doc_id % UPDATE_MOD == 0 url is re-crawled with DOUBLED text
    (tokens, tf and dl all double — reshaping scores in an
    SQL-mirrorable way), then compaction purges the replaced rows."""
    import hashlib
    import shutil

    from fts_engine_spark.build import META_VERSION, BuildConfig, build_index
    from fts_engine_spark.mutate import update_documents
    from fts_engine_spark.streaming.compact import compact_index

    key = hashlib.md5(f"upd:{sf_dir}:v{META_VERSION}".encode()).hexdigest()[:10]
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    index_dir = f"/tmp/fts_upd_cache_{key}"
    marker = os.path.join(index_dir, "_contract_complete")
    if not os.path.exists(marker):
        shutil.rmtree(index_dir, ignore_errors=True)
        docs = _docs(spark, sf_dir).select(
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
            "text",
            "lang",
            (F.col("doc_id") % UPDATE_MOD).alias("_rem"),
        )
        cfg = BuildConfig(
            preset="simple", shard_size=2048, id_buckets=16, n_waves=1
        )
        build_index(spark, docs.drop("_rem"), index_dir, cfg, resume=False)
        recrawled = docs.where(F.col("_rem") == 0).select(
            "url",
            F.concat(F.col("text"), F.lit(" "), F.col("text")).alias("text"),
            "lang",
        )
        update_documents(spark, index_dir, recrawled, cfg)
        compact_index(spark, index_dir, cfg)
        with open(marker, "w") as f:
            f.write("ok")
    _INDEX_CACHE[key] = index_dir
    return index_dir


def _updated_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_updated_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    out = fts.search_bm25(" ".join(Q_TERMS), k=10, mode="wand", hydrate=True)
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


def _merged_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_merged_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    out = fts.search_bm25(" ".join(Q_TERMS), k=10, mode="wand", hydrate=True)
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


def _deleted_search(
    spark: SparkSession, sf_dir: str, compacted: bool
) -> DataFrame:
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_deleted_index(spark, sf_dir, compacted)
    fts = FtsIndex(spark, index_dir)
    out = fts.search_bm25(" ".join(Q_TERMS), k=10, mode="wand", hydrate=True)
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


BATCH_QUERIES = ["table value fast data", "value fast", "data table"]


def _index_search_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    out = fts.search_bm25_batch(BATCH_QUERIES, k=10)
    docs = fts.docs().select("doc_id", "url")
    return out.join(docs, "doc_id").select(
        "query_id",
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


WITHIN_MOD = 3  # restriction filter: only docs with source doc_id % 3 == 0


def _search_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cursor pagination (Elasticsearch ``search_after``): page 1's last
    (score, doc_id) becomes the cursor; the second page is the top-10
    strictly after it in the (round6(score) desc, doc_id asc) serving
    order. Unlike ``offset``, deep pages cost page-1 work — the oracle
    computes the same cursor via a rank-10 subquery."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    page1 = fts.search_bm25(" ".join(Q_TERMS), k=10, mode="wand").collect()
    cur = (float(page1[-1]["score"]), int(page1[-1]["doc_id"]))
    out = fts.search_bm25(
        " ".join(Q_TERMS), k=10, mode="wand", after=cur, hydrate=True
    )
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


def _index_search(
    spark: SparkSession,
    sf_dir: str,
    mode: str,
    k: int = 10,
    terms: list[str] | None = None,
    conjunctive: bool = False,
    exclude: str | None = None,
    filtered: bool = False,
    min_match: int | None = None,
    offset: int = 0,
) -> DataFrame:
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    within = None
    if filtered:
        # url-DataFrame shape (the site:/sub-corpus filter)
        within = (
            _docs(spark, sf_dir)
            .where(F.col("doc_id") % WITHIN_MOD == 0)
            .select(
                F.concat(
                    F.lit("doc://"), F.col("doc_id").cast("string")
                ).alias("url")
            )
        )
    out = fts.search_bm25(
        " ".join(terms or Q_TERMS), k=k, mode=mode, hydrate=True,
        conjunctive=conjunctive, exclude=exclude, within=within,
        min_match=min_match, offset=offset,
    )
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


# percolator stored queries: (query_id, query, min_match) — None = all
# distinct analyzed terms required (the ES percolator default)
PERC_QUERIES = [
    (1, " ".join(Q_TERMS), None),   # conjunctive over the reference terms
    (2, " ".join(Q_TERMS), 2),      # minimum-should-match 2 of 4
    (3, Q_TERMS[0], None),          # single-term alert
    (4, "zzzznomatch", None),       # analyzed but absent: matches nothing
]


def _percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolator (ES percolate analog): the stored-query table above is
    matched against the whole documents table — one term-join shuffle,
    matched-distinct-term counts per (doc, query) with a per-query
    required threshold (operators/percolate.py)."""
    from fts_engine_spark.operators.percolate import percolate

    docs = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        "text",
        "lang",
    )
    q = spark.createDataFrame(
        PERC_QUERIES, "query_id long, query string, min_match int"
    )
    out = percolate(spark, docs, q, preset="simple")
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        "query_id",
        "matched_terms",
        "n_query_terms",
    )


def _reindex_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_reindex`` analog under the hash gate: rebuild the index from
    its OWN stored-fields sidecar (no source table) with a different
    physical layout (shard_size 1024 / 32 id buckets vs the fixture's
    4096 / 16), then run the same WAND BM25 search — results must
    hash-match the SAME DuckDB oracle as fts_index_bm25_wand: physical
    re-layout preserves logical results (fts_engine_spark/mutate.py
    reindex)."""
    import hashlib

    from fts_engine_spark.build import META_VERSION, BuildConfig
    from fts_engine_spark.mutate import reindex
    from fts_engine_spark.query import FtsIndex

    src = _ensure_index(spark, sf_dir, stored=True)
    key = hashlib.md5(
        f"reix:{sf_dir}:v{META_VERSION}".encode()
    ).hexdigest()[:10]
    if key not in _INDEX_CACHE:
        dst = f"/tmp/fts_reix_cache_{key}"
        reindex(
            spark, src, dst,
            BuildConfig(
                preset="simple", shard_size=1024, id_buckets=32, n_waves=1
            ),
            resume=True,
        )
        _INDEX_CACHE[key] = dst
    fts = FtsIndex(spark, _INDEX_CACHE[key])
    out = fts.search_bm25(
        " ".join(Q_TERMS), k=10, mode="wand", hydrate=True
    )
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


def _ensure_fed_indexes(spark: SparkSession, sf_dir: str) -> list[str]:
    """Two independent index snapshots over a doc_id-parity split of the
    documents table — the federated-search fixture. Split by parity (not
    hash) so the halves are deterministic across Spark/DuckDB."""
    import hashlib

    from fts_engine_spark.build import META_VERSION, BuildConfig, build_index

    key = hashlib.md5(f"fed:{sf_dir}:v{META_VERSION}".encode()).hexdigest()[:10]
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key].split("|")
    dirs = []
    for half in (0, 1):
        index_dir = f"/tmp/fts_fed_cache_{key}_{half}"
        docs = (
            _docs(spark, sf_dir)
            .where(F.col("doc_id") % 2 == half)
            .select(
                F.concat(
                    F.lit("doc://"), F.col("doc_id").cast("string")
                ).alias("url"),
                "text",
                "lang",
            )
        )
        build_index(
            spark, docs, index_dir,
            BuildConfig(
                preset="simple", shard_size=4096, id_buckets=16, n_waves=1
            ),
            resume=True,
        )
        dirs.append(index_dir)
    _INDEX_CACHE[key] = "|".join(dirs)
    return dirs


def _federated_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated scatter-gather over two independent snapshots (doc_id
    parity split) with globally-aggregated BM25 stats — must reproduce the
    SAME full-corpus oracle as the single-index rows (the whole point:
    federation with global df/N/avgdl is indistinguishable from one index
    over the union corpus; fts_engine_spark/federated.py)."""
    from fts_engine_spark.federated import FederatedFtsIndex

    fed = FederatedFtsIndex(spark, _ensure_fed_indexes(spark, sf_dir))
    out = fed.search_bm25(" ".join(Q_TERMS), k=10)
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


def _query_string_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full query-string composition (QS_QUERY): boost + MUST + NOT +
    metadata equality/range filters in one parsed string. Boosts ride
    the mult column/closure (weight = mult * idf, so the oracle models
    them as fractional q VALUES); field filters resolve against the
    stored docs table into the within restriction — they never touch
    the inverted index."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    out = fts.search_boolean(QS_QUERY, k=10, hydrate=True)
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


def _query_string_meta_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QS_META_QUERY: field filters on meta_cols passthrough columns
    (source, n_chars) — stored into the index docs table at build time
    by one (url, meta) join that never crosses the Python boundary."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    out = fts.search_boolean(QS_META_QUERY, k=10, hydrate=True)
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


def _bool_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-lite boolean query string (FtsIndex.search_boolean): MUST
    groups ride per-term bitmasks through the WAND kernel, NOT rides the
    shard-local exclusion set; scoring is OR-accumulate BM25 over all
    scoring terms, so the oracle is the bm25 CTE plus coverage gates."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    out = fts.search_boolean(BOOL_QUERY, k=10, hydrate=True)
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


def _synonym_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time synonym groups (FtsIndex.search_bm25_synonyms), Lucene
    SynonymQuery semantics: each group scores as ONE pseudo-term — per-doc
    tf = sum of member tfs, df = max member df, one idf/saturation per
    group — NOT a plain OR rewrite. Fully relational, mirrored term for
    term by the oracle's grouped CTE."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    out = fts.search_bm25_synonyms(
        " ".join(Q_TERMS), SYNONYMS, k=10, hydrate=True
    )
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


def _more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similar-document retrieval (operators/morelike.py): the source
    doc's characteristic terms (all-integer deterministic rank:
    tf desc, df asc, term asc, LIMIT MLT_MAX_TERMS — SQL-reproducible
    truncation) OR-accumulate through the same WAND kernel, source doc
    excluded after the k+1 merge."""
    from fts_engine_spark.operators.morelike import more_like_this
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir, stored=True)
    fts = FtsIndex(spark, index_dir)
    out = more_like_this(
        fts,
        url=f"doc://{MLT_SOURCE_DOC}",
        k=10,
        max_terms=MLT_MAX_TERMS,
        hydrate=True,
    )
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


def _suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did-you-mean (operators/suggest.py): best dictionary term per
    normalized query token, ranked levenshtein asc / df desc / term asc
    — the Lucene-spellchecker order, bit-reproducible in SQL."""
    from fts_engine_spark.operators.suggest import suggest_terms
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    return suggest_terms(fts, SUGGEST_QUERY, max_dist=2)


def _collapsed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field collapsing (Elasticsearch ``collapse``): best doc per lang
    over the full match set, top-k groups by best score. The per-group
    argmax is a map-side-combinable max_by aggregation (no window — a
    skewed group costs one combiner row per partition)."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    out = fts.search_bm25_collapsed(" ".join(Q_TERMS), collapse="lang", k=10)
    docs = fts.docs().select("doc_id", "url")
    return out.join(docs, "doc_id").select(
        F.col("lang"),
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


def _hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval: BM25 top-N (WAND, mapped back to
    source doc ids) fused with brute-force cosine top-N around the
    HYBRID_VEC_ID embedding via Reciprocal Rank Fusion — rank-based, so
    the fused score is a sum of exact rationals 1/(c+r) and the SQL
    oracle reproduces it bit-for-bit."""
    from fts_engine_spark.operators.hybrid import hybrid_search_rrf
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    return hybrid_search_rrf(
        fts, _emb(spark, sf_dir), " ".join(Q_TERMS), HYBRID_VEC_ID,
        k=HYBRID_K, n_candidates=HYBRID_N, c=HYBRID_C,
    )


def _significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Significant-terms aggregation (ES significant_terms): terms
    over-represented in the match set vs the corpus, scored by the pure
    integer lift (fg_df/|matches|) / (bg_df/n_docs) — deterministic and
    SQL-reproducible. Foreground counts decode doc blobs only."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    return fts.significant_terms(" ".join(Q_TERMS), k=20, min_fg_df=3)


def _facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet panel over the compressed index: distinct matching docs per
    lang, full OR match set (doc-blob-only decode, no scoring)."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    return fts.facet_counts(" ".join(Q_TERMS), facet="lang")


def _facet_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality facet (ES cardinality-agg analog), exact mode for the
    hash gate: COUNT(DISTINCT lang) over the full OR match set. The
    default mode is approx (HyperLogLog++ sketch on the same
    doc-blob-only plan — no distinct shuffle, the 10^12-doc path);
    approx-vs-exact agreement is asserted in tests."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    return fts.facet_cardinality(" ".join(Q_TERMS), col="lang", exact=True)


def _sorted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-sorted retrieval (ES ``sort`` analog): the FULL OR match
    set with its sort key (analyzed doc length) — no scoring, no tf/dl
    decode; with k>0 the same surface is a TakeOrderedAndProject top-k
    (truncation determinism is pytest-pinned; the contract row runs
    k=0 because the k-boundary tiebreak is the index-internal dense id,
    which the oracle's original ids cannot reproduce)."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    out = fts.search_sorted(" ".join(Q_TERMS), by="doclen", k=0)
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.col("doclen").cast("long").alias("sort_v"),
    )


PCTS = (0.25, 0.5, 0.75, 0.95)


def _facet_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentiles facet (ES percentiles-agg analog), exact interpolated
    mode for the hash gate (DuckDB quantile_cont reproduces Spark's
    linear interpolation bit-for-bit at round-6); exact=False is the
    bounded-memory Greenwald-Khanna sketch on the same plan."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    return fts.facet_percentiles(
        " ".join(Q_TERMS), col="doclen", percentiles=PCTS, exact=True
    )


def _explain_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-explain analog: per-term BM25 contribution rows for the
    top-10 docs; sum(contrib) per doc equals the fts_index_bm25_wand
    score."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    out = fts.explain_bm25(" ".join(Q_TERMS), k=10)
    docs = fts.docs().select("doc_id", "url")
    return out.join(docs, "doc_id").select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        "term",
        "tf",
        "df",
        F.round(F.col("contrib"), 4).alias("contrib"),
    )


def _facet_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram facet (date-histogram analog): distinct matching docs per
    50-token bucket of analyzed doc length, full OR match set."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    return fts.facet_histogram(" ".join(Q_TERMS), col="doclen", width=50)


def _facet_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats facet (Elasticsearch ``stats`` aggregation analog): one row of
    count/min/max/avg/sum of analyzed doc length over the full OR match
    set — doc-blob-only decode, single matches⋈docs shuffle."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    return fts.facet_stats(" ".join(Q_TERMS), col="doclen")


def _boosted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time document boosting: bm25 * (1 + (doc_id % 5) * 0.25) — a
    deterministic stand-in for a recency/quality prior, joined on url so
    the url→dense-id resolution path is exercised."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    boost = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        (F.lit(1.0) + (F.col("doc_id") % 5).cast("double") * F.lit(0.25)).alias(
            "boost"
        ),
    )
    out = fts.search_bm25_boosted(
        " ".join(Q_TERMS), k=10, boost=boost, hydrate=True
    )
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


def _decay_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Function-score decay (ES ``function_score`` exp-decay analog):
    bm25 * exp(ln(0.5)/200 * max(0, |doclen - 60|)) — length-proximity
    ranking over the analyzed doc-length column, the same shape a
    recency ranking takes over a meta_cols timestamp."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    out = fts.search_bm25_decay(
        " ".join(Q_TERMS), k=10, field="doclen", origin=60.0, scale=200.0,
        decay=0.5, shape="exp", hydrate=True,
    )
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


def _snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with best-window highlighted snippets (rows-only check)."""
    from fts_engine_spark.operators.snippets import search_with_snippets
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    idx_docs = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        "text",
    )
    out = search_with_snippets(
        fts, idx_docs, " ".join(Q_TERMS), k=10,
        tag_open="<em>", tag_close="</em>",
    )
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
        "snippet",
    )


def _snippets_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same snippet pass with text point-read from the stored-fields
    table (stored.py) instead of the source scan — docs=None. Rows-only
    check like fts_snippets; stored-vs-source string equality is asserted
    in tests/test_stored.py."""
    from fts_engine_spark.operators.snippets import search_with_snippets
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir, stored=True)
    fts = FtsIndex(spark, index_dir)
    out = search_with_snippets(
        fts, None, " ".join(Q_TERMS), k=10,
        tag_open="<em>", tag_close="</em>",
    )
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
        "snippet",
    )


def _snippets_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snippets below the Spark job floor: point-tier hits + driver-side
    pyarrow read of the stored sidecar (operators/snippets.snippets_point);
    only the tiny result list is lifted back into a DataFrame. Rows-only
    check; string parity with the distributed paths is pytest-asserted."""
    from fts_engine_spark.operators.snippets import snippets_point
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir, stored=True)
    fts = FtsIndex(spark, index_dir).enable_point_serving()
    rows = snippets_point(
        fts, " ".join(Q_TERMS), k=10, tag_open="<em>", tag_close="</em>"
    )
    out = spark.createDataFrame(
        [(int(d), u, float(s), sn) for d, u, s, sn in rows],
        "doc_id long, url string, score double, snippet string",
    )
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
        "snippet",
    )


def _expanded_search(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """Dictionary-expanded BM25 (prefix / fuzzy multi-term rewrite) off the
    compressed index: patterns expand against the terms table (df desc,
    term asc, LIMIT ``EXPAND_MAX`` — the deterministic, SQL-reproducible
    preference), then the union OR-accumulates through the same WAND
    kernel as ``fts_index_bm25_wand``."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    if kind == "prefix":
        out = fts.search_bm25_prefix(
            PREFIX_QUERY, k=10, hydrate=True, max_expand=EXPAND_MAX
        )
    elif kind == "wildcard":
        out = fts.search_bm25_wildcard(
            WILDCARD_QUERY, k=10, hydrate=True, max_expand=EXPAND_MAX
        )
    elif kind == "regexp":
        out = fts.search_bm25_regexp(
            REGEXP_QUERY, k=10, hydrate=True, max_expand=EXPAND_MAX
        )
    else:
        out = fts.search_bm25_fuzzy(
            FUZZY_QUERY, k=10, hydrate=True, max_dist=1, max_expand=EXPAND_MAX
        )
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


def _phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-accelerated phrase search (operators.search.search_phrase):
    conjunctive-WAND candidates off the compressed index, positional
    verify over candidate docs only — k=0 so the oracle sees the full
    match set."""
    from fts_engine_spark.query import FtsIndex
    from fts_engine_spark.operators.search import search_phrase

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir)
    idx_docs = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        "text",
    )
    out = search_phrase(fts, idx_docs, " ".join(PHRASE), k=0)
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        "phrase_count",
    )


def _phrase_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-only phrase search (positions.py): the opt-in positional
    table resolves the phrase with NO source-table scan — pruned scan of
    the phrase terms' position rows, per-shard intersection kernel, docs
    join for the id map. Same oracle as the scan/verify paths."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir, positions=True)
    fts = FtsIndex(spark, index_dir)
    out = fts.search_phrase_positional(" ".join(PHRASE), k=0)
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        "phrase_count",
    )


PP_PREFIX = "s"  # expands to small/scan/slow/stream at PP_MAX_EXP=4
PP_MAX_EXP = 4


def _phrase_prefix_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_phrase_prefix (ES autocomplete analog): phrase
    'merge s*' — fixed term + dictionary prefix. max_expansions=4
    EXERCISES the deterministic df-desc/term-asc truncation (the 's'
    prefix has 6 dictionary expansions at every sf); counts sum over
    expansions (position-disjoint, exact). Same positional table and
    plan shape as fts_phrase_positional, one kernel run per variant."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir, positions=True)
    fts = FtsIndex(spark, index_dir)
    out = fts.search_phrase_prefix(
        f"{PHRASE[0]} {PP_PREFIX}*", k=0, max_expansions=PP_MAX_EXP
    )
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        "phrase_count",
    )


NEAR_SLOP = 2


def _near_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered proximity search (positions.span_near_kernel; Lucene
    SpanNearQuery / `"a b"~N` analog): PHRASE's terms in order within
    len(PHRASE) + NEAR_SLOP analyzed tokens, count = qualifying start
    positions — a strict superset of the exact-phrase match set. Same
    positional table and plan shape as fts_phrase_positional."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir, positions=True)
    fts = FtsIndex(spark, index_dir)
    out = fts.search_near_positional(" ".join(PHRASE), NEAR_SLOP, k=0)
    return out.select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        "near_count",
    )


RESCORE_N, RESCORE_W = 100, 1.0


def _rescored_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase retrieval (ES rescore): BM25 top-RESCORE_N candidates,
    then final = bm25 + RESCORE_W * phrase_count('merge sort') over
    ONLY those candidates — the expensive scorer never touches the rest
    of the corpus."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir, positions=True)
    fts = FtsIndex(spark, index_dir)
    out = fts.search_bm25_rescored(
        " ".join(Q_TERMS), " ".join(PHRASE), k=10,
        n_candidates=RESCORE_N, weight=RESCORE_W,
    )
    docs = fts.docs().select("doc_id", "url")
    return out.join(docs, "doc_id").select(
        F.substring(F.col("url"), 7, 30).cast("long").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


def _point_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver-side point-serving tier under the hash gate: the query is
    answered IN-PROCESS (no Spark job for the sweep — ``search_bm25_point``
    runs the same ``_wand_sweep`` kernel over the driver's posting cache),
    and only the tiny (doc_id, score) result list is lifted back into a
    DataFrame for the oracle compare. Same BM25 oracle as
    ``fts_index_bm25_wand`` — the tier must be bit-identical to the
    distributed path, so it must hash-match the same SQL."""
    from fts_engine_spark.query import FtsIndex

    index_dir = _ensure_index(spark, sf_dir)
    fts = FtsIndex(spark, index_dir).enable_point_serving()
    rows = fts.search_bm25_point(" ".join(Q_TERMS), k=10)
    res = spark.createDataFrame(
        [(int(d), float(s)) for d, s in rows], "doc_id long, score double"
    )
    ids = fts.docs().select(
        "doc_id",
        F.substring(F.col("url"), 7, 30).cast("long").alias("orig_id"),
    )
    # broadcast the ≤k-row result against the (arbitrarily large) docs
    # table, not the other way round
    return ids.join(F.broadcast(res), "doc_id").select(
        F.col("orig_id").alias("doc_id"),
        F.round(F.col("score"), 4).alias("score"),
    )


# sampling fractions for the stratified-sample contract row ('es' is
# deliberately absent — absent languages must be dropped, not passed)
STRAT_FRACS = {"en": 0.5, "de": 0.25, "fr": 0.75, "zh": 1.0}


def _pii_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic corpus has no PII, so the contract row splices
    deterministic synthetic PII (an email / an IPv4 / a phone form, keyed
    on doc_id % 7) into the text IDENTICALLY in Spark and in the oracle
    SQL — the scrubber then has real matches to find on ~43% of rows and
    must leave the other 57% byte-unchanged."""
    d = _docs(spark, sf_dir)
    m = F.col("doc_id") % 7
    tail = (
        F.when(
            m == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit(" from 10.0."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".7 logged"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            ),
        )
        .otherwise(F.lit(""))
    )
    return d.select("doc_id", F.concat(F.col("text"), tail).alias("text"))


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- FTS core (SURVEY.md §2.2/2.3/2.4, §2.6/2.7)
        "fts_tokens": lambda s, d: search.doc_tokens(_docs(s, d)),
        "fts_postings_tf": lambda s, d: search.postings_tf(_docs(s, d)),
        "fts_term_stats": lambda s, d: search.term_stats(_docs(s, d)),
        "fts_doc_lengths": lambda s, d: search.doc_lengths(_docs(s, d)),
        "fts_top_terms": lambda s, d: search.top_terms(_docs(s, d), 20),
        "fts_search_coordinate": lambda s, d: search.search_coordinate(
            _docs(s, d), Q_TERMS, 10
        ),
        "fts_search_dup_quirk": lambda s, d: search.search_coordinate(
            _docs(s, d), Q_DUP, 10
        ),
        "fts_search_bm25": lambda s, d: search.search_bm25_direct(
            _docs(s, d), Q_TERMS, 10
        ),
        # --- the real engine: sharded varbyte index, both execution modes
        "fts_index_bm25_relational": lambda s, d: _index_search(s, d, "relational"),
        "fts_index_bm25_wand": lambda s, d: _index_search(s, d, "wand"),
        # federated scatter-gather over two snapshots (doc_id-parity
        # split), global df/N/avgdl — same full-corpus oracle as above
        "fts_federated_bm25": _federated_search,
        # multi-field search (ES multi_match over per-field sub-indexes,
        # title = first 8 ws-tokens of text, weights title 2x):
        # most_fields = Σ weighted per-field BM25; dismax = best_fields
        # (max + tie_breaker * others)
        "fts_multifield_bm25": lambda s, d: _multifield_search(
            s, d, "most_fields"
        ),
        "fts_multifield_dismax": lambda s, d: _multifield_search(
            s, d, "best_fields", tie_breaker=0.3
        ),
        # term-centric: each TERM scores as its best field (per-term
        # dis_max + tie_breaker), then terms sum per doc
        "fts_multifield_cross": lambda s, d: _multifield_search(
            s, d, "cross_fields", tie_breaker=0.2
        ),
        # conjunctive (AND) mode — only docs containing EVERY query term;
        # the WAND kernel skips segments where any term has no postings
        "fts_index_bm25_and": lambda s, d: _index_search(
            s, d, "wand", conjunctive=True
        ),
        # boolean NOT — docs matching the excluded terms are dropped
        # shard-locally inside the kernel (doc-blob-only decode)
        "fts_index_bm25_not": lambda s, d: _index_search(
            s, d, "wand", exclude=" ".join(NOT_EXCLUDE)
        ),
        # pagination: page 2 (ranks 11-20) — the kernel fetches top
        # k+offset and the page is sliced after the global merge
        "fts_index_bm25_page2": lambda s, d: _index_search(
            s, d, "wand", k=10, offset=10
        ),
        # cursor pagination (search_after): page 2 via the page-1
        # boundary cursor — deep paging whose cost does not grow with
        # page number (the kernel admits only post-cursor docs)
        "fts_search_after_bm25": _search_after,
        # boolean query string: +MUST groups (bitmask coverage in the
        # kernel) + NOT in one parsed surface (queryparse.py)
        "fts_boolean_bm25": _bool_search,
        "fts_query_string_bm25": _query_string_search,
        "fts_query_string_meta": _query_string_meta_search,
        # query-time synonym groups, Lucene SynonymQuery semantics
        # (group tf-sum / df-max — not an OR rewrite)
        "fts_synonym_bm25": _synonym_search,
        # more-like-this: similar docs by the source doc's
        # characteristic terms (Lucene MLT), source excluded
        "fts_more_like_this": _more_like_this,
        # did-you-mean: best dictionary term per token within 2 edits
        "fts_suggest": _suggest,
        # facet panel: distinct matching docs per lang over the FULL
        # match set (doc-blob-only decode, no tf/dl bytes, no scoring)
        "fts_facet_counts": _facet_counts,
        # field collapsing: single best doc per lang, top-k groups
        "fts_collapse_bm25": _collapsed_search,
        # significant terms: what the match set is ABOUT — integer-lift
        # over-representation vs the corpus background
        "fts_significant_terms": _significant_terms,
        # hybrid lexical+vector search: BM25 ∪ ANN cosine, RRF-fused
        "hybrid_rrf_topk": _hybrid_search,
        # two-phase rescoring (ES rescore): phrase-count boost applied
        # to the BM25 top-N only
        "fts_rescore_phrase": _rescored_search,
        # histogram facet (date-histogram analog): distinct matching docs
        # per 50-token doclen bucket, same doc-blob-only match set
        "fts_facet_histogram": _facet_histogram,
        # stats facet (Elasticsearch stats-agg analog): one
        # count/min/max/avg/sum row of doclen over the full match set
        "fts_facet_stats": _facet_stats,
        "fts_facet_cardinality": _facet_cardinality,
        "fts_sort_by_field": _sorted_search,
        "fts_facet_percentiles": _facet_percentiles,
        # Lucene-explain analog: per-term BM25 contribution rows for the
        # top-10 (sum(contrib) per doc == the bm25 row's score)
        "fts_explain_bm25": _explain_search,
        # query-time document boosting (FunctionScoreQuery analog):
        # bm25 * per-doc prior joined on url, relational accumulate plan
        "fts_boosted_bm25": _boosted_search,
        "fts_decay_bm25": _decay_search,
        # reindex from the stored sidecar, new physical layout, same oracle
        "fts_reindex_bm25": _reindex_search,
        # percolator: stored queries vs the whole documents table
        "fts_percolate": _percolate,
        # best-window highlighted snippets for the top-k (rows-only
        # check: best-window selection over analyzed token space is not
        # SQL-expressible; the kernel is golden-tested in
        # tests/test_snippets.py and the hit set equals fts_index_bm25_wand)
        "fts_snippets": _snippets,
        # the same pass off the stored-fields sidecar (no source-table
        # scan: hit ids point-read the doc_id-sorted stored table)
        "fts_snippets_stored": _snippets_stored,
        # and below the job floor: point-tier hits + driver pyarrow read
        "fts_snippets_point": _snippets_point,
        # positional (phrase) search: direct scan baseline + the
        # two-phase index plan, both against the same list-position oracle
        "fts_phrase_scan": lambda s, d: search.search_phrase_direct(
            _docs(s, d), PHRASE, k=0
        ),
        "fts_phrase_search": lambda s, d: _phrase_search(s, d),
        # phrase resolved ENTIRELY from the positional table (opt-in
        # store_positions build) — no source-table scan at query time
        "fts_phrase_positional": lambda s, d: _phrase_positional(s, d),
        "fts_phrase_prefix": lambda s, d: _phrase_prefix_search(s, d),
        "fts_span_near": lambda s, d: _near_search(s, d),
        # dictionary-expanded rewrites (Lucene-style multi-term queries):
        # trailing-* prefix and levenshtein<=1 fuzzy, both expanded against
        # the index's terms table and scored through the WAND kernel
        "fts_prefix_bm25": lambda s, d: _expanded_search(s, d, "prefix"),
        "fts_fuzzy_bm25": lambda s, d: _expanded_search(s, d, "fuzzy"),
        # Lucene WildcardQuery analog: mid-string */? patterns, SQL LIKE
        # semantics against the terms table (leading-* = full dict scan)
        "fts_wildcard_bm25": lambda s, d: _expanded_search(s, d, "wildcard"),
        # regexp rewrite (Lucene RegexpQuery): full-match dictionary
        # expansion in the Java/RE2/Python common regex subset
        "fts_regexp_bm25": lambda s, d: _expanded_search(s, d, "regexp"),
        # k<=0 = the reference's "return all" (engine.go:136-149 truncates
        # only when k>0): EVERY matching doc scored through the WAND
        # kernel with pruning disabled — oracle is the same BM25 SQL
        # without LIMIT
        "fts_index_bm25_all": lambda s, d: _index_search(s, d, "wand", k=0),
        # the MUTATION path under the hash gate: bootstrap + 2 exactly-once
        # micro-batch appends + delta-shard compaction, then the same BM25
        # search — oracle is the same SQL over the union corpus
        "fts_incremental_bm25": lambda s, d: _incremental_search(s, d),
        "fts_incremental_phrase": lambda s, d: _incremental_phrase(s, d),
        "fts_merge_bm25": lambda s, d: _merged_search(s, d),
        "fts_update_bm25": lambda s, d: _updated_search(s, d),
        "fts_filtered_bm25": lambda s, d: _index_search(
            s, d, "wand", filtered=True
        ),
        "fts_index_bm25_msm": lambda s, d: _index_search(
            s, d, "wand", min_match=3
        ),
        "fts_delete_bm25": lambda s, d: _deleted_search(s, d, compacted=False),
        "fts_delete_compact_bm25": lambda s, d: _deleted_search(
            s, d, compacted=True
        ),
        # batch serving surface: THREE queries scored in ONE Spark job
        # (shared term decode inside the kernel); per-query top-10 must
        # equal the per-query oracle
        "fts_index_bm25_batch": lambda s, d: _index_search_batch(s, d),
        # point-serving tier: the sweep runs in-process on the driver (no
        # Spark job below the fetch); must hash-match the same BM25 oracle
        # as the distributed WAND path
        "fts_point_bm25": lambda s, d: _point_search(s, d),
        # --- dedup family
        "dedup_exact": lambda s, d: dedup.exact_dedup(_docs(s, d)),
        # contract plan is the LSH-candidates→exact-verify pipeline (the
        # 100×-scale plan); the oracle stays the ALL-PAIRS SQL — on the
        # driver corpus the LSH candidate set contains every pair above
        # threshold, so outputs are identical (recall measured in
        # tests/test_dedup_lsh.py)
        "dedup_ngram_jaccard": lambda s, d: dedup.ngram_jaccard_pairs_lsh(
            _docs(s, d), 3, JACCARD_THRESHOLD
        ),
        # the exact all-pairs variant stays verified in its own right (it is
        # the verifier primitive the LSH plan composes with)
        "dedup_ngram_jaccard_exact": lambda s, d: dedup.ngram_jaccard_pairs(
            _docs(s, d), 3, JACCARD_THRESHOLD
        ),
        "dedup_minhash_lsh": lambda s, d: dedup.minhash_lsh_pairs(_docs(s, d)),
        # connected components over the minhash-LSH pairs: each duplicate
        # group collapses to one canonical doc (min doc_id); pointer-doubling
        # min-label propagation, O(log diameter) rounds
        "dedup_clusters": lambda s, d: dedup.dup_clusters(
            _docs(s, d), dedup.minhash_lsh_pairs(_docs(s, d))
        ),
        "dedup_simhash": lambda s, d: dedup.simhash(_docs(s, d)),
        # contract plan is SRP-LSH bucketing + exact verify (no cross join);
        # its oracle mirrors the full LSH computation in SQL, and recall vs
        # the brute-force plan is measured in tests/test_dedup_lsh.py
        "dedup_embedding_cosine": lambda s, d: dedup.embedding_cosine_dups_lsh(
            _emb(s, d), EMB_DUP_THRESHOLD, n_bands=EMB_N_BANDS, band_bits=EMB_BAND_BITS
        ),
        # brute-force baseline, kept verified as the semantic ground truth
        "dedup_embedding_cosine_brute": lambda s, d: dedup.embedding_cosine_dups(
            _emb(s, d), EMB_DUP_THRESHOLD
        ),
        # --- similarity search over embeddings
        "ann_cosine_topk": lambda s, d: similarity.ann_bruteforce_topk(
            _emb(s, d), ANN_QUERY_IDS, 5
        ),
        "ann_lsh_topk": lambda s, d: similarity.ann_lsh_topk(
            _emb(s, d), ANN_QUERY_IDS, 5, n_bands=ANN_N_BANDS, band_bits=ANN_BAND_BITS
        ),
        "ann_ivf_topk": lambda s, d: similarity.ann_ivf_topk(
            _emb(s, d), ANN_QUERY_IDS, 5,
            n_clusters=IVF_CLUSTERS, n_iters=IVF_ITERS, nprobe=IVF_NPROBE,
            fit_frac=IVF_FIT_FRAC,
        ),
        # --- text analysis
        "text_lang_id": lambda s, d: textstats.lang_id(_docs(s, d)),
        "text_quality": lambda s, d: textstats.quality_score(_docs(s, d)),
        "text_token_counts": lambda s, d: textstats.token_counts(_docs(s, d)),
        "text_fingerprint": lambda s, d: textstats.doc_fingerprint(_docs(s, d)),
        # --- corpus curation (LLM training-data pipeline: filtering,
        #     splitting, decontamination — operators/curation.py; all but
        #     decontaminate are zero-shuffle per-row plans)
        "curation_repetition": lambda s, d: curation.repetition_stats(
            _docs(s, d), 3
        ),
        "curation_quality": lambda s, d: curation.quality_rules(_docs(s, d)),
        "curation_stratified_sample": lambda s, d: curation.stratified_sample(
            _docs(s, d), STRAT_FRACS
        ),
        # holdout = doc_id % 10 == 0 (an "eval benchmark" slice), train =
        # the rest; a train doc is contaminated iff it shares any word
        # 3-gram with the holdout
        "curation_decontaminate": lambda s, d: curation.decontaminate(
            _docs(s, d).where(F.col("doc_id") % 10 != 0),
            _docs(s, d).where(F.col("doc_id") % 10 == 0),
            3,
        ),
        "curation_pii_scrub": lambda s, d: curation.pii_scrub(
            _pii_augmented(s, d)
        ),
        # --- generic relational breadth (windows, joins, rollups)
        "events_hourly": lambda s, d: relational.events_hourly(_tbl(s, d, "events")),
        "events_sessionize": lambda s, d: relational.sessionize(_tbl(s, d, "events")),
        "tpch_top_customers": lambda s, d: relational.top_customers_by_revenue(
            _tbl(s, d, "lineitem"), _tbl(s, d, "orders"), _tbl(s, d, "customer")
        ),
        "tpch_pricing_summary": lambda s, d: relational.pricing_summary(
            _tbl(s, d, "lineitem")
        ),
        # --- multimodal plumbing (binary payload synthesized from text;
        #     deterministic fake decoder — real decode is stubbed)
        "multimodal_decode": lambda s, d: multimodal.decode_media(
            _docs(s, d).select(
                "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
            )
        ).drop("feature"),
        "multimodal_binary_stats": lambda s, d: multimodal.binary_stats(
            _docs(s, d).select(
                "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
            )
        ),
    }


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------

_TOKS = duckdb_tokens_sql()
_TOKS_NOSTOP = duckdb_tokens_sql(stopwords=False)
_STOP_IN = ", ".join(f"'{w}'" for w in _STOPLIST)

_TF = f"SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2"

_DL = (
    "SELECT d.doc_id, coalesce(c.n, 0)::BIGINT AS doc_len FROM documents d "
    "LEFT JOIN (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1) c USING (doc_id)"
)

_Q_VALUES = ", ".join(f"('{t}', 1)" for t in dict.fromkeys(Q_TERMS))

_SHINGLE_BASE = (
    "SELECT doc_id, list_filter(regexp_extract_all(lower(text), '[\\p{L}\\p{Nd}]+'), "
    "t -> strlen(t) >= 3 OR regexp_full_match(t, '[0-9]{1,19}')) AS ts FROM documents"
)
_SHINGLES = (
    f"WITH base AS ({_SHINGLE_BASE}), "
    "shs AS (SELECT doc_id, list_transform(generate_series(1, greatest(len(ts)-2, 0)), "
    "i -> array_to_string(ts[i:i+2], ' ')) AS sl FROM base), "
    "sh AS (SELECT DISTINCT doc_id, u.s AS shingle FROM shs, unnest(sl) AS u(s))"
)


def _gram_cte(where: str = "") -> str:
    """DuckDB subquery producing (doc_id, gl) — the NON-distinct, in-order
    word-3-gram list per document (same tokenization as _SHINGLE_BASE);
    the curation oracles need multiplicity, the dedup ones don't."""
    return (
        "SELECT doc_id, list_transform(generate_series(1, greatest(len(ts)-2, 0)), "
        "i -> array_to_string(ts[i:i+2], ' ')) AS gl FROM "
        "(SELECT doc_id, list_filter(regexp_extract_all(lower(text), '[\\p{L}\\p{Nd}]+'), "
        "t -> strlen(t) >= 3 OR regexp_full_match(t, '[0-9]{1,19}')) AS ts "
        "FROM documents" + where + ")"
    )


def _srp_sigs_cte(n_bands: int, band_bits: int) -> str:
    """DuckDB CTEs computing the same multi-band SRP signatures as
    ``similarity.srp_band_signatures`` — same md5-derived ±1 hyperplanes,
    same left-to-right float fold (list_reduce), same bit packing."""
    n_bits = n_bands * band_bits
    return (
        "base AS (SELECT vec_id AS id, "
        "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), "
        f"bits AS (SELECT id, b.bit FROM base, unnest(generate_series(0, {n_bits - 1})) AS b(bit)), "
        "dots AS (SELECT id, bit, list_reduce(list_transform(generate_series(1, len(v)), i -> "
        "CASE WHEN ('0x' || substr(md5(bit::VARCHAR || '_' || (i-1)::VARCHAR), 1, 2))::INT % 2 = 1 "
        "THEN v[i] ELSE -v[i] END), (acc, e) -> acc + e) AS d "
        "FROM bits JOIN base USING (id)), "
        f"sigs AS (SELECT id, bit // {band_bits} AS band, "
        f"sum(CASE WHEN d >= 0 THEN (1::BIGINT << (bit % {band_bits})) ELSE 0 END)::BIGINT AS sig "
        "FROM dots GROUP BY 1, 2)"
    )


def _ivf_oracle_sql(
    n_clusters: int, n_iters: int, nprobe: int, k: int, fit_frac: float = 1.0
) -> str:
    """DuckDB mirror of similarity.ann_ivf_topk: md5-seeded init, unrolled
    Lloyd iterations with 6dp-quantized centroids, nprobe probing, exact
    cosine re-rank. The centroid fit (seeding + Lloyd) runs on the same
    deterministic md5-threshold sample as similarity._fit_sample."""
    sqd = (
        "list_sum(list_transform(generate_series(1, len({a})), i -> "
        "({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )
    fit_where = (
        f" WHERE ('0x' || substr(md5(id::VARCHAR), 1, 4))::INT "
        f"< {int(fit_frac * 65536)}"
        if fit_frac < 1.0
        else ""
    )
    ctes = [
        "base AS (SELECT vec_id AS id, "
        "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)",
        f"fitbase AS (SELECT * FROM base{fit_where})",
        f"cents0 AS (SELECT row_number() OVER (ORDER BY md5(id::VARCHAR), id) - 1 "
        f"AS cluster, v AS centroid FROM fitbase "
        f"ORDER BY md5(id::VARCHAR), id LIMIT {n_clusters})",
    ]
    for it in range(n_iters):
        d = sqd.format(a="b.v", b=f"c.centroid")
        ctes.append(
            f"a{it} AS (SELECT id, v, cluster FROM ("
            f"SELECT b.id, b.v, c.cluster, row_number() OVER (PARTITION BY b.id "
            f"ORDER BY {d}, c.cluster) AS rn FROM fitbase b CROSS JOIN cents{it} c) "
            "WHERE rn = 1)"
        )
        ctes.append(
            f"cents{it + 1} AS (SELECT cluster, list(c ORDER BY dim) AS centroid "
            f"FROM (SELECT cluster, u.dim, round(avg(v[u.dim]), 6) AS c "
            f"FROM a{it}, unnest(generate_series(1, len(v))) AS u(dim) "
            "GROUP BY cluster, u.dim) GROUP BY cluster)"
        )
    final_c = f"cents{n_iters}"
    d_inv = sqd.format(a="b.v", b="c.centroid")
    d_q = sqd.format(a="q.qv", b="c.centroid")
    ctes.append(
        "inverted AS (SELECT id, cluster FROM ("
        "SELECT b.id, c.cluster, row_number() OVER (PARTITION BY b.id "
        f"ORDER BY {d_inv}, c.cluster) AS rn FROM base b CROSS JOIN {final_c} c) "
        "WHERE rn = 1)"
    )
    ctes.append(
        "q AS (SELECT id AS query_id, v AS qv FROM base "
        f"WHERE id IN ({', '.join(map(str, ANN_QUERY_IDS))}))"
    )
    ctes.append(
        "probes AS (SELECT query_id, cluster FROM ("
        "SELECT q.query_id, c.cluster, row_number() OVER (PARTITION BY q.query_id "
        f"ORDER BY {d_q}, c.cluster) AS rn FROM q CROSS JOIN {final_c} c) "
        f"WHERE rn <= {nprobe})"
    )
    ctes.append(
        "cand AS (SELECT DISTINCT p.query_id, i.id AS neighbor_id "
        "FROM probes p JOIN inverted i USING (cluster) "
        "WHERE i.id <> p.query_id)"
    )
    ctes.append(
        "scored AS (SELECT c.query_id, c.neighbor_id, "
        f"{_COS_AB} AS cos "
        "FROM cand c JOIN base a ON a.id = c.query_id "
        "JOIN base b ON b.id = c.neighbor_id)"
    )
    ctes.append(
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos DESC, neighbor_id) AS rn FROM scored)"
    )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT query_id, neighbor_id, cos FROM r WHERE rn <= {k} "
        "ORDER BY query_id, cos DESC, neighbor_id"
    )


_COS_AB = (
    "round(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])) "
    "/ (sqrt(list_sum(list_transform(a.v, x -> x * x))) "
    "* sqrt(list_sum(list_transform(b.v, x -> x * x)))), 4)"
)


def oracle_sql() -> dict[str, str]:
    bm25 = f"""
WITH toks AS ({_TOKS}),
tf AS ({_TF}),
dl AS ({_DL}),
stats AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
params AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                  (SELECT avg(doc_len) FROM dl) AS avgdl),
q(term, mult) AS (VALUES {_Q_VALUES}),
scored AS (
  SELECT tf.doc_id,
         sum(q.mult * ln(1.0 + (p.n - s.df + 0.5) / (s.df + 0.5)) * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / p.avgdl))) AS raw
  FROM tf JOIN q USING (term) JOIN stats s USING (term)
       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN params p
  GROUP BY tf.doc_id)
SELECT doc_id, round(raw, 4) AS score FROM scored
ORDER BY round(raw, 6) DESC, doc_id LIMIT 10
"""
    bm25_all = bm25.replace(" LIMIT 10", "")
    # cursor pagination: the cursor is rank 10's (round6 score, doc_id);
    # the page is everything strictly after it in serving order — the
    # same rows as OFFSET 10, produced through the cursor mechanism
    bm25_after = bm25.replace(
        "SELECT doc_id, round(raw, 4) AS score FROM scored\n"
        "ORDER BY round(raw, 6) DESC, doc_id LIMIT 10",
        "SELECT doc_id, round(raw, 4) AS score FROM scored CROSS JOIN (\n"
        "  SELECT round(raw, 6) AS cs, doc_id AS cd FROM scored\n"
        "  ORDER BY round(raw, 6) DESC, doc_id LIMIT 1 OFFSET 9) cur\n"
        "WHERE round(raw, 6) < cs OR (round(raw, 6) = cs AND doc_id > cd)\n"
        "ORDER BY round(raw, 6) DESC, doc_id LIMIT 10",
    )
    assert bm25_after != bm25
    # pagination: page 2 = ranks 11-20 of the same deterministic order
    bm25_page2 = bm25.replace(" LIMIT 10", " LIMIT 10 OFFSET 10")

    # multi-field (ES multi_match over per-field sub-indexes): field
    # 'title' = first 8 whitespace tokens of text (weight 2.0), field
    # 'text' = the document (weight 1.0). Per-field BM25 with per-field
    # df/dl/avgdl statistics (Lucene's model), combined per doc. The
    # dismax combine mirrors the engine's expression tree exactly
    # (max + tie*(sum-max), not max + tie*min — f64-identical).
    mf_prefix = f"""
WITH titles AS (SELECT doc_id, array_to_string((regexp_split_to_array(text, ' '))[1:8], ' ') AS text FROM documents),
btoks AS ({_TOKS}),
ttoks AS ({duckdb_tokens_sql(table='titles')}),
btf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM btoks GROUP BY 1, 2),
ttf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM ttoks GROUP BY 1, 2),
bdl AS (SELECT d.doc_id, coalesce(c.n, 0)::BIGINT AS doc_len FROM documents d
        LEFT JOIN (SELECT doc_id, count(*) AS n FROM btoks GROUP BY 1) c USING (doc_id)),
tdl AS (SELECT d.doc_id, coalesce(c.n, 0)::BIGINT AS doc_len FROM documents d
        LEFT JOIN (SELECT doc_id, count(*) AS n FROM ttoks GROUP BY 1) c USING (doc_id)),
bst AS (SELECT term, count(*)::BIGINT AS df FROM btf GROUP BY 1),
tst AS (SELECT term, count(*)::BIGINT AS df FROM ttf GROUP BY 1),
params AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                  (SELECT avg(doc_len) FROM bdl) AS bavgdl,
                  (SELECT avg(doc_len) FROM tdl) AS tavgdl),
q(term, mult) AS (VALUES {_Q_VALUES})"""

    def _mf(combine: str) -> str:
        return f"""{mf_prefix},
bscored AS (
  SELECT tf.doc_id,
         sum(q.mult * ln(1.0 + (p.n - s.df + 0.5) / (s.df + 0.5)) * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / p.bavgdl))) AS raw
  FROM btf tf JOIN q USING (term) JOIN bst s USING (term)
       JOIN bdl dl ON dl.doc_id = tf.doc_id CROSS JOIN params p
  GROUP BY tf.doc_id),
tscored AS (
  SELECT tf.doc_id,
         sum(q.mult * ln(1.0 + (p.n - s.df + 0.5) / (s.df + 0.5)) * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / p.tavgdl))) AS raw
  FROM ttf tf JOIN q USING (term) JOIN tst s USING (term)
       JOIN tdl dl ON dl.doc_id = tf.doc_id CROSS JOIN params p
  GROUP BY tf.doc_id),
comb AS (
  SELECT coalesce(t.doc_id, b.doc_id) AS doc_id,
         coalesce(t.raw * 2.0, 0) AS wt, coalesce(b.raw, 0) AS wb
  FROM tscored t FULL OUTER JOIN bscored b ON t.doc_id = b.doc_id)
SELECT doc_id, round({combine}, 4) AS score FROM comb
ORDER BY round({combine}, 6) DESC, doc_id LIMIT 10
"""

    mf_sum = _mf("wt + wb")
    mf_dismax = _mf(
        "greatest(wt, wb) + 0.3 * ((wt + wb) - greatest(wt, wb))"
    )
    # cross_fields: per-(doc, term) contributions, best field per term
    # (dis_max + tie 0.2, same expression tree as the engine), terms
    # summed per doc
    mf_cross = f"""{mf_prefix},
bterm AS (
  SELECT tf.doc_id, tf.term,
         q.mult * ln(1.0 + (p.n - s.df + 0.5) / (s.df + 0.5)) * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / p.bavgdl)) AS c
  FROM btf tf JOIN q USING (term) JOIN bst s USING (term)
       JOIN bdl dl ON dl.doc_id = tf.doc_id CROSS JOIN params p),
tterm AS (
  SELECT tf.doc_id, tf.term,
         q.mult * ln(1.0 + (p.n - s.df + 0.5) / (s.df + 0.5)) * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / p.tavgdl)) AS c
  FROM ttf tf JOIN q USING (term) JOIN tst s USING (term)
       JOIN tdl dl ON dl.doc_id = tf.doc_id CROSS JOIN params p),
j AS (
  SELECT coalesce(t.doc_id, b.doc_id) AS doc_id,
         coalesce(t.c * 2.0, 0) AS wt, coalesce(b.c, 0) AS wb
  FROM tterm t FULL OUTER JOIN bterm b
       ON t.doc_id = b.doc_id AND t.term = b.term),
comb AS (
  SELECT doc_id,
         sum(greatest(wt, wb) + 0.2 * ((wt + wb) - greatest(wt, wb))) AS raw
  FROM j GROUP BY doc_id)
SELECT doc_id, round(raw, 4) AS score FROM comb
ORDER BY round(raw, 6) DESC, doc_id LIMIT 10
"""
    # facet panel: distinct matching docs (OR semantics) per lang
    facet_sql = f"""
WITH toks AS ({_TOKS}),
tf AS ({_TF}),
q(term, mult) AS (VALUES {_Q_VALUES}),
matches AS (SELECT DISTINCT tf.doc_id FROM tf JOIN q USING (term))
SELECT d.lang AS lang, count(*)::BIGINT AS n_docs
FROM matches m JOIN documents d ON d.doc_id = m.doc_id
GROUP BY 1 ORDER BY n_docs DESC, lang
"""
    # histogram facet: distinct matching docs per 50-token analyzed-length
    # bucket (dl doubles as the docs table's doclen column)
    hist_sql = f"""
WITH toks AS ({_TOKS}),
tf AS ({_TF}),
dl AS ({_DL}),
q(term, mult) AS (VALUES {_Q_VALUES}),
matches AS (SELECT DISTINCT tf.doc_id FROM tf JOIN q USING (term))
SELECT (dl.doc_len // 50) * 50 AS bucket, count(*)::BIGINT AS n_docs
FROM matches m JOIN dl ON dl.doc_id = m.doc_id
GROUP BY 1 ORDER BY bucket
"""
    # field-sorted retrieval: the full match set with its sort key
    sorted_sql = f"""
WITH toks AS ({_TOKS}),
tf AS ({_TF}),
dl AS ({_DL}),
q(term, mult) AS (VALUES {_Q_VALUES}),
matches AS (SELECT DISTINCT tf.doc_id FROM tf JOIN q USING (term))
SELECT m.doc_id, dl.doc_len::BIGINT AS sort_v
FROM matches m JOIN dl ON dl.doc_id = m.doc_id
"""
    # cardinality facet: COUNT(DISTINCT lang) over the distinct match set
    card_sql = f"""
WITH toks AS ({_TOKS}),
tf AS ({_TF}),
q(term, mult) AS (VALUES {_Q_VALUES}),
matches AS (SELECT DISTINCT tf.doc_id FROM tf JOIN q USING (term))
SELECT count(DISTINCT d.lang)::BIGINT AS n_values
FROM matches m JOIN documents d ON d.doc_id = m.doc_id
"""
    # percentiles facet: linearly-interpolated quantiles of analyzed doc
    # length over the match set (quantile_cont == Spark F.percentile)
    _pct_rows = " UNION ALL ".join(
        f"SELECT CAST({p} AS DOUBLE) AS pct, "
        f"round(quantile_cont(doc_len, {p}), 6) AS value FROM vals"
        for p in PCTS
    )
    pctl_sql = f"""
WITH toks AS ({_TOKS}),
tf AS ({_TF}),
dl AS ({_DL}),
q(term, mult) AS (VALUES {_Q_VALUES}),
matches AS (SELECT DISTINCT tf.doc_id FROM tf JOIN q USING (term)),
vals AS (SELECT dl.doc_len FROM matches m JOIN dl ON dl.doc_id = m.doc_id)
SELECT * FROM ({_pct_rows}) ORDER BY pct
"""
    # stats facet: count/min/max/avg/sum of analyzed doc length over the
    # distinct match set (one row; avg rounded for float stability)
    stats_facet_sql = f"""
WITH toks AS ({_TOKS}),
tf AS ({_TF}),
dl AS ({_DL}),
q(term, mult) AS (VALUES {_Q_VALUES}),
matches AS (SELECT DISTINCT tf.doc_id FROM tf JOIN q USING (term))
SELECT count(*)::BIGINT AS n_docs, min(dl.doc_len)::BIGINT AS min_v,
       max(dl.doc_len)::BIGINT AS max_v, round(avg(dl.doc_len), 4) AS avg_v,
       sum(dl.doc_len)::BIGINT AS sum_v
FROM matches m JOIN dl ON dl.doc_id = m.doc_id
"""
    # field collapsing: best doc per lang (argmax at round-6 with doc_id
    # tiebreak), then top-10 groups by their best score
    collapse_sql = bm25.replace(
        "SELECT doc_id, round(raw, 4) AS score FROM scored\n"
        "ORDER BY round(raw, 6) DESC, doc_id LIMIT 10",
        "SELECT lang, doc_id, round(raw, 4) AS score FROM (\n"
        "  SELECT d.lang AS lang, s.doc_id, s.raw, row_number() OVER (\n"
        "    PARTITION BY d.lang ORDER BY round(s.raw, 6) DESC, s.doc_id\n"
        "  ) AS rn FROM scored s JOIN documents d USING (doc_id))\n"
        "WHERE rn = 1 ORDER BY round(raw, 6) DESC, doc_id LIMIT 10",
    )
    assert "PARTITION BY d.lang" in collapse_sql
    # hybrid RRF: bm25 top-N ranks (round-6 order) ∪ cosine top-N ranks
    # (round-4 cos, the ANN contract) -> 1/(c+r) sums, integer-exact
    hybrid_sql = f"""
WITH toks AS ({_TOKS}),
tf AS ({_TF}),
dl AS ({_DL}),
stats AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
params AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                  (SELECT avg(doc_len) FROM dl) AS avgdl),
q(term, mult) AS (VALUES {_Q_VALUES}),
scored AS (
  SELECT tf.doc_id,
         sum(q.mult * ln(1.0 + (p.n - s.df + 0.5) / (s.df + 0.5)) * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / p.avgdl))) AS raw
  FROM tf JOIN q USING (term) JOIN stats s USING (term)
       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN params p
  GROUP BY tf.doc_id),
lex AS (SELECT doc_id, row_number() OVER (
          ORDER BY round(raw, 6) DESC, doc_id) AS rl
        FROM scored ORDER BY round(raw, 6) DESC, doc_id LIMIT {HYBRID_N}),
base AS (SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS v
         FROM embeddings),
qv AS (SELECT v AS qv FROM base WHERE id = {HYBRID_VEC_ID}),
cos AS (SELECT b.id AS doc_id,
               round(list_sum(list_transform(generate_series(1, len(qv)),
                     i -> qv[i] * b.v[i]))
                 / (sqrt(list_sum(list_transform(qv, x -> x * x)))
                  * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 4) AS c
        FROM base b CROSS JOIN qv WHERE b.id <> {HYBRID_VEC_ID}),
vec AS (SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id) AS rv
        FROM cos ORDER BY c DESC, doc_id LIMIT {HYBRID_N}),
fused AS (
  SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
         coalesce(1.0 / ({HYBRID_C} + lex.rl), 0.0)
           + coalesce(1.0 / ({HYBRID_C} + vec.rv), 0.0) AS rrf
  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
SELECT doc_id, round(rrf, 6) AS rrf FROM fused
ORDER BY rrf DESC, doc_id LIMIT {HYBRID_K}
"""
    # significant terms: per-term lift over the match set, integer-exact
    sig_terms_sql = f"""
WITH toks AS ({_TOKS}),
tf AS ({_TF}),
stats AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
q(term, mult) AS (VALUES {_Q_VALUES}),
matches AS (SELECT DISTINCT tf.doc_id FROM tf JOIN q USING (term)),
params AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                  (SELECT count(*) FROM matches)::DOUBLE AS m),
fg AS (SELECT tf.term, count(*)::BIGINT AS fg_df
       FROM tf JOIN matches mt ON mt.doc_id = tf.doc_id GROUP BY 1)
SELECT term, fg_df, s.df AS bg_df,
       round(fg_df * p.n / (s.df * p.m), 4) AS lift
FROM fg JOIN stats s USING (term) CROSS JOIN params p
WHERE fg_df >= 3
ORDER BY round(fg_df * p.n / (s.df * p.m), 6) DESC, term LIMIT 20
"""
    # Lucene-explain analog: per-(doc, term) BM25 contribution rows for
    # the top-10 docs of the same bm25 order
    explain_sql = f"""
WITH toks AS ({_TOKS}),
tf AS ({_TF}),
dl AS ({_DL}),
stats AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
params AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                  (SELECT avg(doc_len) FROM dl) AS avgdl),
q(term, mult) AS (VALUES {_Q_VALUES}),
contribs AS (
  SELECT tf.doc_id, tf.term, tf.tf::BIGINT AS tf, s.df,
         q.mult * ln(1.0 + (p.n - s.df + 0.5) / (s.df + 0.5)) * tf.tf * 2.2
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / p.avgdl)) AS contrib
  FROM tf JOIN q USING (term) JOIN stats s USING (term)
       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN params p),
scored AS (SELECT doc_id, sum(contrib) AS raw FROM contribs GROUP BY doc_id),
top AS (SELECT doc_id FROM scored ORDER BY round(raw, 6) DESC, doc_id LIMIT 10)
SELECT c.doc_id, c.term, c.tf, c.df, round(c.contrib, 4) AS contrib
FROM contribs c JOIN top USING (doc_id)
ORDER BY c.doc_id, c.term
"""
    # query-time boosting: bm25 * (1 + (doc_id % 5) * 0.25), a
    # deterministic per-doc prior; order/round on the BOOSTED score
    _boost_expr = "(1.0 + (doc_id % 5) * 0.25)"
    bm25_boosted = bm25.replace(
        "SELECT doc_id, round(raw, 4) AS score FROM scored",
        f"SELECT doc_id, round(raw * {_boost_expr}, 4) AS score FROM scored",
    ).replace(
        "ORDER BY round(raw, 6) DESC, doc_id LIMIT 10",
        f"ORDER BY round(raw * {_boost_expr}, 6) DESC, doc_id LIMIT 10",
    )
    assert (  # both splice targets must exist in the template
        f"round(raw * {_boost_expr}, 4)" in bm25_boosted
        and f"round(raw * {_boost_expr}, 6)" in bm25_boosted
    )
    # function-score decay: bm25 * exp(ln(0.5)/200 * max(0, |doclen-60|))
    # — the factor joins the dl CTE (doc_len == the docs-table doclen)
    _decay_expr = (
        "exp(ln(0.5) / 200.0 * greatest(0.0, abs(dl.doc_len - 60.0)))"
    )
    bm25_decay = bm25.replace(
        "SELECT doc_id, round(raw, 4) AS score FROM scored\n"
        "ORDER BY round(raw, 6) DESC, doc_id LIMIT 10",
        f"SELECT s.doc_id, round(s.raw * {_decay_expr}, 4) AS score\n"
        "FROM scored s JOIN dl ON dl.doc_id = s.doc_id\n"
        f"ORDER BY round(s.raw * {_decay_expr}, 6) DESC, s.doc_id LIMIT 10",
    )
    assert f"raw * {_decay_expr}" in bm25_decay
    # percolator: analyzed stored-query terms inlined as VALUES — the
    # SAME simple-preset pipeline both the Spark side and toks use;
    # zero-term queries are omitted (they match nothing by contract)
    from fts_engine_spark.textproc.pipeline import get_pipeline as _gp

    _perc_proc = _gp("simple").process
    _perc_q, _perc_req = [], []
    for _qid, _qs, _mm in PERC_QUERIES:
        _terms = sorted(set(_perc_proc(_qs)))
        if not _terms:
            continue
        _req = len(_terms) if not _mm else min(_mm, len(_terms))
        _perc_q += [f"({_qid}, '{t}')" for t in _terms]
        _perc_req.append(f"({_qid}, {_req}, {len(_terms)})")
    percolate_sql = f"""
WITH toks AS ({_TOKS}),
dt AS (SELECT DISTINCT doc_id, term FROM toks),
q(query_id, term) AS (VALUES {", ".join(_perc_q)}),
req(query_id, required, n_query_terms) AS (VALUES {", ".join(_perc_req)}),
m AS (SELECT dt.doc_id, q.query_id, count(DISTINCT dt.term)::BIGINT AS matched_terms
      FROM dt JOIN q USING (term) GROUP BY 1, 2)
SELECT m.doc_id, m.query_id::BIGINT AS query_id, m.matched_terms,
       r.n_query_terms::BIGINT AS n_query_terms
FROM m JOIN req r USING (query_id) WHERE m.matched_terms >= r.required
"""
    # conjunctive: every distinct query term must match; tf is unique per
    # (term, doc), so the group's row count is the distinct-match count
    bm25_and = bm25.replace(
        "  GROUP BY tf.doc_id)",
        "  GROUP BY tf.doc_id\n"
        "  HAVING count(*) = (SELECT count(*) FROM q))",
    )
    assert bm25_and != bm25  # the splice target must exist
    # minimum-should-match: >= 3 of the 4 distinct query terms
    bm25_msm = bm25.replace(
        "  GROUP BY tf.doc_id)",
        "  GROUP BY tf.doc_id\n  HAVING count(*) >= 3)",
    )
    assert bm25_msm != bm25
    # boolean NOT: drop every doc matching an excluded term (tf is the
    # full corpus TF table, so the subquery is exactly the match set)
    _not_in = ", ".join(f"'{t}'" for t in NOT_EXCLUDE)
    bm25_not = bm25.replace(
        "SELECT doc_id, round(raw, 4) AS score FROM scored",
        "SELECT doc_id, round(raw, 4) AS score FROM scored "
        f"WHERE doc_id NOT IN (SELECT doc_id FROM tf WHERE term IN ({_not_in}))",
    )
    assert bm25_not != bm25
    # pending deletes (tombstoned, uncompacted): scores use FULL-corpus
    # stats (stale, Lucene deleted-but-unmerged), dead docs filtered after
    bm25_del = bm25.replace(
        "SELECT doc_id, round(raw, 4) AS score FROM scored",
        "SELECT doc_id, round(raw, 4) AS score FROM scored "
        f"WHERE doc_id % {DELETE_MOD} <> {DELETE_REM}",
    )
    assert bm25_del != bm25
    # compacted deletes: physically purged — every CTE sees only survivors
    bm25_del_compact = (
        "WITH livedocs AS (SELECT * FROM documents "
        f"WHERE doc_id % {DELETE_MOD} <> {DELETE_REM}),"
        + bm25.replace("FROM documents", "FROM livedocs").replace(
            "WITH ", "", 1
        )
    )
    assert bm25_del_compact.count("FROM livedocs") >= 3  # toks, dl, params
    # upserted corpus: re-crawled docs (doc_id % UPDATE_MOD == 0) carry
    # doubled text; scored like a fresh build over the updated corpus
    bm25_update = (
        "WITH upddocs AS (SELECT doc_id, CASE WHEN doc_id % "
        f"{UPDATE_MOD} = 0 THEN text || ' ' || text ELSE text END AS text "
        "FROM documents),"
        + bm25.replace("FROM documents", "FROM upddocs").replace(
            "WITH ", "", 1
        )
    )
    assert bm25_update.count("FROM upddocs") >= 3
    # restriction filter (`within=`): candidacy gated AFTER scoring —
    # full-corpus stats, scores unchanged, standard filtered-search
    # semantics (tests/test_filtered_search.py)
    bm25_within = bm25.replace(
        "SELECT doc_id, round(raw, 4) AS score FROM scored",
        "SELECT doc_id, round(raw, 4) AS score FROM scored "
        f"WHERE doc_id % {WITHIN_MOD} = 0",
    )
    assert bm25_within != bm25
    # boolean query string (BOOL_QUERY): scoring == the bm25 CTE (same
    # terms, mult 1); MUST groups are per-group EXISTS gates, NOT is the
    # usual anti-membership — boolean structure gates candidacy only
    bm25_bool = bm25.replace(
        "SELECT doc_id, round(raw, 4) AS score FROM scored",
        "SELECT doc_id, round(raw, 4) AS score FROM scored "
        "WHERE doc_id IN (SELECT doc_id FROM tf WHERE term = 'table') "
        "AND doc_id IN (SELECT doc_id FROM tf WHERE term IN ('value', 'fast')) "
        "AND doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'merge')",
    )
    assert bm25_bool != bm25
    # query string (QS_QUERY): boosted weights are fractional mults in
    # q VALUES (weight = mult * idf, exactly the engine's factoring);
    # MUST/NOT gate like the boolean row; the lang filter reads the
    # documents table, the doclen range the dl CTE (the stored doclen
    # column IS the analyzed token count dl computes)
    bm25_qs = f"""
WITH toks AS ({_TOKS}),
tf AS ({_TF}),
dl AS ({_DL}),
stats AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
params AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                  (SELECT avg(doc_len) FROM dl) AS avgdl),
q(term, mult) AS (VALUES ('value', 1.0), ('fast', 2.5), ('table', 1.0)),
scored AS (
  SELECT tf.doc_id,
         sum(q.mult * ln(1.0 + (p.n - s.df + 0.5) / (s.df + 0.5)) * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / p.avgdl))) AS raw
  FROM tf JOIN q USING (term) JOIN stats s USING (term)
       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN params p
  GROUP BY tf.doc_id)
SELECT doc_id, round(raw, 4) AS score FROM scored
WHERE doc_id IN (SELECT doc_id FROM tf WHERE term = 'table')
  AND doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'merge')
  AND doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
  AND doc_id IN (SELECT doc_id FROM dl WHERE doc_len BETWEEN 40 AND 400)
ORDER BY round(raw, 6) DESC, doc_id LIMIT 10
"""
    # meta-passthrough query string (QS_META_QUERY): same shape, gates on
    # the documents table's source/n_chars — the Spark side reads them off
    # the index docs table where the build's meta_cols join persisted them
    bm25_qs_meta = f"""
WITH toks AS ({_TOKS}),
tf AS ({_TF}),
dl AS ({_DL}),
stats AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
params AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                  (SELECT avg(doc_len) FROM dl) AS avgdl),
q(term, mult) AS (VALUES ('value', 1.0), ('fast', 1.0), ('table', 1.0)),
scored AS (
  SELECT tf.doc_id,
         sum(q.mult * ln(1.0 + (p.n - s.df + 0.5) / (s.df + 0.5)) * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / p.avgdl))) AS raw
  FROM tf JOIN q USING (term) JOIN stats s USING (term)
       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN params p
  GROUP BY tf.doc_id)
SELECT doc_id, round(raw, 4) AS score FROM scored
WHERE doc_id IN (SELECT doc_id FROM tf WHERE term = 'table')
  AND doc_id IN (SELECT doc_id FROM documents
                 WHERE source = 'src7' AND n_chars BETWEEN 150 AND 450)
ORDER BY round(raw, 6) DESC, doc_id LIMIT 10
"""
    # synonym groups (Lucene SynonymQuery): one row per analyzed member
    # with its group id; per (doc, group) the tfs SUM, the group df is
    # the MAX member df, one idf/saturation per group — the exact shape
    # search_bm25_synonyms builds relationally
    _syn_vals = ", ".join(
        f"('{m}', {g}, 1)"
        for g, t in enumerate(sorted(set(Q_TERMS)))
        for m in sorted({t, *SYNONYMS.get(t, [])})
    )
    bm25_syn = f"""
WITH toks AS ({_TOKS}),
tf AS ({_TF}),
dl AS ({_DL}),
stats AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
params AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                  (SELECT avg(doc_len) FROM dl) AS avgdl),
q(term, gid, mult) AS (VALUES {_syn_vals}),
gstats AS (SELECT q.gid, max(s.df) AS df
           FROM q JOIN stats s USING (term) GROUP BY 1),
gtf AS (SELECT tf.doc_id, q.gid, max(q.mult) AS mult,
               sum(tf.tf)::BIGINT AS tf
        FROM tf JOIN q USING (term) GROUP BY 1, 2),
scored AS (
  SELECT g.doc_id,
         sum(g.mult * ln(1.0 + (p.n - gs.df + 0.5) / (gs.df + 0.5)) * g.tf * 2.2
             / (g.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / p.avgdl))) AS raw
  FROM gtf g JOIN gstats gs USING (gid)
       JOIN dl ON dl.doc_id = g.doc_id CROSS JOIN params p
  GROUP BY g.doc_id)
SELECT doc_id, round(raw, 4) AS score FROM scored
ORDER BY round(raw, 6) DESC, doc_id LIMIT 10
"""
    # more-like-this: q = the source doc's terms ranked (tf desc, df asc,
    # term asc — all-integer, so truncation is deterministic), mult 1;
    # the source doc is excluded from results
    bm25_mlt = bm25.replace(
        f"q(term, mult) AS (VALUES {_Q_VALUES})",
        "q AS (SELECT term, 1 AS mult FROM ("
        "SELECT tf.term AS term, tf.tf AS tf, s.df AS df "
        f"FROM tf JOIN stats s USING (term) WHERE tf.doc_id = {MLT_SOURCE_DOC}"
        f") ORDER BY tf DESC, df ASC, term ASC LIMIT {MLT_MAX_TERMS})",
    ).replace(
        "SELECT doc_id, round(raw, 4) AS score FROM scored",
        "SELECT doc_id, round(raw, 4) AS score FROM scored "
        f"WHERE doc_id <> {MLT_SOURCE_DOC}",
    )
    assert bm25_mlt != bm25 and str(MLT_SOURCE_DOC) in bm25_mlt
    # did-you-mean: per token, the dictionary term at minimal edit
    # distance (<= 2), ties df desc then term asc — levenshtein() is the
    # same classic edit distance in Spark and DuckDB
    _qt_vals = ", ".join(
        f"('{t}')" for t in sorted(set(SUGGEST_QUERY.split()))
    )
    suggest_sql = f"""
WITH toks AS ({_TOKS}),
tf AS ({_TF}),
stats AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
qt(token) AS (VALUES {_qt_vals}),
cand AS (
  SELECT qt.token, s.term, s.df, levenshtein(s.term, qt.token) AS dist
  FROM stats s CROSS JOIN qt
  WHERE abs(length(s.term) - length(qt.token)) <= 2
    AND levenshtein(s.term, qt.token) <= 2)
SELECT token, term AS suggestion, dist::INT AS dist, df AS sugg_df
FROM (SELECT token, term, dist, df,
             row_number() OVER (
               PARTITION BY token ORDER BY dist, df DESC, term) AS rn
      FROM cand)
WHERE rn = 1 ORDER BY token
"""
    # dictionary-expanded rewrites: swap the literal q CTE for an expansion
    # over the corpus vocabulary — same bound + preference as the engine's
    # expand_terms (df desc, term asc, LIMIT max_expand), so the oracle is
    # faithful even when truncation kicks in
    _q_lit = f"q(term, mult) AS (VALUES {_Q_VALUES})"
    prefix_q = (
        "expq AS (SELECT term, 1 AS mult FROM ("
        "SELECT term FROM stats WHERE term LIKE 's%' "
        f"ORDER BY df DESC, term LIMIT {EXPAND_MAX}) "
        "UNION ALL SELECT 'data', 1), "
        "q AS (SELECT term, sum(mult)::INT AS mult FROM expq GROUP BY term)"
    )
    fuzzy_q = (
        "expq AS ("
        "SELECT term, 1 AS mult FROM (SELECT term FROM stats "
        "WHERE levenshtein(term, 'querry') <= 1 "
        f"ORDER BY df DESC, term LIMIT {EXPAND_MAX}) "
        "UNION ALL "
        "SELECT term, 1 FROM (SELECT term FROM stats "
        "WHERE levenshtein(term, 'valu') <= 1 "
        f"ORDER BY df DESC, term LIMIT {EXPAND_MAX})), "
        "q AS (SELECT term, sum(mult)::INT AS mult FROM expq GROUP BY term)"
    )
    # wildcard rewrite: mid-string * / single-char ? patterns, SQL LIKE
    # semantics — the engine's LIKE translation is exactly DuckDB's LIKE
    wildcard_q = (
        "expq AS ("
        "SELECT term, 1 AS mult FROM (SELECT term FROM stats "
        "WHERE term LIKE 't%le' "
        f"ORDER BY df DESC, term LIMIT {EXPAND_MAX}) "
        "UNION ALL "
        "SELECT term, 1 FROM (SELECT term FROM stats "
        "WHERE term LIKE 'va_ue' "
        f"ORDER BY df DESC, term LIMIT {EXPAND_MAX}) "
        "UNION ALL SELECT 'data', 1), "
        "q AS (SELECT term, sum(mult)::INT AS mult FROM expq GROUP BY term)"
    )
    # regexp rewrite: RE2 full-match — same semantics as the engine's
    # anchored Java rlike and the point tier's re.fullmatch on the
    # documented common subset
    regexp_q = (
        "expq AS ("
        "SELECT term, 1 AS mult FROM (SELECT term FROM stats "
        f"WHERE regexp_full_match(term, '{REGEXP_PATTERN}') "
        f"ORDER BY df DESC, term LIMIT {EXPAND_MAX}) "
        "UNION ALL SELECT 'data', 1), "
        "q AS (SELECT term, sum(mult)::INT AS mult FROM expq GROUP BY term)"
    )
    bm25_regexp = bm25.replace(_q_lit, regexp_q)
    assert bm25_regexp != bm25
    bm25_prefix = bm25.replace(_q_lit, prefix_q)
    bm25_fuzzy = bm25.replace(_q_lit, fuzzy_q)
    bm25_wildcard = bm25.replace(_q_lit, wildcard_q)
    assert bm25_prefix != bm25 and bm25_fuzzy != bm25 and bm25_wildcard != bm25
    # phrase: contiguous occurrence count over the filtered token LIST
    # (1-based DuckDB list indexing; same tokenization + stoplist as _TOKS)
    _ppred = " AND ".join(
        f"ts[i+{j}] = '{t}'" for j, t in enumerate(PHRASE)
    )
    phrase_sql = (
        "WITH base AS (SELECT doc_id, "
        "list_filter(regexp_extract_all(lower(text), '[\\p{L}\\p{Nd}]+'), "
        "t -> (strlen(t) >= 3 OR regexp_full_match(t, '[0-9]{1,19}')) "
        f"AND t NOT IN ({_STOP_IN})) AS ts FROM documents), "
        "cnt AS (SELECT doc_id, "
        f"len(list_filter(generate_series(1, greatest(len(ts)-{len(PHRASE)-1}, 0)), "
        f"i -> {_ppred}))::BIGINT AS phrase_count FROM base) "
        "SELECT doc_id, phrase_count FROM cnt WHERE phrase_count > 0"
    )
    # match_phrase_prefix: expansions = dictionary terms LIKE 's%' by
    # (df desc, term asc) LIMIT max_exp — the engine's deterministic
    # rewrite order — then phrase starts where ts[i] = PHRASE[0] and
    # ts[i+1] is ANY expansion (counts sum; positions are disjoint)
    phrase_prefix_sql = (
        "WITH base AS (SELECT doc_id, "
        "list_filter(regexp_extract_all(lower(text), '[\\p{L}\\p{Nd}]+'), "
        "t -> (strlen(t) >= 3 OR regexp_full_match(t, '[0-9]{1,19}')) "
        f"AND t NOT IN ({_STOP_IN})) AS ts FROM documents), "
        "tok AS (SELECT doc_id, u.t AS term FROM base, unnest(ts) AS u(t)), "
        "dfs AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df "
        "FROM tok GROUP BY 1), "
        f"exp AS (SELECT term FROM dfs WHERE term LIKE '{PP_PREFIX}%' "
        f"ORDER BY df DESC, term LIMIT {PP_MAX_EXP}), "
        "expl AS (SELECT list(term) AS el FROM exp), "
        "cnt AS (SELECT doc_id, "
        "len(list_filter(generate_series(1, greatest(len(ts)-1, 0)), "
        f"i -> ts[i] = '{PHRASE[0]}' AND list_contains(el, ts[i+1])"
        "))::BIGINT AS phrase_count FROM base, expl) "
        "SELECT doc_id, phrase_count FROM cnt WHERE phrase_count > 0"
    )
    # span-near: ordered proximity — PHRASE[0] at i, PHRASE[1] within the
    # next 1+NEAR_SLOP token slots (chain span <= len-1+slop); count =
    # qualifying start positions, exactly positions.span_near_kernel
    near_sql = (
        "WITH base AS (SELECT doc_id, "
        "list_filter(regexp_extract_all(lower(text), '[\\p{L}\\p{Nd}]+'), "
        "t -> (strlen(t) >= 3 OR regexp_full_match(t, '[0-9]{1,19}')) "
        f"AND t NOT IN ({_STOP_IN})) AS ts FROM documents), "
        "cnt AS (SELECT doc_id, "
        "len(list_filter(generate_series(1, len(ts)), "
        f"i -> ts[i] = '{PHRASE[0]}' AND len(list_filter("
        f"generate_series(i+1, least(i+1+{NEAR_SLOP}, len(ts))), "
        f"j -> ts[j] = '{PHRASE[1]}')) > 0))::BIGINT AS near_count "
        "FROM base) "
        "SELECT doc_id, near_count FROM cnt WHERE near_count > 0"
    )
    # two-phase rescore: top-N bm25 candidates re-sorted by
    # raw + W * phrase_count (docs without the phrase keep their score)
    rescore_sql = f"""
WITH toks AS ({_TOKS}),
tf AS ({_TF}),
dl AS ({_DL}),
stats AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
params AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                  (SELECT avg(doc_len) FROM dl) AS avgdl),
q(term, mult) AS (VALUES {_Q_VALUES}),
scored AS (
  SELECT tf.doc_id,
         sum(q.mult * ln(1.0 + (p.n - s.df + 0.5) / (s.df + 0.5)) * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / p.avgdl))) AS raw
  FROM tf JOIN q USING (term) JOIN stats s USING (term)
       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN params p
  GROUP BY tf.doc_id),
cand AS (SELECT doc_id, raw FROM scored
         ORDER BY round(raw, 6) DESC, doc_id LIMIT {RESCORE_N}),
pbase AS (SELECT doc_id,
  list_filter(regexp_extract_all(lower(text), '[\\p{{L}}\\p{{Nd}}]+'),
    t -> (strlen(t) >= 3 OR regexp_full_match(t, '[0-9]{{1,19}}'))
         AND t NOT IN ({_STOP_IN})) AS ts FROM documents),
pcnt AS (SELECT doc_id,
  len(list_filter(generate_series(1, greatest(len(ts)-{len(PHRASE)-1}, 0)),
      i -> {_ppred}))::BIGINT AS phrase_count FROM pbase),
resc AS (SELECT c.doc_id,
                c.raw + {RESCORE_W} * coalesce(p.phrase_count, 0) AS fin
         FROM cand c LEFT JOIN pcnt p USING (doc_id))
SELECT doc_id, round(fin, 4) AS score FROM resc
ORDER BY round(fin, 6) DESC, doc_id LIMIT 10
"""
    # per-query (query_id, term, mult) after 'simple'-preset normalization
    # of BATCH_QUERIES — single simple words, multiplicity 1 each
    batch_q_values = ", ".join(
        f"({qid}, '{t}', 1)"
        for qid, q in enumerate(BATCH_QUERIES)
        for t in dict.fromkeys(q.split())
    )
    bm25_batch = f"""
WITH toks AS ({_TOKS}),
tf AS ({_TF}),
dl AS ({_DL}),
stats AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
params AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                  (SELECT avg(doc_len) FROM dl) AS avgdl),
q(query_id, term, mult) AS (VALUES {batch_q_values}),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.mult * ln(1.0 + (p.n - s.df + 0.5) / (s.df + 0.5)) * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / p.avgdl))) AS raw
  FROM tf JOIN q USING (term) JOIN stats s USING (term)
       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN params p
  GROUP BY q.query_id, tf.doc_id),
r AS (SELECT query_id, doc_id, round(raw, 4) AS score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(raw, 6) DESC, doc_id) AS rn
      FROM scored)
SELECT query_id, doc_id, score FROM r WHERE rn <= 10
ORDER BY query_id, score DESC, doc_id
"""
    return {
        "fts_tokens": f"WITH toks AS ({_TOKS}) SELECT doc_id, term FROM toks",
        "fts_postings_tf": f"WITH toks AS ({_TOKS}) {_TF}",
        "fts_term_stats": (
            f"WITH toks AS ({_TOKS}), tf AS ({_TF}) "
            "SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf "
            "FROM tf GROUP BY 1"
        ),
        "fts_doc_lengths": f"WITH toks AS ({_TOKS}) {_DL}",
        "fts_top_terms": (
            f"WITH toks AS ({_TOKS}), tf AS ({_TF}) "
            "SELECT term, sum(tf)::BIGINT AS cf FROM tf GROUP BY 1 "
            "ORDER BY cf DESC, term LIMIT 20"
        ),
        "fts_search_coordinate": (
            f"WITH toks AS ({_TOKS}), tf AS ({_TF}), "
            f"q(term, mult) AS (VALUES {_Q_VALUES}) "
            "SELECT tf.doc_id, sum(q.mult)::BIGINT AS unique_matches, "
            "sum(q.mult * tf.tf)::BIGINT AS total_matches "
            "FROM tf JOIN q USING (term) GROUP BY tf.doc_id "
            "ORDER BY unique_matches DESC, total_matches DESC, doc_id LIMIT 10"
        ),
        "fts_search_dup_quirk": (
            f"WITH toks AS ({_TOKS}), tf AS ({_TF}), "
            "q(term, mult) AS (VALUES ('value', 2)) "
            "SELECT tf.doc_id, sum(q.mult)::BIGINT AS unique_matches, "
            "sum(q.mult * tf.tf)::BIGINT AS total_matches "
            "FROM tf JOIN q USING (term) GROUP BY tf.doc_id "
            "ORDER BY unique_matches DESC, total_matches DESC, doc_id LIMIT 10"
        ),
        "fts_search_bm25": bm25,
        "fts_index_bm25_relational": bm25,
        "fts_index_bm25_wand": bm25,
        # federation with globally-correct stats == one union-corpus index
        "fts_federated_bm25": bm25,
        "fts_index_bm25_and": bm25_and,
        "fts_index_bm25_not": bm25_not,
        "fts_boolean_bm25": bm25_bool,
        "fts_query_string_bm25": bm25_qs,
        "fts_query_string_meta": bm25_qs_meta,
        "fts_synonym_bm25": bm25_syn,
        "fts_more_like_this": bm25_mlt,
        "fts_suggest": suggest_sql,
        "fts_prefix_bm25": bm25_prefix,
        "fts_fuzzy_bm25": bm25_fuzzy,
        "fts_wildcard_bm25": bm25_wildcard,
        "fts_regexp_bm25": bm25_regexp,
        "fts_phrase_scan": phrase_sql,
        "fts_phrase_search": phrase_sql,
        "fts_phrase_positional": phrase_sql,
        "fts_span_near": near_sql,
        "fts_phrase_prefix": phrase_prefix_sql,
        "fts_incremental_phrase": phrase_sql,
        "fts_index_bm25_all": bm25_all,
        "fts_index_bm25_page2": bm25_page2,
        "fts_search_after_bm25": bm25_after,
        "fts_facet_counts": facet_sql,
        "fts_collapse_bm25": collapse_sql,
        "fts_significant_terms": sig_terms_sql,
        "hybrid_rrf_topk": hybrid_sql,
        "fts_rescore_phrase": rescore_sql,
        "fts_facet_histogram": hist_sql,
        "fts_facet_stats": stats_facet_sql,
        "fts_facet_cardinality": card_sql,
        "fts_sort_by_field": sorted_sql,
        "fts_facet_percentiles": pctl_sql,
        "fts_explain_bm25": explain_sql,
        "fts_boosted_bm25": bm25_boosted,
        "fts_decay_bm25": bm25_decay,
        "fts_reindex_bm25": bm25,
        "fts_percolate": percolate_sql,
        "fts_incremental_bm25": bm25,
        "fts_merge_bm25": bm25,
        "fts_update_bm25": bm25_update,
        "fts_filtered_bm25": bm25_within,
        "fts_index_bm25_msm": bm25_msm,
        "fts_delete_bm25": bm25_del,
        "fts_delete_compact_bm25": bm25_del_compact,
        "fts_index_bm25_batch": bm25_batch,
        "fts_point_bm25": bm25,
        "fts_multifield_bm25": mf_sum,
        "fts_multifield_dismax": mf_dismax,
        "fts_multifield_cross": mf_cross,
        "dedup_exact": (
            "WITH h AS (SELECT doc_id, md5(text) AS m FROM documents), "
            "c AS (SELECT m, min(doc_id) AS canonical_id FROM h GROUP BY 1) "
            "SELECT h.doc_id, c.canonical_id, h.doc_id <> c.canonical_id AS is_dup "
            "FROM h JOIN c USING (m)"
        ),
        # mirrors the contract plan END-TO-END: the same minhash-LSH banding
        # generates the candidate pairs, then exact shingle-Jaccard verifies
        # only those candidates — so the oracle match no longer depends on
        # LSH recall being 100% on this corpus (ADVICE r2 #2); the LSH-vs-
        # all-pairs gap is measured separately in tests/test_dedup_lsh.py
        "dedup_ngram_jaccard": (
            f"{_SHINGLES}, "
            "sig AS (SELECT doc_id, s.sig_id, "
            "min(md5(s.sig_id::VARCHAR || '|' || shingle)) AS mh "
            "FROM sh, unnest(generate_series(0, 15)) AS s(sig_id) GROUP BY 1, 2), "
            "bands AS (SELECT doc_id, sig_id // 4 AS band, "
            "md5(array_to_string(list_sort(list(sig_id::VARCHAR || ':' || mh)), '|')) AS band_hash "
            "FROM sig GROUP BY doc_id, sig_id // 4), "
            "cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id "
            "FROM bands a JOIN bands b USING (band, band_hash) WHERE a.doc_id < b.doc_id), "
            "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), "
            "inter AS (SELECT c.a_id, c.b_id, count(*) AS i FROM cand c "
            "JOIN sh sa ON sa.doc_id = c.a_id "
            "JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle "
            "GROUP BY 1, 2) "
            "SELECT a_id, b_id, round(i / (sa.sz + sb.sz - i), 4) AS jaccard "
            "FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id "
            f"WHERE round(i / (sa.sz + sb.sz - i), 4) >= {JACCARD_THRESHOLD} "
            "ORDER BY a_id, b_id"
        ),
        "dedup_ngram_jaccard_exact": (
            f"{_SHINGLES}, "
            "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i "
            "FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2) "
            "SELECT a_id, b_id, round(i / (sa.sz + sb.sz - i), 4) AS jaccard "
            "FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id "
            f"WHERE round(i / (sa.sz + sb.sz - i), 4) >= {JACCARD_THRESHOLD} "
            "ORDER BY a_id, b_id"
        ),
        "dedup_embedding_cosine_brute": (
            "WITH base AS (SELECT vec_id AS id, "
            "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), "
            "p AS (SELECT a.id AS a_id, b.id AS b_id, "
            f"{_COS_AB} AS cos "
            "FROM base a JOIN base b ON a.id < b.id) "
            f"SELECT a_id, b_id, cos FROM p WHERE cos >= {EMB_DUP_THRESHOLD} "
            "ORDER BY a_id, b_id"
        ),
        "dedup_minhash_lsh": (
            f"{_SHINGLES}, "
            "sig AS (SELECT doc_id, s.sig_id, "
            "min(md5(s.sig_id::VARCHAR || '|' || shingle)) AS mh "
            "FROM sh, unnest(generate_series(0, 15)) AS s(sig_id) GROUP BY 1, 2), "
            "bands AS (SELECT doc_id, sig_id // 4 AS band, "
            "md5(array_to_string(list_sort(list(sig_id::VARCHAR || ':' || mh)), '|')) AS band_hash "
            "FROM sig GROUP BY doc_id, sig_id // 4) "
            "SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id "
            "FROM bands a JOIN bands b USING (band, band_hash) "
            "WHERE a.doc_id < b.doc_id ORDER BY 1, 2"
        ),
        # transitive closure of the SAME minhash-LSH pairs via recursive CTE
        # (walk accumulates every reachable node; min(reach) per node is the
        # component's canonical id) — exact ground truth for the iterative
        # pointer-doubling plan
        "dedup_clusters": (
            _SHINGLES.replace("WITH ", "WITH RECURSIVE ", 1) + ", "
            "sig AS (SELECT doc_id, s.sig_id, "
            "min(md5(s.sig_id::VARCHAR || '|' || shingle)) AS mh "
            "FROM sh, unnest(generate_series(0, 15)) AS s(sig_id) GROUP BY 1, 2), "
            "bands AS (SELECT doc_id, sig_id // 4 AS band, "
            "md5(array_to_string(list_sort(list(sig_id::VARCHAR || ':' || mh)), '|')) AS band_hash "
            "FROM sig GROUP BY doc_id, sig_id // 4), "
            "prs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id "
            "FROM bands a JOIN bands b USING (band, band_hash) "
            "WHERE a.doc_id < b.doc_id), "
            "edges AS (SELECT a_id AS src, b_id AS dst FROM prs "
            "UNION SELECT b_id, a_id FROM prs), "
            "walk(node, reach) AS ("
            "SELECT doc_id, doc_id FROM documents "
            "UNION "
            "SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach) "
            "SELECT node AS doc_id, min(reach) AS cluster_id, "
            "(node = min(reach)) AS is_canonical "
            "FROM walk GROUP BY node ORDER BY doc_id"
        ),
        "dedup_simhash": (
            f"WITH toks AS ({_TOKS_NOSTOP}), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2), "
            "pb AS (SELECT doc_id, b.bit, "
            "sum(CASE WHEN (('0x' || substr(md5(term), 1, 15))::BIGINT >> b.bit) & 1 = 1 "
            "THEN tf ELSE -tf END) AS ws "
            "FROM tf, unnest(generate_series(0, 15)) AS b(bit) GROUP BY 1, 2) "
            "SELECT doc_id, sum(CASE WHEN ws >= 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT "
            "AS simhash FROM pb GROUP BY 1"
        ),
        # mirrors the LSH plan end-to-end: same SRP buckets, same candidate
        # join, same exact-cosine verify — a deterministic full-pipeline
        # check (the approximation vs brute force is quantified separately
        # in tests/test_dedup_lsh.py)
        "dedup_embedding_cosine": (
            f"WITH {_srp_sigs_cte(EMB_N_BANDS, EMB_BAND_BITS)}, "
            "cand AS (SELECT DISTINCT sa.id AS a_id, sb.id AS b_id "
            "FROM sigs sa JOIN sigs sb USING (band, sig) WHERE sa.id < sb.id), "
            "p AS (SELECT c.a_id, c.b_id, "
            f"{_COS_AB} AS cos "
            "FROM cand c JOIN base a ON a.id = c.a_id JOIN base b ON b.id = c.b_id) "
            f"SELECT a_id, b_id, cos FROM p WHERE cos >= {EMB_DUP_THRESHOLD} "
            "ORDER BY a_id, b_id"
        ),
        # mirrors the multi-band LSH top-k plan: bucket-join candidates,
        # exact cosine re-rank, per-query top-k (recall vs brute force is
        # measured in tests/test_similarity.py)
        "ann_lsh_topk": (
            f"WITH {_srp_sigs_cte(ANN_N_BANDS, ANN_BAND_BITS)}, "
            f"q AS (SELECT id AS query_id, band, sig FROM sigs "
            f"WHERE id IN ({', '.join(map(str, ANN_QUERY_IDS))})), "
            "cand AS (SELECT DISTINCT q.query_id, s.id AS neighbor_id "
            "FROM q JOIN sigs s USING (band, sig) WHERE s.id <> q.query_id), "
            "scored AS (SELECT c.query_id, c.neighbor_id, "
            f"{_COS_AB} AS cos "
            "FROM cand c JOIN base a ON a.id = c.query_id JOIN base b ON b.id = c.neighbor_id), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY cos DESC, neighbor_id) AS rn FROM scored) "
            "SELECT query_id, neighbor_id, cos FROM r WHERE rn <= 5 "
            "ORDER BY query_id, cos DESC, neighbor_id"
        ),
        "ann_cosine_topk": (
            "WITH base AS (SELECT vec_id AS id, "
            "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), "
            f"q AS (SELECT id AS query_id, v AS qv FROM base WHERE id IN ({', '.join(map(str, ANN_QUERY_IDS))})), "
            "scored AS (SELECT q.query_id, b.id AS neighbor_id, "
            "round(list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * b.v[i])) "
            "/ (sqrt(list_sum(list_transform(qv, x -> x * x))) "
            "* sqrt(list_sum(list_transform(b.v, x -> x * x)))), 4) AS cos "
            "FROM base b CROSS JOIN q WHERE b.id <> q.query_id), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn "
            "FROM scored) "
            "SELECT query_id, neighbor_id, cos FROM r WHERE rn <= 5 "
            "ORDER BY query_id, cos DESC, neighbor_id"
        ),
        # mirrors the deterministic-IVF plan (seeded k-means with quantized
        # centroids is exactly reproducible in SQL; recall vs brute force
        # measured in tests/test_similarity.py)
        "ann_ivf_topk": _ivf_oracle_sql(
            IVF_CLUSTERS, IVF_ITERS, IVF_NPROBE, 5, IVF_FIT_FRAC
        ),
        "text_lang_id": (
            "WITH t AS (SELECT doc_id, text, "
            "regexp_extract_all(lower(text), '[\\p{L}\\p{Nd}]+') AS ts FROM documents), "
            "c AS (SELECT doc_id, text, "
            "len(list_filter(ts, x -> x IN ('the','and','of','is','was','a'))) AS c_en, "
            "len(list_filter(ts, x -> x IN ('der','die','das','und','ist','ein'))) AS c_de, "
            "len(list_filter(ts, x -> x IN ('el','los','las','es','y','una'))) AS c_es, "
            "len(list_filter(ts, x -> x IN ('le','la','les','et','des','une'))) AS c_fr "
            "FROM t) "
            f"SELECT doc_id, CASE WHEN regexp_matches(text, '{CJK}') THEN 'zh' "
            "WHEN c_en = greatest(c_en, c_de, c_es, c_fr) THEN 'en' "
            "WHEN c_de = greatest(c_en, c_de, c_es, c_fr) THEN 'de' "
            "WHEN c_es = greatest(c_en, c_de, c_es, c_fr) THEN 'es' "
            "WHEN c_fr = greatest(c_en, c_de, c_es, c_fr) THEN 'fr' "
            "ELSE 'und' END AS pred_lang FROM c"
        ),
        "text_quality": (
            "WITH t AS (SELECT doc_id, "
            "regexp_extract_all(lower(text), '[\\p{L}\\p{Nd}]+') AS ts FROM documents), "
            "b AS (SELECT doc_id, len(ts)::BIGINT AS n_tokens, "
            f"round(len(list_filter(ts, x -> x IN ({_STOP_IN}))) / greatest(len(ts), 1), 4) AS stop_ratio, "
            "round(coalesce(list_sum(list_transform(ts, x -> length(x))), 0) / greatest(len(ts), 1), 4) AS mean_token_len "
            "FROM t) "
            "SELECT doc_id, n_tokens, stop_ratio, mean_token_len, "
            "round(least(n_tokens / 100.0, 1.0) * 0.5 + "
            "CASE WHEN stop_ratio >= 0.1 AND stop_ratio <= 0.6 THEN 0.5 ELSE 0.0 END, 4) AS quality "
            "FROM b"
        ),
        "text_token_counts": (
            "SELECT doc_id, "
            "(CASE WHEN trim(text) = '' THEN 0 "
            "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT AS ws_tokens, "
            "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))::BIGINT AS bpe_ish_tokens "
            "FROM documents"
        ),
        "text_fingerprint": (
            "SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp "
            "FROM documents"
        ),
        # --- corpus curation (operators/curation.py)
        "curation_repetition": (
            f"WITH g AS ({_gram_cte()}) "
            "SELECT doc_id, len(gl)::BIGINT AS n_ngrams, "
            "len(list_distinct(gl))::BIGINT AS n_distinct, "
            "round(CASE WHEN len(gl) > 0 "
            "THEN 1.0 - len(list_distinct(gl))::DOUBLE / len(gl) "
            "ELSE 0.0 END, 6) AS dup_frac FROM g"
        ),
        # keep thresholds mirror curation.quality_rules defaults and, like
        # the Spark plan, compare the ROUNDED statistics
        "curation_quality": (
            "WITH w AS (SELECT doc_id, "
            "regexp_extract_all(lower(text), '[\\p{L}\\p{Nd}]+') AS ws FROM documents), "
            f"g AS ({_gram_cte()}), "
            "s AS (SELECT w.doc_id, len(ws)::BIGINT AS n_words, "
            "round(CASE WHEN len(ws) > 0 THEN "
            "coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::DOUBLE / len(ws) "
            "ELSE 0.0 END, 6) AS mean_word_len, "
            f"round(CASE WHEN len(ws) > 0 THEN "
            f"len(list_filter(ws, x -> x IN ({_STOP_IN})))::DOUBLE / len(ws) "
            "ELSE 0.0 END, 6) AS stop_ratio, "
            "round(CASE WHEN len(gl) > 0 "
            "THEN 1.0 - len(list_distinct(gl))::DOUBLE / len(gl) "
            "ELSE 0.0 END, 6) AS dup_3gram_frac "
            "FROM w JOIN g USING (doc_id)) "
            "SELECT doc_id, n_words, mean_word_len, stop_ratio, dup_3gram_frac, "
            "(n_words >= 20 AND n_words <= 100000 "
            "AND mean_word_len >= 2.0 AND mean_word_len <= 10.0 "
            "AND stop_ratio >= 0.02 AND dup_3gram_frac <= 0.5) AS keep FROM s"
        ),
        "curation_stratified_sample": (
            "SELECT doc_id, lang FROM documents WHERE "
            "(('0x' || substr(md5('strat:' || doc_id::VARCHAR), 1, 8))::BIGINT::DOUBLE "
            "/ 4294967296.0) < CASE lang "
            + " ".join(
                f"WHEN '{lg}' THEN {STRAT_FRACS[lg]}" for lg in sorted(STRAT_FRACS)
            )
            + " ELSE NULL END"
        ),
        "curation_decontaminate": (
            f"WITH gtr AS ({_gram_cte(' WHERE doc_id % 10 <> 0')}), "
            f"gev AS ({_gram_cte(' WHERE doc_id % 10 = 0')}), "
            "tr AS (SELECT DISTINCT doc_id, u.s AS shingle FROM gtr, unnest(gl) AS u(s)), "
            "ev AS (SELECT DISTINCT u.s AS shingle FROM gev, unnest(gl) AS u(s)), "
            "hit AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev USING (shingle)) "
            "SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated "
            "FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d "
            "LEFT JOIN hit h ON d.doc_id = h.doc_id"
        ),
        # same deterministic PII augmentation as _pii_augmented, same
        # fixed replacement order (email -> ipv4 -> phone)
        "curation_pii_scrub": (
            "WITH aug AS (SELECT doc_id, text || CASE "
            "WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id::VARCHAR || '@example.com now' "
            "WHEN doc_id % 7 = 1 THEN ' from 10.0.' || (doc_id % 200)::VARCHAR || '.7 logged' "
            "WHEN doc_id % 7 = 2 THEN ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' today' "
            "ELSE '' END AS text FROM documents), "
            # staged like the operator: each pattern counts on the previous
            # replacement's output so overlaps redact (and count) once
            "s1 AS (SELECT doc_id, text, "
            f"regexp_replace(text, '{curation.PII_EMAIL}', '<EMAIL>', 'g') "
            "AS t1 FROM aug), "
            "s2 AS (SELECT doc_id, text, t1, "
            f"regexp_replace(t1, '{curation.PII_IPV4}', '<IP>', 'g') "
            "AS t2 FROM s1) "
            "SELECT doc_id, "
            f"(len(regexp_extract_all(text, '{curation.PII_EMAIL}')) "
            f"+ len(regexp_extract_all(t1, '{curation.PII_IPV4}')) "
            f"+ len(regexp_extract_all(t2, '{curation.PII_PHONE}')))::BIGINT AS n_pii, "
            f"regexp_replace(t2, '{curation.PII_PHONE}', '<PHONE>', 'g') "
            "AS clean_text FROM s2"
        ),
        # the fake decoder's outputs are deterministic functions of the
        # payload bytes (multimodal.py:_fake_decode / _sniff): width/height
        # come from the first two md5 digest bytes, format from a
        # case-insensitive magic prefix — all expressible in SQL (the
        # `feature` vector is the only rows-only part and is dropped here)
        "multimodal_decode": (
            "SELECT doc_id, strlen(text)::BIGINT AS size_bytes, "
            "md5(text) AS payload_md5, "
            "CASE WHEN lower(substr(text, 1, 4)) IN ('<htm', '<!do') THEN 'html' "
            "WHEN lower(substr(text, 1, 4)) = 'gif8' THEN 'gif' "
            "WHEN lower(substr(text, 1, 4)) = 'riff' THEN 'riff' "
            "ELSE NULL END AS format, "
            "(16 + ('0x' || substr(md5(text), 1, 2))::INT % 240)::INT AS width, "
            "(16 + ('0x' || substr(md5(text), 3, 2))::INT % 240)::INT AS height "
            "FROM documents"
        ),
        "multimodal_binary_stats": (
            "SELECT doc_id, strlen(text)::BIGINT AS size_bytes, md5(text) AS payload_md5 "
            "FROM documents"
        ),
        "events_hourly": (
            "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, "
            "event_type, count(*)::BIGINT AS n_events, round(sum(value), 4) AS total_value "
            "FROM events GROUP BY 1, 2"
        ),
        "events_sessionize": (
            "WITH g AS (SELECT user_id, event_id, ts, "
            "floor(epoch(ts))::BIGINT - lag(floor(epoch(ts))::BIGINT) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) AS gap FROM events), "
            "f AS (SELECT *, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS ns FROM g), "
            "s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id FROM f) "
            "SELECT user_id, session_id, "
            "strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, "
            "strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end, "
            "count(*)::BIGINT AS n_events FROM s GROUP BY 1, 2"
        ),
        "tpch_top_customers": (
            "WITH rev AS (SELECT o.o_custkey, "
            "round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue "
            "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey GROUP BY 1) "
            "SELECT c.c_custkey, c.c_name, rev.revenue FROM rev "
            "JOIN customer c ON rev.o_custkey = c.c_custkey "
            "ORDER BY revenue DESC, c_custkey LIMIT 10"
        ),
        "tpch_pricing_summary": (
            "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice), 2) AS sum_base_price, "
            "round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price, "
            "count(*)::BIGINT AS count_order FROM lineitem GROUP BY 1, 2"
        ),
        # every queries() entry above now has an oracle; nothing rows-only
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: BM25 top-10."""
    return search.search_bm25_direct(
        _docs(spark, "/root/testdata/sf0.001"), Q_TERMS, 10
    )
