"""Index-free (direct) relational search operators over a documents table.

These are the SURVEY.md §2 dataflow stages expressed as pure DataFrame plans
with built-in functions only — used by the DuckDB correctness gate and as
the relational baseline the compressed-index paths are benchmarked against.

Every aggregate/computed column is aliased to match the oracle SQL exactly
(driver contract). Plans are Catalyst-friendly: tokenization and filters run
inside whole-stage codegen; the query-terms side of the search join is a
literal array (constant-folded), so no shuffle is introduced beyond the
required groupBys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..query import B, K1
from .sql_tokens import tokens_array

# ---------------------------------------------------------------- tokens


def doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, term) — one row per surviving token occurrence (S-T ops)."""
    return docs.select("doc_id", F.explode(tokens_array()).alias("term"))


def postings_tf(docs: DataFrame) -> DataFrame:
    """(term, doc_id, tf) — the upsert-counter aggregation (I1/I8)."""
    return (
        doc_tokens(docs)
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def term_stats(docs: DataFrame) -> DataFrame:
    """(term, df, cf) — per-term document/collection frequency (§2.6)."""
    return (
        postings_tf(docs)
        .groupBy("term")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
        )
    )


def doc_lengths(docs: DataFrame) -> DataFrame:
    """(doc_id, doc_len) — post-pipeline token count per document."""
    return docs.select(
        "doc_id", F.size(tokens_array()).cast("long").alias("doc_len")
    )


# ---------------------------------------------------------------- search


def _query_term_df(docs: DataFrame, query_terms: list[str]) -> DataFrame:
    """Tiny (term, mult) side of the search join, built as literal rows."""
    mult: dict[str, int] = {}
    for t in query_terms:
        mult[t] = mult.get(t, 0) + 1
    spark = docs.sparkSession
    from ..localdf import local_df

    # Arrow LocalRelation, not a Python-RDD relation: the RDD variant
    # adds a Python task to every search job just to emit these rows
    return local_df(spark, list(mult.items()), "term string, mult int")


def search_coordinate(
    docs: DataFrame, query_terms: list[str], k: int = 10
) -> DataFrame:
    """Reference coordinate-match search (engine.go:82-158) as one plan:
    (doc_id, unique_matches, total_matches) ordered unique desc, total desc,
    doc_id asc, LIMIT k. ``query_terms`` are already-normalized tokens with
    duplicates kept (the Q4 double-count quirk)."""
    q = _query_term_df(docs, query_terms)
    out = (
        postings_tf(docs)
        .join(F.broadcast(q), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("mult").cast("long").alias("unique_matches"),
            F.sum(F.col("mult") * F.col("tf")).cast("long").alias("total_matches"),
        )
        .orderBy(F.desc("unique_matches"), F.desc("total_matches"), F.asc("doc_id"))
    )
    return out.limit(k) if k > 0 else out


def search_bm25_direct(
    docs: DataFrame, query_terms: list[str], k: int = 10, round_to: int = 4
) -> DataFrame:
    """Index-free BM25 top-k: (doc_id, score). Scores rounded for stable
    cross-engine comparison; ordering uses round(score, 6) then doc_id so the
    top-k set is deterministic in both engines."""
    tf_df = postings_tf(docs)
    stats = term_stats(docs)
    dls = doc_lengths(docs)
    q = _query_term_df(docs, query_terms)

    n = docs.count()
    avgdl = float(dls.agg(F.avg("doc_len")).first()[0] or 0.0)

    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf = F.col("tf").cast("double")
    norm = F.lit(K1) * (
        F.lit(1.0 - B) + F.lit(B) * F.col("doc_len").cast("double") / F.lit(avgdl)
    )
    contrib = F.col("mult") * F.col("idf") * tf * F.lit(K1 + 1.0) / (tf + norm)

    joined = (
        tf_df.join(F.broadcast(q), "term")
        .join(
            F.broadcast(
                stats.join(q.select("term"), "term")
                .withColumn("idf", idf)
                .select("term", "idf")
            ),
            "term",
        )
        .join(dls, "doc_id")
        .withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("_raw"))
        .select(
            "doc_id",
            F.round(F.col("_raw"), round_to).alias("score"),
            F.round(F.col("_raw"), 6).alias("_ord"),
        )
        .orderBy(F.desc("_ord"), F.asc("doc_id"))
        .drop("_ord")
    )
    return joined.limit(k) if k > 0 else joined


def top_terms(docs: DataFrame, n: int = 20) -> DataFrame:
    """(term, cf) — global head of the vocabulary, deterministic order."""
    return (
        term_stats(docs)
        .select("term", "cf")
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(n)
    )


# ---------------------------------------------------------------- phrase

def phrase_count_col(
    terms: list[str],
    text_col: str = "text",
    stopwords: bool = True,
    min_len: int = 3,
) -> Column:
    """Occurrences of the contiguous token sequence ``terms`` in the
    FILTERED 'simple'-pipeline token stream of ``text_col``.

    Tokenization runs JVM-side (``tokens_array`` — regexp + filters);
    the contiguous count runs in an Arrow-batched pandas UDF over the
    token array. A pure-expression count (F.filter over start positions
    with F.get probes) was 13-30× slower measured: higher-order
    functions are CodegenFallback, and predicate pushdown inlines the
    aliased expression below the Project so the tokenizer re-evaluates
    up to 6× per row. The UDF is marked non-deterministic precisely to
    stop that inlining — a ``where(pc > 0)`` above it stays above it.

    Phrase positions are defined over the post-pipeline stream (min-len +
    stopword filtering applied), the standard semantics of
    stopword-removing engines: "merge sort" matches "merge the sort".
    An extension beyond the reference's term-level search
    (``engine.go:82-158`` has no positional queries).
    """
    if not terms:
        return F.lit(0).cast("long")
    return _phrase_count_tokens_udf(terms)(
        tokens_array(text_col, stopwords, min_len)
    )


def _phrase_count_tokens_udf(terms: list[str]):
    """Contiguous-occurrence counter over a pre-tokenized array column.
    Non-deterministic flag blocks filter-pushdown alias inlining (see
    phrase_count_col); the function itself is pure."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def pcount(toks):
        import pandas as pd

        return pd.Series(
            [
                _count_contiguous(list(a), terms) if a is not None else 0
                for a in toks
            ]
        )

    return pcount.asNondeterministic()


def search_phrase_direct(
    docs: DataFrame, phrase_terms: list[str], k: int = 10
) -> DataFrame:
    """Index-free phrase search: (doc_id, phrase_count) for docs containing
    the exact token sequence, ordered count desc / doc_id asc. The scan
    baseline the index-accelerated plan is verified against."""
    out = (
        docs.select(
            "doc_id", phrase_count_col(phrase_terms).alias("phrase_count")
        )
        .where(F.col("phrase_count") > 0)
        .orderBy(F.desc("phrase_count"), F.asc("doc_id"))
    )
    return out.limit(k) if k > 0 else out


def search_phrase(
    index,
    docs: DataFrame,
    phrase: str,
    k: int = 10,
    preset: str | None = None,
    max_pushdown: int = 10_000,
) -> DataFrame:
    """Index-accelerated phrase search: (doc_id, url, phrase_count).

    Two-phase plan — the classic way a posting-list engine answers
    phrases without positional postings on every term:

    1. **Candidates** come from the compressed index's conjunctive WAND
       (``search_bm25(..., conjunctive=True, k=0)``): only docs containing
       EVERY phrase term, straight off the pruned posting scan. At scale
       this is the selective step — the conjunction of all phrase terms is
       tiny against the corpus, and the segment-skip never decodes blocks
       that cannot complete the conjunction.
    2. **Verify** re-tokenizes ONLY the candidate docs (semi-join on url)
       and counts contiguous occurrences: JVM higher-order functions for
       the SQL-expressible 'simple' pipeline, an Arrow-batched pandas UDF
       for stemmed presets (identical tokens to the build pipeline).

    Phrase matching happens in ANALYZED token space (Lucene semantics):
    for a stemmed preset, "merging sorted" matches the phrase "merge
    sort" because both analyze to (merg, sort). A ``by_lang`` index
    routes per document language exactly like the build did
    (en→english, ru→russian, else multilingual): candidates are the
    union of each pipeline's conjunction, and the verify UDF analyzes
    each doc with its own language's pipeline.

    ``docs`` must carry (url, text) — plus ``lang`` for ``by_lang`` —
    for the verify phase; the index stores postings, not text (by
    design; text lives in the source table). ``index`` is an
    :class:`~fts_engine_spark.query.FtsIndex`.

    ``max_pushdown``: when the conjunction survives with at most this
    many docs (the common case — phrases are selective), their urls are
    collected and pushed as an ``IN`` predicate INTO the docs scan, so
    the verify reads only the candidate rows' row groups instead of
    scanning the whole corpus for a handful of matches (at 10^12 docs
    that scan IS the query cost). Driver memory is bounded by
    ``max_pushdown`` urls; larger candidate sets fall back to the
    distributed semi-join.
    """
    from ..query import normalize_query

    spark = index.spark
    if preset is None and index.preset == "by_lang":
        from ..functions.udfs import _LANG_PRESETS

        pipeline_by_lang = dict(_LANG_PRESETS)
        presets = sorted({*pipeline_by_lang.values(), "multilingual"})
        terms_by = {p: normalize_query(phrase, p) for p in presets}
        # candidates: union of each pipeline's conjunction (dedup by the
        # distinct analyzed term tuple — english/multilingual often agree).
        # UNHYDRATED: urls attach driver-side below (doc_urls_local, a
        # pyarrow point-read) — the former per-conjunction hydrate joined
        # the docs table and broadcast the scored set inside the candidate
        # job (~250-300 ms per BroadcastExchange, measured r6)
        cand = None
        for terms in sorted({tuple(t) for t in terms_by.values() if t}):
            uniq = list(dict.fromkeys(terms))
            c = index._bm25_wand(
                {t: 1 for t in uniq}, k=0, hydrate=False, require_n=len(uniq)
            ).select("doc_id")
            cand = c if cand is None else cand.unionByName(c)
        if cand is None:
            return _empty_phrase(spark)
        cand = cand.repartition(index._agg_parts(), "doc_id").dropDuplicates(
            ["doc_id"]
        )
        pcount = _phrase_count_by_lang_udf(terms_by, pipeline_by_lang)(
            F.col("text"), F.col("lang")
        )
        from ..textproc.pipeline import get_pipeline

        _procs = {p: get_pipeline(p).process for p in terms_by}

        def row_counter(text, lang):
            p = pipeline_by_lang.get(lang, "multilingual")
            seq = terms_by[p]
            if text is None or not seq:
                return 0
            return _count_contiguous(_procs[p](text), seq)

        proj = ["url", "text", "lang"]
    else:
        preset = preset or index.preset
        terms = normalize_query(phrase, preset)
        if not terms:
            return _empty_phrase(spark)
        # terms are ALREADY normalized — going back through search_bm25's
        # string parsing would re-stem them (not guaranteed idempotent),
        # so hand the multiplicity map to the wand path directly
        uniq = list(dict.fromkeys(terms))
        cand = index._bm25_wand(
            {t: 1 for t in uniq}, k=0, hydrate=False, require_n=len(uniq)
        ).select("doc_id")
        if preset == "simple":
            pcount = phrase_count_col(terms, "text")
            row_counter = None  # JVM tokens path stays as-is
        else:
            pcount = _phrase_count_udf(terms, preset)(F.col("text"))
            from ..textproc.pipeline import get_pipeline

            _proc = get_pipeline(preset).process
            _terms = list(terms)

            def row_counter(text, lang=None):
                if text is None:
                    return 0
                return _count_contiguous(_proc(text), _terms)

        proj = ["url", "text"]
    if max_pushdown > 0:
        id_rows = cand.limit(max_pushdown + 1).collect()
        if len(id_rows) <= max_pushdown:
            if not id_rows:
                return _empty_phrase(spark)
            # urls via the driver-side pyarrow point-read: no docs join,
            # no broadcast, no extra Spark job (bounded by max_pushdown)
            by_id = index.doc_urls_local(int(r["doc_id"]) for r in id_rows)
            id_by_url = {u: d for d, (u, _md5) in by_id.items()}
            scan = docs.select(*proj).where(
                F.col("url").isin(list(id_by_url))
            )
            if row_counter is not None:
                # fused verify (r6): tokenize-count AND the candidate
                # doc_id attach run in ONE mapInPandas with the bounded
                # id map in the closure — the former broadcast join of
                # the (url, doc_id) relation cost ~250-300 ms of fixed
                # per-query latency. 'simple' keeps the JVM tokens path
                # (its counting expression is the oracle's twin).
                import pandas as pd

                has_lang = "lang" in proj

                def verify(batches):
                    for pdf in batches:
                        urls_b = pdf["url"]
                        langs_b = pdf["lang"] if has_lang else None
                        out_d, out_u, out_c = [], [], []
                        for i, text in enumerate(pdf["text"]):
                            c = row_counter(
                                text,
                                str(langs_b.iloc[i]) if has_lang else None,
                            )
                            if c > 0:
                                u = urls_b.iloc[i]
                                out_d.append(id_by_url[u])
                                out_u.append(u)
                                out_c.append(c)
                        if out_d:
                            yield pd.DataFrame(
                                {
                                    "doc_id": pd.Series(out_d, dtype="int64"),
                                    "url": out_u,
                                    "phrase_count": pd.Series(
                                        out_c, dtype="int64"
                                    ),
                                }
                            )

                verified = (
                    scan.mapInPandas(
                        verify,
                        schema="doc_id long, url string, phrase_count long",
                    )
                    # repartition, NOT coalesce: coalesce(1) would run
                    # the whole pushdown scan + count in ONE task; this
                    # ships only the matching rows to a single-partition
                    # sort (bounded by max_pushdown)
                    .repartition(1)
                    .orderBy(F.desc("phrase_count"), F.asc("doc_id"))
                )
                return verified.limit(k) if k > 0 else verified
            from ..localdf import local_df

            tiny = F.broadcast(
                local_df(
                    spark,
                    [(u, i) for u, i in id_by_url.items()],
                    "url string, doc_id long",
                )
            )
            verified = (
                scan.join(tiny, "url")
                .select("doc_id", "url", pcount.alias("phrase_count"))
                .where(F.col("phrase_count") > 0)
                .orderBy(F.desc("phrase_count"), F.asc("doc_id"))
            )
            return verified.limit(k) if k > 0 else verified
    # distributed fallback (candidate set past max_pushdown): resolve the
    # candidates' urls through the index docs table, then semi-restrict
    # the source scan — the same two-join shape the old hydrated path
    # had, with both url-join sides bounded to the query shuffle width
    # (_agg_parts; the session default costs ~250-300 ms of reduce-task
    # overhead per exchange at bench scale, r6)
    p = index._agg_parts()
    cand_urls = index.docs().select("doc_id", "url").join(cand, "doc_id")
    verified = (
        docs.select(*proj)
        .repartition(p, "url")
        .join(cand_urls.repartition(p, "url"), "url")
        .select("doc_id", "url", pcount.alias("phrase_count"))
        .where(F.col("phrase_count") > 0)
        .orderBy(F.desc("phrase_count"), F.asc("doc_id"))
    )
    return verified.limit(k) if k > 0 else verified


def _empty_phrase(spark) -> DataFrame:
    from ..localdf import local_df

    return local_df(spark, [], "doc_id long, url string, phrase_count long")


def _count_contiguous(toks: list[str], terms: list[str]) -> int:
    n = len(terms)
    c = 0
    for i in range(len(toks) - n + 1):
        if toks[i : i + n] == terms:
            c += 1
    return c


def _phrase_count_udf(terms: list[str], preset: str):
    """Arrow-batched phrase counter through the full (stemming) pipeline —
    the verify path for presets the JVM expression can't express. Runs
    only over candidate docs, never the corpus. Non-deterministic flag
    blocks filter-pushdown double evaluation (see phrase_count_col)."""
    from pyspark.sql.functions import pandas_udf

    from ..textproc.pipeline import get_pipeline

    @pandas_udf("long")
    def pcount(text):
        import pandas as pd

        proc = get_pipeline(preset).process
        return pd.Series(
            [
                _count_contiguous(proc(t), terms) if t is not None else 0
                for t in text
            ]
        )

    return pcount.asNondeterministic()


def _phrase_count_by_lang_udf(
    terms_by: dict[str, list[str]], pipeline_by_lang: dict[str, str]
):
    """(text, lang) phrase counter with the build's per-language pipeline
    routing: each doc is analyzed by its own language's pipeline and
    matched against THAT pipeline's analyzed phrase."""
    from pyspark.sql.functions import pandas_udf

    from ..textproc.pipeline import get_pipeline

    @pandas_udf("long")
    def pcount(text, lang):
        import pandas as pd

        procs = {p: get_pipeline(p).process for p in terms_by}
        out = []
        for t, lg in zip(text, lang):
            p = pipeline_by_lang.get(lg, "multilingual")
            terms = terms_by[p]
            out.append(
                _count_contiguous(procs[p](t), terms)
                if t is not None and terms
                else 0
            )
        return pd.Series(out)

    return pcount.asNondeterministic()
