"""Did-you-mean spell suggestion over the index dictionary.

For each normalized query token, the best dictionary term within
``max_dist`` edits, ranked Lucene-spellchecker style: levenshtein
distance ASC, df DESC, term ASC — a token already in the dictionary
suggests itself at distance 0, so the surface is uniform ("corrected
query" = join the suggestions). Tokens with no dictionary term within
``max_dist`` produce no row.

The ranking is exactly reproducible in SQL (`levenshtein()` is the
same classic edit distance in Spark and DuckDB; df and term are
integers/strings), so the driver oracle covers it end-to-end
(contract row ``fts_suggest``).

Plans:
- distributed (:func:`suggest_terms`): terms-table scan × broadcast
  token relation, a `|len(term) - len(token)| <= max_dist` band before
  the JVM `levenshtein`, then one `row_number` window per token — one
  bounded job for the whole query, any dictionary size.
- point (:func:`suggest_terms_point`): the warm driver dictionary's
  length buckets + banded early-exit distance, zero Spark jobs — the
  interactive "did you mean" path (the same structures the fuzzy
  point rewrite uses).

Reference: the Go engine has no suggestion surface (``engine.go``);
extension following Lucene's spellchecker contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..query import _default_preset, _levenshtein_leq, normalize_query

__all__ = ["suggest_terms", "suggest_terms_point"]


def _tokens(index, query: str, preset: str | None) -> list[str]:
    """Normalized tokens, dictionary gate BYPASSED (a misspelling is
    precisely a term the gate rejects), duplicates dropped, input order
    kept."""
    preset = _default_preset(preset, index.preset)
    return list(dict.fromkeys(normalize_query(query, preset)))


def suggest_terms(
    index,
    query: str,
    preset: str | None = None,
    max_dist: int = 2,
) -> DataFrame:
    """(token, suggestion, dist, sugg_df) — best dictionary term per
    normalized query token, ordered by token. One Spark job: the terms
    scan crosses the broadcast token relation inside the length band,
    ranks per token, keeps rank 1."""
    from pyspark.sql.window import Window

    spark = index.spark
    toks = _tokens(index, query, preset)
    empty = spark.createDataFrame(
        [], "token string, suggestion string, dist int, sugg_df long"
    )
    if not toks:
        return empty
    from ..localdf import local_df

    rel = local_df(spark, [(t,) for t in toks], "token string")
    dist = F.levenshtein(F.col("term"), F.col("token"))
    cand = (
        index._read_terms()
        .crossJoin(F.broadcast(rel))
        .where(
            F.abs(F.length("term") - F.length("token")) <= max_dist
        )
        .withColumn("dist", dist.cast("int"))
        .where(F.col("dist") <= max_dist)
    )
    w = Window.partitionBy("token").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("term")
    )
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "token",
            F.col("term").alias("suggestion"),
            "dist",
            F.col("df").alias("sugg_df"),
        )
        .orderBy("token")
    )


def _dist_leq(a: str, b: str, cap: int) -> int | None:
    """Exact levenshtein distance when <= cap, else None — computed by
    tightening the banded early-exit predicate (cap is tiny: <= 2-3 in
    practice, so at most cap+1 banded passes per candidate)."""
    if not _levenshtein_leq(a, b, cap):
        return None
    for d in range(cap):
        if _levenshtein_leq(a, b, d):
            return d
    return cap


def suggest_terms_point(
    index,
    query: str,
    preset: str | None = None,
    max_dist: int = 2,
) -> list[tuple[str, str, int, int]]:
    """:func:`suggest_terms` with zero Spark jobs: candidates come from
    the warm dictionary's length buckets (the fuzzy point rewrite's
    structures), ranked identically. Falls back to collecting the
    distributed plan when the dictionary is not warm."""
    if index._term_dict is None:
        return [
            (r["token"], r["suggestion"], int(r["dist"]), int(r["sugg_df"]))
            for r in suggest_terms(index, query, preset, max_dist).collect()
        ]
    toks = _tokens(index, query, preset)
    if toks and getattr(index, "_len_buckets", None) is None:
        # trigger _point_expand's lazy length-bucket build (idempotent)
        index._point_expand(toks[0], "fuzzy", max_dist, 1)
    out: list[tuple[str, str, int, int]] = []
    for tok in sorted(toks):
        best: tuple[int, int, str] | None = None  # (dist, -df, term)
        for ln in range(
            max(1, len(tok) - max_dist), len(tok) + max_dist + 1
        ):
            for term in index._len_buckets.get(ln, ()):
                d = _dist_leq(term, tok, max_dist)
                if d is None:
                    continue
                key = (d, -index._term_dict[term][0], term)
                if best is None or key < best:
                    best = key
        if best is not None:
            d, neg_df, term = best
            out.append((tok, term, d, -neg_df))
    return out  # token-ascending, same order as the distributed plan
