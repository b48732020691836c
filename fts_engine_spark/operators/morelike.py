"""More-like-this: similar-document retrieval (Lucene MoreLikeThis).

Select the source document's most characteristic analyzed terms —
highest in-doc tf, rarest in the corpus — and run them as a plain OR
BM25 query over the existing serving paths, excluding the source doc.

Term selection order is ``(tf DESC, df ASC, term ASC) LIMIT max_terms``:
all-integer and fully deterministic, so the DuckDB oracle reproduces
truncation exactly (contract row ``fts_more_like_this``). Lucene's MLT
boosts by the float ``tf·idf`` instead; the integer rank is the same
ordering whenever tf ties break by rarity — and it never makes the
oracle depend on ``ln()`` bit-parity across engines. ``min_tf`` /
``min_df`` mirror Lucene's noise knobs (its defaults are 2/5; ours are
permissive 1/1 because the synthetic corpus is small).

The source text comes from the stored-fields sidecar when present
(``stored.py`` — point read, no source-table scan) or a caller-provided
``docs`` DataFrame. Tokenization runs the SAME pipeline the build used
for that document (by_lang routes through the doc's language), so the
selected terms are exactly index dictionary terms.

Scale: selection is driver-side over ONE document's token list (bounded
by the doc, not the corpus); df lookups hit the warm dictionary (no
job) or one pruned terms-table scan; the search is the unchanged
WAND/relational plan. ``more_like_this_point`` serves the whole thing
below the Spark job floor: pyarrow sidecar read + in-process sweep.

Reference: the Go engine has no similar-document surface
(``engine.go:82-158`` is query-string search only); this is an
extension following Lucene's queries/mlt contract.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, functions as F

from ..query import _Resolved
from ..textproc.pipeline import get_pipeline

__all__ = ["more_like_this", "more_like_this_point", "select_mlt_terms"]


def _doc_preset(index, lang, preset: str | None) -> str:
    if preset:
        return preset
    if index.preset == "by_lang":
        from ..functions.udfs import _LANG_PRESETS

        return _LANG_PRESETS.get(str(lang), "multilingual")
    return index.preset


def select_mlt_terms(
    index,
    text: str,
    lang: str | None = None,
    preset: str | None = None,
    max_terms: int = 25,
    min_tf: int = 1,
    min_df: int = 1,
) -> list[str]:
    """The source doc's characteristic terms: analyzed tf over the doc's
    own build pipeline, filtered by ``min_tf``/``min_df``, ranked
    (tf desc, df asc, term asc), truncated to ``max_terms``. Terms absent
    from the index dictionary can match nothing and are dropped."""
    toks = get_pipeline(_doc_preset(index, lang, preset)).process(text or "")
    tf = Counter(toks)
    stats = index.term_stats(sorted(tf))
    cands = [
        (t, c, stats[t][0])
        for t, c in tf.items()
        if c >= min_tf and t in stats and stats[t][0] >= min_df
    ]
    cands.sort(key=lambda x: (-x[1], x[2], x[0]))
    return [t for t, _, _ in cands[:max_terms]]


def _resolve_source(
    index, url: str | None, doc_id: int | None, docs: DataFrame | None
) -> tuple[int, str, str | None]:
    """(internal doc_id, text, lang) for the source document."""
    if (url is None) == (doc_id is None):
        raise ValueError("pass exactly one of url= or doc_id=")
    if doc_id is None:
        rows = (
            index.docs().where(F.col("url") == url).select("doc_id").collect()
        )
        if not rows:
            raise ValueError(f"url {url!r} is not in the index")
        doc_id = int(rows[0]["doc_id"])
    if index.has_stored:
        rows = index.stored_text([doc_id], with_lang=True).collect()
        if rows:
            return doc_id, rows[0]["text"], rows[0]["lang"]
    if docs is not None:
        # source-table path: resolve the url, fetch its text row
        u = [
            r["url"]
            for r in index.docs()
            .where(F.col("doc_id") == doc_id)
            .select("url")
            .collect()
        ]
        if not u:
            raise ValueError(f"doc_id {doc_id} is not in the index")
        cols = ["text"] + (["lang"] if "lang" in docs.columns else [])
        rows = docs.where(F.col("url") == u[0]).select(*cols).collect()
        if not rows:
            raise ValueError(f"source row for {u[0]!r} not found in docs")
        return doc_id, rows[0]["text"], rows[0]["lang"] if len(cols) > 1 else None
    raise ValueError(
        "no text source: build with store_text=True (or retrofit via "
        "stored.add_stored_fields) or pass the docs DataFrame"
    )


def more_like_this(
    index,
    url: str | None = None,
    doc_id: int | None = None,
    docs: DataFrame | None = None,
    k: int = 10,
    max_terms: int = 25,
    min_tf: int = 1,
    min_df: int = 1,
    mode: str = "wand",
    hydrate: bool = False,
    preset: str | None = None,
) -> DataFrame:
    """Top-k documents most similar to the source doc: (doc_id, score)
    like ``search_bm25``, source excluded. The serving plan fetches the
    top k+1 (the source can appear at most once) and slices after the
    global merge, so SQL's ``WHERE doc_id <> src LIMIT k`` is matched
    exactly."""
    src, text, lang = _resolve_source(index, url, doc_id, docs)
    terms = select_mlt_terms(
        index, text, lang, preset, max_terms, min_tf, min_df
    )
    if not terms:
        return index._empty_bm25_result(hydrate)
    out = index._execute(_mlt_query(terms, k), mode)
    out = out.where(F.col("doc_id") != src).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    if k > 0:
        out = out.limit(k)
    return index._maybe_hydrate(out, hydrate, bounded=k > 0)


def more_like_this_point(
    index,
    doc_id: int,
    k: int = 10,
    max_terms: int = 25,
    min_tf: int = 1,
    min_df: int = 1,
    preset: str | None = None,
) -> list[tuple[int, float]]:
    """:func:`more_like_this` below the Spark job floor: the source text
    point-reads the stored sidecar with pyarrow (no job), selection uses
    the warm dictionary, and the sweep runs in-process on the point
    tier. Results are exactly the distributed surface's (pytest). Falls
    back to the distributed path when the tier is off or a selected
    term's posting list exceeds the point budget."""
    from ..stored import stored_rows_local

    if index.has_stored:
        rows = stored_rows_local(index, [doc_id])
        if doc_id not in rows:
            raise ValueError(f"doc_id {doc_id} is not in the stored table")
        _url, text, lang = rows[doc_id]
    else:
        _src, text, lang = _resolve_source(index, None, doc_id, None)
    terms = select_mlt_terms(
        index, text, lang, preset, max_terms, min_tf, min_df
    )
    if not terms:
        return []
    hits = index._point_execute(_mlt_query(terms, k))
    hits = [(d, s) for d, s in hits if d != doc_id]
    return hits[:k] if k > 0 else hits


def _mlt_query(terms: list[str], k: int):
    """The selected terms as a plain OR query fetching the top k+1 (the
    source doc can appear at most once and is dropped afterwards)."""
    return _Resolved({t: 1 for t in terms}, k + 1 if k > 0 else 0)
