"""Result snippets: best-window highlighting in analyzed token space.

A search UI needs a contextual fragment per hit with the matched terms
marked. The reference's highlight (``cui.go:227-233``) regex-wraps
whole-word literal matches over the full text — it misses stemmed
matches ("merging" for query "merge") and returns the whole document.
This operator is the Lucene-UnifiedHighlighter design re-expressed for
this engine:

1. The top-k hits come from the normal BM25 path (k rows).
2. ONLY those k docs' text is read — the hit urls are pushed as an
   ``IN()`` predicate into the docs scan (the same bounded-pushdown
   pattern as the phrase verify; k is small by construction, so at
   10^12 docs the snippet pass reads k rows' row groups, not the
   corpus).
3. Per doc, an Arrow-batched UDF scans raw tokens WITH char spans (the
   reference tokenizer's rune classes), normalizes each token through
   the SAME pipeline the index was built with — the filters only drop
   tokens, never split or merge them, so a raw token maps to at most
   one analyzed term — finds the window of ``window`` consecutive raw
   tokens with the most (distinct, then total) analyzed query-term
   matches, slices the ORIGINAL text by char offsets and wraps each
   matching token. Stemmed/stopworded queries therefore highlight
   exactly what the index matched.

Scale posture: one search job + one k-row snippet job. The UDF runs on
k rows total; everything upstream is the serving path's plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..localdf import local_df
from ..textproc.pipeline import get_pipeline
from ..textproc.tokenizer import _TOKEN_RE

DEFAULT_TAG_OPEN = "\x1b[1;31m"
DEFAULT_TAG_CLOSE = "\x1b[0m"


def best_snippet(
    text: str,
    query_terms: frozenset[str],
    pipeline,
    window: int = 30,
    tag_open: str = DEFAULT_TAG_OPEN,
    tag_close: str = DEFAULT_TAG_CLOSE,
) -> str:
    """Pure single-doc kernel (unit-tested directly): the best ``window``
    consecutive raw tokens by (distinct matches, total matches, earliest
    position), sliced from the original text with matches wrapped."""
    spans = [(m.start(), m.end()) for m in _TOKEN_RE.finditer(text)]
    if not spans:
        return text[: window * 8]
    # a raw token analyzes to <=1 term (filters drop, never split/merge)
    norm: list[str | None] = []
    for s, e in spans:
        out = pipeline.process(text[s:e])
        norm.append(out[0] if out else None)

    n = len(spans)
    counts: dict[str, int] = {}
    distinct = total = 0
    left = 0
    best = (0, 0)
    best_lr = (0, min(window, n) - 1)
    for right in range(n):
        t = norm[right]
        if t in query_terms:
            c = counts.get(t, 0) + 1
            counts[t] = c
            if c == 1:
                distinct += 1
            total += 1
        if right - left + 1 > window:
            t0 = norm[left]
            if t0 in query_terms:
                counts[t0] -= 1
                if counts[t0] == 0:
                    distinct -= 1
                total -= 1
            left += 1
        if (distinct, total) > best:  # strict: earliest window wins ties
            best = (distinct, total)
            best_lr = (left, right)

    lo, hi = best_lr
    s0, e0 = spans[lo][0], spans[hi][1]
    if best == (0, 0):
        # no term in the doc's analyzed space — show the document head
        return text[: spans[min(window, n) - 1][1]] + (
            "…" if spans[min(window, n) - 1][1] < len(text) else ""
        )
    pieces: list[str] = ["…" if s0 > 0 else ""]
    pos = s0
    for idx in range(lo, hi + 1):
        ts, te = spans[idx]
        if norm[idx] in query_terms:
            pieces += [text[pos:ts], tag_open, text[ts:te], tag_close]
            pos = te
    pieces += [text[pos:e0], "…" if e0 < len(text) else ""]
    return "".join(pieces)


def _pipeline_routing(index, query: str, preset: str | None):
    """(by_lang, lang->preset map, preset->analyzed query terms) — the
    same per-doc pipeline routing the build used (en→english,
    ru→russian, else multilingual under ``by_lang``)."""
    from ..query import normalize_query

    by_lang = preset is None and index.preset == "by_lang"
    if by_lang:
        from ..functions.udfs import _LANG_PRESETS

        lang_presets = dict(_LANG_PRESETS)
        qterms = {
            p: frozenset(normalize_query(query, p))
            for p in sorted({*lang_presets.values(), "multilingual"})
        }
    else:
        p = preset or index.preset
        lang_presets = {}
        qterms = {p: frozenset(normalize_query(query, p))}
    return by_lang, lang_presets, qterms


def snippets_point(
    index,
    query: str,
    k: int = 10,
    preset: str | None = None,
    window: int = 30,
    tag_open: str = DEFAULT_TAG_OPEN,
    tag_close: str = DEFAULT_TAG_CLOSE,
    offset: int = 0,
) -> list[tuple[int, str, float, str]]:
    """[(doc_id, url, score, snippet)] — the snippet pass BELOW the
    Spark job floor: hits come from the point-serving tier
    (``search_bm25_point``, in-process when warm) and the k texts are
    read on the driver with pyarrow (``stored.stored_rows_local``, ~k
    row groups of the doc_id-sorted sidecar, no Spark job). Strings are
    identical to ``search_with_snippets`` by construction — same hits
    (point tier is bit-identical to ``search_bm25``), same texts (the
    sidecar stores what the build tokenized), same pure kernel
    (asserted in tests/test_stored.py). Requires the stored-fields
    sidecar; raises ``StoredFieldsUnavailableError`` otherwise."""
    from ..stored import stored_rows_local

    if k <= 0:
        raise ValueError("snippets require a bounded k (top-k hits only)")
    hits = index.search_bm25_point(query, k=k, preset=preset, offset=offset)
    if not hits:
        return []
    rows = stored_rows_local(index, [d for d, _ in hits])
    by_lang, lang_presets, qterms = _pipeline_routing(index, query, preset)
    out = []
    for doc_id, score in hits:
        url, text, lang = rows[doc_id]
        pname = (
            lang_presets.get(str(lang), "multilingual")
            if by_lang
            else next(iter(qterms))
        )
        out.append(
            (
                doc_id,
                url,
                float(score),
                best_snippet(
                    text or "", qterms[pname], get_pipeline(pname),
                    window, tag_open, tag_close,
                ),
            )
        )
    return out


def search_with_snippets(
    index,
    docs: DataFrame | None,
    query: str,
    k: int = 10,
    preset: str | None = None,
    window: int = 30,
    tag_open: str = DEFAULT_TAG_OPEN,
    tag_close: str = DEFAULT_TAG_CLOSE,
    offset: int = 0,
) -> DataFrame:
    """(doc_id, url, score, snippet) for the top-k BM25 hits.

    ``docs`` is the source table (url, text [, lang]) — the index stores
    postings, not text. Pass ``docs=None`` to read text from the index's
    stored-fields table instead (``store_text=True`` build or
    ``stored.add_stored_fields`` retrofit): the hit ids point-read ~k
    row groups of the doc_id-sorted table, so the pass never rides the
    source table's layout (``stored.py``; raises
    ``StoredFieldsUnavailableError`` when absent/stale). Both paths
    return identical strings (asserted in tests/test_stored.py).

    A ``by_lang`` index routes each hit through its own language's
    pipeline (en→english, ru→russian, else multilingual), exactly like
    the build and the phrase verify, and highlights against that
    pipeline's analyzed query terms.
    """
    if k <= 0:
        raise ValueError("snippets require a bounded k (top-k hits only)")
    spark = index.spark
    # unhydrated hits + driver-side pyarrow url attach: the former
    # hydrate=True path paid a per-query BroadcastExchange inside the
    # search job and the final metadata join paid another (~250-300 ms
    # each, measured r6); the hit metadata now rides the snippet
    # kernel's CLOSURE (k rows) and the pass has no join at all
    srows = index.search_bm25(
        query, k=k, preset=preset, hydrate=False, offset=offset
    ).collect()
    if not srows:
        return local_df(
            spark, [], "doc_id long, url string, score double, snippet string"
        )
    url_by_id = index.doc_urls_local(int(r["doc_id"]) for r in srows)
    rows = [
        (int(r["doc_id"]), url_by_id[int(r["doc_id"])][0], float(r["score"]))
        for r in srows
    ]

    by_lang, lang_presets, qterms = _pipeline_routing(index, query, preset)

    if docs is None:
        key = "doc_id"
        ids = [d for d, _, _ in rows]
        # (doc_id, text[, lang]) in ONE pruned scan — lang rides in the
        # sidecar so by_lang routing needs no docs-table lookup
        src = index.stored_text(ids, with_lang=by_lang)
        meta_by_key = {d: (d, u, s) for d, u, s in rows}
    else:
        key = "url"
        proj = ["url", "text", "lang"] if by_lang else ["url", "text"]
        urls = [u for _, u, _ in rows]
        src = docs.select(*proj).where(F.col("url").isin(urls))
        meta_by_key = {u: (d, u, s) for d, u, s in rows}

    def make_snippets(batches):
        import pandas as pd

        for pdf in batches:
            langs = pdf["lang"] if by_lang else None
            out_doc, out_url, out_score, out_snip = [], [], [], []
            for i, text in enumerate(pdf["text"]):
                if by_lang:
                    pname = lang_presets.get(
                        str(langs.iloc[i]), "multilingual"
                    )
                else:
                    pname = next(iter(qterms))
                d, u, s = meta_by_key[pdf[key].iloc[i]]
                out_doc.append(d)
                out_url.append(u)
                out_score.append(s)
                out_snip.append(
                    best_snippet(
                        text or "", qterms[pname], get_pipeline(pname),
                        window, tag_open, tag_close,
                    )
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "url": out_url,
                    "score": pd.Series(out_score, dtype="float64"),
                    "snippet": out_snip,
                }
            )

    snipped = src.mapInPandas(
        make_snippets,
        schema="doc_id long, url string, score double, snippet string",
    )
    # <= k rows: one tiny exchange into a single partition, then an
    # in-partition sort — repartition, NOT coalesce: coalesce(1) would
    # serialize the upstream scan+kernel into one task (measured r6:
    # 1.0 -> 1.7 s), while repartition keeps them parallel and ships
    # only the k result rows
    return snipped.repartition(1).orderBy(F.desc("score"), F.asc("doc_id"))
