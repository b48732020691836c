"""Pure-Python oracle: in-memory inverted index + both scorers.

~60-line reimplementation of the reference engine semantics
(``/root/reference/pkg/fts/engine.go:51-158``) used to assert rank-identity
of the Spark paths (SURVEY.md §5 step 2). Shares the exact same pipeline
functions as the Spark UDFs, so any divergence is in the distributed plan,
not tokenization.
"""

from __future__ import annotations

import math
from collections import defaultdict

from fts_engine_spark.query import B, K1, bm25_idf
from fts_engine_spark.textproc.pipeline import get_pipeline


class OracleIndex:
    def __init__(self, preset: str = "english", by_lang: bool = False):
        self.preset = preset
        self.by_lang = by_lang
        self.postings: dict[str, dict[int, int]] = defaultdict(dict)  # term -> doc -> tf
        self.doclen: dict[int, int] = {}

    def _pipe(self, lang: str | None):
        if self.by_lang:
            name = {"en": "english", "ru": "russian"}.get(lang or "", "multilingual")
        else:
            name = self.preset
        return get_pipeline(name)

    def index_document(self, doc_id: int, text: str, lang: str | None = None) -> None:
        toks = self._pipe(lang).process(text)
        self.doclen[doc_id] = len(toks)
        for t in toks:
            d = self.postings[t]
            d[doc_id] = d.get(doc_id, 0) + 1

    @property
    def n_docs(self) -> int:
        return len(self.doclen)

    @property
    def avgdl(self) -> float:
        return sum(self.doclen.values()) / max(1, len(self.doclen))

    def _query_tokens(self, query: str, lang: str | None = None) -> list[str]:
        # duplicates KEPT (engine.go:91)
        return self._pipe(lang).process(query)

    def search_reference(self, query: str, k: int = 10, lang: str | None = None):
        """(doc_id, unique, total) ranked unique desc, total desc, id asc."""
        unique: dict[int, int] = defaultdict(int)
        total: dict[int, int] = defaultdict(int)
        for tok in self._query_tokens(query, lang):
            plist = self.postings.get(tok)
            if not plist:
                continue
            for doc, tf in plist.items():
                unique[doc] += 1
                total[doc] += tf
        results = sorted(
            ((d, unique[d], total[d]) for d in unique),
            key=lambda r: (-r[1], -r[2], r[0]),
        )
        total_count = len(results)
        if 0 < k < len(results):
            results = results[:k]
        return results, total_count

    def search_bm25(self, query: str, k: int = 10, lang: str | None = None):
        """(doc_id, score) ranked score desc, id asc."""
        scores: dict[int, float] = defaultdict(float)
        n, avgdl = self.n_docs, self.avgdl
        for tok in self._query_tokens(query, lang):
            plist = self.postings.get(tok)
            if not plist:
                continue
            idf = bm25_idf(n, len(plist))
            for doc, tf in plist.items():
                dl = self.doclen[doc]
                scores[doc] += (
                    idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
                )
        ranked = sorted(scores.items(), key=lambda r: (-r[1], r[0]))
        if 0 < k < len(ranked):
            ranked = ranked[:k]
        return ranked

    def search_bm25_synonyms(
        self,
        query: str,
        synonyms: dict[str, list[str]],
        k: int = 10,
        lang: str | None = None,
    ):
        """(doc_id, score), Lucene SynonymQuery semantics: each query
        term's group scores as one pseudo-term — tf = sum of member tfs
        per doc, df = max member df, one idf/saturation per group."""
        pipe = self._pipe(lang)
        groups: dict[str, set[str]] = {}
        for src, syns in synonyms.items():
            key = pipe.process(src)[0]
            groups[key] = {key, *(pipe.process(s)[0] for s in syns)}
        mult: dict[str, int] = defaultdict(int)
        for tok in self._query_tokens(query, lang):
            mult[tok] += 1
        n, avgdl = self.n_docs, self.avgdl
        scores: dict[int, float] = defaultdict(float)
        for t, m in mult.items():
            members = groups.get(t, {t})
            df = max(
                (len(self.postings[mt]) for mt in members
                 if mt in self.postings),
                default=0,
            )
            if df == 0:
                continue
            gtf: dict[int, int] = defaultdict(int)
            for mt in members:
                for doc, tf in self.postings.get(mt, {}).items():
                    gtf[doc] += tf
            idf = bm25_idf(n, df)
            for doc, tf in gtf.items():
                dl = self.doclen[doc]
                scores[doc] += (
                    m * idf * tf * (K1 + 1.0)
                    / (tf + K1 * (1.0 - B + B * dl / avgdl))
                )
        ranked = sorted(scores.items(), key=lambda r: (-r[1], r[0]))
        if 0 < k < len(ranked):
            ranked = ranked[:k]
        return ranked


def dictionary_avgdl(index_dir: str) -> float:
    """Σcf of the index's live term dictionary over its ``n_docs``: the
    value every write must leave in ``meta["avgdl"]``, bit for bit."""
    import json
    import os

    import pyarrow.dataset as ds

    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    terms = os.path.join(index_dir, meta.get("terms_dir", "terms"))
    cf = ds.dataset(terms, format="parquet").to_table(columns=["cf"])["cf"]
    return float(sum(cf.to_pylist())) / meta["n_docs"]
