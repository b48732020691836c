"""Seeded inputs: page tables, query mixes and upsert batches.

Every input comes from ``tools/gen_corpus`` and a ``random.Random`` seeded
from the workload seed, so one seed always gives the same bytes. Inputs
are generated before the Spark session starts; their cost is in neither
the timed window nor ``setup_s``.
"""

from __future__ import annotations

import os
import random
import re
import sys
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import gen_corpus  # noqa: E402

# seed streams: corpus, refresh content and query draws never share a seed
_CORPUS, _FRESH, _QUERIES, _BATCHES = 1, 2, 3, 4

STOPWORD_QUERIES = ["the was", "of the", "and to", "the the the", "и в", "it is"]
_WORD = re.compile(r"\w+", re.UNICODE)


def _sub_seed(seed: int, stream: int) -> int:
    return seed * 7919 + stream * 104729


@dataclass
class Pages:
    urls: list[str]
    htmls: list[bytes]
    texts: list[str]
    langs: list[str]

    def __len__(self) -> int:
        return len(self.urls)

    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.texts)


def pages(seed: int, n: int, stream: int = _CORPUS) -> Pages:
    urls, _ts, htmls, texts, langs = gen_corpus.gen_rows(n, seed=_sub_seed(seed, stream))
    return Pages(list(urls), list(htmls), list(texts), list(langs))


def write_text_table(path: str, p: Pages) -> None:
    """(url, text, lang): the build input, text already extracted."""
    pq.write_table(
        pa.table({"url": p.urls, "text": p.texts, "lang": p.langs}),
        path,
        row_group_size=1024,
    )


def write_html_table(path: str, p: Pages) -> None:
    """(url, html, lang): an html-only crawl batch; ``read_pages`` must
    extract the text."""
    pq.write_table(
        pa.table(
            {"url": p.urls, "html": pa.array(p.htmls, pa.binary()), "lang": p.langs}
        ),
        path,
    )


def _ranked_words(p: Pages, lang: str, top: int = 400) -> list[str]:
    c: Counter = Counter()
    for text, lg in zip(p.texts, p.langs):
        if lg == lang:
            c.update(w.lower() for w in _WORD.findall(text) if not w.isdigit())
    return [w for w, _ in c.most_common(top)]


def query_pool(p: Pages, seed: int, n: int = 300) -> list[str]:
    """Distinct queries: the reference set, then a seeded mix of Zipfian
    1-4 term queries (90% EN / 10% RU) with stopword-only, unknown-term
    and numeric queries mixed in."""
    rng = random.Random(_sub_seed(seed, _QUERIES))
    words = {lg: _ranked_words(p, lg) for lg in ("en", "ru")}
    weights = {lg: [1.0 / (i + 1) for i in range(len(w))] for lg, w in words.items()}
    out = [q["query"] for q in gen_corpus.REFERENCE_QUERIES]
    seen = set(out)
    while len(out) < n:
        r = rng.random()
        if r < 0.06:
            q = rng.choice(STOPWORD_QUERIES)
        elif r < 0.11:
            q = "zzq" + "".join(rng.choice("bcdfghjk") for _ in range(6))
        elif r < 0.15:
            q = str(rng.randint(0, 2100))
        else:
            lg = "ru" if rng.random() < 0.10 else "en"
            k = rng.choices((1, 2, 3, 4), weights=(35, 35, 20, 10))[0]
            q = " ".join(rng.choices(words[lg], weights=weights[lg], k=k))
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


def query_stream(pool: list[str], seed: int, n: int) -> list[str]:
    """A Zipfian draw over the pool: hot queries repeat, as in a log."""
    rng = random.Random(_sub_seed(seed, _QUERIES) + 1)
    w = [1.0 / (i + 1) ** 0.8 for i in range(len(pool))]
    return rng.choices(pool, weights=w, k=n)


@dataclass
class IngestPlan:
    base: Pages
    batches: list[Pages] = field(default_factory=list)
    recrawled: list[int] = field(default_factory=list)  # per batch

    def corpus_after(self, n_batches: int) -> dict[str, tuple[str, str]]:
        """url -> (text, lang) once the first ``n_batches`` are applied."""
        live = {u: (t, lg) for u, t, lg in zip(self.base.urls, self.base.texts, self.base.langs)}
        for b in self.batches[:n_batches]:
            for u, t, lg in zip(b.urls, b.texts, b.langs):
                live[u] = (t, lg)
        return live


def ingest_plan(seed: int, n_base: int, batch: int, n_batches: int) -> IngestPlan:
    """Base pages plus upsert batches: half of each batch re-crawls base
    urls (new content, never the same url twice in a run), half are new
    urls. Content for both halves comes from a second corpus draw."""
    base = pages(seed, n_base)
    fresh = pages(seed, batch * n_batches, stream=_FRESH)
    rng = random.Random(_sub_seed(seed, _BATCHES))
    n_re = batch // 2
    recrawl = rng.sample(range(n_base), n_re * n_batches)
    plan = IngestPlan(base)
    for b in range(n_batches):
        lo = b * batch
        urls = [base.urls[i] for i in recrawl[b * n_re:(b + 1) * n_re]]
        urls += [f"https://fresh{b}.example/wiki/New_{j}" for j in range(batch - n_re)]
        plan.batches.append(
            Pages(
                urls,
                fresh.htmls[lo:lo + batch],
                fresh.texts[lo:lo + batch],
                fresh.langs[lo:lo + batch],
            )
        )
        plan.recrawled.append(n_re)
    return plan
