"""Correctness gates, run outside the timed window.

Each gate returns the list of mismatches it found; the benchmark counts
every mismatch as a failed op. The gates compare against
``tests/oracle.py`` (pure-Python BM25 over the same pipelines) keyed by
url, because the engine's dense doc ids are its own.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from tests.oracle import OracleIndex  # noqa: E402

TOL = 1e-6


def oracle_for(live: dict[str, tuple[str, str]]) -> tuple[OracleIndex, list[str]]:
    """A by_lang oracle over url -> (text, lang); returns it with the
    url of each oracle doc id."""
    ox = OracleIndex(by_lang=True)
    urls = sorted(live)
    for i, u in enumerate(urls):
        text, lang = live[u]
        ox.index_document(i, text, lang)
    return ox, urls


def oracle_scores(ox: OracleIndex, urls: list[str], query: str) -> dict[str, float]:
    return {urls[d]: s for d, s in ox.search_bm25(query, k=0)}


def check_topk(
    query: str, got: list[tuple[str, float]], want: dict[str, float], k: int
) -> list[str]:
    """``got``: the engine's (url, score) top-k. It must have the oracle's
    top-k score sequence, and every url must carry its oracle score, so a
    tie at the cut may resolve to any tied doc but nothing else passes."""
    errs = []
    want_top = sorted(want.values(), reverse=True)[:k]
    if len(got) != len(want_top):
        return [f"{query!r}: {len(got)} hits, oracle has {len(want_top)}"]
    if len({u for u, _ in got}) != len(got):
        errs.append(f"{query!r}: duplicate url in results")
    for rank, ((url, score), ws) in enumerate(zip(got, want_top)):
        if abs(score - ws) > TOL:
            errs.append(f"{query!r} rank {rank}: score {score} != oracle {ws}")
        elif url not in want or abs(want[url] - score) > TOL:
            errs.append(f"{query!r} rank {rank}: {url} scores {want.get(url)} in the oracle, engine {score}")
    return errs


def check_same(
    query: str, a: list[tuple[int, float]], b: list[tuple[int, float]]
) -> list[str]:
    """Point tier vs distributed tier: identical (doc_id, score) lists."""
    if len(a) != len(b) or any(
        da != db or abs(sa - sb) > 1e-9 for (da, sa), (db, sb) in zip(a, b)
    ):
        return [f"{query!r}: point {a[:3]}... != distributed {b[:3]}..."]
    return []


def check_equal(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, want {want!r}"]


def check_close(what: str, got: float, want: float, rel: float = 1e-9) -> list[str]:
    ok = abs(got - want) <= rel * max(1.0, abs(want))
    return [] if ok else [f"{what}: got {got!r}, want {want!r}"]
