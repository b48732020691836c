"""Multi-field search: one inverted sub-index per field, combined at
query time with Elasticsearch ``multi_match`` semantics.

This is Lucene's architecture taken literally: Lucene indexes every
field as its own inverted index with its own df/doc-length/avgdl
statistics, and a ``multi_match`` query scores each field independently
before combining (title hits rank on title statistics — a term that is
rare in titles but common in bodies gets title-idf when it matches the
title). The reference engine indexes a single text stream
(``loader.go`` / ``engine.go``); multi-field relevance — "boost title
matches 2x" — is the single most-used relevance lever it lacks, so
this module is an extension, not a port.

Design (Spark-first):

- ``build_fielded_index`` builds one ordinary sub-index per field under
  ``<base>/fields/<name>`` from the SAME (url, field-text, lang) frame.
  Because dense doc-id assignment is deterministic on the url set
  (``build.assign_doc_ids``: rank by (xxhash64(url), url) within hash
  buckets + driver prefix-sum — stable for a fixed input and
  ``id_buckets``), every sub-index gives the SAME internal doc_id to
  the same url. The query-time combine therefore joins per-field
  scores on ``doc_id`` directly: no url hydration, no string shuffle.
- ``FieldedIndex.search`` asks each sub-index for its FULL match-set
  scores (``k=0`` — cost bounded by the query terms' postings, not the
  corpus), full-outer-joins them on doc_id, and combines:

  * ``most_fields``: score = Σ_f weight_f · bm25_f  (ES most_fields)
  * ``best_fields``: score = max_f w_f·bm25_f
    + tie_breaker · Σ(others)                       (ES dis_max)
  * ``cross_fields``: term-centric — each TERM takes its best field
    (per-term dis_max + tie_breaker), terms sum per doc; built on the
    per-(doc, term) contribution surface (``explain_bm25(k=0)``)

  Per-field BM25 is non-negative (idf = ln(1+(n-df+.5)/(df+.5)) > 0),
  so a missing field coalesces to 0 exactly. The per-field plans are
  lazy DataFrames, so N fields combine into ONE Spark job whose only
  extra exchange is the match-set join — the same order of work as a
  single-field ``k=0`` search. Top-k truncation is exact (the full
  match sets are combined), unlike fusing per-field top-N lists.
- ``search_point`` is the same combine over the per-field point tiers
  (``search_bm25_point(k=0)``): zero Spark jobs when warm.

Mutation note: the doc-id alignment invariant holds as long as every
sub-index sees the same url set. Rebuilds and whole-corpus upserts
preserve it; applying ``delete_documents`` to every sub-index also
preserves it (tombstones never renumber). Per-field partial mutations
are out of scope — rebuild instead.
"""

from __future__ import annotations

import json
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import BuildConfig, build_index
from .query import FtsIndex, _round6, _scored_rows

FIELDED_MANIFEST = "fielded.json"
FIELDED_VERSION = 1

MODES = ("most_fields", "best_fields", "cross_fields")


def build_fielded_index(
    spark: SparkSession,
    docs: DataFrame,
    base_dir: str,
    fields: dict,
    cfg: BuildConfig | None = None,
    resume: bool = True,
) -> dict:
    """Build one sub-index per field under ``<base_dir>/fields/<name>``.

    ``fields`` maps field name -> the docs column (name or Column) whose
    text is indexed for that field. Every sub-index is built with the
    SAME ``cfg`` (in particular the same ``id_buckets``) from the same
    url set, which is what makes internal doc ids line up across fields.
    ``docs`` must carry ``url`` (and ``lang`` for by_lang presets; a
    missing lang column is filled with 'en').
    """
    if not fields:
        raise ValueError("fields must be a non-empty {name: column} dict")
    cfg = cfg or BuildConfig()
    os.makedirs(base_dir, exist_ok=True)
    stats: dict = {}
    has_lang = "lang" in docs.columns
    for name in fields:
        if not name.isidentifier():
            raise ValueError(f"field name {name!r} must be an identifier")
    for name, col in fields.items():
        c = F.col(col) if isinstance(col, str) else col
        fdocs = docs.select(
            "url",
            c.cast("string").alias("text"),
            (F.col("lang") if has_lang else F.lit("en")).alias("lang"),
        )
        stats[name] = build_index(
            spark, fdocs, _field_dir(base_dir, name), cfg, resume=resume
        )
    tmp = os.path.join(base_dir, f".{FIELDED_MANIFEST}.tmp")
    with open(tmp, "w") as f:
        json.dump({"version": FIELDED_VERSION, "fields": list(fields)}, f)
    os.replace(tmp, os.path.join(base_dir, FIELDED_MANIFEST))
    return stats


def _field_dir(base_dir: str, name: str) -> str:
    return os.path.join(base_dir, "fields", name)


class FieldedIndex:
    """Query handle over a ``build_fielded_index`` directory."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        path = os.path.join(base_dir, FIELDED_MANIFEST)
        with open(path) as f:
            man = json.load(f)
        if int(man.get("version", -1)) != FIELDED_VERSION:
            raise ValueError(
                f"fielded manifest version {man.get('version')} at {path}; "
                f"this build reads v{FIELDED_VERSION}"
            )
        self.fields: list[str] = list(man["fields"])
        self.indexes: dict[str, FtsIndex] = {
            name: FtsIndex(spark, _field_dir(base_dir, name))
            for name in self.fields
        }

    # ---- lifecycle -----------------------------------------------------
    def warm(self) -> "FieldedIndex":
        for idx in self.indexes.values():
            idx.warm()
        return self

    def enable_point_serving(self, **kw) -> "FieldedIndex":
        for idx in self.indexes.values():
            idx.enable_point_serving(**kw)
        return self

    # ---- search --------------------------------------------------------
    def _weights(self, weights: dict | None) -> dict:
        w = {name: 1.0 for name in self.fields}
        for name, v in (weights or {}).items():
            if name not in w:
                raise KeyError(
                    f"unknown field {name!r}; index has {self.fields}"
                )
            w[name] = float(v)
        return w

    def search(
        self,
        query: str,
        k: int = 10,
        weights: dict | None = None,
        mode: str = "most_fields",
        tie_breaker: float = 0.0,
        preset: str | None = None,
        hydrate: bool = False,
    ) -> DataFrame:
        """Top-k multi-field BM25 — (doc_id, score), (url, doc_id, score)
        when hydrated; order (round6(score) desc, doc_id asc), ``k<=0``
        returns the whole match set."""
        if mode not in MODES:
            raise ValueError(f"mode must be one of {MODES}, got {mode!r}")
        w = self._weights(weights)
        primary = self.indexes[self.fields[0]]
        if mode == "cross_fields":
            # term-centric (ES cross_fields): each TERM scores as its best
            # field (dis_max per term, tie_breaker for the others), then
            # terms sum per doc — "one blended field" semantics: a query
            # whose terms are split across fields ("john" in author,
            # "smith" in title) is not double-counted field-wise. Reuses
            # the per-(doc, term) contribution surface of explain_bm25
            # (k=0 — query-term postings only, never the corpus).
            per = [
                self.indexes[name]
                .explain_bm25(query, k=0, preset=preset)
                .select(
                    "doc_id",
                    "term",
                    (F.col("contrib") * F.lit(w[name])).alias(f"_c_{name}"),
                )
                for name in self.fields
            ]
            joined = reduce(
                lambda a, b: a.join(b, ["doc_id", "term"], "full_outer"), per
            )
            cols = [
                F.coalesce(F.col(f"_c_{name}"), F.lit(0.0))
                for name in self.fields
            ]
            total = reduce(lambda a, b: a + b, cols)
            mx = F.greatest(*cols) if len(cols) > 1 else cols[0]
            per_term = mx + F.lit(float(tie_breaker)) * (total - mx)
            out = (
                joined.select("doc_id", per_term.alias("_c"))
                .groupBy("doc_id")
                .agg(F.sum("_c").alias("score"))
            )
        else:
            per = []
            for name in self.fields:
                sdf = self.indexes[name].search_bm25(
                    query, k=0, mode="relational", preset=preset
                )
                per.append(
                    sdf.select(
                        "doc_id",
                        (F.col("score") * F.lit(w[name])).alias(f"_s_{name}"),
                    )
                )
            combined = reduce(
                lambda a, b: a.join(b, "doc_id", "full_outer"), per
            )
            cols = [
                F.coalesce(F.col(f"_s_{name}"), F.lit(0.0))
                for name in self.fields
            ]
            total = reduce(lambda a, b: a + b, cols)
            if mode == "most_fields":
                score = total
            else:  # best_fields == dis_max(tie_breaker)
                mx = F.greatest(*cols) if len(cols) > 1 else cols[0]
                score = mx + F.lit(float(tie_breaker)) * (total - mx)
            out = combined.select("doc_id", score.alias("score"))
        out = out.orderBy(F.round("score", 6).desc(), F.asc("doc_id"))
        if k > 0:
            out = out.limit(k)
        return primary._maybe_hydrate(out, hydrate, bounded=k > 0)

    def search_point(
        self,
        query: str,
        k: int = 10,
        weights: dict | None = None,
        mode: str = "most_fields",
        tie_breaker: float = 0.0,
    ) -> list:
        """:meth:`search` below the Spark job floor: per-field point-tier
        full match sets combined in-process. Zero jobs when every field's
        query-term postings are warm; any field may individually fall
        back to its distributed path (the combine is unchanged). Returns
        ``[(doc_id, score), ...]``. ``cross_fields`` needs per-(doc, term)
        contributions, which the point caches do not expose — it serves
        through the distributed plan (documented fallback)."""
        if mode not in MODES:
            raise ValueError(f"mode must be one of {MODES}, got {mode!r}")
        if mode == "cross_fields":
            return _scored_rows(
                self.search(
                    query, k=k, weights=weights, mode=mode,
                    tie_breaker=tie_breaker,
                )
            )
        w = self._weights(weights)
        per = {
            name: dict(self.indexes[name].search_bm25_point(query, k=0))
            for name in self.fields
        }
        ids = set()
        for d in per.values():
            ids.update(d)
        rows = []
        for did in ids:
            vals = [w[n] * per[n].get(did, 0.0) for n in self.fields]
            if mode == "most_fields":
                s = sum(vals)
            else:
                mx = max(vals)
                s = mx + float(tie_breaker) * (sum(vals) - mx)
            rows.append((did, s))
        rows.sort(key=lambda r: (-_round6(r[1]), r[0]))
        return rows[:k] if k > 0 else rows
