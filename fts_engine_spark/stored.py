"""Opt-in stored fields: document text inside the index layout.

The snippet pass (``operators/snippets.py``) reads the hit documents'
text back from the SOURCE table. That is the right default — no index
growth — but the source table is laid out for the crawler, not for
point reads: an ``In(url)`` predicate over k hits prunes nothing when
urls are scattered across row groups, so at 10^12 docs every snippet
page pays an unbounded text-column scan. This module is the classic
alternative (Lucene's stored fields): persist text beside the index,
laid out for exactly the read the serving path performs. An extension
beyond the reference's engine, which holds the whole corpus in memory
(``engine.go:82-158``) and never pages text from storage.

Layout: a ``stored`` table beside ``postings``/``docs``:

    doc_id  long    -- the index's dense doc id
    url     string  -- the document's url (result hydration without a
                       docs-table join)
    text    string  -- the document's cleaned text, byte-identical to
                       what the build tokenized
    lang    string  -- the doc's language tag (null when the corpus has
                       none); stored so a by_lang snippet pass needs no
                       second lookup to pick the doc's pipeline

written ``repartitionByRange(doc_id).sortWithinPartitions(doc_id)`` with
a small parquet row-group target, so every file and every row group
covers one tight, non-overlapping doc_id interval. A top-k page's
``In(doc_id)`` predicate then prunes to ~k row groups via footer
min/max stats — the snippet pass reads k rows' worth of pages, not the
corpus, no matter the corpus size. (Exactly the pruned-point-read shape
the postings table already has on ``(shard_id, term)``.)

Snapshot identity mirrors ``positions.py``: the meta entry pins
``n_docs`` + ``table_version``; any mutation that renumbers or grows
the index (append, compaction, upsert, merge) makes the table stale and
the reader fails loudly instead of serving text for the wrong doc ids.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING, Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .layout import read_table

if TYPE_CHECKING:  # pragma: no cover
    from .query import FtsIndex

STORED_TABLE = "stored"
# stored-table format version; bump on schema change so a reader never
# trusts a sidecar written by an older writer (v2 added url + lang)
STORED_VERSION = 2

# docs per output file: bounds the range-partitioner's task size and
# keeps per-file footers small. Row-group size (below) is what pruning
# granularity actually rides on.
DEFAULT_DOCS_PER_FILE = 1 << 18
# small row groups = fine-grained min/max pruning for k-row point reads:
# a reader decodes whole row groups, so group size bounds the
# read-amplification of a k-row fetch (measured: 8 MiB groups cost the
# point snippet tier ~100 ms at 30k tiny bench docs; 1 MiB brings the
# decode back to ~k×page cost). Footer overhead stays small because
# files are capped at docs_per_file rows.
DEFAULT_ROWGROUP_BYTES = 1 << 20


class StoredFieldsUnavailableError(RuntimeError):
    """No stored-fields table, or it is stale relative to the index."""


def build_stored_table(
    with_ids: DataFrame,
    index_dir: str,
    n_docs: int,
    docs_per_file: int = DEFAULT_DOCS_PER_FILE,
    rowgroup_bytes: int = DEFAULT_ROWGROUP_BYTES,
) -> None:
    """Write the stored table from the id-assigned docs (``with_ids``:
    doc_id, text — the same ids the postings build assigned). One narrow
    range shuffle on doc_id; no Python stage."""
    n_parts = max(1, -(-n_docs // docs_per_file))
    lang = (
        F.col("lang")
        if "lang" in with_ids.columns
        else F.lit(None).cast("string")
    )
    (
        with_ids.select("doc_id", "url", "text", lang.alias("lang"))
        .repartitionByRange(n_parts, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .option("parquet.block.size", str(rowgroup_bytes))
        .parquet(os.path.join(index_dir, STORED_TABLE))
    )


def retrofit_with_ids(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    force_lang: bool = False,
) -> tuple[dict, DataFrame]:
    """Shared sidecar-retrofit scaffold (stored fields AND the positional
    table use it — one copy of the join/count discipline): load meta,
    join the source ``docs`` (url, text [, lang]) to the index's docs
    table for the assigned ids, and verify the join covered the whole
    index. Returns ``(meta, with_ids)``; the caller builds its table and
    commits its meta entry (see :func:`commit_sidecar_meta`)."""
    import json

    from .layout import table_path

    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    ids = read_table(spark, table_path(index_dir, meta, "docs"), "docs").select(
        "doc_id", "url"
    )
    cols = ["url", "text"] + (["lang"] if "lang" in docs.columns else [])
    with_ids = docs.select(*cols).join(ids, "url")
    if force_lang and "lang" not in with_ids.columns:
        with_ids = with_ids.withColumn("lang", F.lit(None).cast("string"))
    n = with_ids.count()
    if n != int(meta["n_docs"]):
        raise ValueError(
            f"docs joined to {n} of {meta['n_docs']} index ids — pass the "
            "exact corpus the index was built from"
        )
    return meta, with_ids


def commit_sidecar_meta(
    index_dir: str, meta: dict, key: str, version: int
) -> None:
    """Atomically commit a sidecar's snapshot-identity entry: pins the
    format version plus the (n_docs, table_version) pair the staleness
    gates check against."""
    from .checkpoint import atomic_write_json

    meta[key] = {
        "version": int(version),
        "n_docs": int(meta["n_docs"]),
        "table_version": int(meta.get("table_version", 0)),
    }
    atomic_write_json(os.path.join(index_dir, "meta.json"), meta)


def add_stored_fields(
    spark: SparkSession, index_dir: str, docs: DataFrame
) -> None:
    """Retrofit the stored table onto an EXISTING index without a
    rebuild: join the source ``docs`` (url, text) to the index's docs
    table for the assigned ids, write the table, then commit the
    ``stored`` meta entry atomically. ``docs`` must be the same corpus
    the index was built from (checked by doc count)."""
    meta, with_ids = retrofit_with_ids(spark, index_dir, docs)
    build_stored_table(with_ids, index_dir, int(meta["n_docs"]))
    commit_sidecar_meta(index_dir, meta, "stored", STORED_VERSION)


def _checked_path(index: "FtsIndex") -> str:
    """The stored table's path, after the absence/staleness gate."""
    meta = index.meta
    st = meta.get("stored")
    path = os.path.join(index.index_dir, STORED_TABLE)
    if not st or not os.path.isdir(path):
        raise StoredFieldsUnavailableError(
            "index has no stored-fields table; rebuild with "
            "store_text=True, retrofit via add_stored_fields, or pass the "
            "source docs table"
        )
    if int(st.get("version", 1)) != STORED_VERSION:
        raise StoredFieldsUnavailableError(
            f"stored-fields table has format version {st.get('version', 1)},"
            f" this reader needs {STORED_VERSION} — retrofit again via "
            "add_stored_fields"
        )
    if int(st["n_docs"]) != int(meta["n_docs"]) or int(
        st.get("table_version", 0)
    ) != int(meta.get("table_version", 0)):
        # table_version catches the n_docs-preserving mutations too (a
        # pure delta-merge compaction renumbers tail ids) — serving text
        # for a renumbered id would attach the WRONG document to a hit
        raise StoredFieldsUnavailableError(
            f"stored-fields table is stale: built at n_docs="
            f"{st['n_docs']}/v{st.get('table_version', 0)}, index now has "
            f"{meta['n_docs']}/v{meta.get('table_version', 0)} "
            "(appends/compaction maintain the stored table only when it "
            "was fresh going in); retrofit again via add_stored_fields "
            "or pass the source docs table"
        )
    return path


def stored_text(
    index: "FtsIndex", doc_ids: Iterable[int], with_lang: bool = False
) -> DataFrame:
    """(doc_id, text[, lang]) for the given ids from the stored table —
    the ``In(doc_id)`` predicate reaches the parquet scan, and the
    doc_id-sorted layout prunes it to ~|ids| row groups (plan-asserted
    in tests/test_stored.py). Raises :class:`StoredFieldsUnavailableError`
    when the table is absent or stale."""
    path = _checked_path(index)
    ids = [int(i) for i in doc_ids]
    cols = ["doc_id", "text"] + (["lang"] if with_lang else [])
    return (
        read_table(index.spark, path, "stored")
        .where(F.col("doc_id").isin(ids))
        .select(*cols)
    )


def stored_rows_local(
    index: "FtsIndex", doc_ids: Iterable[int]
) -> dict[int, tuple[str, str, str | None]]:
    """doc_id -> (url, text, lang) read ON THE DRIVER with pyarrow — no
    Spark job. The dataset filter prunes via the same parquet row-group
    min/max stats the JVM scan uses, so the read touches ~|ids| row
    groups of the doc_id-sorted table. This is the snippet counterpart
    of the point-serving tier: a k-row text fetch should not pay the
    scheduler floor. Bounded: |ids| is a top-k page, and each row group
    is ~DEFAULT_ROWGROUP_BYTES.

    Uses pyarrow's filesystem resolution (local paths and fs URIs); like
    the point tier, it requires the driver to reach the index storage
    directly.
    """
    import pyarrow.dataset as pads

    path = _checked_path(index)
    ids = [int(i) for i in doc_ids]
    if not ids:
        return {}
    # cache the dataset handle (file listing + footers) on the index —
    # the point path calls this per query; invalidated when the path
    # changes (e.g. a meta reload after retrofit)
    cached = getattr(index, "_stored_dataset", None)
    if cached is None or cached[0] != path:
        cached = (path, pads.dataset(path, format="parquet"))
        index._stored_dataset = cached
    tbl = cached[1].to_table(
        columns=["doc_id", "url", "text", "lang"],
        filter=pads.field("doc_id").isin(ids),
    )
    out: dict[int, tuple[str, str, str | None]] = {}
    for d, u, t, lg in zip(
        tbl["doc_id"].to_pylist(),
        tbl["url"].to_pylist(),
        tbl["text"].to_pylist(),
        tbl["lang"].to_pylist(),
    ):
        out[int(d)] = (u, t, lg)
    return out
