"""Per-layer probes run by the traced benchmark: codec and text-pipeline
throughput over the workload's own data, on-disk index sizes and a
content hash of the postings table."""

from __future__ import annotations

import hashlib
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from fts_engine_spark.codec import decode_postings, encode_postings
from fts_engine_spark.extract import extract_text
from fts_engine_spark.layout import table_path
from fts_engine_spark.textproc.pipeline import get_pipeline

TABLES = ("postings", "terms", "docs", "metrics", "tombstones")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".crc") and not f.startswith("_"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def index_bytes(index_dir: str, meta: dict) -> dict[str, int]:
    out = {}
    for name in TABLES:
        if name == "tombstones" and not meta.get("tombstones_dir"):
            continue
        out[name] = dir_bytes(table_path(index_dir, meta, name))
    return out


def _postings_rows(index_dir: str, meta: dict):
    root = table_path(index_dir, meta, "postings")
    for shard in sorted(
        (d for d in os.listdir(root) if d.startswith("shard_id=")),
        key=lambda d: int(d.split("=", 1)[1]),
    ):
        t = pq.read_table(os.path.join(root, shard)).sort_by("term")
        yield shard, t


def postings_hash(index_dir: str, meta: dict) -> str:
    """Content hash of the postings table: each shard's rows sorted by
    term, columns by name, serialized as one Arrow IPC stream."""
    h = hashlib.sha256()
    for shard, t in _postings_rows(index_dir, meta):
        h.update(shard.encode())
        t = t.select(sorted(t.column_names)).combine_chunks()
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        h.update(sink.getvalue())
    return h.hexdigest()


def _timed_passes(fn, min_s: float = 0.3) -> float:
    """Seconds per pass of ``fn``, after one untimed pass."""
    fn()
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return dt / n


def codec_mb_per_s(index_dir: str, meta: dict, max_lists: int = 4000) -> dict[str, float]:
    """decode_postings / encode_postings throughput over the built index's
    posting lists, in MB of encoded blob per second."""
    blobs = []
    for _shard, t in _postings_rows(index_dir, meta):
        d, tf = t.column("doc_blob").to_pylist(), t.column("tf_blob").to_pylist()
        blobs.extend(zip(d, tf))
        if len(blobs) >= max_lists:
            break
    blobs = blobs[:max_lists]
    mb = sum(len(a) + len(b) for a, b in blobs) / 1e6
    decoded = [decode_postings(a, b) for a, b in blobs]
    dec = _timed_passes(lambda: [decode_postings(a, b) for a, b in blobs])
    enc = _timed_passes(lambda: [encode_postings(d, tf) for d, tf in decoded])
    return {"decode_mb_per_s": mb / dec, "encode_mb_per_s": mb / enc}


def tokens_per_s(texts: list[str], preset: str) -> float:
    """Steady ``Pipeline.process`` throughput (the token memo warm, as in
    a build worker after its first batch)."""
    pipe = get_pipeline(preset)
    n_tokens = sum(len(pipe.process(t)) for t in texts)
    per_pass = _timed_passes(lambda: [pipe.process(t) for t in texts])
    return n_tokens / per_pass


def extract_pages_per_s(htmls: list[bytes]) -> float:
    per_pass = _timed_passes(lambda: [extract_text(h) for h in htmls], min_s=0.2)
    return len(htmls) / per_pass
