"""Posting-list compression: docID-delta + varbyte, with skip blocks.

Replaces the reference's four in-memory index structures (radix/HAMT,
``/root/reference/pkg/index/*``) with one columnar layout: per
``(shard_id, term)`` a sorted posting list is stored as two varbyte blobs
(docid deltas, tfs) plus skip-block arrays — (last_doc, max_tf, byte
offsets) every ``skip`` postings — standing in for trie/HAMT lookups and
feeding block-max WAND (SURVEY.md §2.3 I4 "sorted postings", §4 P5).

All encode/decode paths are numpy-vectorized (no per-value Python loops over
postings; the outer loop is bounded by 10 = max varbyte width of a uint64).
Full posting-list decodes of many rows go through one batch decoder,
:func:`decode_doc_blobs`: doc ids (and the row each belongs to) for a whole
Arrow column of doc blobs in one pass, with tf/dl from
:func:`varbyte_decode_binary` over the same batch — the query path's
``mapInArrow`` kernels and compaction's tail decode both use it.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

SKIP_BLOCK = 128  # postings per skip block


def _as_uint64(values: np.ndarray) -> np.ndarray:
    """Reinterpret/convert to uint64 without copying when possible.

    int64 inputs are VIEWED as uint64 (zero-copy; callers guarantee
    non-negative values, for which the bit patterns are identical)."""
    if values.dtype == np.uint64:
        return values
    if values.dtype == np.int64:
        return values.view(np.uint64)
    return values.astype(np.uint64)


def varbyte_encode_all(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized whole-array varbyte encode into ONE packed buffer.

    Returns ``(packed uint8 array, csum int64 array of len+1)`` where the
    bytes of value ``i`` are ``packed[csum[i]:csum[i+1]]`` — callers slice
    per-group byte ranges out of the single buffer instead of encoding each
    group separately (the build encoder's zero-copy fast path).
    """
    n = len(values)
    if n == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    arr = _as_uint64(values)
    # bytes needed per value: 1 + number of 7-bit groups beyond the first
    nb = np.ones(n, dtype=np.int64)
    for k in range(1, 10):
        mask = arr >= np.uint64(1) << np.uint64(7 * k)
        if not mask.any():
            break
        nb += mask
    csum = np.empty(n + 1, dtype=np.int64)
    csum[0] = 0
    np.cumsum(nb, out=csum[1:])
    out = np.zeros(int(csum[-1]), dtype=np.uint8)
    offsets = csum[:-1]
    for j in range(10):
        sel = nb > j
        if not sel.any():
            break
        b = ((arr[sel] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[sel] - 1 > j).astype(np.uint8) << 7
        out[offsets[sel] + j] = b | cont
    return out, csum


def varbyte_encode(values: np.ndarray) -> bytes:
    """LEB128-style encode of a non-negative int array (vectorized)."""
    if len(values) == 0:
        return b""
    return varbyte_encode_all(values)[0].tobytes()


def varbyte_decode(blob: bytes) -> np.ndarray:
    """Decode a varbyte blob (bytes or a uint8 array) back to a uint64
    array (vectorized)."""
    if len(blob) == 0:
        return np.zeros(0, dtype=np.uint64)
    raw = np.frombuffer(blob, dtype=np.uint8)
    return _varbyte_values(raw, np.nonzero((raw & 0x80) == 0)[0])


def _varbyte_values(raw: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """The values of ``raw`` whose last bytes sit at ``ends``."""
    if len(ends) == 0:
        return np.zeros(0, dtype=np.uint64)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    vals = np.zeros(len(ends), dtype=np.uint64)
    for j in range(int(lengths.max())):
        sel = lengths > j
        vals[sel] |= (raw[starts[sel] + j] & np.uint64(0x7F)).astype(
            np.uint64
        ) << np.uint64(7 * j)
    return vals


def _binary_bytes(arr) -> tuple[np.ndarray, np.ndarray]:
    """(bytes, row offsets into them) of a pyarrow binary array, straight
    off its buffers: zero-copy, no per-row ``bytes`` objects, honouring a
    sliced array's offset."""
    import pyarrow as pa

    n = len(arr)
    _, offs_buf, data = arr.buffers()
    if n == 0 or data is None:
        return np.zeros(0, dtype=np.uint8), np.zeros(n + 1, dtype=np.int64)
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(
        offs_buf, dtype=width, count=n + 1,
        offset=arr.offset * np.dtype(width).itemsize,
    ).astype(np.int64)
    return np.frombuffer(data, dtype=np.uint8)[offs[0]:offs[-1]], offs - offs[0]


def varbyte_decode_binary(arr) -> np.ndarray:
    """Decode EVERY blob of a pyarrow binary array in one varbyte pass over
    its data buffer. Each blob ends on a terminator byte, so the
    concatenation decodes to the rows' values back to back; callers split
    them by per-row value counts."""
    return varbyte_decode(_binary_bytes(arr)[0])


def decode_doc_blobs(arr, base: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(row, doc_id)`` of every posting of a pyarrow binary column of doc
    blobs, decoded in one varbyte pass over its data buffer. A row's first
    delta is relative to ``base[row]`` (its shard's first doc id), the
    rest to the previous id, as :func:`decode_postings` reads one list. A
    row's posting count is the number of terminator bytes in its blob, so
    no ``count`` column is read; tf and dl of the same rows come back to
    back from :func:`varbyte_decode_binary`. Raises ``ValueError`` when a
    non-empty blob does not end on a terminator byte (its last value
    would run into the next row's)."""
    raw, offs = _binary_bytes(arr)
    last = offs[1:][np.diff(offs) > 0] - 1
    if last.size and (raw[last] & 0x80).any():
        raise ValueError("doc blob does not end on a terminator byte")
    ends = np.nonzero((raw & 0x80) == 0)[0]
    counts = np.diff(np.searchsorted(ends, offs))
    row = np.repeat(np.arange(len(counts)), counts)
    csum = np.cumsum(_varbyte_values(raw, ends).astype(np.int64))
    before = np.concatenate(([0], csum))[np.cumsum(counts) - counts]
    return row, csum + (np.asarray(base, dtype=np.int64) - before)[row]


@dataclass
class EncodedPostings:
    doc_blob: bytes
    tf_blob: bytes
    count: int
    skip_last_doc: np.ndarray  # int64, last docid of each skip block
    skip_max_tf: np.ndarray  # int32, max tf within each skip block
    skip_doc_off: np.ndarray  # int32, byte offset of block start in doc_blob
    skip_tf_off: np.ndarray  # int32, byte offset of block start in tf_blob


def _block_byte_offsets(values: np.ndarray, skip: int) -> np.ndarray:
    """Byte offset of each skip-block start inside the varbyte blob."""
    if len(values) == 0:
        return np.zeros(0, dtype=np.int32)
    nb = np.ones(len(values), dtype=np.int64)
    arr = values.astype(np.uint64, copy=False)
    for k in range(1, 10):
        nb += (arr >= np.uint64(1) << np.uint64(7 * k)).astype(np.int64)
    csum = np.concatenate(([0], np.cumsum(nb)))
    return csum[::skip][: (len(values) + skip - 1) // skip].astype(np.int32)


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    base_doc: int = 0,
    skip: int = SKIP_BLOCK,
) -> EncodedPostings:
    """Encode a sorted (doc_ids, tfs) posting list.

    ``base_doc``: shard-relative base subtracted from the first docid so the
    first delta stays small (docids are shard-local-dense anyway).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    n = len(doc_ids)
    if n == 0:
        z32 = np.zeros(0, dtype=np.int32)
        return EncodedPostings(b"", b"", 0, np.zeros(0, dtype=np.int64), z32, z32, z32)
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = np.uint64(doc_ids[0] - base_doc)
    if n > 1:
        deltas[1:] = np.diff(doc_ids).astype(np.uint64)
    doc_blob = varbyte_encode(deltas)
    tf_blob = varbyte_encode(tfs.astype(np.uint64))

    n_blocks = (n + skip - 1) // skip
    last_idx = np.minimum(np.arange(1, n_blocks + 1) * skip, n) - 1
    skip_last_doc = doc_ids[last_idx]
    pad = (-n) % skip
    tf_padded = np.concatenate((tfs, np.zeros(pad, dtype=np.int64)))
    skip_max_tf = tf_padded.reshape(n_blocks, skip).max(axis=1).astype(np.int32)
    return EncodedPostings(
        doc_blob,
        tf_blob,
        n,
        skip_last_doc,
        skip_max_tf,
        _block_byte_offsets(deltas, skip),
        _block_byte_offsets(tfs.astype(np.uint64), skip),
    )


def decode_postings(
    doc_blob: bytes, tf_blob: bytes, base_doc: int = 0
) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_postings` → (sorted doc_ids, tfs)."""
    deltas = varbyte_decode(doc_blob)
    tfs = varbyte_decode(tf_blob).astype(np.int64)
    if len(deltas) == 0:
        return np.zeros(0, dtype=np.int64), tfs
    doc_ids = np.cumsum(deltas.astype(np.int64))
    doc_ids += base_doc
    return doc_ids, tfs


def decode_block(
    doc_blob: bytes,
    tf_blob: bytes,
    doc_span: tuple[int, int],
    tf_span: tuple[int, int],
    prev_last_doc: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode a single skip block by byte span, touching no other bytes.

    ``doc_span``/``tf_span``: (start, end) byte offsets from the skip arrays
    (end = next block's offset, or ``len(blob)`` for the last block).
    ``prev_last_doc``: last docid of the previous block (or ``base_doc`` for
    block 0) — the first delta in a block continues the running docid chain.
    """
    deltas = varbyte_decode(doc_blob[doc_span[0] : doc_span[1]])
    tfs = varbyte_decode(tf_blob[tf_span[0] : tf_span[1]]).astype(np.int64)
    doc_ids = np.cumsum(deltas.astype(np.int64)) + prev_last_doc
    return doc_ids, tfs
