"""Round-trip + property tests for the varbyte/delta codec (FIXTURES.md §5)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

import pyarrow as pa
import pytest

from fts_engine_spark.codec import (
    _block_byte_offsets,
    decode_block,
    decode_doc_blobs,
    decode_postings,
    encode_postings,
    varbyte_decode,
    varbyte_decode_binary,
    varbyte_encode,
)


def test_varbyte_roundtrip_simple():
    vals = np.array([0, 1, 127, 128, 300, 2**20, 2**63, 2**64 - 1], dtype=np.uint64)
    assert (varbyte_decode(varbyte_encode(vals)) == vals).all()


def test_varbyte_empty():
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert len(varbyte_decode(b"")) == 0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
def test_varbyte_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = varbyte_decode(varbyte_encode(arr))
    assert (out == arr).all()


def test_varbyte_compactness():
    # small values take 1 byte each
    arr = np.arange(100, dtype=np.uint64)
    assert len(varbyte_encode(arr)) == 100


def test_postings_roundtrip():
    rng = np.random.default_rng(42)
    doc_ids = np.sort(rng.choice(100_000, size=5000, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 50, size=5000).astype(np.int64)
    enc = encode_postings(doc_ids, tfs, base_doc=0, skip=128)
    d, t = decode_postings(enc.doc_blob, enc.tf_blob, base_doc=0)
    assert (d == doc_ids).all()
    assert (t == tfs).all()
    assert enc.count == 5000
    # skip blocks cover full docid range
    assert enc.skip_last_doc[-1] == doc_ids[-1]
    assert len(enc.skip_last_doc) == (5000 + 127) // 128
    # block-max is max of true tf per block
    assert enc.skip_max_tf.max() == tfs.max()


def test_postings_base_doc():
    doc_ids = np.array([1_000_000, 1_000_003, 1_000_010], dtype=np.int64)
    tfs = np.array([1, 2, 3], dtype=np.int64)
    enc = encode_postings(doc_ids, tfs, base_doc=1_000_000)
    # first delta is shard-relative -> tiny blob
    assert len(enc.doc_blob) == 3
    d, t = decode_postings(enc.doc_blob, enc.tf_blob, base_doc=1_000_000)
    assert (d == doc_ids).all()


def test_decode_single_block():
    rng = np.random.default_rng(7)
    n, skip = 1000, 128
    doc_ids = np.sort(rng.choice(50_000, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 9, size=n).astype(np.int64)
    enc = encode_postings(doc_ids, tfs, base_doc=0, skip=skip)
    n_blocks = len(enc.skip_last_doc)
    for b in range(n_blocks):
        d0 = int(enc.skip_doc_off[b])
        d1 = int(enc.skip_doc_off[b + 1]) if b + 1 < n_blocks else len(enc.doc_blob)
        t0 = int(enc.skip_tf_off[b])
        t1 = int(enc.skip_tf_off[b + 1]) if b + 1 < n_blocks else len(enc.tf_blob)
        prev = int(enc.skip_last_doc[b - 1]) if b > 0 else 0
        d, t = decode_block(enc.doc_blob, enc.tf_blob, (d0, d1), (t0, t1), prev)
        lo, hi = b * skip, min((b + 1) * skip, n)
        assert (d == doc_ids[lo:hi]).all()
        assert (t == tfs[lo:hi]).all()
        assert int(t.max()) <= int(enc.skip_max_tf[b])


def test_empty_postings():
    enc = encode_postings(np.array([], dtype=np.int64), np.array([], dtype=np.int64))
    assert enc.count == 0 and enc.doc_blob == b""


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=200))
def test_varbyte_encode_all_offsets_slice_per_value(vals):
    """The whole-array encoder's csum slices each value's bytes exactly as
    the scalar encoder would emit them."""
    from fts_engine_spark.codec import varbyte_encode_all

    arr = np.array(vals, dtype=np.uint64)
    packed, csum = varbyte_encode_all(arr)
    assert len(csum) == len(arr) + 1
    blob = packed.tobytes()
    for i, v in enumerate(vals):
        one = varbyte_encode(np.array([v], dtype=np.uint64))
        assert blob[csum[i] : csum[i + 1]] == one


# ---- batch doc-blob decoder (codec.decode_doc_blobs): every posting of an
# Arrow column of lists in one pass, against per-list decode_postings


@st.composite
def _posting_lists(draw):
    """Encoded (shard, doc ids, tfs) lists (some empty, some with wide
    deltas), an Arrow blob type, a slice of the rows and a batch size."""
    lists = []
    for _ in range(draw(st.integers(min_value=0, max_value=12))):
        shard = draw(st.integers(min_value=0, max_value=5))
        base = shard * 2**40
        docs = sorted(
            draw(st.sets(st.integers(min_value=0, max_value=2**40 - 1), max_size=30))
        )
        tfs = draw(
            st.lists(st.integers(1, 2**20), min_size=len(docs), max_size=len(docs))
        )
        enc = encode_postings(np.array(docs, dtype=np.int64) + base,
                              np.array(tfs, dtype=np.int64), base_doc=base)
        lists.append((base, enc))
    lo = draw(st.integers(min_value=0, max_value=len(lists)))
    hi = draw(st.integers(min_value=lo, max_value=len(lists)))
    typ = draw(st.sampled_from([pa.binary(), pa.large_binary()]))
    return lists, typ, lo, hi, draw(st.integers(min_value=1, max_value=5))


@settings(max_examples=150, deadline=None)
@given(_posting_lists())
def test_decode_doc_blobs_matches_per_list_decode(case):
    """Sliced arrays, empty lists, both binary widths, several batches:
    the batch decoder yields exactly the per-list doc ids, and
    varbyte_decode_binary the per-list tfs back to back."""
    lists, typ, lo, hi, batch = case
    docs = pa.array([e.doc_blob for _, e in lists], typ).slice(lo, hi - lo)
    tfs = pa.array([e.tf_blob for _, e in lists], typ).slice(lo, hi - lo)
    bases = np.array([b for b, _ in lists], dtype=np.int64)[lo:hi]
    table = pa.table({"doc": docs, "tf": tfs})
    seen = 0
    for rb in table.to_batches(max_chunksize=batch):
        n = rb.num_rows
        row, doc = decode_doc_blobs(rb.column("doc"), bases[seen : seen + n])
        want = [
            decode_postings(e.doc_blob, e.tf_blob, b)
            for b, e in lists[lo + seen : lo + seen + n]
        ]
        assert row.tolist() == [i for i, (d, _) in enumerate(want) for _ in d]
        assert doc.tolist() == [int(x) for d, _ in want for x in d]
        assert varbyte_decode_binary(rb.column("tf")).tolist() == [
            int(x) for _, t in want for x in t
        ]
        seen += n
    assert seen == hi - lo


def test_decode_doc_blobs_rejects_an_unterminated_blob():
    """A blob whose last byte carries the continuation bit would run into
    the next row's values; the decoder refuses it instead of truncating."""
    good = encode_postings(np.array([3, 900]), np.array([1, 1])).doc_blob
    arr = pa.array([good, good[:-1] + b"\x81", good])
    with pytest.raises(ValueError, match="terminator"):
        decode_doc_blobs(arr, np.zeros(3, dtype=np.int64))
    # the same blobs without the bad row decode
    row, doc = decode_doc_blobs(arr.take([0, 2]), np.array([0, 10]))
    assert row.tolist() == [0, 0, 1, 1] and doc.tolist() == [3, 900, 13, 910]


# ---- shared sort-group-encode core (build._flat_encoder — behind both the
# batch build's doc encoder and the compaction re-encode): byte-identity
# with the per-group reference path for postings in ANY order


@st.composite
def _posting_stream(draw):
    """(shard, term, doc) postings with tf/dl, shuffled, plus an output
    chunk bound (in groups)."""
    n_groups = draw(st.integers(min_value=1, max_value=12))
    rows = []
    shard, term_i = 0, 0
    for _ in range(n_groups):
        if draw(st.booleans()):
            shard += draw(st.integers(min_value=0, max_value=1))
        term_i += draw(st.integers(min_value=1, max_value=3))
        size = draw(st.integers(min_value=1, max_value=40))
        docs = sorted(
            draw(
                st.sets(
                    st.integers(min_value=shard * 64, max_value=shard * 64 + 63),
                    min_size=1,
                    max_size=min(size, 64),
                )
            )
        )
        for d in docs:
            rows.append((f"t{term_i:04d}", shard, d,
                         draw(st.integers(1, 9)), draw(st.integers(1, 500))))
    rows.sort(key=lambda r: (r[1], r[0], r[2]))
    shuffled = draw(st.permutations(rows))
    return rows, shuffled, draw(st.integers(min_value=1, max_value=5))


@settings(max_examples=60, deadline=None)
@given(_posting_stream())
def test_arrow_encoder_matches_per_group_reference(stream):
    import pyarrow as pa

    from fts_engine_spark.build import _flat_encoder
    from fts_engine_spark.codec import varbyte_encode

    rows, shuffled, group_chunk = stream
    shard_size, skip = 64, 8

    t, s, d, tf, dl = (np.array(c) for c in zip(*shuffled))
    denc = pa.array(t, type=pa.string()).dictionary_encode()
    enc = _flat_encoder(shard_size, skip, group_chunk=group_chunk)
    got = {}
    order = []
    for rb in enc(
        denc.indices.to_numpy().astype(np.int64), denc.dictionary,
        s.astype(np.int64), d.astype(np.int64), tf.astype(np.int64),
        dl.astype(np.int64),
    ):
        assert rb.num_rows <= group_chunk
        for r in rb.to_pylist():
            got[(r["term"], r["shard_id"])] = r
            order.append((r["shard_id"], r["term"]))
    # groups come out in (shard, term STRING) order across chunks
    assert order == sorted(order)

    # reference: encode_postings per (shard, term) group
    from itertools import groupby

    expected_keys = set()
    for (s, t), grp in groupby(rows, key=lambda r: (r[1], r[0])):
        g = list(grp)
        expected_keys.add((t, s))
        d = np.array([r[2] for r in g], dtype=np.int64)
        tf = np.array([r[3] for r in g], dtype=np.int64)
        dl = np.array([r[4] for r in g], dtype=np.int64)
        ref = encode_postings(d, tf, base_doc=s * shard_size, skip=skip)
        r = got[(t, s)]
        assert r["count"] == ref.count
        assert r["tf_sum"] == int(tf.sum())
        assert bytes(r["doc_blob"]) == ref.doc_blob
        assert bytes(r["tf_blob"]) == ref.tf_blob
        assert bytes(r["dl_blob"]) == varbyte_encode(dl)
        assert r["skip_last_doc"] == ref.skip_last_doc.tolist()
        assert r["skip_max_tf"] == ref.skip_max_tf.tolist()
        assert r["skip_doc_off"] == ref.skip_doc_off.tolist()
        assert r["skip_tf_off"] == ref.skip_tf_off.tolist()
        assert (
            r["skip_dl_off"]
            == _block_byte_offsets(dl.astype(np.uint64), skip).tolist()
        )
    assert set(got) == expected_keys


# ---- production doc-row encoder (build._make_doc_encoder): byte-identity
# with the per-group reference path for arbitrary doc order and batch cuts


@st.composite
def _doc_stream(draw):
    """Document rows (shard, doc, dl, pairs) in arbitrary order + batch cuts."""
    n_docs = draw(st.integers(min_value=1, max_value=40))
    vocab = [f"t{i:03d}" for i in range(12)]
    rows = []
    used = set()
    for _ in range(n_docs):
        shard = draw(st.integers(min_value=0, max_value=2))
        doc = draw(st.integers(min_value=shard * 16, max_value=shard * 16 + 15))
        if doc in used:
            continue
        used.add(doc)
        terms = draw(
            st.lists(st.sampled_from(vocab), min_size=1, max_size=6, unique=True)
        )
        pairs = [(t, draw(st.integers(1, 9))) for t in terms]
        dl = sum(tf for _, tf in pairs)
        rows.append((shard, doc, dl, pairs))
    if not rows:
        rows.append((0, 0, 1, [("t000", 1)]))
    perm = draw(st.permutations(range(len(rows))))
    rows = [rows[i] for i in perm]
    n = len(rows)
    n_cuts = draw(st.integers(min_value=0, max_value=min(3, n - 1)))
    cuts = sorted(
        draw(st.sets(st.integers(1, n - 1), min_size=n_cuts, max_size=n_cuts))
    ) if n > 1 else []
    return rows, cuts


@settings(max_examples=60, deadline=None)
@given(_doc_stream())
def test_doc_encoder_matches_per_group_reference(stream):
    import pyarrow as pa

    from fts_engine_spark.build import _make_doc_encoder

    rows, cuts = stream
    shard_size, skip = 16, 4

    def make_batch(chunk):
        return pa.RecordBatch.from_arrays(
            [
                pa.array([r[0] for r in chunk], type=pa.int64()),
                pa.array([r[1] for r in chunk], type=pa.int64()),
                pa.array([r[2] for r in chunk], type=pa.int64()),
                pa.array(
                    [[{"term": t, "tf": f} for t, f in r[3]] for r in chunk],
                    type=pa.list_(
                        pa.struct([("term", pa.string()), ("tf", pa.int32())])
                    ),
                ),
            ],
            names=["shard_id", "doc_id", "dl", "pairs"],
        )

    bounds = [0, *cuts, len(rows)]
    batches = [make_batch(rows[a:b]) for a, b in zip(bounds, bounds[1:]) if b > a]
    enc = _make_doc_encoder(shard_size, skip, group_chunk=7)
    got = {}
    prev_key = None
    for rb in enc(iter(batches)):
        for r in rb.to_pylist():
            k = (r["shard_id"], r["term"])
            # output groups must be sorted by (shard, term string)
            assert prev_key is None or prev_key < k
            prev_key = k
            got[(r["term"], r["shard_id"])] = r

    from collections import defaultdict

    groups = defaultdict(list)
    for shard, doc, dl, pairs in rows:
        for t, f in pairs:
            groups[(t, shard)].append((doc, f, dl))
    for (t, s), g in groups.items():
        g.sort()
        d = np.array([x[0] for x in g], dtype=np.int64)
        tf = np.array([x[1] for x in g], dtype=np.int64)
        dl = np.array([x[2] for x in g], dtype=np.int64)
        ref = encode_postings(d, tf, base_doc=s * shard_size, skip=skip)
        r = got[(t, s)]
        assert r["count"] == ref.count
        assert r["tf_sum"] == int(tf.sum())
        assert bytes(r["doc_blob"]) == ref.doc_blob
        assert bytes(r["tf_blob"]) == ref.tf_blob
        assert bytes(r["dl_blob"]) == varbyte_encode(dl)
        assert r["skip_last_doc"] == ref.skip_last_doc.tolist()
        assert r["skip_max_tf"] == ref.skip_max_tf.tolist()
        assert r["skip_doc_off"] == ref.skip_doc_off.tolist()
        assert r["skip_tf_off"] == ref.skip_tf_off.tolist()
        assert (
            r["skip_dl_off"]
            == _block_byte_offsets(dl.astype(np.uint64), skip).tolist()
        )
    assert set(got) == set(groups)
