"""Property tests for the compaction renumbering (compact.remap_ids):
random shard geometry, occupancy gaps (delta shards) and delete sets —
the remap must equal "rank among live ids in old-id order", stay
monotone, and produce a dense id space. Pure numpy; no Spark session."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from fts_engine_spark.streaming.compact import remap_ids


@st.composite
def _scenario(draw):
    """A plausible index id space: full prefix shards, then tail shards
    that are each contiguous-from-base but possibly under-filled (the
    delta-shard invariant), plus a dead subset of the tail."""
    shard_size = draw(st.sampled_from([4, 8, 16, 64]))
    n_full = draw(st.integers(0, 3))
    n_tail = draw(st.integers(1, 5))
    occ = {}
    for s in range(n_full):
        occ[s] = shard_size
    tail_shards = []
    for i in range(n_tail):
        s = n_full + draw(st.integers(0, 1)) + (tail_shards[-1] - n_full + 1 if tail_shards else 0)
        fill = draw(st.integers(1, shard_size))
        occ[s] = fill
        tail_shards.append(s)
    ids = []
    for s, fill in occ.items():
        ids.extend(range(s * shard_size, s * shard_size + fill))
    ids = np.array(sorted(ids), dtype=np.int64)
    # dead subset drawn from the TAIL only (delete_documents can hit the
    # prefix, but compact_index then lowers P so those shards become tail
    # — remap_ids is always called with P at or below the first dead id)
    tail_ids = ids[ids >= n_full * shard_size]
    n_dead = draw(st.integers(0, max(0, len(tail_ids) - 1)))
    dead_idx = draw(
        st.sets(
            st.integers(0, len(tail_ids) - 1), min_size=n_dead, max_size=n_dead
        )
    ) if len(tail_ids) else set()
    dead = np.array(sorted(int(tail_ids[i]) for i in dead_idx), dtype=np.int64)
    return shard_size, n_full, occ, ids, dead


@given(_scenario())
@settings(max_examples=300, deadline=None)
def test_remap_is_rank_among_live(scenario):
    shard_size, P, occ, ids, dead = scenario
    base = P * shard_size
    shift_arr = np.zeros(
        (max(s for s in occ) if occ else 0) - P + 1, dtype=np.int64
    )
    acc = base
    for s in sorted(s for s in occ if s >= P):
        shift_arr[s - P] = acc - s * shard_size
        acc += occ[s]

    live = ids[~np.isin(ids, dead)]
    got = remap_ids(live, P, shard_size, shift_arr, dead)

    # ground truth: prefix unchanged; live tail ids renumber densely from
    # base in old order
    want = live.copy()
    tail_mask = live >= base
    want[tail_mask] = base + np.arange(int(tail_mask.sum()))
    assert np.array_equal(got, want)
    # monotone + dense by construction
    assert np.all(np.diff(got) > 0)
    assert got[-1] == len(live) - 1 if P == 0 else True


@given(_scenario())
@settings(max_examples=300, deadline=None)
def test_remap_subset_consistency(scenario):
    """Remapping any subset of the live ids gives the same values as
    remapping all of them — the property that lets the postings kernel
    (per-shard slices) and the docs rewrite (arbitrary partitions) share
    the function without coordination."""
    shard_size, P, occ, ids, dead = scenario
    base = P * shard_size
    shift_arr = np.zeros(
        (max(s for s in occ) if occ else 0) - P + 1, dtype=np.int64
    )
    acc = base
    for s in sorted(s for s in occ if s >= P):
        shift_arr[s - P] = acc - s * shard_size
        acc += occ[s]
    live = ids[~np.isin(ids, dead)]
    full = dict(
        zip(
            live.tolist(),
            remap_ids(live, P, shard_size, shift_arr, dead).tolist(),
        )
    )
    subset = live[::2]
    got = remap_ids(subset, P, shard_size, shift_arr, dead)
    assert got.tolist() == [full[i] for i in subset.tolist()]

def _shift_arr(occ: dict, P: int, shard_size: int) -> np.ndarray:
    shift_arr = np.zeros(max(occ) - P + 1, dtype=np.int64)
    acc = P * shard_size
    for s in sorted(s for s in occ if s >= P):
        shift_arr[s - P] = acc - s * shard_size
        acc += occ[s]
    return shift_arr


@st.composite
def _tail_batches(draw):
    """A ``_scenario`` id space plus encoded posting rows over its tail
    shards (random sorted doc subsets, tf/dl), cut into batches that are
    SLICES of one larger Arrow batch — every slice has a non-zero offset
    into shared binary buffers."""
    import pyarrow as pa

    from fts_engine_spark.codec import encode_postings, varbyte_encode

    shard_size, P, occ, ids, dead = draw(_scenario())
    rows = []
    for s in sorted(x for x in occ if x >= P):
        in_shard = ids[(ids >= s * shard_size) & (ids < (s + 1) * shard_size)]
        for t in range(draw(st.integers(1, 3))):
            docs = np.array(sorted(draw(st.sets(
                st.sampled_from(in_shard.tolist()), min_size=1))))
            tf = np.array(draw(st.lists(
                st.integers(1, 300), min_size=len(docs), max_size=len(docs))))
            dl = np.array(draw(st.lists(
                st.integers(1, 70000), min_size=len(docs), max_size=len(docs))))
            rows.append((s, f"t{t}", docs, tf, dl))
    encoded = [
        (s, t, encode_postings(d, tf, base_doc=s * shard_size), varbyte_encode(dl))
        for s, t, d, tf, dl in rows
    ]
    pad = encoded[:1]  # sliced off below: shifts every offset by one row
    full = pa.RecordBatch.from_arrays(
        [
            pa.array([e[0] for e in pad + encoded], type=pa.int64()),
            pa.array([e[1] for e in pad + encoded]),
            pa.array([e[2].count for e in pad + encoded], type=pa.int32()),
            pa.array([e[2].doc_blob for e in pad + encoded], type=pa.binary()),
            pa.array([e[2].tf_blob for e in pad + encoded], type=pa.binary()),
            pa.array([e[3] for e in pad + encoded], type=pa.binary()),
        ],
        names=["shard_id", "term", "count", "doc_blob", "tf_blob", "dl_blob"],
    )
    n = len(rows)
    cuts = sorted(draw(st.sets(st.integers(1, max(1, n - 1)), max_size=3)))
    bounds = [0, *[c for c in cuts if c < n], n]
    batches = [full.slice(1 + a, b - a) for a, b in zip(bounds, bounds[1:]) if b > a]
    return shard_size, P, occ, dead, rows, batches


@given(_tail_batches())
@settings(max_examples=150, deadline=None)
def test_tail_decoder_matches_per_row_decode(case):
    """compact._make_tail_decoder (one varbyte pass per batch over the
    Arrow buffers, segmented cumsum over ``count``) equals the per-row
    reference: ``decode_postings`` per row, tombstones dropped,
    ``remap_ids`` applied — every posting, in order, on the right new
    shard."""
    from types import SimpleNamespace

    from fts_engine_spark.codec import decode_postings, encode_postings
    from fts_engine_spark.streaming.compact import _make_tail_decoder

    shard_size, P, occ, dead, rows, batches = case
    shift_arr = _shift_arr(occ, P, shard_size)
    decode = _make_tail_decoder(
        P, shard_size, shift_arr, SimpleNamespace(value=dead)
    )
    got: dict = {}
    for rb in decode(iter(batches)):
        for r in rb.to_pylist():
            assert all(i // shard_size == r["shard_id"] for i in r["doc_id"])
            got.setdefault((r["term"], r["shard_id"]), []).extend(
                zip(r["doc_id"], r["tf"], r["dl"])
            )
    want: dict = {}
    for s, t, docs, tf, dl in rows:
        enc = encode_postings(docs, tf, base_doc=s * shard_size)
        d, tf_dec = decode_postings(enc.doc_blob, enc.tf_blob, base_doc=s * shard_size)
        keep = ~np.isin(d, dead)
        new = remap_ids(d[keep], P, shard_size, shift_arr, dead)
        for i, f, n in zip(new, tf_dec[keep], dl[keep]):
            want.setdefault((t, int(i) // shard_size), []).append(
                (int(i), int(f), int(n))
            )
    assert got == want
