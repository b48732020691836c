"""Wall time and peak memory of ``layout.merge_terms`` in each envelope,
on a synthetic dictionary.

    python3 tools/dict_merge_envelope.py gen --rows 5000000 --dir /tmp/dm5m
    python3 tools/dict_merge_envelope.py run --dir /tmp/dm5m --envelope driver
    python3 tools/dict_merge_envelope.py run --dir /tmp/dm5m --envelope spark

``gen`` writes a live terms table of ``0.8·rows`` terms (``terms_v1``,
sorted, two files) and a terms-table delta of ``0.2·rows`` rows, half of
them live terms and half new ones (``delta``). A term is a unique
6-letter stem plus a random suffix whose length has mean
``--mean-len − 6``. ``run`` starts a ``local[4]`` session with a 2 GiB
JVM driver (the benchmark's shape), forces the envelope by setting
``layout.DRIVER_MERGE_MAX_BYTES``, merges ``--reps`` times and prints one JSON
line: the input rows, each rep's wall time, ``py_peak_mb`` (the Python
process's peak RSS during the merges less its RSS before them),
``jvm_peak_mb`` (the JVM's peak RSS, start-up included) and the merged
rows. Run each envelope in its own process, one at a time, so the
peaks are not mixed.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_STEM = 6  # 26**6 stems: unique terms up to 308M


def _terms(ids, mean_len: int, rng):
    """Unique strings for the distinct ints ``ids``: the base-26 stem of
    the id plus a random lowercase suffix."""
    import numpy as np
    import pyarrow as pa

    n = len(ids)
    span = max(0, 2 * (mean_len - _STEM))
    lens = _STEM + rng.integers(0, span + 1, n)
    chars = rng.integers(97, 123, (n, _STEM + span), dtype=np.uint8)
    rem = np.asarray(ids, dtype=np.int64)
    for j in range(_STEM - 1, -1, -1):
        chars[:, j] = 97 + rem % 26
        rem //= 26
    data = chars[np.arange(_STEM + span)[None, :] < lens[:, None]]
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(data.tobytes())
    )


def gen(rows: int, out: str, mean_len: int, seed: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_live = rows * 4 // 5
    n_new = (rows - n_live) // 2
    universe = rng.permutation(n_live + n_new)
    live_ids = universe[:n_live]
    delta_ids = np.concatenate([
        rng.choice(live_ids, rows - n_live - n_new, replace=False),
        universe[n_live:],
    ])
    terms = _terms(np.arange(len(universe)), mean_len, rng)
    for name, ids, top in (("terms_v1", live_ids, 100), ("delta", delta_ids, 5)):
        df = rng.integers(1, top + 1, len(ids))
        table = pa.table({
            "term": terms.take(pa.array(ids)),
            "df": pa.array(df, pa.int64()),
            "cf": pa.array(df + rng.integers(0, top + 1, len(ids)), pa.int64()),
        }).sort_by("term")
        os.makedirs(os.path.join(out, name))
        half = table.num_rows // 2
        for i, (lo, hi) in enumerate(((0, half), (half, table.num_rows))):
            pq.write_table(
                table.slice(lo, hi - lo),
                os.path.join(out, name, f"part-{i:05d}.parquet"),
                compression="snappy",
            )
    print(json.dumps({"rows": rows, "mean_len": mean_len, "dir": out}))


def _rss_mb(pid: str = "self", field: str = "VmRSS") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def run(index_dir: str, envelope: str, reps: int) -> None:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from fts_engine_spark import layout
    from fts_engine_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions="8")
    jvm = str(spark.sparkContext._gateway.proc.pid)
    layout.DRIVER_MERGE_MAX_BYTES = 1 << 62 if envelope == "driver" else 0
    meta = {"terms_dir": "terms_v1", "table_version": 1}
    delta = layout.TermDelta(os.path.join(index_dir, "delta"), "terms")
    rows = sum(
        layout._dataset(p, "terms").count_rows()
        for p in (os.path.join(index_dir, "terms_v1"), delta.path)
    )
    base = _rss_mb()
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        layout.merge_terms(spark, index_dir, meta, [delta])
        walls.append(round(time.perf_counter() - t0, 3))
    peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    out_rows = layout._dataset(
        os.path.join(index_dir, "terms_v2"), "terms"
    ).count_rows()
    print(json.dumps({
        "rows": rows, "envelope": envelope, "wall_s": walls,
        "py_peak_mb": round(peak - base, 1),
        "jvm_peak_mb": round(_rss_mb(jvm, "VmHWM"), 1),
        "out_rows": out_rows,
    }))
    spark.stop()


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    g = sub.add_parser("gen")
    g.add_argument("--rows", type=int, required=True)
    g.add_argument("--dir", required=True)
    g.add_argument("--mean-len", type=int, default=9)
    g.add_argument("--seed", type=int, default=0)
    r = sub.add_parser("run")
    r.add_argument("--dir", required=True)
    r.add_argument("--envelope", choices=("driver", "spark"), required=True)
    r.add_argument("--reps", type=int, default=2)
    a = ap.parse_args(argv)
    if a.cmd == "gen":
        gen(a.rows, a.dir, a.mean_len, a.seed)
    else:
        run(a.dir, a.envelope, a.reps)


if __name__ == "__main__":
    main()
