"""Alternating A/B runs of ``perfbench`` for two git revisions.

    python3 tools/ab_perfbench.py --base HEAD~1 --change HEAD \
        --workloads serve,ingest --seeds 11-20 --work /tmp/ab

Both revisions are exported (``git archive``: committed files only, the
tree the benchmark itself sees) into ``<work>/base`` and ``<work>/change``
and run from there, one ``perfbench/run.py --trace 0`` process at a time.
For seed i the side that runs first alternates (base first on even
positions), so host drift over the session falls on both sides alike.
Every run's last JSON line is kept in ``<work>/runs.jsonl``; a rerun
with the same ``--work`` skips the (revision, workload, seed) triples
already recorded there.

For every end-to-end metric of ``BENCHMARK.json`` and every workload the
report gives each side's median and quartiles, the change's wins
out of the pairs run (ties count for neither side), and a verdict:

- ``gain``: the change wins at least 9/10 of the pairs and the medians
  differ, in the better direction, by more than the base's IQR;
- ``no regression``: the change's median is no worse than the base's by
  more than the metric's bound (relative to the base median) and both
  sides' IQRs are within that bound;
- ``unresolved``: an IQR exceeds the bound, so "unchanged" cannot be
  told apart from noise — unless every change run reads better than
  every base run, which counts as no regression;
- ``regression``: worse than the bound allows.

It also prints the failed-op share per side, each ingest pair's
upsert+compaction ``cycles`` (from the run's ``info`` line, kept in
``runs.jsonl``; a faster side can fit one more cycle in the window),
flagging pairs whose counts differ, and, under ``work_per_s``,
each side's time per unit of work (``1 / work_per_s``: seconds per page
on ingest, per query on serve). Work is a rate, so a change that runs
faster spreads wider in it by 1/T scaling alone; the time per unit shows
whether an "unresolved" verdict comes from that. The verdict rule does
not use it. The tool only reads
``perfbench/`` and ``BENCHMARK.json`` of each exported tree.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _export(rev: str, dest: str) -> str:
    """Committed files of ``rev`` under ``dest`` (reused when present)."""
    sha = subprocess.check_output(
        ["git", "-C", ROOT, "rev-parse", rev], text=True
    ).strip()
    if not os.path.isfile(os.path.join(dest, ".rev")):
        os.makedirs(dest, exist_ok=True)
        with tempfile.TemporaryFile() as tar:
            subprocess.check_call(
                ["git", "-C", ROOT, "archive", "--format=tar", sha], stdout=tar
            )
            tar.seek(0)
            with tarfile.open(fileobj=tar) as tf:
                tf.extractall(dest)
        with open(os.path.join(dest, ".rev"), "w") as f:
            f.write(sha)
    return sha


def _run(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """The run's result line, with its ``info`` line (when printed) under
    the ``info`` key."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        tail = (proc.stderr or proc.stdout)[-2000:]
        raise RuntimeError(f"{workload} seed {seed} in {tree} failed:\n{tail}")
    res = json.loads(lines[-1])
    for ln in lines[:-1]:
        res.update(info=json.loads(ln).get("info", {}))
    return res


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def _cell(xs: list[float]) -> str:
    """``median (q1-q3)`` of one side's runs."""
    q1, q3 = _quartiles(xs)
    return f"{statistics.median(xs):.4g} ({q1:.4g}-{q3:.4g})"


def per_unit(work: list[float]) -> list[float]:
    """Time per unit of work of each run of a ``work_per_s`` metric."""
    return [1.0 / w for w in work]


def verdict(
    base: list[float], change: list[float], better: str, bound: float
) -> tuple[str, int]:
    """(verdict, change wins) for paired runs of one metric and workload;
    ``base[i]`` and ``change[i]`` share a seed."""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(sign * (c - b) > 0 for b, c in zip(base, change))
    mb, mc = statistics.median(base), statistics.median(change)
    q1, q3 = _quartiles(base)
    if wins * 10 >= 9 * len(base) and sign * (mc - mb) > q3 - q1:
        return "gain", wins
    limit = bound * abs(mb)
    if sign * (mc - mb) < -limit:
        return "regression", wins
    c1, c3 = _quartiles(change)
    if max(q3 - q1, c3 - c1) > limit:
        all_better = (
            min(change) > max(base) if sign > 0 else max(change) < min(base)
        )
        return ("no regression" if all_better else "unresolved"), wins
    return "no regression", wins


def cycle_pairs(
    seeds: list[int], base: list[dict], change: list[dict]
) -> tuple[list[str], list[int]]:
    """``seed base/change`` cells of each pair's ingest ``info.cycles``
    (``?`` where a run kept no info line), and the seeds whose two runs
    did unequal numbers of cycles: their end-to-end metrics describe
    unequal work."""
    cells, unequal = [], []
    for seed, b, c in zip(seeds, base, change):
        nb, nc = (r.get("info", {}).get("cycles", "?") for r in (b, c))
        cells.append(f"{seed} {nb}/{nc}")
        if "?" not in (nb, nc) and nb != nc:
            unequal.append(seed)
    return cells, unequal


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--workloads", default="serve,ingest")
    ap.add_argument("--seeds", default="1-10", help="e.g. 11-20 or 3,5,7")
    ap.add_argument("--work", required=True, help="scratch dir for trees and runs")
    args = ap.parse_args()

    trees = {
        side: os.path.join(args.work, side) for side in ("base", "change")
    }
    shas = {side: _export(getattr(args, side), trees[side]) for side in trees}
    with open(os.path.join(trees["base"], "BENCHMARK.json")) as f:
        spec = json.load(f)
    log = os.path.join(args.work, "runs.jsonl")
    done: dict[tuple[str, str, int], dict] = {}
    if os.path.isfile(log):
        with open(log) as f:
            for line in f:
                r = json.loads(line)
                done[(r["sha"], r["workload"], r["seed"])] = r["result"]
    workloads = args.workloads.split(",")
    seeds = _seeds(args.seeds)
    for i, seed in enumerate(seeds):
        for wl in workloads:
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                key = (shas[side], wl, seed)
                if key in done:
                    continue
                res = _run(trees[side], wl, seed, spec["run_seconds"])
                done[key] = res
                with open(log, "a") as f:
                    f.write(json.dumps(
                        {"sha": shas[side], "side": side, "workload": wl,
                         "seed": seed, "result": res}
                    ) + "\n")
                vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
                print(f"seed {seed} {wl} {side}: {vals}", flush=True)

    print(f"\nbase {shas['base'][:10]}  change {shas['change'][:10]}  "
          f"seeds {seeds[0]}..{seeds[-1]} ({len(seeds)} pairs)")
    for wl in workloads:
        runs = {
            side: [done[(shas[side], wl, s)] for s in seeds] for side in trees
        }
        fails = {
            side: sum(r["failed"] for r in rs) / max(1, sum(r["attempted"] for r in rs))
            for side, rs in runs.items()
        }
        print(f"\n[{wl}] failed-op share: base {fails['base']:.4f}, "
              f"change {fails['change']:.4f}")
        if wl == "ingest":
            cells, unequal = cycle_pairs(seeds, runs["base"], runs["change"])
            print("cycles (seed base/change): " + ", ".join(cells))
            if unequal:
                print(f"UNEQUAL cycles at seeds {unequal}: "
                      "index_bytes_per_text_byte and work_per_s of these "
                      "pairs compare unequal work")
        print(f"{'metric':26} {'base med (q1-q3)':>32} "
              f"{'change med (q1-q3)':>32} {'wins':>6}  verdict")
        for m in spec["end_to_end"]:
            b, c = (
                [float(r["metrics"][m["name"]]["value"]) for r in runs[side]]
                for side in ("base", "change")
            )
            v, wins = verdict(b, c, m["better"], float(m["bound"]))
            print(f"{m['name']:26} {_cell(b):>32} {_cell(c):>32} "
                  f"{wins:>3}/{len(seeds):<2}  {v}")
            if m["name"] == "work_per_s":
                print(f"{'  1/work_per_s (s)':26} {_cell(per_unit(b)):>32} "
                      f"{_cell(per_unit(c)):>32}")


if __name__ == "__main__":
    main()
