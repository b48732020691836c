"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it records the run's shape (nproc, seed,
pyspark version, host steal, sample counts). Spans of a traced run are
written to ``perfbench/.work/traces/`` at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _prepare_env(work: str) -> None:
    """Keep every file Spark and its workers write inside ``work``, and
    make the checkout importable by the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "tools", "gen_corpus.py")):
        _fail("tools/gen_corpus.py not found: run from a full checkout")
    sys.path.insert(0, ROOT)
    try:
        import fts_engine_spark  # noqa: F401
        import pyspark
    except ImportError as e:
        _fail(f"cannot import the program under test: {e}")

    from perfbench import host, sparkctl, workloads
    from perfbench.spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
    spec = _spec()
    make_inputs, run = workloads.WORKLOADS[args.workload]

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    tracer = Tracer(bool(args.trace))
    try:
        t0 = time.perf_counter()
        inp = make_inputs(args.seed, work)
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tracer.span("session.start", op="session"):
            spark, conf = sparkctl.start(work)
        session_s = time.perf_counter() - t0
        ctx = workloads.Ctx(
            spark=spark, tracer=tracer, jobs=sparkctl.JobGroups(spark),
            work=work, seconds=args.seconds,
            trace=bool(args.trace), host=host.HostWindow(),
        )
        ctx.info.update(
            workload=args.workload, seed=args.seed, nproc=sparkctl.nproc(),
            pyspark=pyspark.__version__, spark_conf=conf, inputs_s=inputs_s,
            session_s=session_s,
        )
        try:
            t0 = time.perf_counter()
            run(ctx, inp)
            ctx.info["workload_s"] = time.perf_counter() - t0
        finally:
            # peak RSS of driver + JVM + workers, read before they exit
            ctx.layer["host.rss_peak_mb"] = host.rss_peak_mb()
            t0 = time.perf_counter()
            sparkctl.stop(spark)
            ctx.info["stop_s"] = time.perf_counter() - t0

        if args.trace:
            n_spans = len(tracer.spans())
            per_span = tracer.cost_per_span_s()
            ctx.layer["trace.spans"] = n_spans
            ctx.layer["trace.overhead_pct"] = (
                100.0 * n_spans * per_span / ctx.info["window_s"]
            )
            trace_dir = os.path.join(HERE, ".work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
            tracer.dump(path)
            ctx.info["trace_file"] = os.path.relpath(path, ROOT)
            wanted, values = spec["per_layer"], ctx.layer
        else:
            wanted, values = spec["end_to_end"], ctx.e2e
        ctx.info["host_steal_pct"] = ctx.layer.get("host.steal_pct")
        metrics, unmeasured = {}, {}
        for m in wanted:
            name = m["name"]
            if name in values:
                metrics[name] = {"value": float(values[name]), "unit": m["unit"]}
            elif not args.trace:
                raise RuntimeError(f"workload {args.workload} did not measure {name}")
            else:
                # no work of this layer in this workload: report 0 and why
                metrics[name] = {"value": 0.0, "unit": m["unit"]}
                unmeasured[name] = next(
                    (why for pat, why in ctx.notes.items()
                     if name == pat or (pat.endswith("*") and name.startswith(pat[:-1]))),
                    "no work of this layer in this workload",
                )
        if unmeasured:
            ctx.info["unmeasured"] = unmeasured
        if ctx.errors:
            ctx.info["errors"] = ctx.errors[:20]
        print(json.dumps({"info": ctx.info}, default=str))
        print(
            json.dumps(
                {
                    "correct": ctx.failed == 0,
                    "attempted": ctx.attempted,
                    "failed": ctx.failed,
                    "metrics": metrics,
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
