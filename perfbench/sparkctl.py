"""Spark session lifecycle and job accounting for the benchmark.

The Spark shape is pinned here and nowhere else: ``local[nproc]``,
``2 * nproc`` shuffle partitions, a 2 GiB driver, every scratch path
inside the benchmark's work directory. Job, stage and task counts are read
back through a job group and the ``StatusTracker``.
"""

from __future__ import annotations

import os
import time

from . import host


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start(work: str):
    """Start the session with the pinned shape; returns (spark, conf)."""
    from fts_engine_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    conf = {
        "master": f"local[{nproc()}]",
        "spark.sql.shuffle.partitions": str(2 * nproc()),
        "spark.driver.memory": "2g",
    }
    spark = get_spark(
        app_name="perfbench",
        master=conf["master"],
        shuffle_partitions=conf["spark.sql.shuffle.partitions"],
        extra_conf={
            "spark.driver.memory": conf["spark.driver.memory"],
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Dlog4j2.level=error -Djava.io.tmpdir={tmp}",
            # keep every job of a run countable through the status tracker
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return spark, conf


def stop(spark) -> None:
    """Stop the session, close the JVM gateway and wait until the JVM and
    every Python worker it started have exited."""
    from pyspark import SparkContext

    procs = host.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    for pid in procs:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
                time.sleep(0.05)
                break
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class JobGroups:
    """Tag the calling thread's Spark jobs with a group and count them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def set(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, group: str) -> dict:
        """jobs, stages, tasks and failed tasks of one group."""
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped stage: its shuffle output was reused
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed": failed}


def task_floor_ms(spark, reps: int = 15) -> float:
    """Median wall time of a 1-task no-op ``mapInArrow`` job: the fixed
    Spark + Python-worker cost every distributed task pays."""
    import statistics

    df = spark.range(1, numPartitions=1)
    job = df.mapInArrow(lambda it: it, df.schema)
    times = []
    for _ in range(reps + 2):
        t0 = time.perf_counter()
        job.collect()
        times.append(time.perf_counter() - t0)
    return 1000.0 * statistics.median(times[2:])
