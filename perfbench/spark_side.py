"""Spark session lifecycle, between-op hygiene and status-store reads.

The environment is fixed here before the first JVM starts: one task
slot per usable core, a driver heap that fits the host, and every file
Spark or its Python workers write kept under the run's work directory.
"""

from __future__ import annotations

import gc
import os
import shlex
import sys
import time

import procs
from measure import STAGE_FIELDS, fold_stages


def configure_env(root: str, run_dir: str) -> None:
    """Environment for the JVM and the Python workers (read at launch)."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    mem_mb = min(2048, procs.mem_total_mb() // 4)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(procs.cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # workers import crysda_spark by module path
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options",
            # no JVM hsperfdata files: everything stays in run_dir
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(
                f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
            "pyspark-shell"]),
    })


def start_session(load_tables) -> tuple[object, dict]:
    """One set-up: JVM launch and session, table load, first action.
    ``load_tables(spark)`` registers the workload's inputs."""
    from crysda_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    try:
        load_tables(spark)
        t2 = time.perf_counter()
        spark.sql("SELECT 1 AS one").collect()
        t3 = time.perf_counter()
    except BaseException:
        stop_session(spark)
        raise
    return spark, {"session.start_s": t1 - t0,
                   "sources.table_load_s": t2 - t1,
                   "session.first_action_s": t3 - t2,
                   "setup_s": t3 - t0}


def stop_session(spark) -> None:
    """Stop the session, end its JVM and wait for every process it
    started (Python workers included) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    started = procs.descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()   # the gateway JVM exits on stdin EOF
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    procs.wait_gone(started)


def cleanup(spark) -> int:
    """Between-op hygiene: release pinned intermediates, drop cached
    tables, collect garbage on both sides. Returns the pins released."""
    from crysda_spark.plans.cache import pinned_count, release_pinned
    pins = pinned_count()
    release_pinned()
    spark.catalog.clearCache()
    gc.collect()
    spark._jvm.System.gc()
    return pins


def conf_record(spark) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        "java": spark._jvm.System.getProperty("java.version"),
        "spark": spark.version,
    }


class StageReader:
    """Per-op execution deltas from Spark's status store: the jobs of a
    job group, their stages, and each stage's task metrics. A stage
    already counted for an earlier op counts as skipped (reused)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self.seen_jobs: set[int] = set()
        self.seen_stages: set[int] = set()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def new_jobs(self, group: str) -> list[int]:
        jobs = sorted(set(self.tracker.getJobIdsForGroup(group))
                      - self.seen_jobs)
        self.seen_jobs.update(jobs)
        return jobs

    def delta(self, jobs: list[int]) -> dict:
        stages = []
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                st = self.store.lastStageAttempt(sid)
                if sid in self.seen_stages or \
                        st.status().toString() == "SKIPPED":
                    stages.append({"skipped": True})
                    continue
                self.seen_stages.add(sid)
                stages.append({v: getattr(st, k)()
                               for k, v in STAGE_FIELDS.items()})
        out = fold_stages(stages)
        out["jobs"] = len(jobs)
        return out
