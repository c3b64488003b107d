"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_verbs --seed 1 --seconds 10 --trace 0

Run from the repository root. One run is one fresh process:

1. generate the inputs into ``perfbench/.work/data`` if missing (once
   per checkout; the tables use a fixed data seed, ``--seed`` drives
   the op order and the CDC changesets);
2. set up: import, JVM and session, table load, first trivial action
   (``setup_s``);
3. warm up, untimed: olap_verbs and corpus_prep run every op once and
   check its result (DuckDB oracle or planted-truth assertions);
   cdc_upsert starts the stream and commits a few changesets;
4. measure a window of ``--seconds`` with tracing off;
5. with ``--trace 1``, measure a second, traced window and report the
   per-layer metrics, the tracing overhead, and write the span file;
6. cdc_upsert checks its final snapshot against a DuckDB replay of
   every changeset sent.

The last line of standard output is the result object. The run record
(host, config, every metric, failures, spans when traced) goes to
``perfbench/.work/results/``. ``--describe`` prints the workload and
metric catalogue.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import measure  # noqa: E402
import procs  # noqa: E402
from workloads import (CDC_BASE_ROWS, END_TO_END, PER_LAYER,  # noqa: E402
                       QUERY_SF, WORKLOADS, describe)

REQUIRED = ["crysda_spark/__init__.py", "__spark_entry__.py",
            "tools/check_oracle.py"]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs (sf 0.001), for the benchmark's tests")
    p.add_argument("--describe", action="store_true")
    args = p.parse_args(argv)
    if not args.describe and not args.workload:
        p.error("--workload is required")
    return args


def _git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None   # an exported checkout; tree_sha256 still identifies it
    with open(head) as fh:
        ref = fh.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as fh:
            return fh.read().strip()
    return None


def _tree_sha256() -> str:
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "crysda_spark", "**", "*.py"),
                             recursive=True)
                   + [os.path.join(ROOT, "__spark_entry__.py")]
                   + glob.glob(os.path.join(HERE, "*.py")))
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def end_to_end(win: dict, setup: dict, peak_mb: float) -> dict:
    lat = [r["lat"] for r in win["ops"] if r["ok"]]
    out = {
        "setup_s": setup["setup_s"],
        "ops_per_s": len(lat) / win["wall"],
        "op_p50_s": measure.median(lat),
        "peak_rss_mb": peak_mb,
    }
    if measure.supports_percentile(len(lat), 0.9):
        out["op_p90_s"] = measure.percentile(lat, 0.9)
    return out


def per_layer(workload, layers, setup, e2e, traced_e2e, error_share):
    m = {**layers, **setup}
    m["error_share"] = error_share
    for name, _, _, _ in END_TO_END:
        if name != "setup_s":
            m[f"trace.overhead.{name}"] = traced_e2e[name] / e2e[name] - 1
    absent = {n: f"not exercised by {workload}"
              for n, *_ in PER_LAYER if n not in m}
    return {n: m.get(n, 0.0) for n, *_ in PER_LAYER}, absent


def run(args, data_dir: str, run_dir: str, cdc_rows: int) -> tuple[dict, dict]:
    from drivers import CdcDriver, QueryDriver
    import spark_side
    spark_side.configure_env(ROOT, run_dir)
    host_start = procs.host_record()
    tracer = measure.Tracer() if args.trace else measure.NullTracer()
    t0 = time.perf_counter()
    import __spark_entry__  # noqa: F401  (imports pyspark and crysda_spark)
    import_s = time.perf_counter() - t0
    if args.workload == "cdc_upsert":
        driver = CdcDriver(args.seed, data_dir, run_dir, cdc_rows)
    else:
        driver = QueryDriver(args.workload, args.seed, data_dir)
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace}
    with tracer.span("run", workload=args.workload):
        with tracer.span("setup"):
            spark, setup = spark_side.start_session(driver.load_tables)
        setup["session.import_s"] = import_s
        setup["setup_s"] += import_s
        try:
            record["conf"] = spark_side.conf_record(spark)
            with tracer.span("check"):
                t0 = time.perf_counter()
                attempted, failed, notes = driver.check(spark)
                record["check_s"] = time.perf_counter() - t0
            with procs.RssSampler() as rss:
                win = driver.window(spark, args.seconds, measure.NullTracer())
            e2e = end_to_end(win, setup, rss.peak_mb)
            wins = [win]
            if args.trace:
                reader = spark_side.StageReader(spark)
                with procs.RssSampler() as rss:
                    twin = driver.window(spark, args.seconds, tracer, reader)
                traced_e2e = end_to_end(twin, setup, rss.peak_mb)
                layers = driver.layer_metrics(twin, procs.cpu_count())
                wins.append(twin)
            a, f, n = driver.finish(spark)
            attempted, failed, notes = attempted + a, failed + f, notes + n
        finally:
            spark_side.stop_session(spark)
    for w in wins:
        attempted += len(w["ops"])
        bad = [r for r in w["ops"] if not r["ok"]]
        failed += len(bad)
        notes += [f"{r['name']}: {r['error']}" for r in bad]
    record.update(
        host={"start": host_start, "end": procs.host_record()},
        versions=_versions(), git_commit=_git_commit(),
        tree_sha256=_tree_sha256(), setup=setup, end_to_end=e2e,
        window=win,
        attempted=attempted, failed=failed, failures=notes)
    metrics = {n: {"value": e2e[n], "unit": u} for n, u, _, _ in END_TO_END}
    if args.trace:
        values, absent = per_layer(args.workload, layers, setup, e2e,
                                   traced_e2e, failed / attempted)
        units = {n: u for n, u, *_ in PER_LAYER}
        metrics = {n: {"value": v, "unit": units[n]} for n, v in values.items()}
        record.update(traced_end_to_end=traced_e2e, per_layer=values,
                      absent=absent, spans=tracer.spans,
                      self_time_s=measure.self_time_by_name(tracer.spans))
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, record


def _versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark
    return {"pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "pyarrow": pyarrow.__version__}


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.describe:
        print(json.dumps(describe(), indent=1))
        return 0
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program under test is missing: {missing}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work")
    for stale in glob.glob(os.path.join(work, "run-*")):
        if not os.path.exists(f"/proc/{stale.rsplit('-', 1)[1]}"):
            shutil.rmtree(stale, ignore_errors=True)   # left by a killed run
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    sf, cdc_rows = (0.001, 1500) if args.smoke else (QUERY_SF, CDC_BASE_ROWS)
    with open(datagen.__file__, "rb") as fh:   # new generator, new inputs
        gen = hashlib.sha256(fh.read()).hexdigest()[:12]
    data_dir = datagen.ensure_inputs(
        sf, cdc_rows, os.path.join(work, "data", f"sf{sf}-{cdc_rows}-{gen}"))
    try:
        result, record = run(args, data_dir, run_dir, cdc_rows)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    out_dir = os.path.join(work, "results")
    os.makedirs(out_dir, exist_ok=True)
    kind = "trace" if args.trace else "run"
    path = os.path.join(out_dir, f"{kind}-{args.workload}-seed{args.seed}-"
                                 f"{int(time.time())}-{os.getpid()}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, default=str)
    print(f"perfbench: run record {os.path.relpath(path, ROOT)}",
          file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
