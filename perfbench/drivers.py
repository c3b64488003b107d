"""The workload drivers. Each is a closed loop with one client thread:
the next op starts only when the previous one has returned.

* ``QueryDriver`` (olap_verbs, corpus_prep): an op is one entry of
  ``__spark_entry__.queries()`` — the build call plus a run into the
  ``noop`` sink — followed by the between-op cleanup. Every pass runs
  each op once, in an order drawn from the workload seed, and a timed
  window is whole passes, so every run measures the same op mix.
* ``CdcDriver`` (cdc_upsert): an op is one commit of a seeded changeset
  through ``stream_upsert_to_parquet``; a verb query reads the snapshot
  after each commit.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from urllib.parse import urlparse

import datagen
import measure
import spark_side
from workloads import CDC_KEY, WORKLOADS


def _duckdb(views: dict[str, str]):
    import duckdb
    con = duckdb.connect()
    for name, path in views.items():
        lit = path.replace("'", "''")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{lit}')")
    return con


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class QueryDriver:
    MIN_PASSES = 2

    def __init__(self, workload: str, seed: int, data_dir: str):
        import __spark_entry__ as entry
        self.entry = entry
        self.w = WORKLOADS[workload]
        self.ops = self.w["ops"]
        queries = entry.queries()
        self.fns = {name: queries[name] for name in self.ops}
        self.oracles = {n: s for n, s in entry.oracle_sql().items()
                        if n in self.ops}
        self.data_dir = data_dir
        self.rng = random.Random(seed)
        self.result_rows: dict[str, int] = {}

    def _order(self) -> list[str]:
        order = list(self.ops)
        self.rng.shuffle(order)
        return order

    def load_tables(self, spark) -> None:
        for t in self.w["tables"]:
            self.entry._t(spark, self.data_dir, t)

    def check(self, spark) -> tuple[int, int, list[str]]:
        """Untimed warm-up pass that also checks every result: against
        its ``oracle_sql()`` on DuckDB, or, for ops without one, by the
        planted-truth assertions the op runs itself."""
        from tools.check_oracle import canon_rows
        con = _duckdb({t: os.path.join(self.data_dir, f"{t}.parquet")
                       for t in datagen.TABLES})
        failures = []
        for name in self._order():
            try:
                df = self.fns[name](spark, self.data_dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
            except Exception as exc:   # a failing op is a result, not a crash
                failures.append(f"{name}: {type(exc).__name__}: "
                                f"{str(exc).splitlines()[0][:200]}")
                continue
            finally:
                spark_side.cleanup(spark)
            self.result_rows[name] = len(rows)
            if name not in self.oracles:
                continue
            res = con.sql(self.oracles[name])
            dcols, drows = res.columns, res.fetchall()
            if (len(rows) != len(drows) or sorted(cols) != sorted(dcols)
                    or canon_rows(cols, rows) != canon_rows(dcols, drows)):
                failures.append(f"{name}: result differs from oracle_sql "
                                f"({len(rows)} vs {len(drows)} rows)")
        con.close()
        return len(self.ops), len(failures), failures

    def _op(self, spark, name, tag, tracer, reader) -> dict:
        rec = {"name": name, "family": self.ops[name], "ok": False}
        with tracer.span("op", op=tag, query=name) as sp:
            try:
                if reader:
                    reader.set_group(f"{tag}/build")
                with tracer.span("build"):
                    t0 = time.perf_counter()
                    df = self.fns[name](spark, self.data_dir)
                    t1 = time.perf_counter()
                if reader:
                    reader.set_group(f"{tag}/action")
                with tracer.span("action"):
                    _noop(df)
                    t2 = time.perf_counter()
                rec.update(ok=True, lat=t2 - t0, build=t1 - t0, action=t2 - t1)
            except Exception as exc:   # counted in error_share
                rec["error"] = f"{type(exc).__name__}: {str(exc)[:200]}"
            with tracer.span("cleanup"):
                t3 = time.perf_counter()
                rec["pins"] = spark_side.cleanup(spark)
                rec["cleanup"] = time.perf_counter() - t3
        if reader:
            build_jobs = reader.new_jobs(f"{tag}/build")
            rec["build_jobs"] = len(build_jobs)
            rec["delta"] = reader.delta(
                build_jobs + reader.new_jobs(f"{tag}/action"))
            sp["attrs"].update(rec)
        return rec

    def window(self, spark, seconds, tracer, reader=None) -> dict:
        """Whole passes until ``seconds`` have passed, and at least
        ``MIN_PASSES``, so a slow first pass cannot halve the sample."""
        ops, t_start, n_pass = [], time.perf_counter(), 0
        while n_pass < self.MIN_PASSES or time.perf_counter() - t_start < seconds:
            with tracer.span("pass", index=n_pass):
                for name in self._order():
                    ops.append(self._op(spark, name, f"p{n_pass}:{name}",
                                        tracer, reader))
            n_pass += 1
        return {"ops": ops, "wall": time.perf_counter() - t_start,
                "passes": n_pass}

    def layer_metrics(self, win: dict, cores: int) -> dict[str, float]:
        ok = [r for r in win["ops"] if r["ok"]]
        m = measure.exec_metrics([r["delta"] for r in ok],
                                 [r["lat"] for r in ok], cores)
        rows = sum(self.result_rows.get(r["name"], 0) for r in ok)
        m["sources.records_per_result_row"] = (
            m["sources.input_records_per_op"] * len(ok) / max(1, rows))
        m["frame.build_s"] = measure.median([r["build"] for r in ok])
        m["frame.build_jobs_per_op"] = sum(r["build_jobs"] for r in ok) / len(ok)
        m["exec.run_s"] = measure.median([r["action"] for r in ok])
        ops_all = win["ops"]
        m["plans.pins_per_op"] = sum(r["pins"] for r in ops_all) / len(ops_all)
        m["plans.cleanup_s_per_op"] = (sum(r["cleanup"] for r in ops_all)
                                       / len(ops_all))
        by_op: dict[str, list[float]] = {}
        for r in ok:
            by_op.setdefault(r["name"], []).append(r["lat"])
        for name, lats in by_op.items():
            key = f"family.{self.ops[name]}_s"
            m[key] = m.get(key, 0.0) + measure.median(lats)
        return m

    def finish(self, spark) -> tuple[int, int, list[str]]:
        return 0, 0, []


class CdcDriver:
    """Seeded changesets through the streaming upsert sink. Commits run
    back to back, without the between-op cleanup: they pin and cache
    nothing, and a full JVM GC between them more than doubled the
    run-to-run spread of commit latency."""

    WARMUP_BATCHES = 4   # commit latency settles after a few batches

    def __init__(self, seed: int, data_dir: str, run_dir: str, base_rows: int):
        self.base = os.path.join(data_dir, f"cdc_orders_{base_rows}.parquet")
        root = os.path.join(run_dir, "cdc")
        self.snap = os.path.join(root, "snapshot")
        self.inbox = os.path.join(root, "inbox")
        self.ckpt = os.path.join(root, "checkpoint")
        # the snapshot starts as the base table on side "a"
        os.makedirs(os.path.join(self.snap, "a"))
        os.makedirs(self.inbox)
        shutil.copy(self.base, os.path.join(self.snap, "a", "part-0.parquet"))
        with open(os.path.join(self.snap, "MANIFEST"), "w") as fh:
            fh.write("a")
        self.batches = datagen.changesets(seed, base_rows)
        self.n_sent = 0
        self.query = None
        self.last_batch_id = -1

    def load_tables(self, spark) -> None:
        from crysda_spark.streaming.cdc import read_snapshot
        read_snapshot(spark, self.snap).schema

    def _start_stream(self, spark) -> None:
        from crysda_spark.streaming.cdc import (read_snapshot,
                                                stream_upsert_to_parquet)
        from crysda_spark.streaming.windows import stream_from_parquet_dir
        schema = read_snapshot(spark, self.snap).schema
        stream = stream_from_parquet_dir(spark, self.inbox, schema)
        self.query = stream_upsert_to_parquet(
            stream, self.snap, on=CDC_KEY, seq_col="seq",
            checkpoint=self.ckpt)

    def _read_query(self, spark):
        from pyspark.sql import functions as F

        from crysda_spark import Frame
        from crysda_spark.streaming.cdc import read_snapshot
        return (Frame(read_snapshot(spark, self.snap))
                .group_by("o_orderpriority")
                .summarize(n=F.count(F.lit(1)), revenue=F.sum("o_totalprice"))
                .sdf)

    def _cycle(self, spark, tracer, reader) -> dict:
        import pyarrow.parquet as pq
        batch = next(self.batches)
        i = self.n_sent
        self.n_sent += 1
        tag = f"b{i}"
        rec = {"name": "commit", "family": "streaming.cdc", "ok": False}
        with tracer.span("batch", op=tag) as sp:
            with tracer.span("write_changeset"):
                tmp = os.path.join(self.inbox, f".cs-{i:06d}.tmp")
                dst = os.path.join(self.inbox, f"cs-{i:06d}.parquet")
                pq.write_table(batch, tmp)
                os.replace(tmp, dst)
                t_land = time.perf_counter()
            rec["change_bytes"] = os.path.getsize(dst)
            rec["rows"] = batch.num_rows
            try:
                with tracer.span("commit"):
                    self.query.processAllAvailable()
                    t_commit = time.perf_counter()
                with tracer.span("read"):
                    if reader:
                        reader.set_group(f"{tag}/build")
                    df = self._read_query(spark)
                    t_built = time.perf_counter()
                    if reader:
                        reader.set_group(f"{tag}/action")
                    _noop(df)
                    t_read = time.perf_counter()
                rec.update(ok=True, lat=t_commit - t_land, read=t_read - t_commit,
                           build=t_built - t_commit, action=t_read - t_built)
            except Exception as exc:   # counted in error_share
                rec["error"] = f"{type(exc).__name__}: {str(exc)[:200]}"
        if reader and rec["ok"]:
            self._trace_commit(spark, rec, reader)
            rec["build_jobs"] = len(reader.new_jobs(f"{tag}/build"))
            reader.new_jobs(f"{tag}/action")   # reads are not commit work
            sp["attrs"].update(rec)
        return rec

    def _trace_commit(self, spark, rec: dict, reader) -> None:
        from crysda_spark.streaming.cdc import read_snapshot
        prog = [p for p in self.query.recentProgress
                if p["batchId"] > self.last_batch_id and p["numInputRows"] > 0]
        if prog:
            self.last_batch_id = prog[-1]["batchId"]
        dur = {}
        for p in prog:
            for k, v in p["durationMs"].items():
                dur[k] = dur.get(k, 0) + v
        rec["progress"] = dur
        rec["input_rows"] = sum(p["numInputRows"] for p in prog)
        rec["delta"] = reader.delta(reader.new_jobs(str(self.query.runId)))
        import pyarrow.parquet as pq
        files = [urlparse(f).path
                 for f in read_snapshot(spark, self.snap).inputFiles()]
        rec["snapshot_files"] = len(files)
        rec["snapshot_bytes"] = sum(os.path.getsize(f) for f in files)
        rec["snapshot_rows"] = sum(pq.read_metadata(f).num_rows for f in files)

    def check(self, spark) -> tuple[int, int, list[str]]:
        """Untimed warm-up: start the stream and commit a few batches."""
        self._start_stream(spark)
        recs = [self._cycle(spark, measure.NullTracer(), None)
                for _ in range(self.WARMUP_BATCHES)]
        bad = [r["error"] for r in recs if not r["ok"]]
        return len(recs), len(bad), bad

    def window(self, spark, seconds, tracer, reader=None) -> dict:
        if reader:   # attribute to this window only what it commits
            reader.new_jobs(str(self.query.runId))
            self.last_batch_id = max(
                (p["batchId"] for p in self.query.recentProgress), default=-1)
        ops, t_start = [], time.perf_counter()
        while not ops or time.perf_counter() - t_start < seconds:
            ops.append(self._cycle(spark, tracer, reader))
            if not ops[-1]["ok"]:
                break   # the stream has stopped; nothing more can commit
        return {"ops": ops, "wall": time.perf_counter() - t_start}

    def layer_metrics(self, win: dict, cores: int) -> dict[str, float]:
        ok = [r for r in win["ops"] if r["ok"]]
        m = measure.exec_metrics([r["delta"] for r in ok],
                                 [r["lat"] for r in ok], cores)
        med = measure.median
        m["sources.records_per_result_row"] = (
            m["sources.input_records_per_op"] * len(ok)
            / sum(r["snapshot_rows"] for r in ok))
        m["frame.build_s"] = med([r["build"] for r in ok])
        m["frame.build_jobs_per_op"] = sum(r["build_jobs"] for r in ok) / len(ok)
        m["exec.run_s"] = med([r["action"] for r in ok])
        m["sources.read_p50_s"] = med([r["read"] for r in ok])
        m["sources.snapshot_bytes_written_per_change_byte"] = (
            sum(r["snapshot_bytes"] for r in ok)
            / sum(r["change_bytes"] for r in ok))
        m["sources.snapshot_files"] = med([r["snapshot_files"] for r in ok])
        for key, metric in (("triggerExecution", "streaming.trigger_s"),
                            ("addBatch", "streaming.add_batch_s"),
                            ("queryPlanning", "streaming.plan_s"),
                            ("walCommit", "streaming.wal_s")):
            m[metric] = med([r["progress"].get(key, 0) / 1e3 for r in ok])
        m["streaming.trigger_wait_s"] = med(
            [r["lat"] - r["progress"].get("triggerExecution", 0) / 1e3
             for r in ok])
        m["streaming.rows_per_batch"] = sum(r["input_rows"] for r in ok) / len(ok)
        return m

    def finish(self, spark) -> tuple[int, int, list[str]]:
        """Stop the stream, then check the final snapshot against a
        DuckDB replay of every changeset sent: row count, key checksums
        and Σ o_totalprice (exact decimals)."""
        self.query.stop()
        from crysda_spark.streaming.cdc import read_snapshot
        agg = ("count(*) AS n, sum(o_orderkey) AS k1, "
               "sum(o_orderkey * o_orderkey) AS k2, "
               "sum(CAST(o_totalprice AS DECIMAL(18,2))) AS price")
        read_snapshot(spark, self.snap).createOrReplaceTempView("pb_snapshot")
        got = tuple(spark.sql(f"SELECT {agg} FROM pb_snapshot").collect()[0])
        con = _duckdb({"base": self.base,
                       "changes": os.path.join(self.inbox, "cs-*.parquet")})
        want = con.sql(f"""
            WITH r AS (SELECT * FROM base UNION ALL SELECT * FROM changes),
            latest AS (SELECT *, row_number() OVER (
                PARTITION BY o_orderkey ORDER BY seq DESC) AS rn FROM r)
            SELECT {agg} FROM latest WHERE rn = 1""").fetchone()
        con.close()
        if got != want:
            return 1, 1, [f"final snapshot {got} != replay {want}"]
        return 1, 0, []
