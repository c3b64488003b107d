"""What each workload runs, and what each metric means.

This module is the benchmark's self-description: ``run.py --describe``
prints it as JSON, and ``README.md`` explains it. Every op name is a
key of ``__spark_entry__.queries()``; its family is the module its main
call goes into (``family.<module>_s`` sums the p50 latencies of a
family's ops).
"""

from __future__ import annotations

# Scale of the tables read by olap_verbs and corpus_prep, and the row
# count of the cdc_upsert snapshot.
QUERY_SF = 0.01
CDC_BASE_ROWS = 150_000
CDC_KEY = "o_orderkey"

WORKLOADS = {
    "olap_verbs": {
        "why": "Verb chains, joins, windows, reshape and the rollup/stats/"
               "quantiles/temporal operators: scan, shuffle and aggregate "
               "execution plus driver plan building; Python workers idle.",
        "tables": ["region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events"],
        "ops": {
            "q1_pricing_summary": "frame",
            "window_topn_per_group": "frame",
            "q3_shipping_priority": "operators.joins",
            "join_anti": "operators.joins",
            "spread_pivot": "operators.reshape",
            "rollup_moments_stddev": "operators.rollup",
            "grouped_ols_lineitem": "operators.stats",
            "percentile_prices": "operators.quantiles",
            "asof_click_error": "operators.temporal",
        },
    },
    "corpus_prep": {
        "why": "LLM-data operators: Arrow/pandas UDF workers, eager persist "
               "and pin jobs inside operator calls, many tiny stages; the "
               "verb layer is thin.",
        "tables": ["documents", "embeddings"],
        "ops": {
            "doc_quality": "pipeline.text",
            "dedup_exact_docs": "pipeline.dedup",
            "minhash_near_dups": "pipeline.dedup",
            "dupspan_exact_stats": "pipeline.dupspan",
            "embed_topk_cosine": "pipeline.similarity",
            "hashed_features_sparse": "pipeline.classify",
            "multimodal_wav_audio": "pipeline.codecs",
        },
    },
    "cdc_upsert": {
        "why": "The only workload that writes (full A/B snapshot rewrite per "
               "commit) and runs the streaming layer; a verb query reads the "
               "snapshot after every commit.",
        "tables": [],
        "ops": {"commit": "streaming.cdc"},
    },
}

FAMILIES = ["frame", "operators.joins", "operators.reshape",
            "operators.rollup", "operators.stats", "operators.quantiles",
            "operators.temporal", "pipeline.text", "pipeline.dedup",
            "pipeline.dupspan", "pipeline.similarity", "pipeline.classify",
            "pipeline.codecs"]

# (name, unit, better, which end-to-end metric it should move, on which
# workloads). Every workload reports every metric; one that a workload
# does not exercise reads 0 and the trace file says why.
_ALL = "all"
_QW = "olap_verbs,corpus_prep"
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
]

PER_LAYER = [
    ("session.import_s", "s", "lower", "setup_s", _ALL),
    ("session.start_s", "s", "lower", "setup_s", _ALL),
    ("session.first_action_s", "s", "lower", "setup_s", _ALL),
    ("sources.table_load_s", "s", "lower", "setup_s", _ALL),
    ("sources.input_bytes_per_op", "B", "lower", "ops_per_s", "olap_verbs"),
    ("sources.input_records_per_op", "count", "lower", "ops_per_s",
     "olap_verbs"),
    ("sources.records_per_result_row", "count", "lower", "ops_per_s",
     "olap_verbs"),
    ("sources.snapshot_bytes_written_per_change_byte", "B/B", "lower",
     "op_p50_s", "cdc_upsert"),
    ("sources.snapshot_files", "count", "lower", "sources.read_p50_s",
     "cdc_upsert"),
    ("sources.read_p50_s", "s", "lower", "ops_per_s", "cdc_upsert"),
    ("frame.build_s", "s", "lower", "op_p50_s", _ALL),
    ("frame.build_jobs_per_op", "count", "lower", "op_p50_s", _QW),
    ("exec.run_s", "s", "lower", "op_p50_s", _QW),
    ("exec.jobs_per_op", "count", "lower", "op_p50_s", _ALL),
    ("exec.stages_per_op", "count", "lower", "op_p50_s", _ALL),
    ("exec.tasks_per_op", "count", "lower", "op_p50_s", _ALL),
    ("exec.task_run_s_per_op", "s", "lower", "op_p50_s", _ALL),
    ("exec.task_cpu_s_per_op", "s", "lower", "op_p50_s", _ALL),
    ("exec.core_busy_share", "share", "higher", "ops_per_s", _ALL),
    ("exec.gc_s_per_op", "s", "lower", "op_p50_s", _ALL),
    ("exec.spill_bytes_per_op", "B", "lower", "op_p50_s", _ALL),
    ("exec.shuffle_write_bytes_per_op", "B", "lower", "ops_per_s", _ALL),
    ("exec.shuffle_read_bytes_per_op", "B", "lower", "ops_per_s", _ALL),
    ("exec.shuffle_fetch_wait_s_per_op", "s", "lower", "ops_per_s", _ALL),
    ("exec.stage_reuse_share", "share", "higher", "ops_per_s", _ALL),
    ("exec.failed_tasks", "count", "lower", "error_share", _ALL),
    *[(f"family.{m}_s", "s", "lower", "ops_per_s",
       "olap_verbs" if m == "frame" or m.startswith("operators.")
       else "corpus_prep") for m in FAMILIES],
    ("plans.pins_per_op", "count", "lower", "ops_per_s", "corpus_prep"),
    ("plans.cleanup_s_per_op", "s", "lower", "ops_per_s", _QW),
    ("streaming.trigger_s", "s", "lower", "op_p50_s", "cdc_upsert"),
    ("streaming.add_batch_s", "s", "lower", "op_p50_s", "cdc_upsert"),
    ("streaming.plan_s", "s", "lower", "op_p50_s", "cdc_upsert"),
    ("streaming.wal_s", "s", "lower", "op_p50_s", "cdc_upsert"),
    ("streaming.trigger_wait_s", "s", "lower", "op_p50_s", "cdc_upsert"),
    ("streaming.rows_per_batch", "count", "higher", "op_p50_s",
     "cdc_upsert"),
    ("error_share", "share", "lower", "error_share", _ALL),
    *[(f"trace.overhead.{name}", "share", "lower", name, _ALL)
      for name, _, _, _ in END_TO_END if name != "setup_s"],
]


def describe() -> dict:
    """The workload and metric catalogue as one JSON-ready object."""
    return {
        "workloads": {
            name: {"why": w["why"],
                   "ops": [{"name": op, "family": f"family.{fam}"}
                           for op, fam in w["ops"].items()]}
            for name, w in WORKLOADS.items()},
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b, "moves": mv,
                       "on": on}
                      for n, u, b, mv, on in PER_LAYER],
    }
