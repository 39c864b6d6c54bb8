"""Workloads and metric declarations of the benchmark.

Each workload is a fixed list of registry keys. A run submits them as
one client in a closed loop (the next query only after the previous one
is materialized), one pass after another: a cold pass in the declared
order, then warm passes in orders the seed fixes (``stats.pass_order``). ``nominal_pass_s`` is the warm pass
time measured on the 4-core box the benchmark was sized on; a run makes
``ceil(seconds / nominal_pass_s)`` warm passes, so every run of a
workload does the same work and picks each key's best time from the
same number of tries. ``BENCHMARK.json`` mirrors these
declarations, and a test keeps the two equal.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    # Sub-second relational keys, one or two per module: the ~0.35 s/key
    # tail where driver planning and per-job scheduling dominate and
    # executors idle. Job-count and driver-side changes move it;
    # kernel changes should not.
    "sql-tail": {
        "why": "sub-second relational keys where driver planning and job "
               "scheduling dominate; job-count and driver-side changes show here",
        "nominal_pass_s": 3.5,
        "keys": [
            "q_a5_count",                     # tier_a
            "q_b4_filter_conj",               # filters
            "q_b8_join_inner",                # joins
            "q_b58_percentiles",              # aggregates
            "q_b107_boolean_aggregates",      # aggregates
            "q_b105_running_distinct",        # windows
            "q_b33_topk",                     # sorts_sets
            "q_b169_not_in_null_semantics",   # subqueries
            "q_b37_string_funcs",             # scalar_funcs
            "q_b45_tumbling",                 # time_windows
            "q_b134_execute_immediate",       # catalog_queries
            "q_c22_hash_sample",              # sampling
        ],
    },
    # LLM-curation keys: executor codegen, an Arrow pandas UDF, the exact
    # set-similarity join ladder (jaccard_near_dedup), an iterative
    # driver loop with numpy kernels and localCheckpoint (Lloyd), and a
    # checkpointed availableNow stream with a state store and a parquet
    # sink.
    "curation": {
        "why": "LLM-curation keys: codegen, Arrow UDF, Jaccard join, Lloyd loop, "
               "stateful stream with a parquet sink; executor-side changes show here",
        "nominal_pass_s": 6.0,
        "keys": [
            "q_c1_exact_dedup",               # dedup: md5 groupBy (codegen)
            "q_b52_pandas_udf",               # udfs: Arrow pandas UDF
            "q_c16_ngram_jaccard",            # dedup: set-similarity join ladder
            "q_c30_kmeans",                   # similarity: Lloyd loop (numpy)
            "q_b49_stream_dedup",             # stream_queries: state store
        ],
    },
}

# Set on every run, traced or not, so the traced run differs only by
# its tracing calls. The retention limits keep every job, stage and SQL
# execution of a run in the status store the trace reads.
SPARK_CONF: dict[str, str] = {
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}

END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "cold_pass_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "best_pass_s", "unit": "s", "better": "lower", "bound": 0.25},
]

PER_LAYER = [
    {"name": "query.p50_s", "unit": "s", "better": "lower"},
    {"name": "process.peak_rss_mb", "unit": "MB", "better": "lower"},
    {"name": "session.get_spark_s", "unit": "s", "better": "lower"},
    {"name": "catalog.register_views_s", "unit": "s", "better": "lower"},
    {"name": "operators.build_s", "unit": "s", "better": "lower"},
    {"name": "operators.build_jobs", "unit": "count", "better": "lower"},
    {"name": "materialize.s", "unit": "s", "better": "lower"},
    {"name": "materialize.jobs", "unit": "count", "better": "lower"},
    {"name": "spark.jobs", "unit": "count", "better": "lower"},
    {"name": "spark.stages", "unit": "count", "better": "lower"},
    {"name": "spark.tasks", "unit": "count", "better": "lower"},
    {"name": "spark.job_p50_ms", "unit": "ms", "better": "lower"},
    {"name": "spark.driver_gap_s", "unit": "s", "better": "lower"},
    {"name": "spark.tasks_failed", "unit": "count", "better": "lower"},
    {"name": "executor.run_s", "unit": "s", "better": "lower"},
    {"name": "executor.cpu_s", "unit": "s", "better": "lower"},
    {"name": "executor.gc_s", "unit": "s", "better": "lower"},
    {"name": "executor.busy_frac", "unit": "1", "better": "higher"},
    {"name": "python.bytes_sent", "unit": "B", "better": "lower"},
    {"name": "python.bytes_received", "unit": "B", "better": "lower"},
    {"name": "shuffle.write_bytes", "unit": "B", "better": "lower"},
    {"name": "shuffle.read_bytes", "unit": "B", "better": "lower"},
    {"name": "shuffle.spill_bytes", "unit": "B", "better": "lower"},
    {"name": "io.input_bytes", "unit": "B", "better": "lower"},
    {"name": "io.output_bytes", "unit": "B", "better": "lower"},
    {"name": "storage.persisted_rdds_left", "unit": "count", "better": "lower"},
    {"name": "stream.batches", "unit": "count", "better": "lower"},
    {"name": "stream.input_rows", "unit": "count", "better": "lower"},
    {"name": "stream.trigger_s", "unit": "s", "better": "lower"},
    {"name": "stream.state_rows", "unit": "count", "better": "lower"},
]
