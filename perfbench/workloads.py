"""The benchmark's workloads and per-layer metrics.

Each workload is a fixed id list from the public registry and its mode.
Both run on the reference sf0.1 tables in data/sf0.1.

`warm`: two untimed sweeps of the ids, then timed rounds in the same
session until the run's seconds are spent, so per-query build, Catalyst,
job scheduling and the per-drain lifecycle dominate.

`cold`: exactly one timed round in the fresh JVM with no warm-up, so every
`Insights.cacheOnce` and module memo is built inside it, together with
the JIT and class loading of a cold process.

README.md gives the reason for each id.
"""

WORKLOADS = {
    "daq_warm": {"mode": "warm", "ids": [
        "q_frame_decode", "q_heatmap", "q_daq_stats", "q_tpch_q1",
        "q_tpch_q6", "q_tpch_q9", "q_agg_hash", "q_join_broadcast",
        "q_join_bloom",
        "q_stream_daq_pipeline", "q_sink_parquet", "q_merge_archive",
        "q_merge_archive_digest"]},
    "curation_cold": {"mode": "cold", "ids": [
        "q_dedup_near", "q_dedup_minhash", "q_dedup_drop",
        "q_quality_classify", "q_quality_calibrate", "q_text_curation",
        "q_text_bigram_lm", "q_text_perplexity", "q_embed_hubness"]},
}

# (name, unit) of every per-layer metric a traced run reports.
PER_LAYER = [
    ("tables.load_s", "s"), ("build.s", "s"), ("build.jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("exec.jobs", "count"),
    ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.job_active_s", "s"), ("exec.driver_idle_s", "s"),
    ("exec.task_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.slowest_task_s", "s"), ("exec.gc_s", "s"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.records", "count"), ("spill.mb", "MB"),
    ("scan.input_mb", "MB"), ("scan.input_rows", "count"),
    ("fixpoint.persists", "count"), ("fixpoint.scan_hits", "count"),
    ("fixpoint.cached_mb", "MB"), ("stream.batches", "count"),
    ("stream.input_rows", "count"), ("stream.trigger_s", "s"),
    ("stream.add_batch_s", "s"), ("stream.wal_commit_s", "s"),
    ("stream.planning_s", "s"), ("stream.lifecycle_s", "s"),
    ("stream.state_rows", "count"), ("jvm.gc_s", "s"), ("jvm.jit_s", "s")]
