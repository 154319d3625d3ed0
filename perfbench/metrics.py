"""Metric names and units the benchmark reports; BENCHMARK.json declares
the same lists (checked by selftest.py)."""

END_TO_END = [
    ("setup_s", "s"),
    ("run_s", "s"),
    ("rows_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
]

# Reported by the human-readable summary only: failed_frac is 0 on a
# correct run and out_bytes_per_row exists only for the write workloads,
# while every metric in the result line must be present and non-zero.
SUMMARY_ONLY = [
    ("failed_frac", "ratio"),
    ("out_bytes_per_row", "bytes"),
]

PER_LAYER = [
    ("session.get_session_s", "s"),
    ("synth.self_s", "s"),
    ("geocode.self_s", "s"),
    ("cells.self_s", "s"),
    ("pip.fixed_self_s", "s"),
    ("knn.inline_self_s", "s"),
    ("pip.broadcast_s", "s"),
    ("pip.udf_rows", "count"),
    ("pip.udf_hit_ratio", "ratio"),
    ("knn.rings_s", "s"),
    ("knn.candidates_per_query", "ratio"),
    ("knn.settled_frac_ring1", "ratio"),
    ("knn.shuffle_mb", "MB"),
    ("knn.spill_mb", "MB"),
    ("regrid.bilinear_s", "s"),
    ("regrid.nearest_s", "s"),
    ("pipeline.plan_s", "s"),
    ("pipeline.exec_cpu_s", "s"),
    ("lineage.partition_s", "s"),
    ("lineage.write_s", "s"),
    ("lineage.readback_s", "s"),
    ("lineage.commit_s", "s"),
    ("lineage.commit_bytes", "bytes"),
    ("lineage.resume_skip_s", "s"),
    ("sinks.bytes_per_row", "bytes"),
    ("sinks.files", "count"),
    ("geotiff.export_s", "s"),
    ("netcdf3.export_s", "s"),
    ("gpkg.write_s", "s"),
    ("daily.partition_s", "s"),
    ("daily.jobs_per_partition", "count"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.cpu_util", "ratio"),
    ("trace.overhead_frac", "ratio"),
]
