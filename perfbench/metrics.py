"""The benchmark's metric catalogue (mirrored by ``BENCHMARK.json``).

End-to-end metrics are defined on every workload; what "operation"
means per workload is in README.md. Wall-clock latency and throughput
(`op_p50_ms`, `ops_per_s`) and peak RSS are reported on the
``# workload metrics`` line, not gated: on a host with CPU steal their
run-to-run spread is as wide as the largest bound a gate may use.
The gated `cpu_s_per_op` counts the program's CPU seconds without the
JIT compiler threads, each kind of operation at its cheapest sample
(`proc.CpuMeter`); it and `setup_s` are divided by the run's host
speed factor (`hostspeed.HostProbe`), which keeps them steady.
Per-layer metrics come from the traced run; a layer a workload never
calls reports 0.
"""

from __future__ import annotations

#: registry rows of `registry_mix`, by family
REGISTRY_FAMILIES: dict[str, tuple[str, ...]] = {
    "oneshot": ("q21_waiting_supplier",),
    "cold_build": ("knn_graph_build",),
    "iterative": ("pagerank_knn_graph",),
    "streaming": ("streaming_pageviews_hourly",),
}
REGISTRY_ROWS = tuple(r for rows in REGISTRY_FAMILIES.values() for r in rows)

#: units of the workload's own figures, printed on the
#: ``# workload metrics`` line and kept in the result record
REPORT_UNITS = {
    "setup_wall_s": "s", "cpu_s_per_op_raw": "s", "host_factor": "ratio",
    "peak_rss_mb": "MB", "fail_ratio": "ratio",
    "op_p50_ms": "ms", "ops_per_s": "1/s",
    "cycle_s": "s", "cycle_samples": "count", "freshness_s": "s",
    "freshness_samples": "count", "realtime_miss_ratio": "ratio",
    "lookup_p50_ms": "ms", "lookups": "count",
    "registry_total_s": "s", "passes": "count",
}

#: (name, unit, better, bound)
END_TO_END: tuple[tuple[str, str, str, float], ...] = (
    ("setup_s", "s", "lower", 0.25),
    ("cpu_s_per_op", "s", "lower", 0.25),
)

_REGISTRY_COUNTERS = ("build_s", "exec_s", "jobs", "stages", "tasks",
                      "shuffle_write_bytes", "spill_bytes")
_UNITS = {"s": "s", "jobs": "count", "stages": "count", "tasks": "count",
          "shuffle_write_bytes": "B", "spill_bytes": "B"}

#: (name, unit, better)
PER_LAYER: tuple[tuple[str, str, str], ...] = (
    ("session.start_s", "s", "lower"),
    ("session.warm_s", "s", "lower"),
    ("master.ingest_s", "s", "lower"),
    ("master.consolidate_s", "s", "lower"),
    ("master.absorb_s", "s", "lower"),
    ("master.snapshot_s", "s", "lower"),
    ("master.files", "count", "lower"),
    ("master.bytes_per_fact", "B", "lower"),
    ("batch.recompute_s", "s", "lower"),
    ("batch.jobs", "count", "lower"),
    ("batch.shuffle_write_bytes", "B", "lower"),
    ("serving.export_s", "s", "lower"),
    ("serving.export_files", "count", "lower"),
    ("serving.shard_ms", "ms", "lower"),
    ("serving.scan_ms", "ms", "lower"),
    ("serving.jobs_per_lookup", "count", "lower"),
    ("speed.run_s", "s", "lower"),
    ("speed.microbatches", "count", "lower"),
    ("speed.add_batch_ms", "ms", "lower"),
    ("speed.wal_commit_ms", "ms", "lower"),
    ("speed.state_rows", "count", "lower"),
    ("speed.dropped_late_rows", "count", "lower"),
    *(
        (f"registry.{fam}.{c}", "s" if c.endswith("_s") else _UNITS[c], "lower")
        for fam in REGISTRY_FAMILIES
        for c in _REGISTRY_COUNTERS
    ),
    *((f"row.{r}.s", "s", "lower") for r in REGISTRY_ROWS),
    *((f"row.{r}.jobs", "count", "lower") for r in REGISTRY_ROWS),
    ("cacheutil.released", "count", "higher"),
    ("trace.collect_s", "s", "lower"),
)
