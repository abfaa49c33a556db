"""Metric declarations: name, unit, direction and, for a per-layer metric,
the layer (engine module) it measures and the end-to-end metric and
workload it should move. ``BENCHMARK.json`` at the repository root
declares the same names and units; the benchmark's tests keep the two
equal."""

from __future__ import annotations

from .workloads import QUERIES

#: (name, unit, better, bound): what a user of the engine sees
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pass_vs_ref_p50", "x", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.2),
]

_OPS = "pass_vs_ref_p50@operator_mix"
_UDF = "pass_vs_ref_p50@clips_pcm"
_BOTH = _OPS + "," + _UDF

#: (name, unit, better, layer, moves): per-layer metrics of a traced run;
#: ``moves`` is "<end-to-end metric>@<workload>[,...]", "-" for diagnostics
PER_LAYER = [
    ("schema.validate_s", "s", "lower", "schema/clips_suite/plans.compiler", _OPS),
    ("catalyst.plan_s", "s", "lower", "schema/clips_suite/plans.compiler", _OPS),
    ("exec.action_s", "s", "lower", "schema/clips_suite/plans.compiler", _OPS),
    ("spark.jobs", "count", "lower", "schema/clips_suite/plans.compiler", _OPS),
    ("spark.stages", "count", "lower", "schema/clips_suite/plans.compiler", _OPS),
    ("spark.tasks", "count", "lower", "schema/clips_suite/plans.compiler", _UDF),
    ("exec.run_slot_s", "s", "lower", "executors", _UDF),
    ("exec.cpu_s", "s", "lower", "executors", _UDF),
    ("exec.gc_s", "s", "lower", "executors", _UDF),
    ("exec.slot_busy_ratio", "ratio", "higher", "executors", _UDF),
    ("udf.worker_start_s", "s", "lower", "clips_suite/functions.audio", _UDF),
    ("udf.worker_init_s", "s", "lower", "clips_suite/functions.audio", _UDF),
    ("udf.worker_run_s", "s", "lower", "clips_suite/functions.audio", _UDF),
    ("udf.sent_mb", "MB", "lower", "clips_suite/functions.audio", _UDF),
    ("udf.returned_kb", "KB", "lower", "clips_suite/functions.audio", _UDF),
    ("scan.time_s", "s", "lower", "sources.datagen/parquet", _UDF),
    ("scan.files", "count", "lower", "sources.datagen/parquet", _UDF),
    ("scan.read_mb", "MB", "lower", "sources.datagen/parquet", _UDF),
    ("scan.input_scans", "count", "lower", "sources.datagen/parquet", _UDF),
    ("shuffle.write_mb", "MB", "lower", "operators.distinct/referential", _BOTH),
    ("shuffle.records", "count", "lower", "operators.distinct/referential", _BOTH),
    ("agg.build_s", "s", "lower", "operators.distinct/referential", _BOTH),
    ("broadcast.build_s", "s", "lower", "operators.distinct/referential", _BOTH),
] + [
    m for q in QUERIES for m in (
        ("q.{}.s".format(q), "s", "lower", "operators", _OPS),
        ("q.{}.jobs".format(q), "count", "lower", "operators", _OPS),
    )
] + [
    ("persisted_rdds_after", "count", "lower", "operators", "-"),
    ("pass.samples", "count", "higher", "benchmark", "-"),
    ("pass.wall_s", "s", "lower", "benchmark", "-"),
    ("ref.wall_s", "s", "lower", "benchmark", "-"),
    ("trace.overhead_s", "s", "lower", "benchmark", "-"),
    ("trace.overhead_ratio", "x", "lower", "benchmark", "-"),
    ("host.steal_pct", "%", "lower", "host", "-"),
    ("host.foreign_jobs", "count", "lower", "host", "-"),
    ("host.cpu_probe_s", "s", "lower", "host", "-"),
]

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}
