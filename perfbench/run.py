"""Benchmark of the validation engine: one workload, one process, one Spark
session (``local[SLOTS]``), one closed-loop client.

    python3 perfbench/run.py --workload clips_pcm --seed 1 --seconds 15 --trace 0

A run sets up (session start, input generation from the seed, warm
passes), then for ``--seconds`` alternates the workload's plain-Spark
reference job (``reference.py``) with engine passes, and checks every
pass's output against an oracle. The headline, ``pass_vs_ref_p50``, is the
median over passes of a pass's wall time divided by that of the reference
jobs just before and after it. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (``spec.END_TO_END``); with ``--trace 1``
every other pass is traced and the metrics are the per-layer ones
(``spec.PER_LAYER``), medians over the traced passes. Diagnostics go to
stderr. Run it from the repository root; it reads and writes only there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: task slots: two, so that the task threads and the Python workers they
#: feed are no more runnable threads than the 4 vCPUs the bounds were
#: measured on; with four slots the run measures the scheduler of a
#: shared host as much as the engine
SLOTS = min(2, len(os.sched_getaffinity(0)))
#: JVM heap: ample for these inputs, small beside the host's 15 GB
DRIVER_MEMORY = "2g"
#: untraced passes a run makes even when --seconds runs out first (a
#: traced run also makes at least one traced pass)
MIN_PASSES = 2
#: warm-up rounds (an engine pass, then a reference job) before timing:
#: after one round both still speed up by ~10%
WARM_ROUNDS = 2
#: seconds after start past which no further pass begins once each kind of
#: pass has one sample, so that a run on a slowed host still ends well
#: within three minutes
DEADLINE_S = 70


def log(msg: str) -> None:
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def make_session(work: str):
    """The run's Spark session; every file it writes stays under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM of the run (launcher and driver): temp files under ``work``
    # and no perf-data file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # import-time engine knob: the benchmark measures the default
    os.environ.pop("SPARK_GRAFT_UDF_WAVES", None)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[{}]".format(SLOTS))
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # a fixed heap size: the JVM does not grow its heap by amounts that
        # depend on GC timing, which made peak RSS wander from run to run
        .config("spark.driver.extraJavaOptions", "-Xms" + DRIVER_MEMORY)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse"))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM to
    exit (its Python workers are its children and go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Tally:
    """Operations attempted and failed; each error string is one failed
    operation, and every one is logged."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0

    def add(self, n_ops: int, errors) -> None:
        self.attempted += n_ops
        self.failed += min(len(errors), n_ops)
        for e in errors:
            log("FAILED: " + e)


def run(args, work: str, started: float) -> dict:
    from perfbench import probe, spec
    from perfbench.workloads import WORKLOADS, Context

    wl = WORKLOADS[args.workload]()
    tally = Tally()

    t0 = time.perf_counter()
    spark = make_session(work)
    session_s = time.perf_counter() - t0
    try:
        ctx = Context(spark, args.seed, work)
        ops_per_pass = len(wl.operations)
        t0 = time.perf_counter()
        wl.setup(ctx)
        gen_s = time.perf_counter() - t0
        wl.oracle(ctx)
        # warm-up: engine passes and reference jobs in turn, so that the
        # JIT has compiled the paths both take; the reference job's first
        # answer is the one every later run of it must give
        warm_s, ref_answer = [], None
        for _ in range(WARM_ROUNDS):
            t0 = time.perf_counter()
            warm = wl.run_pass(ctx)
            warm_s.append(time.perf_counter() - t0)
            tally.add(ops_per_pass, wl.check(ctx, warm))
            answer = wl.reference(ctx)
            ref_answer = answer if ref_answer is None else ref_answer
            if answer != ref_answer:
                raise RuntimeError("reference job answered {!r}, first {!r}".format(
                    answer, ref_answer))
        setup_s = session_s + gen_s + sum(warm_s)
        log("setup {:.2f} s (session {:.2f}, inputs {:.2f}, warm passes {})".format(
            setup_s, session_s, gen_s, [round(w, 2) for w in warm_s]))

        def timed_reference() -> float:
            t0 = time.perf_counter()
            got = wl.reference(ctx)
            wall = time.perf_counter() - t0
            if got != ref_answer:
                raise RuntimeError("reference job answered {!r}, first {!r}".format(
                    got, ref_answer))
            return wall

        layers = probe.SparkLayers(spark, "/warehouse/clips") if args.trace else None
        # a pass's ratio to the reference jobs timed just before and after it
        refs = [timed_reference()]
        walls, ratios, traced_walls, traced_ratios, per_pass = [], [], [], [], []
        start = time.perf_counter()
        i = 0
        while ((time.perf_counter() - start < args.seconds or len(walls) < MIN_PASSES
                or (args.trace and not traced_walls))
               and not (time.perf_counter() - started > DEADLINE_S and walls
                        and (traced_walls or not args.trace))):
            traced = bool(args.trace) and i % 2 == 1
            ctx.spans = probe.Spans() if traced else probe.NoSpans()
            ctx.layers = layers if traced else None
            errors = []
            if traced:
                layers.begin("pass")
            t0 = time.perf_counter()
            try:
                result = wl.run_pass(ctx)
            except Exception:
                result = None
                errors = ["pass {} raised:\n{}".format(i, traceback.format_exc())]
            wall = time.perf_counter() - t0
            if traced:
                # read the stores before the reference job adds to them
                counters, jobs = layers.collect()
                counters.update(ctx.spans.seconds)
            ctx.spans, ctx.layers = probe.NoSpans(), None
            refs.append(timed_reference())
            ratio = wall / ((refs[-2] + refs[-1]) / 2)
            if result is not None:
                try:
                    errors = wl.check(ctx, result)
                except Exception:
                    errors = ["check of pass {} raised:\n{}".format(i, traceback.format_exc())]
            tally.add(ops_per_pass, errors)
            if traced:
                for group, n in jobs.items():
                    if group.startswith("q."):
                        counters[group + ".jobs"] = n
                counters["exec.slot_busy_ratio"] = counters["exec.run_slot_s"] / (wall * SLOTS)
                per_pass.append(counters)
                traced_walls.append(wall)
                traced_ratios.append(ratio)
            else:
                walls.append(wall)
                ratios.append(ratio)
            i += 1
        n_ops, errors = wl.final_check(ctx)
        tally.add(n_ops, errors)
        persisted = probe.persisted_rdds(spark)
    finally:
        stop_session(spark)

    log("{} seed={} passes={} (traced {}) pass_p50_s={:.3f} ref_p50_s={:.3f} "
        "pass_vs_ref_p50={:.4f} (n={}) walls={} refs={} ratios={} attempted={} failed={}".format(
            args.workload, args.seed, i, len(traced_walls), median(walls), median(refs),
            median(ratios), len(ratios), [round(w, 3) for w in walls],
            [round(r, 3) for r in refs], [round(r, 3) for r in ratios],
            tally.attempted, tally.failed))
    if args.trace:
        names = [m[0] for m in spec.PER_LAYER]
        values = {n: median([p.get(n, 0.0) for p in per_pass]) for n in names}
        values["persisted_rdds_after"] = persisted
        values["pass.samples"] = len(per_pass)
        values["pass.wall_s"] = median(walls)
        values["ref.wall_s"] = median(refs)
        values["trace.overhead_s"] = median(traced_walls) - median(walls)
        values["trace.overhead_ratio"] = median(traced_ratios) - median(ratios)
    else:
        names = [m[0] for m in spec.END_TO_END]
        values = {"setup_s": setup_s, "pass_vs_ref_p50": median(ratios)}
    return {"values": values, "names": names, "attempted": tally.attempted,
            "failed": tally.failed, "persisted": persisted}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # imports the engine: fails here, before any Spark work, outside a checkout
    from perfbench import probe, spec
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error("unknown workload {!r}; one of {}".format(args.workload, sorted(WORKLOADS)))
    foreign = probe.foreign_jobs()
    for cmd in foreign:
        log("WARNING: a competing Spark job shares the CPUs, figures are polluted: " + cmd)
    started = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", "{}-{}".format(args.workload, os.getpid()))
    steal0, total0 = probe.cpu_times()
    cpu_probe = [probe.cpu_probe()]
    try:
        with probe.RssSampler() as rss:
            out = run(args, work, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    cpu_probe.append(probe.cpu_probe())
    steal1, total1 = probe.cpu_times()
    steal_pct = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
    foreign = sorted(set(foreign) | set(probe.foreign_jobs()))
    log("host: steal {:.2f}% over the run, CPU probe {:.3f} s before and {:.3f} s after "
        "(~{:.2f} s on a quiet host), {} competing job(s), persisted RDDs after run {}".format(
            steal_pct, cpu_probe[0], cpu_probe[1], probe.QUIET_PROBE_S, len(foreign),
            out["persisted"]))
    values = out["values"]
    if args.trace:
        values["host.steal_pct"] = steal_pct
        values["host.foreign_jobs"] = len(foreign)
        values["host.cpu_probe_s"] = max(cpu_probe)
    else:
        values["peak_rss_mb"] = rss.peak_kb / 1024.0
    metrics = {n: {"value": values[n], "unit": spec.UNITS[n]} for n in out["names"]}
    for n, m in metrics.items():
        log("  {:32s} {:14.6g} {}".format(n, m["value"], m["unit"]))
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
