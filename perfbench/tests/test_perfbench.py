"""The benchmark's own tests: declarations, oracles, leak counting, seeds.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import probe, run, spec, tables, workloads as W  # noqa: E402
from pandasschema_spark.functions import audio as A  # noqa: E402
from pandasschema_spark.sources import datagen  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_declares_every_metric_with_a_unit():
    bench = _bench()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(W.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] \
        == [tuple(m) for m in spec.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == [tuple(m[:3]) for m in spec.PER_LAYER]
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
        assert m["better"] in ("higher", "lower")
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_every_per_layer_metric_names_what_it_should_move():
    workloads = set(W.WORKLOADS)
    e2e = {m[0] for m in spec.END_TO_END}
    for name, _unit, _better, layer, moves in spec.PER_LAYER:
        assert layer, name
        if moves == "-":
            continue
        for target in moves.split(","):
            metric, workload = target.split("@")
            assert metric in e2e and workload in workloads, (name, target)


def _rows_for(expected):
    """Violation rows as the engine would report them for an oracle multiset."""
    fragments = {kind: (col, frag) for col, frag, kind in W._KINDS}
    rows = []
    for (kind, row), n in expected.items():
        col, frag = fragments[kind]
        rows += [{"column": col, "message": "value " + frag, "row": row}] * n
    return rows


@pytest.mark.parametrize("with_pcm", [True, False])
def test_corrupted_violation_set_is_counted_as_failed(with_pcm):
    expected = W.expected_clip_violations(W.N_CLIPS, 7, with_pcm)
    good = _rows_for(expected)
    assert W.compare_violations(expected, good) == []
    for bad in (good[1:],                                   # a violation lost
                good + [good[0]],                           # one reported twice
                good[:-1] + [dict(good[-1], row=good[-1]["row"] + 1)],  # wrong row
                good + [{"column": "codec", "message": "x", "row": 1}]):  # unknown check
        tally = run.Tally()
        tally.add(1, W.compare_violations(expected, bad))
        assert (tally.attempted, tally.failed) == (1, 1)


def test_seed_changes_inputs_but_not_closed_form_expectations():
    a, b = tables.generate(1), tables.generate(2)
    assert tables.generate(1)["orders"].equals(a["orders"])
    assert set(a) == set(b)
    for name in a:
        assert a[name].schema == b[name].schema and a[name].num_rows == b[name].num_rows
        assert not a[name].equals(b[name]), name
    assert A.clip_fields(1, 5) != A.clip_fields(2, 5)
    assert W.expected_clip_violations(W.N_CLIPS, 1, False) \
        == W.expected_clip_violations(W.N_CLIPS, 2, False)
    # every injection class is present in the workload's warehouse
    assert all(datagen.expected_violations(W.N_CLIPS).values())


def test_reference_jobs_run_no_engine_code():
    """The headline divides by the reference jobs' time, so an engine
    change must not be able to change them."""
    with open(os.path.join(ROOT, "perfbench", "reference.py")) as fh:
        src = fh.read()
    assert "pandasschema_spark" not in src and "__spark_entry__" not in src
    assert "from ." not in src and "import perfbench" not in src


def test_parse_metric_reads_the_store_formats():
    assert probe.parse_metric("8,000") == 8000
    assert probe.parse_metric("391 ms") == pytest.approx(0.391)
    assert probe.parse_metric(
        "total (min, med, max (stageId: taskId))\n6.4 s (1.4 s, 1.7 s, 1.8 s (stage 7.0: task 3))"
    ) == pytest.approx(6.4)
    assert probe.parse_metric("total (min, med, max)\n53.8 MiB (13.3 MiB, ...)") \
        == pytest.approx(53.8 * 2 ** 20)


def test_own_pytest_is_not_a_competing_job():
    assert not [c for c in probe.foreign_jobs() if "perfbench/tests" in c]


def test_leaked_persist_shows_in_persisted_rdds_after():
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[1]").appName("perfbench-test")
             .config("spark.ui.enabled", "false").getOrCreate())
    df = spark.range(100).persist()
    try:
        df.count()
        assert probe.persisted_rdds(spark) >= 1
        before = probe.persisted_rdds(spark)
        df.unpersist(blocking=True)
        assert probe.persisted_rdds(spark) == before - 1
    finally:
        df.unpersist()
        spark.stop()
