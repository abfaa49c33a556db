"""Compile once, validate many frames: a Schema reuses its name-bound row
projection across validate() calls, and every reuse answers exactly what a
fresh compile over the same frame answers."""

import collections
import json
import os
import subprocess
import sys
import textwrap

import pytest

from pandasschema_spark import Column, Schema, clips_suite
from pandasschema_spark import validation as V
from pandasschema_spark.plans import compiler
from pandasschema_spark.runner import ValidationRunner
from pandasschema_spark.sources import datagen as G
from pandasschema_spark.sources.warehouse import Warehouse
from pandasschema_spark.validation import (
    ConditionalValidation,
    CrossColumnExprValidation,
    InListValidation,
    InRangeValidation,
    MatchesPatternValidation,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _read(spark, tmp_path, name, rows, ddl):
    path = str(tmp_path / name)
    spark.createDataFrame(rows, ddl).write.parquet(path)
    return spark.read.parquet(path)


def _violations(res):
    return collections.Counter(
        (r["row"], r["column"], r["value"], r["message"], r["check_id"], r["seq"])
        for r in res.violations.collect())


def _schema():
    return Schema([
        Column("qty", [InRangeValidation(1, 25)]),
        Column("flag", [InListValidation(["A", "B"]), MatchesPatternValidation(r"^[A-Z]$")]),
    ])


@pytest.fixture
def compiles(monkeypatch):
    """Counts compiled projections (one per _Projection built)."""
    made = []
    orig = compiler._Projection.__init__

    def counting(self, *a, **kw):
        made.append(self)
        orig(self, *a, **kw)

    monkeypatch.setattr(compiler._Projection, "__init__", counting)
    return made


def test_one_schema_two_reads_gives_each_frames_violations(spark, tmp_path, compiles):
    ddl = "rid long, qty int, flag string"
    a = _read(spark, tmp_path, "a", [(1, 5, "A"), (2, 99, "A"), (3, 5, "zz")], ddl)
    b = _read(spark, tmp_path, "b", [(1, 30, "B"), (2, 7, "C"), (3, None, "B")], ddl)
    schema = _schema()
    got_a = _violations(schema.validate(a, columns=["qty", "flag"], row_key="rid"))
    got_b = _violations(schema.validate(b, columns=["qty", "flag"], row_key="rid"))
    assert len(compiles) == 1
    assert got_a == _violations(_schema().validate(a, columns=["qty", "flag"], row_key="rid"))
    assert got_b == _violations(_schema().validate(b, columns=["qty", "flag"], row_key="rid"))
    assert {r for r, *_ in got_a} == {2, 3}
    assert {r for r, *_ in got_b} == {1, 2, 3}


def test_checked_column_of_another_type_recompiles(spark, tmp_path, compiles):
    a = _read(spark, tmp_path, "a", [(1, 5, "A"), (2, 99, "A")], "rid long, qty int, flag string")
    # string qty takes the pandas to_numeric path, not the native compare
    b = _read(spark, tmp_path, "b", [(1, "5", "A"), (2, "x", "A"), (3, "30", "A")],
              "rid long, qty string, flag string")
    schema = _schema()
    schema.validate(a, columns=["qty", "flag"], row_key="rid").violations.collect()
    got_b = _violations(schema.validate(b, columns=["qty", "flag"], row_key="rid"))
    assert len(compiles) == 2
    assert got_b == _violations(_schema().validate(b, columns=["qty", "flag"], row_key="rid"))
    assert {(r, v) for r, _, v, *_ in got_b} == {(2, "x"), (3, "30")}


def test_frame_reading_checks_compile_per_call(spark, tmp_path):
    ddl = "rid long, a int, b int"
    first = _read(spark, tmp_path, "first", [(1, 1, 2), (2, 5, 3), (3, -1, 50)], ddl)
    second = _read(spark, tmp_path, "second", [(1, 4, 1), (2, 2, 2), (3, 3, 11)], ddl)
    schema = Schema([
        Column("a", [CrossColumnExprValidation(["a", "b"], lambda d: d["a"] <= d["b"],
                                               "a exceeds b")]),
        Column("b", [ConditionalValidation(["a", "b"], lambda d: d["a"] > 0,
                                           InRangeValidation(0, 10), "b")]),
    ])
    for frame, expected in [(first, {(2, "a")}), (second, {(1, "a"), (3, "b")}),
                            (first, {(2, "a")})]:
        res = schema.validate(frame, columns=["a", "b"], row_key="rid")
        assert {(r["row"], r["column"]) for r in res.violations.collect()} == expected


def test_bitmap_first_and_repeat_call_agree(spark, tmp_path):
    frame = _read(spark, tmp_path, "f", [(1, 5, "A"), (2, 99, "Z"), (3, None, "zz"), (4, 3, "B")],
                  "rid long, qty int, flag string")
    schema = _schema()

    def bitmaps():
        out = schema.validate_bitmap(frame, columns=["qty", "flag"], row_key="rid")
        return sorted(tuple(r) for r in out.collect())

    first = bitmaps()
    assert first == [(2, 3, 2), (3, 7, 3)]
    assert bitmaps() == first


def test_repeat_validate_clips_compiles_no_check(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "clips")
    G.write_clips(spark, path, 1200, seed=7, partitions=2, bucket_count=2)
    first = clips_suite.validate_clips(
        spark.read.parquet(path), G.codec_dim(spark), seed=7, row_key="row_ord")
    calls = []

    def counting(cls, name):
        orig = getattr(cls, name)

        def wrapped(self, *a, **kw):
            calls.append((type(self).__name__, name))
            return orig(self, *a, **kw)

        monkeypatch.setattr(cls, name, wrapped)

    counting(V._SeriesValidation, "compile_predicate")
    for cls in (V.CustomRowValidation, V.CrossColumnExprValidation, V.ConditionalValidation):
        counting(cls, "compile_row_predicate")
    again = clips_suite.validate_clips(
        spark.read.parquet(path), G.codec_dim(spark), seed=7, row_key="row_ord")
    assert calls == []
    assert _violations(again) == _violations(first) and len(first.violations.collect()) > 0


def test_runner_compiles_its_local_schema_once(spark, tmp_path, monkeypatch):
    wh = Warehouse(str(tmp_path / "wh"))
    G.write_clips(spark, wh.path("clips"), 400, seed=42, with_audio=False,
                  partitions=2, bucket_count=4)
    schema = clips_suite.clips_schema(G.codec_dim(spark), seed=42, with_pcm_checks=False)
    compiled = collections.Counter()
    orig = V._SeriesValidation.compile_predicate

    def counting(self, col, spark_type):
        compiled[id(self)] += 1
        return orig(self, col, spark_type)

    monkeypatch.setattr(V._SeriesValidation, "compile_predicate", counting)
    summary = ValidationRunner(wh, "compile_once", batch_buckets=1).run(
        spark, schema, validate_columns=clips_suite.PUBLIC_COLUMNS)
    assert summary["batches"] == 4
    assert compiled and set(compiled.values()) == {1}, compiled


RESTART_SCRIPT = textwrap.dedent("""
    import json, sys
    from pyspark.sql import SparkSession
    from pandasschema_spark import clips_suite
    from pandasschema_spark.sources import datagen as G

    def session():
        return (SparkSession.builder.master("local[2]")
                .config("spark.ui.enabled", "false")
                .config("spark.ui.showConsoleProgress", "false")
                .config("spark.sql.shuffle.partitions", "2")
                .config("spark.driver.memory", "1g").getOrCreate())

    path = sys.argv[1]
    spark = session()
    G.write_clips(spark, path, 1200, seed=7, partitions=2, bucket_count=2)
    counts = []
    for restart in (False, True):
        if restart:
            spark.stop()
            spark = session()
        res = clips_suite.validate_clips(
            spark.read.parquet(path), G.codec_dim(spark), seed=7, row_key="row_ord")
        counts.append(res.violations.count())
    spark.stop()
    print(json.dumps(counts))
""")


def test_validate_clips_across_a_session_restart(tmp_path):
    """A fresh SparkContext must not run UDFs compiled under a stopped one
    (their JVM function holds the old context's Python accumulator). Runs
    in a subprocess so that the shared test session survives."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run(
        [sys.executable, "-c", RESTART_SCRIPT, str(tmp_path / "clips")],
        capture_output=True, text=True, env=env, cwd=str(tmp_path), timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    before, after = json.loads(out.stdout.strip().splitlines()[-1])
    assert before == after > 0
    assert "Failed to update accumulator" not in out.stderr, out.stderr[-4000:]
