"""Driver-side small frames: every frame the engine builds from driver rows
is a LocalRelation (exact size, given nullability, no Spark job to read),
and validation plans build without starting a Spark job."""

import pathlib
import re
import uuid

import pytest
from pyspark.sql import types as T

from pandasschema_spark import clips_suite
from pandasschema_spark.plans.compiler import VIOLATION_SCHEMA, empty_violations
from pandasschema_spark.sources import datagen as G

PKG = pathlib.Path(__file__).resolve().parent.parent / "pandasschema_spark"
ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"

#: FIXTURES.md §C1: the codec dimension, every field NOT NULL
CODEC_DIM_SCHEMA = T.StructType([
    T.StructField("codec", T.StringType(), False),
    T.StructField("container", T.StringType(), False),
    T.StructField("lossy", T.BooleanType(), False),
])


@pytest.mark.parametrize("arrow", ["true", "false"])
@pytest.mark.parametrize("build, schema", [
    (G.codec_dim, CODEC_DIM_SCHEMA),
    (empty_violations, VIOLATION_SCHEMA),
], ids=["codec_dim", "empty_violations"])
def test_driver_frames_are_local_relations(spark, arrow, build, schema):
    old = spark.conf.get(ARROW_CONF)
    spark.conf.set(ARROW_CONF, arrow)
    try:
        df = build(spark)
        plan = df._jdf.queryExecution().optimizedPlan()
    finally:
        spark.conf.set(ARROW_CONF, old)
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert df.schema == schema  # StructField equality includes nullability


def _build_jobs(spark, path):
    """Job ids started while building validate_clips over a fresh read and
    a fresh codec dim (as each benchmark pass does)."""
    df = spark.read.parquet(path)  # schema inference may run a job: not ours
    sc = spark.sparkContext
    group = "psf-test-{}".format(uuid.uuid4().hex)
    sc.setJobGroup(group, group)
    try:
        clips_suite.validate_clips(
            df, G.codec_dim(spark), seed=7, with_pcm_checks=True, row_key="row_ord")
    finally:
        sc._jsc.clearJobGroup()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_validate_clips_plan_build_starts_no_jobs(spark, tmp_path):
    path = str(tmp_path / "clips")
    G.write_clips(spark, path, 200, seed=7, partitions=2, bucket_count=4)
    assert _build_jobs(spark, path) == [], \
        "validate_clips started Spark jobs before the action"


def test_repeat_validate_clips_plan_build_starts_no_jobs(spark, tmp_path):
    path = str(tmp_path / "clips")
    G.write_clips(spark, path, 200, seed=7, partitions=2, bucket_count=4)
    _build_jobs(spark, path)
    assert _build_jobs(spark, path) == [], \
        "a repeat validate_clips started Spark jobs before the action"


def test_create_dataframe_only_in_the_helper():
    offenders = [
        "{}:{}".format(p.relative_to(PKG), i)
        for p in sorted(PKG.rglob("*.py")) if p.name != "frames.py"
        for i, line in enumerate(p.read_text().splitlines(), start=1)
        if re.search(r"createDataFrame\(", line)
    ]
    assert offenders == [], (
        "driver-side frames go through pandasschema_spark.frames.local_frame "
        "(createDataFrame(list) plans a Python-worker LogicalRDD of size "
        "Long.MAX): {}".format(offenders))
