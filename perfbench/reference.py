"""Reference jobs: plain PySpark, no engine code, of the same shape as a
workload's pass.

A run alternates reference job and engine pass, and reports each pass's
wall time as a multiple of the reference jobs timed just before and just
after it (``pass_vs_ref_p50``). The host's speed changes by up to ~3x over
seconds to minutes as co-tenants come and go; both jobs see the same
change, so their ratio holds still while the raw seconds do not. Each
reference job uses the same session, inputs, task slots and kind of work
(parquet scan, Arrow UDF batches to Python workers, aggregation,
small driver-bound jobs) as the pass it calibrates, and
returns a value the run compares with its first result, so a reference
job that silently does less work shows as a failure.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _pcm_dot(raw: pd.Series, sr: pd.Series) -> pd.Series:
    """Per clip: decode the stored PCM and take its dot product with a
    synthesized sine of the same length (the PCM check's kind of work)."""
    out = np.zeros(len(raw))
    for j, (b, s) in enumerate(zip(raw, sr)):
        if b is None or not s:
            continue
        x = np.frombuffer(b[:len(b) // 2 * 2], dtype="<i2").astype(np.float32)
        ref = np.sin(np.arange(len(x), dtype=np.float32) * np.float32(2 * np.pi * 440.0 / s))
        # whole numbers, so that their sum does not depend on task order
        out[j] = np.rint(np.dot(x, ref))
    return pd.Series(out)


def clips_job(spark, clips_path: str) -> tuple:
    """Scan the clips table, run the Arrow UDF over every clip, and
    aggregate per bucket; then count duplicated ids."""
    df = spark.read.parquet(clips_path)
    pcm_dot = pandas_udf(_pcm_dot, "double")
    per_bucket = (df.select("bucket", pcm_dot("bytes", "sr_hz").alias("dot"))
                  .groupBy("bucket").agg(F.count("*").alias("n"), F.sum("dot").alias("dot"))
                  .orderBy("bucket").collect())
    dups = df.groupBy("clip_id").count().where("count > 1").count()
    return tuple((r["bucket"], r["n"], r["dot"]) for r in per_bucket), dups


def tables_job(spark, tables_dir: str) -> tuple:
    """Plain-Spark counterparts of the operator_mix queries over the same
    tables, one at a time, each ending in ``count()``: a range filter, a
    uniqueness aggregate joined back, an anti-join against a broadcast
    dimension, and an exact-duplicate grouping of a unioned corpus."""
    def read(t):
        return spark.read.parquet(os.path.join(tables_dir, t + ".parquet"))

    li, orders, events = read("lineitem"), read("orders"), read("events")
    out_of_range = li.where(~F.coalesce(F.col("l_quantity").between(1, 25), F.lit(False)))
    dup_keys = orders.groupBy("o_custkey").count().where("count > 1")
    dim = read("customer").where(F.col("c_custkey") < 100).select("c_custkey")
    docs = read("documents").select("doc_id", "text")
    corpus = docs.unionByName(docs.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"), "text"))
    corpus = corpus.withColumn("h", F.md5(F.lower(F.trim("text"))))
    keep = corpus.groupBy("h").agg(F.min("doc_id").alias("keep"), F.count("*").alias("n"))
    return (
        out_of_range.select("l_orderkey", "l_linenumber").count(),
        orders.join(F.broadcast(dup_keys), "o_custkey", "left_semi").count(),
        events.join(F.broadcast(dim), events.user_id == dim.c_custkey, "left_anti").count(),
        corpus.join(keep.where("n > 1"), "h").where(F.col("doc_id") != F.col("keep")).count(),
    )
