"""Driver-side answers are Arrow local relations.

The global ``approx_count_distinct`` / ``approx_quantiles`` /
``approx_topk`` and ``cms_frequencies`` fold their sketch on the driver.
The frame they return must be a ``LocalRelation`` whose collect starts
no Spark job (and so no Python task), with the same schema and rows the
finalize always returned.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import types as T

from stream_lib_spark.agg import SketchSpec, collect_sketch, sketch_agg
from stream_lib_spark.functions import (
    approx_count_distinct,
    approx_quantiles,
    approx_topk,
    cms_frequencies,
)
from stream_lib_spark.hashing import xxhash64_long


@pytest.fixture(scope="module")
def events(spark):
    rows = [(i, f"user-{i % 97}", f"t{i % 5}", float(i % 31)) for i in range(5000)]
    return spark.createDataFrame(rows, "event_id long, user_id string, event_type string, value double")


def _sketch(df, col, spec):
    return collect_sketch(sketch_agg(df, [], col, spec))


def _count_distinct(events):
    sk = _sketch(events, "user_id", SketchSpec("hll", p=12))
    return (approx_count_distinct(events, "user_id", p=12),
            T.StructType([T.StructField("approx_distinct", T.DoubleType())]),
            [(float(sk.cardinality()),)])


def _quantiles(events):
    sk = _sketch(events, "value", SketchSpec("tdigest", compression=100.0))
    return (approx_quantiles(events, "value", [0.5, 0.9]),
            T.StructType([T.StructField("q_0_5", T.DoubleType()),
                          T.StructField("q_0_9", T.DoubleType())]),
            [(float(sk.quantile(0.5)), float(sk.quantile(0.9)))])


_TOPK_SCHEMA = T.StructType([
    T.StructField("item", T.StringType()),
    T.StructField("count", T.LongType()),
    T.StructField("error", T.LongType()),
    T.StructField("rank", T.IntegerType()),
])


def _topk(events):
    sk = _sketch(events, "event_type", SketchSpec("spacesaving", capacity=64))
    return (approx_topk(events, "event_type", k=3, capacity=64),
            _TOPK_SCHEMA,
            [(str(i), int(c), int(e), r) for r, (i, c, e) in enumerate(sk.top_k(3), 1)])


def _cms(events):
    # probe 7 casts to the long column; "x" does not, so it counts 0
    sk = _sketch(events, "event_id", SketchSpec("cms", eps=1e-3, confidence=0.99))
    est = sk.estimate_hashed(xxhash64_long(np.array([7], dtype=np.int64)))
    return (cms_frequencies(events, "event_id", [7, "x"], eps=1e-3),
            T.StructType([T.StructField("item", T.StringType()),
                          T.StructField("est_count", T.LongType())]),
            [("7", int(est[0])), ("x", 0)])


@pytest.mark.parametrize("build", [_count_distinct, _quantiles, _topk, _cms],
                         ids=["count_distinct", "quantiles", "topk", "cms_frequencies"])
def test_global_answer_is_local_relation(events, no_spark_jobs, build):
    out, schema, rows = build(events)
    assert out._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"
    assert out.schema == schema  # names, types and nullability
    with no_spark_jobs():
        got = [tuple(r) for r in out.collect()]
    assert got == rows


def test_global_topk_empty_input(events, no_spark_jobs):
    out = approx_topk(events.where("event_id < 0"), "event_type", k=3)
    assert out.schema == _TOPK_SCHEMA
    with no_spark_jobs():
        assert out.collect() == []


def test_cms_frequencies_probing_starts_no_job(events, spark_jobs):
    """Beyond building the sketch, ``cms_frequencies`` starts no job: the
    probe hashing folds into the probe relation."""
    spec = SketchSpec("cms", eps=1e-3, confidence=0.99)
    with spark_jobs() as sketch_only:
        _sketch(events, "user_id", spec)
    with spark_jobs() as probed:
        cms_frequencies(events, "user_id", ["user-3", "absent"], eps=1e-3).collect()
    assert sketch_only and len(probed) == len(sketch_only)


def test_no_spark_jobs_catches_a_job(spark, no_spark_jobs):
    with pytest.raises(AssertionError, match="expected no Spark job"):
        with no_spark_jobs():
            spark.range(3).collect()
