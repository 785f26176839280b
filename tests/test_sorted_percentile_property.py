"""Property test: operators.kitti.sorted_percentile over a sorted
collect_list equals Spark's exact `percentile` aggregate bit for bit,
on groups with duplicates, +/-0.0, NaN, +/-inf, nulls, 1-row groups
and all-null groups."""

from __future__ import annotations

import math
import struct

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from kittispark.operators.kitti import frame_z_scale, sorted_percentile

_PS = (0.0, 0.05, 0.33, 0.5, 1.0)

# NaN is drawn only as float("nan"): Spark's percentile keys its
# counts by Double.equals, which folds every NaN payload into one key,
# so bits of a non-canonical NaN payload are not part of the contract.
_value = st.one_of(
    st.none(),
    st.sampled_from([0.0, -0.0, math.nan, math.inf, -math.inf, 1.0, -1.0]),
    st.floats(allow_nan=False, allow_infinity=False),
)
_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=4), _value),
    min_size=1,
    max_size=40,
)


def _bits(v):
    return None if v is None else struct.pack("<d", v)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_rows)
@example(rows=[(0, None), (1, 2.5), (2, None), (2, None)])  # all-null, 1-row
@example(rows=[(0, -0.0), (0, 0.0), (0, 0.0), (0, -0.0), (1, 0.0), (1, -0.0)])
@example(rows=[(0, math.inf), (0, -math.inf), (0, math.nan), (0, 1.0), (0, 1.0)])
@example(rows=[(0, -math.inf), (0, -math.inf), (0, 3.0), (1, math.inf), (1, math.inf)])
def test_sorted_percentile_matches_spark_percentile_bitwise(spark, rows):
    df = spark.createDataFrame(rows, "g int, v double").repartition(3)
    got = (
        df.groupBy("g")
        .agg(
            *[F.percentile("v", p).alias(f"want{i}") for i, p in enumerate(_PS)],
            F.sort_array(F.collect_list("v")).alias("vs"),
        )
        .select(
            "g",
            *[f"want{i}" for i in range(len(_PS))],
            *[sorted_percentile(F.col("vs"), p).alias(f"got{i}") for i, p in enumerate(_PS)],
        )
        .collect()
    )
    assert {r["g"] for r in got} == {g for g, _ in rows}
    for r in got:
        for i, p in enumerate(_PS):
            assert _bits(r[f"got{i}"]) == _bits(r[f"want{i}"]), (r["g"], p)


def test_frame_z_scale_exact_equals_percentile_and_approx_plan_unchanged(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", -0.0), ("a", 7.5), ("b", None), ("c", 2.0), ("c", 2.0)],
        "frame_id string, z double",
    )
    got = {r["frame_id"]: r["z_scale"] for r in frame_z_scale(df, 0.33).collect()}
    want = {
        r["frame_id"]: r["p"]
        for r in df.groupBy("frame_id").agg(F.percentile("z", 0.33).alias("p")).collect()
    }
    assert {k: _bits(v) for k, v in got.items()} == {k: _bits(v) for k, v in want.items()}
    # the approx branch is still the one-aggregate percentile_approx sketch
    approx = frame_z_scale(df, approx=True)._jdf.queryExecution().optimizedPlan().toString()
    assert "percentile_approx" in approx and "collect_list" not in approx
    # like `percentile`, the exact branch rejects a percentage outside [0, 1]
    for bad in (-0.01, 1.5):
        with pytest.raises(ValueError, match="percentage"):
            frame_z_scale(df, bad)
