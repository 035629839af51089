"""Pin operators/rankstats.py to the exact rank-quantile rule
q(rn) = ((rn-1)*parts) div n + 1 — the replacement for q188's chained
global ranks must be bit-identical on every boundary/tie/NULL shape,
including n < parts (unreachable buckets)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_marketeye_airflow_spark.operators.rankstats import (
    rank_quantile_boundaries,
    rank_quantile_col,
)


def _reference(spark, rows, parts):
    """Plain-window oracle: rank under (value NULLS FIRST, key) asc,
    then the literal floor-division rule."""
    if not rows:
        return {}
    df = spark.createDataFrame(rows, "value long, key long")
    n = len(rows)
    w = Window.orderBy(
        F.col("value").asc_nulls_first(), F.col("key").asc_nulls_first()
    )
    out = df.withColumn(
        "q",
        (((F.row_number().over(w) - 1) * parts) / F.lit(n)).cast("long")
        .cast("int")
        + 1,
    ).collect()
    return {r["key"]: r["q"] for r in out}


def _via_boundaries(spark, rows, parts):
    df = spark.createDataFrame(rows, "value long, key long") if rows else (
        spark.createDataFrame([], "value long, key long")
    )
    n, bnds = rank_quantile_boundaries(df, "value", "key", parts=parts)
    assert n == len(rows)
    out = df.select(
        "key", rank_quantile_col("value", "key", bnds).alias("q")
    ).collect()
    return {r["key"]: r["q"] for r in out}


CASES = [
    # (name, rows as (value, key))
    ("empty", []),
    ("n1", [(10, 1)]),
    ("n2", [(10, 1), (5, 2)]),
    ("n3_ties", [(7, 1), (7, 2), (7, 3)]),
    ("n4", [(4, 1), (3, 2), (2, 3), (1, 4)]),
    ("n5_ties", [(1, 1), (1, 2), (2, 3), (2, 4), (3, 5)]),
    ("n8_all_equal", [(9, k) for k in range(8)]),
    (
        "n17_mixed",
        [((i * 7) % 5, i) for i in range(17)],
    ),
    (
        "n100_heavy_ties",
        [((i % 3), i) for i in range(100)],
    ),
]


@pytest.mark.parametrize("name,rows", CASES, ids=[c[0] for c in CASES])
def test_matches_floor_division_rule(spark, name, rows):
    assert _via_boundaries(spark, rows, 4) == _reference(spark, rows, 4)


def test_nulls_first_value_and_key(spark):
    # enough NULL values that a boundary row itself is NULL-valued —
    # the comparison form must still split buckets exactly like the
    # NULLS FIRST rank (NULL == -infinity).
    rows = [(None, k) for k in range(6)] + [(1, 10), (2, 11)]
    df = spark.createDataFrame(rows, "value long, key long")
    n, bnds = rank_quantile_boundaries(df, "value", "key", parts=4)
    assert n == 8
    got = {
        r["key"]: r["q"]
        for r in df.select(
            "key", rank_quantile_col("value", "key", bnds).alias("q")
        ).collect()
    }
    # NULLS FIRST rank order: keys 0..5 (NULL values, key asc), then 10, 11
    # q(rn) over n=8: rn 1-2 -> 1, 3-4 -> 2, 5-6 -> 3, 7-8 -> 4
    assert got == {0: 1, 1: 1, 2: 2, 3: 2, 4: 3, 5: 3, 10: 4, 11: 4}


def test_parts_other_than_four(spark):
    rows = [(i, i) for i in range(10)]
    assert _via_boundaries(spark, rows, 3) == _reference(spark, rows, 3)
    assert _via_boundaries(spark, rows, 5) == _reference(spark, rows, 5)


def test_only_boundary_partitions_sorted(spark):
    # the extraction job must touch a bounded number of partitions: the
    # boundary targets span <= parts-1 pids regardless of data size
    df = spark.range(0, 5000).select(
        (F.col("id") % 97).alias("value"), F.col("id").alias("key")
    )
    n, bnds = rank_quantile_boundaries(df, "value", "key", parts=4)
    assert n == 5000 and all(b is not None for b in bnds)
    # boundaries are genuine order statistics: value at ceil(kn/4)+1
    ranked = sorted((r["value"], r["key"]) for r in df.collect())
    for k, b in enumerate(bnds, start=1):
        rb = -(-(k * n) // 4) + 1
        assert tuple(b) == ranked[rb - 1]


def test_internal_column_clash_raises(spark):
    df = spark.createDataFrame([(1, 1, 0)], "value long, key long, _pid int")
    with pytest.raises(ValueError, match="_pid"):
        rank_quantile_boundaries(df, "value", "key")
