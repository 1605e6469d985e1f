"""Skew mitigation for hot-key aggregations.

At 100 TB a handful of hot keys (a viral campaign id, an empty-string
document, a default user id) can stall a stage on one straggler task.
salted_aggregate is the standard remedy, packaged as a composable
DataFrame transform: two-phase aggregation — pre-aggregate on (key, salt)
to spread a hot key over N reducers, then combine partials. Works for any
algebraic aggregate (sum/count/min/max and avg via sum+count).

AQE's skew-join splitting (enabled in session.py) covers sort-merge joins
automatically; aggregations are what AQE does not rebalance.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _content_salt(df: DataFrame, salt_buckets: int) -> F.Column:
    """Deterministic per-row salt: a content hash over every column.

    Unlike partition-id or seeded-``rand`` salts, a content hash is stable
    under AQE repartitioning, task retries, and speculative execution —
    a re-executed task re-derives the identical salt for every row, so the
    job keeps retry determinism (the property operators/sampling.py exists
    to protect). A hot KEY still spreads across buckets because its rows
    differ in the non-key columns; only exact duplicate rows co-locate,
    which is benign for algebraic aggregates."""
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns], F.lit("phoebe-salt")),
        F.lit(salt_buckets),
    ).cast("int")


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str] = (),
    count: bool = True,
    salt_buckets: int = 32,
) -> DataFrame:
    """Two-phase salted aggregation: groupBy(keys + salt) partials, then
    groupBy(keys) combine. Identical results to a direct groupBy; the first
    shuffle spreads each key over ``salt_buckets`` reducers."""
    keys = list(keys)
    salted = df.withColumn("_salt", _content_salt(df, salt_buckets))
    partial_aggs = [F.sum(c).alias(f"_s_{c}") for c in sum_cols]
    if count:
        partial_aggs.append(F.count(F.lit(1)).alias("_s_cnt"))
    partials = salted.groupBy(*keys, "_salt").agg(*partial_aggs)
    final_aggs = [F.sum(f"_s_{c}").alias(f"sum_{c}") for c in sum_cols]
    if count:
        final_aggs.append(F.sum("_s_cnt").alias("count"))
    return partials.groupBy(*keys).agg(*final_aggs)
