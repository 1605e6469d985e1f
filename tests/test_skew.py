"""Salted aggregation must produce identical results to the direct form
(the whole point: same answer, no straggler task)."""

from __future__ import annotations

from pyspark.sql import functions as F

from phoebe_spark.operators.skew import salted_aggregate


def test_salted_aggregate_matches_direct(spark):
    # 90% of rows share one hot key
    df = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, "hot").otherwise(F.concat(F.lit("k"), F.col("id") % 7)).alias("key"),
        (F.col("id") % 100).cast("double").alias("v"),
    )
    direct = {
        (r["key"],): (r["s"], r["c"])
        for r in df.groupBy("key").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")).collect()
    }
    salted = {
        (r["key"],): (r["sum_v"], r["count"])
        for r in salted_aggregate(df, ["key"], sum_cols=["v"]).collect()
    }
    assert salted == direct


def test_salt_deterministic_across_layouts(spark):
    """The salt is a row-content hash: re-partitioning the input (a stand-in
    for AQE re-planning / task retry re-reads) must re-derive the identical
    salt for every row — seeded rand() or partition-id salts fail this."""
    from phoebe_spark.operators.skew import _content_salt

    big = spark.range(2_000).select(
        (F.col("id") % 7).cast("int").alias("k"), F.col("id").alias("payload")
    )
    layouts = [big, big.repartition(13), big.repartition(3, "payload"), big.coalesce(1)]
    salted = [
        sorted(
            (r["k"], r["payload"], r["_salt"])
            for r in df.withColumn("_salt", _content_salt(df, 16)).collect()
        )
        for df in layouts
    ]
    assert all(s == salted[0] for s in salted[1:])


def test_salt_spreads_hot_key(spark):
    """A hot key's rows must still fan out over many salt buckets (hashing
    only the key would collapse them into one)."""
    from phoebe_spark.operators.skew import _content_salt

    big = spark.range(5_000).select(F.lit(1).alias("k"), F.col("id").alias("payload"))
    n_buckets = (
        big.withColumn("_salt", _content_salt(big, 16)).select("_salt").distinct().count()
    )
    assert n_buckets == 16
