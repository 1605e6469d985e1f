"""Data-layout operators: Morton (Z-order) interleaving for multi-dimension
scan locality.

At 100 TB the dominant cost of a selective scan is how many parquet
row-groups survive min/max pruning. Sorting on one column gives perfect
pruning on that column and none on any other; interleaving the bits of two
(quantized) columns gives a single sort key whose contiguous ranges stay
narrow in BOTH dimensions — the same trick behind Delta/Iceberg ``ZORDER
BY`` (public: Morton 1966; Databricks/Iceberg docs describe the layout, the
implementation here is independent).

The interleave is emitted as a *literal* integer expression (div/mod bit
extraction, no engine-specific shift operators), so the identical formula
runs as Spark whole-stage codegen and as the DuckDB oracle — the same
literal-expression pattern as the Savitzky-Golay coefficient oracle.

Reference scope note: dos-group/phoebe has no layout optimizer; this module
is part of the engine-extension surface (SURVEY §2.11) a training-data
pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def morton_expr(x: str, y: str, bits: int, div: str) -> str:
    """Literal bit-interleave of two already-quantized non-negative ints.

    ``div`` is the integer-division operator spelling (Spark SQL: ``div``;
    DuckDB: ``//``). Output has ``2*bits`` significant bits: x occupies the
    even bit positions, y the odd ones.
    """
    terms = []
    for i in range(bits):
        terms.append(f"((({x}) {div} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({y}) {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def quantize_expr(c: str, cmin: str, cmax: str, buckets: int, div: str) -> str:
    """Equal-width quantization of ``c`` into ``[0, buckets)`` given min/max
    expressions — ``(c - min) * buckets // (max - min + 1)`` in exact
    integer math (inputs are integer keys), identical in both engines."""
    return f"((({c}) - ({cmin})) * {buckets} {div} (({cmax}) - ({cmin}) + 1))"


def global_rank_by_value(
    df: DataFrame,
    value_col: str,
    tie_col: str,
    descending: bool = True,
    out_col: str = "r",
    bucket=None,
) -> DataFrame:
    """EXACT global row_number over (value_col [desc], tie_col asc) WITHOUT
    a single-reducer global window — the scale trap of
    ``row_number().over(Window.orderBy(...))``, which moves every row into
    one partition.

    Two-phase value-bucketed rank (the q224/q228 family trick applied to a
    continuous sort key): per-BUCKET counts (domain-bounded) roll up
    map-side; their cumulative offsets are a window over the tiny
    distinct-bucket frame only; each row's rank is its bucket's offset
    plus a row_number over the bucket PARTITION ordered by (value, tie) —
    distributed, since the window key is the bucket. Bit-identical to the
    naive global window, so oracles stay unchanged.

    ``bucket``: optional Column that MONOTONICALLY coarsens a continuous
    value (e.g. ``F.floor(F.col("price"))``, ``F.round("quality", 2)``) so
    the offsets frame is bounded by the value RANGE, not the row count.
    Defaults to the value itself — right for integer-domain keys (token
    counts, sizes). Monotonicity is what keeps bucket-major order
    consistent with value order; within a bucket the exact value still
    sorts first.
    """
    from pyspark.sql import Window

    v = F.col(value_col)
    b = (bucket if bucket is not None else v).alias("__bkt")
    dfb = df.withColumn("__bkt", bucket if bucket is not None else v)
    vals = dfb.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__n"))
    order = F.col("__bkt").desc() if descending else F.col("__bkt").asc()
    offs = vals.select(
        "__bkt",
        (
            F.coalesce(
                F.sum("__n").over(
                    Window.orderBy(order).rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            )
        ).cast("long").alias("__off"),
    )
    vorder = v.desc() if descending else v.asc()
    within = F.row_number().over(
        Window.partitionBy("__bkt").orderBy(vorder, F.col(tie_col).asc())
    )
    return (
        dfb.join(F.broadcast(offs), "__bkt")
        .withColumn(out_col, (F.col("__off") + within).cast("long"))
        .drop("__off", "__bkt")
    )


def global_prefix_sums(
    df: DataFrame,
    order_col: str,
    tie_col: str,
    bucket,
    sum_cols: list[str],
    rn_col: str = "i",
) -> DataFrame:
    """EXACT global row_number AND running sums over a total order
    WITHOUT a single-reducer window — the prefix-sum sibling of
    :func:`global_rank_by_value` (round-9; fixes the q303 shape where a
    cumulative random walk single-partitioned the whole event stream).

    Two-phase: per-BUCKET counts and column totals roll up map-side;
    their cumulative offsets are a window over the tiny distinct-bucket
    frame only (``bucket`` must MONOTONICALLY coarsen the order column —
    e.g. the day of an event timestamp, so the offsets frame is bounded
    by the time domain); each row then adds its bucket's offsets to a
    row_number / running sums over the bucket PARTITION. Bit-identical
    to ``F.sum(c).over(Window.orderBy(order, tie))`` for integer sums.
    """
    from pyspark.sql import Window

    dfb = df.withColumn("__bkt", bucket)
    per = dfb.groupBy("__bkt").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(c).alias(f"__t_{c}") for c in sum_cols],
    )
    wb = Window.orderBy(F.col("__bkt").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = per.select(
        "__bkt",
        F.coalesce(F.sum("__n").over(wb), F.lit(0)).cast("long").alias("__off_n"),
        *[
            F.coalesce(F.sum(f"__t_{c}").over(wb), F.lit(0))
            .cast("long")
            .alias(f"__off_{c}")
            for c in sum_cols
        ],
    )
    wl = Window.partitionBy("__bkt").orderBy(
        F.col(order_col).asc(), F.col(tie_col).asc()
    )
    out = dfb.join(F.broadcast(offs), "__bkt")
    out = out.withColumn(
        rn_col, (F.col("__off_n") + F.row_number().over(wl)).cast("long")
    )
    for c in sum_cols:
        out = out.withColumn(
            f"cum_{c}",
            (F.col(f"__off_{c}") + F.sum(c).over(wl)).cast("long"),
        )
    return out.drop("__bkt", "__off_n", *[f"__off_{c}" for c in sum_cols])


def exact_ntile_expr(rank_col: str, n_col: str, k: int):
    """The exact NTILE(k) bucket for a 1-based global rank, replicating
    Spark/DuckDB semantics (first n%k buckets get ceil(n/k) rows) — pairs
    with :func:`global_rank_by_value` to bucket without a global window.
    """
    r, n = rank_col, n_col
    return F.expr(
        f"""
        CASE WHEN {r} <= ({n} % {k}) * ({n} div {k} + 1)
             THEN ({r} - 1) div ({n} div {k} + 1) + 1
             ELSE ({n} % {k})
                  + ({r} - ({n} % {k}) * ({n} div {k} + 1) - 1)
                    div ({n} div {k}) + 1
        END
        """
    )
