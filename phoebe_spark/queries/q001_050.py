"""Query registry block 001-050 (mechanically split from the former
single-module registry in round 9; see ``_core`` for the decorator,
the registry dicts, and the float-determinism policy)."""

from __future__ import annotations


from phoebe_spark.operators import dedup, graph, sampling, similarity, text

from pyspark.sql import DataFrame, SparkSession, Window
from phoebe_spark.timeseries import aggregates as ts_agg
from phoebe_spark.timeseries import core as ts_core
from pyspark.sql import functions as F

from ._core import EPOCH_SQL, _dec, _dim, _dsum2, _epoch, _t, query

# ---------------------------------------------------------------------------
# Relational core (SURVEY §2.2-2.6 on the TPC-H-ish tables)
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
           round(CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) / count(*), 6) AS avg_qty,
           round(CAST(round(sum(CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) / count(*), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (A1-A3 aggregates + F2 filter).

    Scale notes: single scan, filter pushed to parquet, map-side partial
    aggregation on a 4-group key — shuffle is O(groups), not O(rows).
    """
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum2(_dec("l_quantity")).alias("sum_qty"),
            _dsum2(_dec("l_extendedprice")).alias("sum_base_price"),
            _dsum2(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))).alias("sum_disc_price"),
            F.round(_dsum2(_dec("l_quantity")) / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.round(_dsum2(_dec("l_discount")) / F.count(F.lit(1)), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q02_filter_project",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 100000
    """,
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2: equality filter + column projection; both push to the scan."""
    o = _t(spark, sf_dir, "orders")
    return o.filter((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000)).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@query(
    "q03_membership_filter",
    oracle="""
    SELECT o_orderkey, o_orderpriority FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def q03_membership_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: membership (IN) filter — pushed to parquet as an In filter."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).select(
        "o_orderkey", "o_orderpriority"
    )


@query(
    "q04_region_acctbal",
    oracle="""
    SELECT r.r_name, count(*) AS num_customers,
           round(CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) / count(*), 6) AS avg_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q04_region_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension join chain with broadcast: nation/region are tiny dims —
    broadcast both so the customer scan never shuffles on data."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("num_customers"),
            F.round(_dsum2(_dec("c_acctbal")) / F.count(F.lit(1)), 6).alias("avg_acctbal"),
        )
    )


@query(
    "q05_revenue_by_nation",
    oracle="""
    SELECT n.n_name,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name
    """,
)
def q05_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join (lineitem ⋈ orders) + broadcast dims + aggregation.

    Scale notes: the only real shuffle is lineitem⋈orders on orderkey (both
    sides co-partitioned by the join key after shuffle; with bucketed tables
    this becomes shuffle-free). customer/nation broadcast. The orders-status
    filter is applied before the join, shrinking the build side.
    """
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(_dim(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(_dsum2(rev).alias("revenue"))
    )


@query(
    "q06_candidate_grid",
    oracle="""
    SELECT CAST(t.s AS INT) AS scale_out, d.o_orderstatus
    FROM generate_series(2, 24) t(s)
    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) d
    """,
)
def q06_candidate_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 grid-replication join: replicate rows across the scale-out range
    (``latency/models.py:141-146``). spark.range is a distributed source."""
    grid = spark.range(2, 25).select(F.col("id").cast("int").alias("scale_out"))
    d = _t(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return grid.crossJoin(d)


@query(
    "q07_union_distinct",
    oracle="""
    SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_nationkey FROM customer WHERE c_acctbal > 5000
    """,
)
def q07_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 vertical concat + U3 distinct."""
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_nationkey")
    return a.unionByName(b).distinct()


@query(
    "q12_threshold_pick",
    oracle="""
    SELECT o_orderpriority,
           CASE WHEN count(CASE WHEN o_totalprice > 150000 THEN 1 END) > 0
                THEN min(CASE WHEN o_totalprice > 150000 THEN o_totalprice END)
                ELSE max(o_totalprice) END AS picked_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def q12_threshold_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 first-match threshold search with argmax fallback
    (``baselines/models.py:40-51``): smallest value exceeding the
    threshold, else the overall max."""
    o = _t(spark, sf_dir, "orders")
    over = F.when(F.col("o_totalprice") > 150000, F.col("o_totalprice"))
    return o.groupBy("o_orderpriority").agg(
        F.when(F.count(over) > 0, F.min(over)).otherwise(F.max("o_totalprice")).alias("picked_price")
    )


# ---------------------------------------------------------------------------
# Time-series kernel on the events table (SURVEY §2.4-2.5)
# ---------------------------------------------------------------------------


@query(
    "q14_ts_minutely_sum",
    oracle=f"""
    SELECT event_type, CAST(floor({EPOCH_SQL.format(c='ts')} / 60) AS BIGINT) AS minute,
           round(sum(value), 6) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q14_ts_minutely_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 cross-series sum (PromQL ``sum(metric)`` per timestamp bucket,
    ``ClientsManager.java:341-364``): one shuffle on (key, minute)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("minute", F.floor(_epoch() / 60).cast("long"))
        .groupBy("event_type", "minute")
        .agg(F.round(F.sum("value"), 6).alias("sum_value"))
    )


@query(
    "q15_ts_trailing_avg",
    oracle=f"""
    WITH m AS (SELECT max({EPOCH_SQL.format(c='ts')}) AS mx FROM events)
    SELECT event_type, round(avg(value), 6) AS avg_value, count(*) AS n_obs
    FROM events, m
    WHERE {EPOCH_SQL.format(c='ts')} BETWEEN m.mx - 604800 AND m.mx
    GROUP BY event_type
    """,
)
def q15_ts_trailing_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 trailing window + W2 inclusive slice + A6 mean
    (``Graph.java:82-87``): average over the trailing 7 days, inclusive on
    both ends like ``.loc[start:end]``."""
    e = _t(spark, sf_dir, "events").withColumn("es", _epoch())
    mx = e.agg(F.max("es").alias("mx"))
    return (
        e.crossJoin(F.broadcast(mx))
        .filter(F.col("es").between(F.col("mx") - 604800, F.col("mx")))
        .groupBy("event_type")
        .agg(F.round(F.avg("value"), 6).alias("avg_value"), F.count(F.lit(1)).alias("n_obs"))
    )


@query(
    "q16_ts_summary",
    oracle=f"""
    SELECT event_type,
           round(avg(value), 6) AS avg_value,
           min(value) AS min_value, max(value) AS max_value,
           round(sum(value), 6) AS sum_value,
           count(*) AS count_obs, count(value) AS count_non_null,
           min({EPOCH_SQL.format(c='ts')}) AS start_time,
           max({EPOCH_SQL.format(c='ts')}) AS end_time,
           max_by(value, ts) AS last_value, min_by(value, ts) AS first_value
    FROM events GROUP BY event_type
    """,
)
def q16_ts_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A3 null-skipping aggregates + A8 first/last by time
    (``TimeSeries.java:256-316``), via :func:`ts_agg.ts_summary`."""
    e = _t(spark, sf_dir, "events")
    # first/last must be ordered by the raw (microsecond) timestamp, but
    # reported bounds use epoch seconds — pass raw ts for ordering.
    base = e.select("event_type", F.col("ts").alias("_raw"), _epoch().alias("timestamp"), "value")
    s = ts_agg.ts_summary(base.withColumn("timestamp", F.col("timestamp")), keys=["event_type"])
    # recompute last/first against the raw timestamp for exact ordering
    raw = base.groupBy("event_type").agg(
        F.max_by("value", F.col("_raw")).alias("last_value"),
        F.min_by("value", F.col("_raw")).alias("first_value"),
    )
    return (
        s.drop("last_value", "first_value")
        .join(raw, "event_type")
        .select(
            "event_type",
            F.round("avg_value", 6).alias("avg_value"),
            "min_value",
            "max_value",
            F.round("sum_value", 6).alias("sum_value"),
            "count_obs",
            "count_non_null",
            "start_time",
            "end_time",
            "last_value",
            "first_value",
        )
    )


@query(
    "q17_ts_slope",
    oracle=f"""
    WITH x AS (
      SELECT event_type, CAST({EPOCH_SQL.format(c='ts')} - 1704067200 AS DOUBLE) AS xs, value
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           round(covar_pop(xs, value) / var_pop(xs) * 86400, 6) + 0.0 AS slope_per_day,
           round(avg(value) - covar_pop(xs, value) / var_pop(xs) * avg(xs), 6) + 0.0 AS intercept
    FROM x GROUP BY event_type
    """,
)
def q17_ts_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10 OLS trend per series (``common/routes.py:27-47``,
    ``ClientsManager.java:329-339``): closed-form slope/intercept as
    aggregates; x centered to keep the moments well-conditioned."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", (_epoch() - F.lit(1704067200)).alias("timestamp"), "value"
    )
    s = ts_agg.slope_intercept(e, keys=["event_type"])
    return s.select(
        "event_type",
        (F.round(F.col("slope") * 86400, 6) + F.lit(0.0)).alias("slope_per_day"),
        (F.round("intercept", 6) + F.lit(0.0)).alias("intercept"),
    )


@query(
    "q18_ts_strided",
    oracle="""
    WITH r AS (
      SELECT event_id, event_type,
             row_number() OVER (PARTITION BY event_type ORDER BY ts DESC) AS rn
      FROM events
    )
    SELECT event_id, event_type FROM r WHERE (rn - 1) % 50 = 0
    """,
)
def q18_ts_strided(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 strided subsample anchored at the newest observation
    (``TimeSeries.java:185-215``), via :func:`ts_core.strided_subsample`."""
    e = _t(spark, sf_dir, "events").select("event_id", "event_type", F.col("ts").alias("timestamp"))
    out = ts_core.strided_subsample(e.withColumn("value", F.lit(None).cast("double")), rate=50, keys=["event_type"])
    return out.select("event_id", "event_type")


@query(
    "q19_ts_rolling",
    oracle="""
    SELECT event_id, event_type,
           round(avg(value) OVER (PARTITION BY event_type ORDER BY ts
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS rolling_avg
    FROM events
    """,
)
def q19_ts_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 centered rolling mean, min_periods=1
    (``workload/models.py:64-68``), via :func:`ts_core.rolling_mean_centered`."""
    e = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("ts").alias("timestamp"), "value"
    )
    out = ts_core.rolling_mean_centered(e, half_window=2, keys=["event_type"], out_col="rolling_avg")
    return out.select("event_id", "event_type", F.round("rolling_avg", 6).alias("rolling_avg"))


@query(
    "q20_ts_interpolate",
    oracle=f"""
    WITH h AS (
      SELECT CAST(floor({EPOCH_SQL.format(c='ts')} / 3600) AS BIGINT) AS hr, sum(value) AS v
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    grid AS (
      SELECT unnest(generate_series((SELECT min(hr) FROM h), (SELECT max(hr) FROM h))) AS timestamp
    ),
    j AS (SELECT g.timestamp, h.v AS value FROM grid g LEFT JOIN h ON h.hr = g.timestamp),
    w AS (
      SELECT timestamp, value,
        last_value(value IGNORE NULLS) OVER (ORDER BY timestamp ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN value IS NOT NULL THEN timestamp END IGNORE NULLS) OVER (ORDER BY timestamp ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        first_value(value IGNORE NULLS) OVER (ORDER BY timestamp ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN value IS NOT NULL THEN timestamp END IGNORE NULLS) OVER (ORDER BY timestamp ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM j
    )
    SELECT timestamp,
           round(CASE WHEN value IS NOT NULL THEN value
                      WHEN pv IS NOT NULL AND nv IS NOT NULL
                        THEN pv + (nv - pv) * (timestamp - pt) / (nt - pt)
                      ELSE coalesce(pv, nv) END, 6) AS value
    FROM w
    """,
)
def q20_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify + W4 linear interpolation (the reference's
    ``interpolate(method='linear', limit_direction='both')``,
    ``workload/schemes.py:50,92``): hourly click volume on a dense hour
    grid with gaps filled linearly."""
    e = _t(spark, sf_dir, "events")
    hourly = (
        e.filter(F.col("event_type") == "click")
        .withColumn("timestamp", F.floor(_epoch() / 3600).cast("long"))
        .groupBy("timestamp")
        .agg(F.sum("value").alias("value"))
    )
    dense = ts_core.densify(hourly, step=1, assume_bounded=True)
    filled = ts_core.fill_linear(dense, assume_bounded=True)
    return filled.select("timestamp", F.round("value", 6).alias("value"))


@query(
    "q21_regression_metrics",
    oracle="""
    WITH p AS (
      SELECT event_type, value,
             lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS pred
      FROM events
    ),
    f AS (SELECT * FROM p WHERE pred IS NOT NULL AND value > 1)
    SELECT event_type,
           round(avg(abs(value - pred)), 6) AS mae,
           round(quantile_cont(abs(value - pred), 0.5), 6) AS median_ae,
           round(avg(abs((value - pred) / value)), 6) AS mape,
           round(avg((value - pred) * (value - pred)), 6) AS mse,
           round(sqrt(avg((value - pred) * (value - pred))), 6) AS rmse
    FROM f GROUP BY event_type
    """,
)
def q21_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 regression-metric suite (``common/models.py:41-51``) comparing
    each value to the previous observation (persistence forecast)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts")
    p = e.withColumn("pred", F.lag("value").over(w)).filter(
        F.col("pred").isNotNull() & (F.col("value") > 1)
    )
    m = ts_agg.regression_metrics(p, "value", "pred", keys=["event_type"], exact_median=True)
    return m.select(
        "event_type",
        F.round("mae", 6).alias("mae"),
        F.round("median_ae", 6).alias("median_ae"),
        F.round("mape", 6).alias("mape"),
        F.round("mse", 6).alias("mse"),
        F.round("rmse", 6).alias("rmse"),
    )


@query(
    "q26_ts_binned_mean",
    oracle="""
    WITH r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1 AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type, CAST(floor(rn * 10 / n) AS INT) AS bin,
           round(avg(value), 6) AS value
    FROM r GROUP BY 1, 2
    """,
)
def q26_ts_binned_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 equal-width binned means (``recoverytime/models.py:33-39``),
    via :func:`ts_core.binned_mean`."""
    e = _t(spark, sf_dir, "events").select("event_type", F.col("ts").alias("timestamp"), "value")
    out = ts_core.binned_mean(e, bin_count=10, keys=["event_type"])
    return out.select("event_type", "bin", F.round("value", 6).alias("value"))


# ---------------------------------------------------------------------------
# Text analysis / dedup (documents table)
# ---------------------------------------------------------------------------

_TOKS_SQL = "regexp_split_to_array(trim(text), '\\s+')"

# 80-char normalized-prefix fingerprint — the near-dup candidate signal
# shared by q174/q178/q179. ONE definition per engine: a tweak here keeps
# the three linked queries (and their oracles) in lockstep.
_PREFIX_FP_SQL = (
    "md5(substring(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), 1, 80))"
)


def _prefix_fp() -> F.Column:
    return F.md5(
        F.substring(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")), 1, 80)
    )
_SW_SQL = f"len(list_filter({_TOKS_SQL}, x -> x IN ('the','a','of','and','to')))"


@query(
    "q08_dedup_exact",
    oracle="""
    SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
           min(doc_id) AS keep_id, count(*) AS dup_count
    FROM documents GROUP BY 1
    """,
)
def q08_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint (hash-groupBy; the
    canonical 100 TB exact dedup — skew-free uniform key)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(d)


@query(
    "q09_text_stats",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS_SQL}) END AS token_count,
           length(text) AS char_count,
           round(CASE WHEN trim(text) = '' THEN 0.0
                 ELSE (length(text) - (len({_TOKS_SQL}) - 1)) * 1.0 / len({_TOKS_SQL}) END, 6) AS avg_token_len,
           round(CASE WHEN length(text) = 0 THEN 0.0
                 ELSE (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text) END, 6) AS punct_ratio
    FROM documents
    """,
)
def q09_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char counts + punctuation ratio — JVM column expressions only
    (whole-stage codegen over the documents scan)."""
    d = _t(spark, sf_dir, "documents")
    s = text.token_stats(d)
    return s.select(
        "doc_id",
        "token_count",
        "char_count",
        F.round("avg_token_len", 6).alias("avg_token_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
    )


@query(
    "q10_text_quality",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS_SQL}) END AS tok,
             length(text) AS ch,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text) END AS pr,
             CASE WHEN trim(text) = '' THEN 0.0 ELSE {_SW_SQL} * 1.0 / len({_TOKS_SQL}) END AS sw
      FROM documents
    )
    SELECT doc_id, round(sw, 6) AS stopword_ratio,
           round(0.5 * least(tok / 100.0, 1.0) + 0.5 * least(sw * 5.0, 1.0)
                 - 0.25 * least(pr * 5.0, 1.0), 6) AS quality_score
    FROM s
    """,
)
def q10_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length + stopword + punctuation signals)."""
    d = _t(spark, sf_dir, "documents")
    q = text.quality_score(d)
    return q.select(
        "doc_id",
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("quality_score", 6).alias("quality_score"),
    )


@query(
    "q11_langid_counts",
    oracle=f"""
    WITH s AS (
      SELECT CASE WHEN trim(text) = '' THEN 0.0
                  ELSE {_SW_SQL} * 1.0 / len({_TOKS_SQL}) END AS sw
      FROM documents
    )
    SELECT CASE WHEN sw > 0.03 THEN 'en' ELSE 'other' END AS pred_lang,
           count(*) AS n_docs
    FROM s GROUP BY 1
    """,
)
def q11_langid_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language ID + distribution."""
    d = _t(spark, sf_dir, "documents")
    p = text.predict_language(d)
    return p.groupBy("pred_lang").agg(F.count(F.lit(1)).alias("n_docs"))


@query(
    "q13_ngram_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
      WHERE trim(text) <> '' AND len({_TOKS_SQL}) >= 5
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(t) - 4),
                                          i -> array_to_string(t[i:i+4], ' '))) AS grams
      FROM toks
    ),
    posting AS (SELECT doc_id, len(grams) AS sz, unnest(grams) AS g FROM sh),
    capped AS (
      SELECT * FROM (
        SELECT p.*, count(*) OVER (PARTITION BY g) AS df FROM posting p
      ) WHERE df <= 1000
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS size_a, b.sz AS size_b,
             count(*) AS inter
      FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b, round(inter * 1.0 / (size_a + size_b - inter), 6) AS jaccard
    FROM pairs WHERE inter * 1.0 / (size_a + size_b - inter) >= 0.2
    """,
)
def q13_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 5-gram Jaccard via an inverted shingle index
    — no O(n²) cross join; see :func:`dedup.ngram_jaccard_pairs`. The
    document-frequency cap (1000, mirrored in the oracle) bounds the pair
    expansion of hot stopword-grams at corpus scale."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, n=5, threshold=0.2, max_shingle_freq=1000)
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# Embedding similarity (embeddings table)
# ---------------------------------------------------------------------------

_COS_SQL = """
      list_sum(list_transform(generate_series(1, len(e.embedding)),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""


@query(
    "q22_emb_cosine",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    s AS (SELECT e.vec_id, {_COS_SQL} AS cs FROM embeddings e, q)
    SELECT vec_id, round(cs, 6) AS cos_sim FROM s WHERE cs > 0.2
    """,
)
def q22_emb_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine against one query vector: the query is collected
    once (a single-row lookup) and folded into the plan as a literal — the
    corpus is scanned exactly once, no shuffle."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    scored = similarity.cosine_to_query(emb, list(qvec))
    return scored.filter(F.col("cos_sim") > 0.2).select(
        "vec_id", F.round("cos_sim", 6).alias("cos_sim")
    )


@query(
    "q23_emb_knn",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id IN (0, 1, 2)),
    s AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, {_COS_SQL} AS cs
      FROM embeddings e, q
    ),
    r AS (SELECT query_id, neighbor_id, cs,
                 row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rank
          FROM s)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(cs, 6) AS cos_sim
    FROM r WHERE rank <= 5
    """,
)
def q23_emb_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k ANN baseline: broadcast query set, per-query window
    top-k (``similarity.brute_force_topk``)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
    out = similarity.brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"),
        F.round("cos_sim", 6).alias("cos_sim"),
    )


# ---------------------------------------------------------------------------
# Rows-only entries (no SQL oracle: hash functions differ across engines)
# ---------------------------------------------------------------------------


# shared 60-bit md5-derived hash, bit-identical in both engines
# (Spark: conv(substring(md5(x),1,15),16,10); see dedup.md5_hash64)
_MD5H_SQL = "CAST(('0x' || substring(md5({x}), 1, 15)) AS BIGINT)"


@query(
    "q24_minhash_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
      WHERE trim(text) <> '' AND len({_TOKS_SQL}) >= 3
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
                                          i -> array_to_string(t[i:i+2], ' '))) AS grams
      FROM toks
    ),
    post AS (SELECT doc_id, unnest(grams) AS g FROM sh),
    hp AS (
      SELECT doc_id,
             {_MD5H_SQL.format(x='g')} % 2147483647 AS h1,
             CAST(('0x' || substring(md5(g), 17, 15)) AS BIGINT) % 2147483646 + 1 AS h2
      FROM post
    ),
    mh AS (
      SELECT doc_id, i, min((h1 + i * h2) % 2147483647) AS h
      FROM hp CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS i) seeds
      GROUP BY doc_id, i
    ),
    sig AS (SELECT doc_id, list(h ORDER BY i) AS s FROM mh GROUP BY doc_id),
    banded AS (
      SELECT doc_id, s, b,
             array_to_string(list_transform(s[b*4+1:b*4+4], x -> CAST(x AS VARCHAR)), ',') AS bucket
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) bands
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.s AS sa, b.s AS sb
      FROM banded a JOIN banded b ON a.b = b.b AND a.bucket = b.bucket
                                 AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(list_sum(list_transform(generate_series(1, 32),
                 k -> CASE WHEN sa[k] = sb[k] THEN 1 ELSE 0 END)) / 32.0, 6) AS est_jaccard
    FROM cand
    """,
)
def q24_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs. Uses the md5-derived 60-bit
    hash (:func:`dedup.md5_hash64`) so the whole pipeline — signatures,
    band buckets, candidate join, agreement estimate — is reproduced
    hash-for-hash by the DuckDB oracle. The xxhash64 default stays the
    fast path for production corpora."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, num_hashes=32, bands=8, shingle_n=3, hash_fn="md5")
    return pairs.select(
        "doc_a", "doc_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


@query(
    "q25_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE {_TOKS_SQL} END AS t
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(t, tok -> {_MD5H_SQL.format(x="tok")}) AS hs
      FROM toks
    )
    SELECT doc_id AS doc,
           array_to_string(list_transform(generate_series(0, 59), b ->
             CASE WHEN list_sum(list_transform(hs,
                    x -> CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                  THEN '1' ELSE '0' END), '') AS simhash
    FROM h
    """,
)
def q25_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document via the md5-derived hash — bit-for-bit
    reproduced by the DuckDB oracle (the 64-bit xxhash64 form stays the
    production default)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash(d, hash_fn="md5")


# ---------------------------------------------------------------------------
# Control-loop / profile-store operators (SURVEY A4, A7, A11-A13, W9, J5, M10)
# ---------------------------------------------------------------------------


@query(
    "q27_grouped_topn",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rank
      FROM orders
    )
    SELECT o_orderpriority, CAST(rank AS INT) AS rank, o_orderkey, o_totalprice
    FROM r WHERE rank <= 3
    """,
)
def q27_grouped_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 grouped ordered assembly + W8 positional slice: the reference
    groups profiles by scaleOut and walks each group in stop-time order
    (``Graph.java:92-102``); expressed relationally as a per-group
    row_number + top-n (no collect_list on the driver)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_orderpriority", F.col("rank").cast("int").alias("rank"), "o_orderkey", "o_totalprice")
    )


@query(
    "q28_p95_latency",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.95), 6) AS p95_value,
           round(quantile_cont(value, 0.5), 6) AS p50_value
    FROM events WHERE value IS NOT NULL GROUP BY event_type
    """,
)
def q28_p95_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 quantile: the reference's p95 operator-latency metric
    (``ClientsManager.java:47, 352-353``). Exact interpolating percentile
    here for oracle parity; at 100 TB switch to percentile_approx (sketch
    merges map-side, no per-group sort)."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95_value"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50_value"),
    )


@query(
    "q29_simpson_integral",
    oracle=f"""
    WITH h AS (
      SELECT CAST(floor({EPOCH_SQL.format(c='ts')} / 3600) AS BIGINT) AS hr,
             sum(value) AS v
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    d AS (
      SELECT v, row_number() OVER (ORDER BY hr) - 1 AS rn,
             lead(v, 1) OVER (ORDER BY hr) AS v1,
             lead(v, 2) OVER (ORDER BY hr) AS v2,
             count(*) OVER () AS n
      FROM h
    )
    SELECT round(sum((v + 4 * v1 + v2) / 3.0), 6) AS integral
    FROM d WHERE rn % 2 = 0 AND rn + 2 <= n - 1
    """,
)
def q29_simpson_integral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 composite Simpson integral as a window expression (the
    recovery-time catch-up integrand, ``recoverytime/models.py:45-70``):
    on the uniform hourly grid (h=1), sum (y0 + 4*y1 + y2)*h/3 over
    disjoint interval pairs; a trailing odd interval is truncated
    identically on both sides."""
    e = _t(spark, sf_dir, "events")
    hourly = (
        e.filter(F.col("event_type") == "purchase")
        .withColumn("hr", F.floor(_epoch() / 3600).cast("long"))
        .groupBy("hr")
        .agg(F.sum("value").alias("v"))
    )
    w = Window.orderBy("hr")
    d = (
        hourly.withColumn("rn", F.row_number().over(w) - 1)
        .withColumn("v1", F.lead("v", 1).over(w))
        .withColumn("v2", F.lead("v", 2).over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    )
    return d.filter((F.col("rn") % 2 == 0) & (F.col("rn") + 2 <= F.col("n") - 1)).agg(
        F.round(F.sum((F.col("v") + 4 * F.col("v1") + F.col("v2")) / 3.0), 6).alias("integral")
    )


@query(
    "q30_pairwise_clustering",
    oracle="""
    WITH cand AS (
      SELECT o_orderpriority AS cand, avg(o_totalprice) AS val FROM orders GROUP BY 1
    ),
    agree AS (
      SELECT a.cand, count(*) AS peers
      FROM cand a JOIN cand b ON abs(a.val - b.val) / b.val < 0.05
      GROUP BY a.cand
    ),
    m AS (SELECT max(peers) AS mx FROM agree)
    SELECT agree.cand, CAST(peers AS BIGINT) AS peers,
           (peers = m.mx) AS in_largest_group
    FROM agree, m
    """,
)
def q30_pairwise_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 pairwise relative-distance clustering (``utils/Evaluate.java:
    13-39``): each candidate counts peers within relative distance; the
    largest agreement group wins. Self-join + filter + count — the
    candidate set is tiny so the cross join is bounded."""
    o = _t(spark, sf_dir, "orders")
    cand = o.groupBy(F.col("o_orderpriority").alias("cand")).agg(
        F.avg("o_totalprice").alias("val")
    )
    a = cand.select(F.col("cand"), F.col("val").alias("va"))
    b = cand.select(F.col("cand").alias("cb"), F.col("val").alias("vb"))
    agree = (
        a.crossJoin(b)
        .filter(F.abs((F.col("va") - F.col("vb")) / F.col("vb")) < 0.05)
        .groupBy("cand")
        .agg(F.count(F.lit(1)).alias("peers"))
    )
    mx = agree.agg(F.max("peers").alias("mx"))
    return agree.crossJoin(F.broadcast(mx)).select(
        "cand", F.col("peers").cast("long").alias("peers"),
        (F.col("peers") == F.col("mx")).alias("in_largest_group"),
    )


@query(
    "q31_regression_validity",
    oracle=f"""
    WITH s AS (
      SELECT event_type, {EPOCH_SQL.format(c='ts')} - 1704067200 AS x, value,
             row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
    ),
    fit AS (
      SELECT event_type,
             covar_pop(CAST(x AS DOUBLE), value) / var_pop(CAST(x AS DOUBLE)) AS slope,
             avg(value) - covar_pop(CAST(x AS DOUBLE), value) / var_pop(CAST(x AS DOUBLE)) * avg(CAST(x AS DOUBLE)) AS icept
      FROM s WHERE rn < n GROUP BY event_type
    ),
    lastv AS (SELECT event_type, x AS lx, value AS lv FROM s WHERE rn = n)
    SELECT l.event_type,
           round(f.slope * l.lx + f.icept, 6) AS predicted,
           round(l.lv, 6) AS actual,
           (abs((f.slope * l.lx + f.icept) - l.lv) / l.lv < 2.0) AS is_valid
    FROM lastv l JOIN fit f ON l.event_type = f.event_type
    """,
)
def q31_regression_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 per-group regression validity (``utils/Evaluate.java:41-56``):
    OLS on all-but-last points, candidate valid if the last value is within
    2.0 relative error of the extrapolation."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull()).select(
        "event_type", (_epoch() - F.lit(1704067200)).alias("x"), "value", F.col("ts")
    )
    w = Window.partitionBy("event_type").orderBy("ts")
    cnt = Window.partitionBy("event_type")
    s = e.withColumn("rn", F.row_number().over(w)).withColumn("n", F.count(F.lit(1)).over(cnt))
    xd = F.col("x").cast("double")
    fit = (
        s.filter(F.col("rn") < F.col("n"))
        .groupBy("event_type")
        .agg(
            (F.covar_pop(xd, F.col("value")) / F.var_pop(xd)).alias("slope"),
            F.avg("value").alias("_my"),
            F.avg(xd).alias("_mx"),
        )
        .select(
            "event_type", "slope", (F.col("_my") - F.col("slope") * F.col("_mx")).alias("icept")
        )
    )
    lastv = s.filter(F.col("rn") == F.col("n")).select(
        "event_type", F.col("x").alias("lx"), F.col("value").alias("lv")
    )
    pred = F.col("slope") * F.col("lx") + F.col("icept")
    return lastv.join(fit, "event_type").select(
        "event_type",
        F.round(pred, 6).alias("predicted"),
        F.round("lv", 6).alias("actual"),
        (F.abs(pred - F.col("lv")) / F.col("lv") < 2.0).alias("is_valid"),
    )


@query(
    "q32_response_finalizer",
    oracle="""
    WITH cand AS (
      SELECT row_number() OVER (ORDER BY revenue DESC) + 1 AS scale_out,
             revenue / 1000000.0 AS value
      FROM (
        SELECT n.n_name, sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                             * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
      )
    ),
    r AS (SELECT quantile_cont(value, 0.5) AS restriction FROM cand),
    v AS (
      SELECT scale_out, round(CAST(value AS DOUBLE), 6) AS value,
             (value < r.restriction) AS is_valid
      FROM cand, r
    ),
    fv AS (SELECT min(CASE WHEN is_valid THEN scale_out END) AS first_valid FROM v)
    SELECT CAST(v.scale_out AS INT) AS scale_out, v.value, v.is_valid,
           (v.is_valid AND v.scale_out = fv.first_valid) AS is_best
    FROM v, fv
    """,
)
def q32_response_finalizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 ResponseFinalizer (``common/schemes.py:43-68``): candidates sorted
    by scale_out, validity = value < restriction, single best = first valid.
    Candidate values derived deterministically from the revenue query so the
    oracle can rebuild them."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(_dim(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
            ).alias("revenue")
        )
    )
    w = Window.orderBy(F.col("revenue").desc())
    cand = rev.select(
        (F.row_number().over(w) + 1).alias("scale_out"),
        (F.col("revenue") / F.lit(1000000.0)).alias("value"),
    # candidate-grid-sized (~25 rows) but derived from the 4-table join:
    # materialize once so downstream consumers don't re-run the join
    ).localCheckpoint(eager=True)
    restriction = cand.agg(F.expr("percentile(value, 0.5)").alias("restriction"))
    v = cand.crossJoin(F.broadcast(restriction)).select(
        "scale_out",
        F.round(F.col("value").cast("double"), 6).alias("value"),
        (F.col("value") < F.col("restriction")).alias("is_valid"),
    )
    fv = v.agg(F.min(F.when(F.col("is_valid"), F.col("scale_out"))).alias("first_valid"))
    return v.crossJoin(F.broadcast(fv)).select(
        F.col("scale_out").cast("int").alias("scale_out"),
        "value",
        "is_valid",
        (F.col("is_valid") & (F.col("scale_out") == F.col("first_valid"))).alias("is_best"),
    )


@query(
    "q33_series_align",
    oracle=f"""
    WITH a AS (
      SELECT CAST(floor({EPOCH_SQL.format(c='ts')} / 60) AS BIGINT) AS minute, sum(value) AS va
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    b AS (
      SELECT CAST(floor({EPOCH_SQL.format(c='ts')} / 60) AS BIGINT) AS minute, sum(value) AS vb
      FROM events WHERE event_type = 'view' GROUP BY 1
    )
    SELECT count(*) AS n_aligned,
           round(avg(abs(va - vb)), 6) AS mae,
           round(avg(va - vb), 6) AS bias
    FROM a JOIN b USING (minute)
    """,
)
def q33_series_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 as-of/alignment join: align two series on shared timestamps and
    compare elementwise (``workload/models.py:138-147``). Equi-join on the
    minute bucket; at scale both sides are pre-partitioned by time."""
    e = _t(spark, sf_dir, "events")
    minutely = lambda typ, out: (
        e.filter(F.col("event_type") == typ)
        .withColumn("minute", F.floor(_epoch() / 60).cast("long"))
        .groupBy("minute")
        .agg(F.sum("value").alias(out))
    )
    a = minutely("click", "va")
    b = minutely("view", "vb")
    return a.join(b, "minute").agg(
        F.count(F.lit(1)).alias("n_aligned"),
        F.round(F.avg(F.abs(F.col("va") - F.col("vb"))), 6).alias("mae"),
        F.round(F.avg(F.col("va") - F.col("vb")), 6).alias("bias"),
    )


@query(
    "q34_backpressure_detector",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             CAST({EPOCH_SQL.format(c='ts')} - 1704067200 AS DOUBLE) AS x,
             value,
             CASE WHEN value > 150 THEN 1.0 ELSE 0.0 END AS over
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           round(avg(over), 6) AS bck_pres_per,
           round(covar_pop(x, value) / var_pop(x) * 86400, 6) + 0.0 AS lat_slope_per_day,
           (avg(over) = 1.0 OR (avg(over) > 0 AND covar_pop(x, value) / var_pop(x) * 86400 > 1
                                AND avg(value) > 50)) AS is_bck_pres
    FROM s GROUP BY event_type
    """,
)
def q34_backpressure_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 backpressure detector boolean rule (``ClientsManager.java:
    329-339``): full backpressure, or partial backpressure with rising
    latency and rising lag. Expressed over per-type aggregates (threshold
    fraction stands in for the PromQL backpressure ratio)."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull()).select(
        "event_type",
        (_epoch() - F.lit(1704067200)).cast("double").alias("x"),
        "value",
        F.when(F.col("value") > 150, 1.0).otherwise(0.0).alias("over"),
    )
    slope = F.covar_pop(F.col("x"), F.col("value")) / F.var_pop(F.col("x")) * 86400
    return e.groupBy("event_type").agg(
        F.round(F.avg("over"), 6).alias("bck_pres_per"),
        (F.round(slope, 6) + F.lit(0.0)).alias("lat_slope_per_day"),
        (
            (F.avg("over") == 1.0)
            | ((F.avg("over") > 0) & (slope > 1) & (F.avg("value") > 50))
        ).alias("is_bck_pres"),
    )


# -- pandas-UDF (Arrow) rows-only entries ----------------------------------


def _savgol_oracle() -> str:
    """DuckDB oracle for savgol(51, 3): the filter is LINEAR in the input,
    so it is three literal coefficient blocks — a 51-tap centered
    convolution for interior rows and 25x51 head/tail matrices for the
    'interp' polynomial edges — extracted numerically by applying
    :func:`savgol_filter` to unit vectors (block structure verified:
    Toeplitz interior, head/tail support only in the first/last 51)."""
    import numpy as np

    from phoebe_spark.functions.numeric import savgol_filter

    n = 200
    L = np.array([savgol_filter(np.eye(n)[j], 51, 3) for j in range(n)]).T

    def lit1(v):
        return "[" + ", ".join(repr(float(x)) for x in v) + "]"

    def lit2(M):
        return "[" + ", ".join(lit1(r) for r in M) + "]"

    center, head, tail = L[100, 75:126], L[:25, :51], L[-25:, -51:]
    return f"""
    WITH s AS (
      SELECT event_type,
             list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vs,
             list(event_id ORDER BY ts, event_id) AS ids
      FROM events GROUP BY event_type
    ),
    c AS (SELECT {lit1(center)} AS cc, {lit2(head)} AS hh, {lit2(tail)} AS tt)
    SELECT event_type,
           unnest(ids) AS event_id,
           unnest(list_transform(generate_series(1, len(vs)), i ->
             round(CASE
               WHEN i <= 25 THEN
                 list_sum(list_transform(generate_series(1, 51), j -> hh[i][j] * vs[j]))
               WHEN i >= len(vs) - 24 THEN
                 list_sum(list_transform(generate_series(1, 51),
                          j -> tt[i - (len(vs) - 25)][j] * vs[len(vs) - 51 + j]))
               ELSE
                 list_sum(list_transform(generate_series(1, 51), j -> cc[j] * vs[i - 26 + j]))
             END, 6))) AS smoothed
    FROM s, c
    """


@query("q35_savgol_smooth", oracle=_savgol_oracle())
def q35_savgol_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 Savitzky-Golay smoothing per series, ALL-JVM (the reference's
    scipy savgol, `analytics/app/workload/models.py:55-62`). The filter is
    linear, so it is three literal coefficient blocks (see
    :func:`_savgol_oracle`): interior rows are a 51-tap centered windowed
    dot product — ``collect_list`` over a ±25 row frame, ``zip_with`` +
    ``aggregate`` against the literal tap vector — and the 25-row
    head/tail 'interp' edges are literal 25x51 matrices applied to each
    series' first/last 51 values (per-series scalars, broadcast-joined
    back). No Python in the plan: unlike the round-2
    one-Arrow-task-per-series ``applyInPandas``, this distributes within a
    series, so a 10^9-row series is just more window partitions, not one
    executor's pandas frame. Plan-asserted Python-free in
    tests/test_plans.py. Kernel: :func:`ts_core.savgol_smooth`."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.col("ts").alias("t"),
        F.col("value").alias("value"),
    )
    out = ts_core.savgol_smooth(
        e,
        window=51,
        polyorder=3,
        keys=["event_type"],
        value_col="value",
        order_col="t",
        tiebreak_cols=["event_id"],
        # every event_type has thousands of points at all SFs, so the
        # sub-window Python fallback can never fire: pin the plan to the
        # 100%-JVM form (asserted in tests/test_plans.py)
        short_series="null",
    )
    return out.select(
        "event_type", "event_id", F.round("smoothed", 6).alias("smoothed")
    )


@query(
    "q36_ewm_ensemble",
    oracle="""
    WITH m AS (
      SELECT (epoch_ns(ts) // 1000000000) // 60 AS minute, event_type,
             CAST(sum(value) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ), a AS (
      SELECT minute, list(v ORDER BY event_type) AS vs FROM m GROUP BY minute
    ), e AS (
      SELECT minute, list_reduce(vs, (acc, x) -> acc + (x - acc) / 3.0) AS ewm
      FROM a
    )
    SELECT minute,
           round(avg(ewm) OVER (ORDER BY minute
                 ROWS BETWEEN 60 PRECEDING AND 59 FOLLOWING), 6) AS combined
    FROM e
    """,
)
def q36_ewm_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 horizontal EWM ensemble, closed form (``workload/models.py:
    132-136``): per minute the per-type sums are ordered 'model columns';
    EWM(span=5, adjust=False, ignore_na=True) across columns followed by
    taking the LAST column is a left fold ``acc + (x - acc)/3`` over the
    present values in column order — a JVM ``aggregate`` over a sorted
    ``collect_list``, no Python in the path. The trailing centered
    rolling(120) mean is a rows-between [-60, +59] window (pandas
    ``center=True`` pins the even window left-heavy; verified empirically).

    The window runs over the aggregated minute grid — bounded by the time
    span, not row volume, so the single-partition sort is safe at scale
    (same shape as the reference's one-job timeline)."""
    per_type = (
        _t(spark, sf_dir, "events")
        .withColumn("minute", F.floor(_epoch() / 60).cast("long"))
        .groupBy("minute", "event_type")
        .agg(F.sum("value").alias("v"))
    )
    arr = per_type.groupBy("minute").agg(
        F.array_sort(F.collect_list(F.struct("event_type", "v"))).alias("s")
    )
    vals = F.transform(F.col("s"), lambda x: x["v"])
    ewm = F.aggregate(
        vals,
        F.lit(None).cast("double"),
        lambda acc, x: F.coalesce(acc + (x - acc) / F.lit(3.0), x, acc),
    )
    w = Window.orderBy("minute").rowsBetween(-60, 59)
    return (
        arr.select("minute", ewm.alias("_ewm"))
        .select("minute", F.round(F.avg("_ewm").over(w), 6).alias("combined"))
    )


@query(
    "q37_json_extract",
    oracle=f"""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
           count(*) AS n_events,
           round(avg(value), 6) AS avg_value
    FROM events GROUP BY 1
    """,
)
def q37_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 JSON (de)serialization: parse the ``props`` JSON column with a
    typed schema (``from_json`` — JVM-side, no UDF) and aggregate by the
    extracted field. Mirrors the reference's gson/pydantic TimeSeries JSON
    boundary (``TimeSeries.java:323-327``)."""
    e = _t(spark, sf_dir, "events")
    parsed = e.withColumn("_p", F.from_json("props", "k INT"))
    return parsed.groupBy(F.col("_p.k").alias("k")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


@query(
    "q38_semi_anti_join",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment,
           EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                   AND o.o_orderstatus = 'F') AS has_finished_order
    FROM customer c
    WHERE c.c_acctbal > 0
    """,
)
def q38_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join surface (the reference has no semi/anti joins — SURVEY
    §2.3 notes Spark provides the full suite for free): per customer, an
    existence flag against filtered orders. Implemented as a left_semi
    union left_anti pair so both plan shapes are exercised."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    keys = o.select(F.col("o_custkey")).distinct()
    with_flag = c.join(keys, c.c_custkey == keys.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment", F.lit(True).alias("has_finished_order")
    )
    without = c.join(keys, c.c_custkey == keys.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment", F.lit(False).alias("has_finished_order")
    )
    return with_flag.unionByName(without)


@query(
    "q39_outer_join_nulls",
    oracle="""
    SELECT c.c_custkey,
           coalesce(CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE), 0.0) AS total_spend,
           count(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def q39_outer_join_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with null-group handling (F4 null-skip semantics on
    the agg side): customers with zero orders keep a 0.0 spend row."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(_dsum2(_dec("o_totalprice")), F.lit(0.0)).alias("total_spend"),
            F.count("o_orderkey").alias("n_orders"),
        )
    )


@query(
    "q40_merge_overwrite",
    oracle=f"""
    WITH a AS (
      SELECT CAST(floor({EPOCH_SQL.format(c='ts')} / 3600) AS BIGINT) AS hr, sum(value) AS v
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    b AS (
      SELECT CAST(floor({EPOCH_SQL.format(c='ts')} / 3600) AS BIGINT) AS hr, sum(value) AS v
      FROM events WHERE event_type = 'view'
        AND {EPOCH_SQL.format(c='ts')} < (SELECT max({EPOCH_SQL.format(c='ts')}) FROM events) - 172800
      GROUP BY 1
    ),
    ends AS (SELECT (SELECT max(hr) FROM a) AS end_a, (SELECT max(hr) FROM b) AS end_b),
    -- later-ending series overwrites on overlap (Python TimeSeries.merge)
    obs AS (
      SELECT hr, CASE WHEN av IS NOT NULL AND (bv IS NULL OR e.end_a >= e.end_b) THEN av ELSE bv END AS v
      FROM (SELECT coalesce(a.hr, b.hr) AS hr, a.v AS av, b.v AS bv
            FROM a FULL OUTER JOIN b ON a.hr = b.hr), ends e
    ),
    grid AS (
      SELECT unnest(generate_series((SELECT min(hr) FROM obs), (SELECT max(hr) FROM obs))) AS timestamp
    ),
    j AS (SELECT g.timestamp, o.v AS value FROM grid g LEFT JOIN obs o ON o.hr = g.timestamp),
    w AS (
      SELECT timestamp, value,
        last_value(value IGNORE NULLS) OVER (ORDER BY timestamp ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN value IS NOT NULL THEN timestamp END IGNORE NULLS) OVER (ORDER BY timestamp ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        first_value(value IGNORE NULLS) OVER (ORDER BY timestamp ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN value IS NOT NULL THEN timestamp END IGNORE NULLS) OVER (ORDER BY timestamp ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM j
    )
    SELECT timestamp,
           round(CASE WHEN value IS NOT NULL THEN value
                      WHEN pv IS NOT NULL AND nv IS NOT NULL
                        THEN pv + (nv - pv) * (timestamp - pt) / (nt - pt)
                      ELSE coalesce(pv, nv) END, 6) AS value
    FROM w
    """,
)
def q40_merge_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 Python-merge (overwrite-by-recency + linear interpolation) on
    real series: hourly 'click' volume merged with a truncated hourly
    'view' series — the later-ending click series overwrites on overlap,
    and the gap left by the truncation interpolates linearly. This is the
    flagship custom operator (:func:`ts_core.merge_overwrite`), oracle-
    checked beyond its golden unit test."""
    e = _t(spark, sf_dir, "events")
    hourly = lambda typ: (
        e.filter(F.col("event_type") == typ)
        .withColumn("timestamp", F.floor(_epoch() / 3600).cast("long"))
        .groupBy("timestamp")
        .agg(F.sum("value").alias("value"))
    )
    a = hourly("click")
    # truncation cutoff as a broadcast 1-row aggregate (as q15 does), not a
    # driver-side collect — the plan stays lazy end-to-end
    cut = e.agg((F.max(_epoch()) - F.lit(172800)).alias("_cut"))
    b = (
        e.filter(F.col("event_type") == "view")
        .join(F.broadcast(cut))
        .filter(_epoch() < F.col("_cut"))
        .withColumn("timestamp", F.floor(_epoch() / 3600).cast("long"))
        .groupBy("timestamp")
        .agg(F.sum("value").alias("value"))
    )
    merged = ts_core.merge_overwrite(b, a, assume_bounded=True)
    return merged.select("timestamp", F.round("value", 6).alias("value"))


@query(
    "q41_emb_neardup_pairs",
    oracle="""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_sum(list_transform(generate_series(1, len(a.embedding)),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                 / (a.nrm * b.nrm), 6) AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(generate_series(1, len(a.embedding)),
          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
          / (a.nrm * b.nrm) >= 0.45
    """,
)
def q41_emb_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at >= 0.45 (the embedding
    variant of near-dup dedup). Exact pairwise form as the oracle-checkable
    baseline; the LSH-bucketed variant (similarity.lsh_bucketed_pairs) is
    the scale path, tested for recall against this in pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = similarity.all_pairs_cosine(emb, threshold=0.45)
    return pairs.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


@query(
    "q42_part_stats",
    oracle="""
    SELECT p_brand, count(*) AS n_parts,
           round(CAST(round(sum(CAST(p_retailprice AS DECIMAL(18,4))), 2) AS DOUBLE) / count(*), 6) AS avg_price,
           max(p_size) AS max_size
    FROM part WHERE p_size >= 10 GROUP BY p_brand
    """,
)
def q42_part_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part-table coverage: filtered grouped stats."""
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_size") >= 10)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(_dsum2(_dec("p_retailprice")) / F.count(F.lit(1)), 6).alias("avg_price"),
            F.max("p_size").alias("max_size"),
        )
    )


@query(
    "q43_supplier_nation",
    oracle="""
    SELECT n.n_name, count(*) AS n_suppliers,
           CAST(round(sum(CAST(s.s_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_acctbal
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q43_supplier_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier-table coverage: broadcast dim join + grouped money sum."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            _dsum2(_dec("s_acctbal")).alias("total_acctbal"),
        )
    )


@query(
    "q44_ivf_ann",
    oracle="""
    WITH n AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    piv AS (
      SELECT CAST(vec_id - 10 AS INT) AS cell, v AS pv, nrm AS pnrm
      FROM n WHERE vec_id BETWEEN 10 AND 17
    ),
    ad AS (
      SELECT n.vec_id, n.v, n.nrm, piv.cell,
             list_sum(list_transform(generate_series(1, len(n.v)),
                      i -> n.v[i] * piv.pv[i])) / (n.nrm * piv.pnrm) AS cs
      FROM n CROSS JOIN piv
    ),
    cells AS (
      SELECT vec_id, v, nrm, cell FROM (
        SELECT vec_id, v, nrm, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rk
        FROM ad) WHERE rk = 1
    ),
    qc AS (
      SELECT query_id, qv, qnrm, cell FROM (
        SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rk
        FROM ad WHERE vec_id IN (0, 1, 2, 3, 4)) WHERE rk <= 4
    ),
    cand AS (
      SELECT qc.query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(generate_series(1, len(c.v)),
                      i -> c.v[i] * qc.qv[i])) / (c.nrm * qc.qnrm) AS cs
      FROM qc JOIN cells c USING (cell)
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(cs, 6) AS cos_sim
    FROM (SELECT query_id, neighbor_id, cs,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cs DESC, neighbor_id) AS rank
          FROM cand)
    WHERE rank <= 5
    """,
)
def q44_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k with a PRETRAINED coarse quantizer (the FAISS
    train-once/assign-many pattern): the 8 cell centroids are fixed pivot
    vectors (corpus vec_id 10-17, normalized), so cell assignment, probed
    cells, and the within-cell exact top-k are all deterministic — the
    DuckDB oracle reproduces the operator EXACTLY (value-hash strength;
    round-2's `no_oracle` retired). The k-means fit path remains the
    operator default (recall pinned in tests/test_similarity.py).

    100 TB shape unchanged: per-query cost is n_probe/n_centroids of the
    corpus, assignment is one distributed Arrow GEMM pass, corpus never
    shuffles."""
    emb = _t(spark, sf_dir, "embeddings")
    pivots = [
        list(r["embedding"])
        for r in emb.filter(F.col("vec_id").between(10, 17))
        .orderBy("vec_id")
        .collect()
    ]
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2, 3, 4))
    out = similarity.ivf_topk(
        emb, queries, k=5, n_centroids=8, n_probe=4, centroids=pivots
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        F.round("cos_sim", 6).alias("cos_sim"),
    )


@query(
    "q45_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents WHERE trim(text) <> ''
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents WHERE trim(text) <> ''),
    scored AS (
      SELECT tf.doc_id, tf.term, round(tf.tf * ln(n.n_docs * 1.0 / dfreq.df), 6) AS tfidf,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf * ln(n.n_docs * 1.0 / dfreq.df) DESC, tf.term) AS rk
      FROM tf JOIN dfreq USING (term), n
    )
    SELECT doc_id, term, tfidf, CAST(rk AS INT) AS rank FROM scored WHERE rk <= 3
    """,
)
def q45_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document — the classic text-pipeline scoring
    operator: term frequencies and document frequencies are two hash
    aggregations, idf joins back on term (broadcastable: vocabulary <<
    corpus), per-doc top-k is a window. All JVM-side."""
    d = _t(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    # corpus size as a broadcast 1-row aggregate, not a driver-side action —
    # the whole query stays one lazy plan
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    toks = d.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tfidf = F.col("tf") * F.log(F.col("_n_docs") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(tfidf.desc(), F.col("term"))
    return (
        tf.join(_dim(dfreq), "term")
        .join(F.broadcast(n_docs))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", F.round(tfidf, 6).alias("tfidf"), F.col("rank").cast("int").alias("rank"))
    )


@query(
    "q46_sessionize",
    oracle=f"""
    WITH e AS (
      SELECT user_id, {EPOCH_SQL.format(c='ts')} AS es FROM events
    ),
    marked AS (
      SELECT user_id, es,
             CASE WHEN lag(es) OVER (PARTITION BY user_id ORDER BY es) IS NULL
                       OR es - lag(es) OVER (PARTITION BY user_id ORDER BY es) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM e
    ),
    sess AS (
      SELECT user_id, es,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY es
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM marked
    ),
    per_session AS (
      SELECT user_id, session_id, count(*) AS ev, max(es) - min(es) AS dur
      FROM sess GROUP BY 1, 2
    )
    SELECT user_id, count(*) AS n_sessions,
           CAST(sum(ev) AS BIGINT) AS n_events,
           round(avg(ev), 6) AS avg_session_events,
           round(avg(dur), 6) AS avg_session_dur_s
    FROM per_session GROUP BY user_id
    """,
)
def q46_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-minute inactivity gap): the canonical windowed
    data-pipeline operator — gap detection via lag, session ids via a
    running sum, two follow-up aggregations. One shuffle on user_id; the
    windows reuse that partitioning."""
    e = _t(spark, sf_dir, "events").select("user_id", _epoch().alias("es"))
    w = Window.partitionBy("user_id").orderBy("es")
    marked = e.withColumn(
        "new_session",
        F.when(
            F.lag("es").over(w).isNull() | ((F.col("es") - F.lag("es").over(w)) > 1800), 1
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("ev"), (F.max("es") - F.min("es")).alias("dur")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("ev").cast("long").alias("n_events"),
        F.round(F.avg("ev"), 6).alias("avg_session_events"),
        F.round(F.avg("dur"), 6).alias("avg_session_dur_s"),
    )


@query(
    "q47_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def q47_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (beyond the reference's surface — SURVEY §2.4
    notes it has none): exact per-key distinct count. At 100 TB prefer
    approx_count_distinct (HLL sketch, map-side mergeable) unless
    exactness is required; the exact form is the oracle-checkable one."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("distinct_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "q48_latest_per_user",
    oracle="""
    WITH r AS (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_id, event_type, value FROM r WHERE rn = 1
    """,
)
def q48_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key dedup — the standard CDC/snapshot compaction
    operator: one window on the natural partition key, deterministic
    tiebreak."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


@query(
    "q49_rollup_revenue",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total,
           count(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q49_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (status -> priority -> grand total): one
    pass, partial aggregation per grouping set; NULL marks the rolled-up
    levels identically in both engines."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        _dsum2(_dec("o_totalprice")).alias("total"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q50_profile_store",
    oracle="""
    WITH base AS (
      SELECT 1 AS expId, event_type AS genType,
             'job_' || CAST(CAST(json_extract_string(props, '$.k') AS INT) AS VARCHAR) AS jobName,
             CAST(json_extract_string(props, '$.k') AS INT) AS scaleOut,
             round(avg(value), 6) AS avgLat,
             round(sum(value), 6) AS avgThr,
             CAST(json_extract_string(props, '$.k') AS INT) % 2 AS isBckPres,
             min(epoch_ns(ts) // 1000000000) AS startTs,
             max(epoch_ns(ts) // 1000000000) AS stopTs
      FROM events
      GROUP BY event_type, CAST(json_extract_string(props, '$.k') AS INT)
    )
    SELECT expId, genType, jobName, scaleOut, avgLat, avgThr, isBckPres, startTs, stopTs
    FROM base
    WHERE genType IN ('click', 'view')
      AND NOT (genType = 'click' AND isBckPres = 1)
    """,
)
def q50_profile_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4-S6 profile-store round-trip: DDL + insert + predicate delete +
    filtered ordered select (``DataManager.java:148-214``). Profile rows
    derive from the events table (one per (genType, scaleOut)); the
    DELETE WHERE expId/genType/isBckPres is a static-partition overwrite
    (see :mod:`phoebe_spark.sources.tables`) so at scale it swaps out one
    partition directory instead of rewriting the store. The oracle mirrors
    the delete as an anti-filter over the same derived rows. The store
    lives in a scratch dir: the result is frozen and both tables are
    dropped before the dir is removed."""
    from phoebe_spark.sources import tables as store
    from phoebe_spark.streaming import drain

    e = _t(spark, sf_dir, "events").withColumn("k", F.from_json("props", "k INT")["k"])
    base = (
        e.groupBy("event_type", "k")
        .agg(
            F.round(F.avg("value"), 6).alias("avgLat"),
            F.round(F.sum("value"), 6).alias("avgThr"),
            F.min(_epoch()).alias("startTs"),
            F.max(_epoch()).alias("stopTs"),
        )
        .select(
            F.lit(1).alias("expId"),
            F.col("event_type").alias("genType"),
            F.concat(F.lit("job_"), F.col("k").cast("string")).alias("jobName"),
            F.col("k").alias("scaleOut"),
            "avgLat",
            "avgThr",
            (F.col("k") % 2).alias("isBckPres"),
            "startTs",
            "stopTs",
        )
    )
    spark.sql("DROP TABLE IF EXISTS profiles")
    spark.sql("DROP TABLE IF EXISTS predictions")
    with drain.scratch("phoebe_store_") as work:
        try:
            store.create_profile_store(spark, work)
            store.insert_profiles(spark, base)
            store.delete_profiles(spark, 1, "click", is_bck_pres=1)
            return (
                store.select_profiles(spark, [1], "click")
                .unionAll(store.select_profiles(spark, [1], "view"))
                .localCheckpoint(eager=True)
            )
        finally:
            spark.sql("DROP TABLE IF EXISTS profiles")
            spark.sql("DROP TABLE IF EXISTS predictions")
