"""Query registry block 251-300 (mechanically split from the former
single-module registry in round 9; see ``_core`` for the decorator,
the registry dicts, and the float-determinism policy)."""

from __future__ import annotations


from phoebe_spark.operators import dedup, graph, sampling, similarity, text

from pyspark.sql import DataFrame, SparkSession, Window
from phoebe_spark.timeseries import core as ts_core
from pyspark.sql import functions as F

from ._core import EPOCH_SQL, ORACLE, _dec, _dim, _dsum2, _epoch, _t, query
from .q001_050 import _TOKS_SQL, _prefix_fp
from .q201_250 import _COGRAPH_SQL, _RBO_W, _RBO_W_SQL, _cograph_edges

@query(
    "q251_rank_biased_overlap",
    oracle=f"""
    WITH lens AS (
      SELECT source, doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tok,
             n_chars
      FROM documents WHERE trim(text) <> ''
    ),
    ranked AS (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_tok DESC, doc_id) AS ra,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rb
      FROM lens
    ),
    mx AS (
      SELECT source, greatest(ra, rb) AS m FROM ranked
      WHERE greatest(ra, rb) <= 20
    ),
    w(d, wt) AS (VALUES {_RBO_W_SQL}),
    ov AS (
      SELECT mx.source, w.d, w.wt, CAST(count(*) AS BIGINT) AS overlap_d
      FROM mx JOIN w ON mx.m <= w.d
      GROUP BY 1, 2, 3
    )
    SELECT source,
           max(CASE WHEN d = 20 THEN overlap_d ELSE 0 END) AS overlap_at_20,
           round(sum(wt * overlap_d / d), 6) AS rbo
    FROM ov GROUP BY 1
    """,
)
def q251_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap (Webber et al. 2010, truncated at k=20,
    p=0.9) between two per-source document rankings — token-count vs
    char-count — the top-weighted agreement measure for "do two quality
    signals pick the same heads?", where Spearman (q216) weighs the whole
    list equally. The depth-d overlap needs no per-depth set
    intersection: a doc is in both prefixes iff max(rank_a, rank_b) <= d,
    so overlap_d is one bounded join of the (source, m<=20) survivors
    against the 20-row depth/weight dim.

    100 TB story: two windows on the same source partitioning, then the
    survivor set is at most 20 rows per source — everything after the
    ranking is dimension-sized.
    """
    d = _t(spark, sf_dir, "documents")
    lens = d.filter(F.trim("text") != "").select(
        "source",
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tok"),
        "n_chars",
    )
    ranked = lens.select(
        "source",
        F.row_number()
        .over(Window.partitionBy("source").orderBy(F.col("n_tok").desc(), "doc_id"))
        .alias("ra"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("rb"),
    )
    mx = ranked.select(
        "source", F.greatest("ra", "rb").alias("m")
    ).filter(F.col("m") <= 20)
    wdim = spark.createDataFrame(_RBO_W, "d int, wt double")
    ov = (
        mx.join(F.broadcast(wdim), mx.m <= wdim.d)
        .groupBy("source", "d", "wt")
        .agg(F.count(F.lit(1)).alias("overlap_d"))
    )
    return ov.groupBy("source").agg(
        F.max(F.when(F.col("d") == 20, F.col("overlap_d")).otherwise(0)).alias(
            "overlap_at_20"
        ),
        F.round(F.sum(F.col("wt") * F.col("overlap_d") / F.col("d")), 6).alias("rbo"),
    )


@query(
    "q252_asof_tolerance",
    oracle=f"""
    WITH m AS (
      SELECT event_type,
             CAST(floor({EPOCH_SQL.format(c='ts')} / 60) AS BIGINT) AS minute,
             round(sum(value), 6) AS v
      FROM events GROUP BY 1, 2
    ),
    r AS (SELECT event_type, minute, v FROM m WHERE minute % 60 = 0),
    j AS (
      SELECT l.event_type, l.minute, l.v AS minute_sum,
             r.v AS cp_v, r.minute AS cp_minute
      FROM m l ASOF LEFT JOIN r
        ON l.event_type = r.event_type AND l.minute >= r.minute
    )
    SELECT event_type, minute, minute_sum,
           CASE WHEN cp_minute >= minute - 15 THEN cp_v END
             AS checkpoint_sum_asof
    FROM j
    """,
)
def q252_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a TOLERANCE bound (pandas ``merge_asof(...,
    tolerance=...)``): per-minute sums pick up the most recent HOURLY
    checkpoint, but only if it is at most 15 minutes old — a stale match
    must surface as null, not silently carry an hour-old value (the
    staleness contract every metrics/feature-store lookup needs). q54
    certifies the unbounded carry; this pins the tolerance path of the
    same operator — most minutes fall OUTSIDE the window, so the nulling
    logic is exercised non-vacuously.

    Scale: same union-tag single-shuffle plan; tolerance is a post-carry
    column predicate, not a join-condition change.
    """
    e = _t(spark, sf_dir, "events")
    m = (
        e.withColumn("minute", F.floor(_epoch() / 60).cast("long"))
        .groupBy("event_type", "minute")
        .agg(F.round(F.sum("value"), 6).alias("minute_sum"))
    )
    r = m.filter(F.col("minute") % 60 == 0).select(
        "event_type", "minute", F.col("minute_sum").alias("checkpoint_sum")
    )
    out = ts_core.asof_join(
        m, r, on="minute", by=["event_type"], value_cols=["checkpoint_sum"],
        tolerance=15,
    )
    return out.select("event_type", "minute", "minute_sum", "checkpoint_sum_asof")


@query(
    "q253_session_paths",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, {EPOCH_SQL.format(c='ts')} AS es, event_id
      FROM events
    ),
    s AS (
      SELECT user_id, event_type, es, event_id,
             CASE WHEN es - lag(es) OVER w > 1800 OR lag(es) OVER w IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
    ),
    g AS (
      SELECT user_id, event_type, es, event_id,
             sum(brk) OVER (PARTITION BY user_id ORDER BY es, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ),
    rn AS (
      SELECT user_id, sid, event_type,
             row_number() OVER (PARTITION BY user_id, sid
                                ORDER BY es, event_id) AS step
      FROM g
    ),
    paths AS (
      SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY step) AS path
      FROM rn WHERE step <= 3 GROUP BY 1, 2
    )
    SELECT path, count(*) AS n_sessions
    FROM paths GROUP BY 1 HAVING count(*) >= 5
    """,
)
def q253_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session entry-path mining: sessionize on a 30-minute gap, take each
    session's first 3 event types as an ordered path string, and count
    paths with support >= 5 — the navigation-pattern report product teams
    run daily, and the path-level complement of the Markov transition
    matrix (q130: pairwise, memoryless; this: ordered prefixes). Path
    assembly is deterministic: (second, event_id) ordering, positional
    concat.

    100 TB story: sessionization + step-ranking + path-concat all share
    ONE user_id shuffle (same-key windows), then one path-keyed count
    whose cardinality is bounded by |event_types|^3.
    """
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", _epoch().alias("es"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    s = e.withColumn(
        "brk",
        F.when(
            (F.col("es") - F.lag("es").over(w) > 1800)
            | F.lag("es").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    g = s.withColumn(
        "sid",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    rn = g.withColumn(
        "step",
        F.row_number().over(
            Window.partitionBy("user_id", "sid").orderBy("es", "event_id")
        ),
    )
    paths = (
        rn.filter(F.col("step") <= 3)
        .groupBy("user_id", "sid")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("step", "event_type"))
                ).getField("event_type"),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .filter(F.col("n_sessions") >= 5)
    )


@query(
    "q254_fano_burstiness",
    oracle=f"""
    WITH hc AS (
      SELECT user_id,
             CAST({EPOCH_SQL.format(c='ts')} // 3600 AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_active_hours,
           CAST(sum(c) AS BIGINT) AS n_events,
           CAST(max(c) AS BIGINT) AS peak_hour,
           round((sum(c * c) - sum(c) * sum(c) * 1.0 / count(*))
                 / sum(c), 6) AS fano
    FROM hc GROUP BY 1 HAVING count(*) >= 5
    """,
)
def q254_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness via the Fano factor of ACTIVE-hour event
    counts (variance-to-mean over hours with >=1 event; ~1 = Poisson-like
    arrivals, >>1 = bursty — the signal a rate limiter or capacity planner
    keys on). All moments are exact BIGINT sums of integer counts; the
    two divisions are the only floats, so the 6dp rounding is
    engine-stable. Biased (population) variance, disclosed.

    100 TB story: two stacked map-side-combining groupBys
    (user x hour, then user) — no window, no join, no skew beyond the
    natural per-user row counts.
    """
    e = _t(spark, sf_dir, "events")
    hc = e.groupBy(
        "user_id", (_epoch() / 3600).cast("long").alias("hr")
    ).agg(F.count(F.lit(1)).alias("c"))
    return (
        hc.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_active_hours"),
            F.sum("c").alias("n_events"),
            F.max("c").alias("peak_hour"),
            F.round(
                (
                    F.sum(F.col("c") * F.col("c"))
                    - F.sum("c") * F.sum("c") * F.lit(1.0) / F.count(F.lit(1))
                )
                / F.sum("c"),
                6,
            ).alias("fano"),
        )
        .filter(F.col("n_active_hours") >= 5)
    )


@query(
    "q255_hopping_window",
    oracle=f"""
    WITH e AS (
      SELECT {EPOCH_SQL.format(c='ts')} AS es, value FROM events
    ),
    contrib AS (
      SELECT unnest(generate_series(
               (es // 60 - 4) * 60, (es // 60) * 60, 60)) AS win_start,
             value
      FROM e
    )
    SELECT CAST(win_start AS BIGINT) AS win_start,
           CAST(win_start + 300 AS BIGINT) AS win_end,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS win_sum
    FROM contrib
    WHERE win_start >= 0
    GROUP BY 1, 2
    """,
)
def q255_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOPPING (sliding) window aggregate — 5-minute windows every 1
    minute via Spark's native ``F.window(ts, '5 minutes', '1 minute')``:
    each event lands in 5 overlapping windows, the smoothing rollup
    dashboards want where tumbling windows (q14) jitter. The oracle
    replicates the window-assignment rule itself (every minute-aligned
    start in (es-300, es]), so what's certified is Spark's hop semantics,
    not just the sums.

    100 TB story: window explosion is exactly size/slide = 5x — bounded
    and declared; the aggregate stays map-side-combining on the window
    key. (Counter-pattern: a per-second slide would be a 300x blow-up —
    the slide ratio IS the cost knob.)
    """
    e = _t(spark, sf_dir, "events")
    w = e.select(
        F.window(
            F.expr("timestamp_seconds(ts div 1000000000)"), "5 minutes", "1 minute"
        ).alias("w"),
        "value",
    )
    return (
        w.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum2(_dec("value")).alias("win_sum"),
        )
        .select(
            F.col("w.start").cast("long").alias("win_start"),
            F.col("w.end").cast("long").alias("win_end"),
            "n_events",
            "win_sum",
        )
    )


@query(
    "q256_token_lorenz",
    oracle=f"""
    WITH lens AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tok
      FROM documents WHERE trim(text) <> ''
    ),
    ranked AS (
      SELECT n_tok,
             ntile(10) OVER (ORDER BY n_tok, doc_id) AS decile
      FROM lens
    ),
    tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS t FROM ranked)
    SELECT CAST(decile AS INT) AS decile,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS decile_tokens,
           round(sum(n_tok) * 1.0 / (SELECT t FROM tot), 6) AS token_share,
           round(sum(sum(n_tok)) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 1.0 / (SELECT t FROM tot), 6) AS cum_share
    FROM ranked GROUP BY decile
    """,
)
def q256_token_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-concentration (Lorenz) curve: docs in length deciles,
    each decile's share of TOTAL tokens and the cumulative share — "how
    much of the training signal lives in the longest 10% of documents",
    the long-tail audit that decides truncation and packing policy
    (complements q245's key-skew Gini: that measures shuffle keys, this
    measures the data itself). NTILE with a doc_id tie-break is
    deterministic; shares are exact-integer sums with two final floats.

    100 TB story: one global sort by a scalar (range-partitioned), one
    grouped rollup on 10 keys, one 10-row cumulative window.
    """
    from phoebe_spark.operators.layout import global_rank_by_value

    d = _t(spark, sf_dir, "documents")
    lens = d.filter(F.trim("text") != "").select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tok"),
    )
    # two-phase rank + exact NTILE arithmetic: bit-identical to
    # ntile(10) OVER (ORDER BY n_tok, doc_id) without the single-reducer
    # global window (first n%10 buckets get ceil(n/10) rows)
    r = global_rank_by_value(lens, "n_tok", "doc_id", descending=False)
    n1 = lens.agg(F.count(F.lit(1)).cast("long").alias("__nn"))
    ranked = r.crossJoin(F.broadcast(n1)).select(
        "n_tok",
        F.expr(
            """
            CASE WHEN r <= (__nn % 10) * (__nn div 10 + 1)
                 THEN (r - 1) div (__nn div 10 + 1) + 1
                 ELSE (__nn % 10)
                      + (r - (__nn % 10) * (__nn div 10 + 1) - 1)
                        div (__nn div 10) + 1
            END
            """
        ).cast("int").alias("decile"),
    )
    dec = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("decile_tokens"),
    )
    tot = F.sum("decile_tokens").over(Window.partitionBy())
    cum = F.sum("decile_tokens").over(
        Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dec.select(
        F.col("decile").cast("int").alias("decile"),
        "n_docs",
        "decile_tokens",
        F.round(F.col("decile_tokens") / tot, 6).alias("token_share"),
        F.round(cum / tot, 6).alias("cum_share"),
    )


@query(
    "q257_date_dim_rollup",
    oracle="""
    WITH bounds AS (
      SELECT min(CAST(o_orderdate AS DATE)) AS lo,
             max(CAST(o_orderdate AS DATE)) AS hi
      FROM orders
    ),
    dd AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds
    ),
    dim AS (
      SELECT d,
             CAST(isodow(d) AS INT) AS dow,
             CAST(CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END AS INT)
               AS is_weekend,
             CAST(strftime(d, '%Y-%m') AS VARCHAR) AS month
      FROM dd
    )
    SELECT dim.month, dim.is_weekend,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS revenue
    FROM dim LEFT JOIN orders o ON CAST(o.o_orderdate AS DATE) = dim.d
    GROUP BY 1, 2
    HAVING count(o.o_orderkey) > 0
    """,
)
def q257_date_dim_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated DATE DIMENSION + calendar-attribute rollup: the date dim
    is derived in-engine (``sequence(min, max, interval 1 day)`` +
    calendar functions — no external table), then orders roll up by
    month x weekend flag through a broadcast join against it. This is the
    warehouse date-spine pattern: deriving calendar attributes ONCE in a
    dimension beats re-computing `dayofweek` per fact row in every query,
    and the spine also exposes zero-activity days (q181's gap audit rides
    the same spine).

    100 TB story: the dim is O(days) — broadcast always; the fact side
    aggregates map-side on (month, flag).
    """
    o = _t(spark, sf_dir, "orders")
    bounds = o.select(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
    )
    dim = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d")
    ).select(
        "d",
        F.expr("CAST(((dayofweek(d) + 5) % 7) + 1 AS INT)").alias("dow"),
        F.when(F.expr("((dayofweek(d) + 5) % 7) + 1") >= 6, 1)
        .otherwise(0)
        .cast("int")
        .alias("is_weekend"),
        F.date_format("d", "yyyy-MM").alias("month"),
    )
    facts = o.select(F.to_date("o_orderdate").alias("d"), "o_orderkey", "o_totalprice")
    j = F.broadcast(dim).join(facts, "d", "left")
    return (
        j.groupBy("month", "is_weekend")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            _dsum2(_dec("o_totalprice")).alias("revenue"),
        )
        .filter(F.col("n_orders") > 0)
    )


@query(
    "q258_containment_pairs",
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
    SELECT doc_a, doc_b,
           round(inter * 1.0 / least(size_a, size_b), 6) AS containment,
           round(inter * 1.0 / (size_a + size_b - inter), 6) AS jaccard
    FROM pairs WHERE inter * 1.0 / least(size_a, size_b) >= 0.2
    """,
)
def q258_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX-CONTAINMENT near-dup pairs (:func:`dedup.containment_pairs`,
    3-gram shingles, threshold 0.2): the asymmetric inclusion score that
    catches a short document embedded in a long one — containment 1.0
    where Jaccard is arbitrarily small — the quote/excerpt rung of the
    dedup ladder. Emits both scores, and the threshold sits where the
    gate certifies genuine divergence: the surviving set contains pairs
    at containment ~0.25 whose Jaccard is ~0.03 (one-way inclusion), next
    to mutual near-dups at ~1.0/~0.97.

    100 TB story: identical single-posting-pass inverted-index shape as
    q13 — only the final arithmetic differs.
    """
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.containment_pairs(d, n=3, threshold=0.2, max_shingle_freq=1000)
    return pairs.select(
        "doc_a",
        "doc_b",
        F.round("containment", 6).alias("containment"),
        F.round("jaccard", 6).alias("jaccard"),
    )


@query(
    "q259_variant_shred",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_band,
           count(*) AS n,
           CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
             AS k_min,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
             AS k_max
    FROM events GROUP BY 1
    """,
)
def q259_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured OPEN-SCHEMA path via Spark 4's VARIANT type:
    ``parse_json`` keeps the whole document queryable without declaring a
    schema, ``variant_get`` shreds typed fields on demand — the
    schema-on-read complement of q37's closed-schema ``from_json`` (which
    silently nulls fields the struct didn't declare). Variant's binary
    encoding makes repeated field extraction cheap vs re-parsing JSON
    text per access.

    100 TB story: variant columns store parsed-once binary; field
    extraction is a columnar kernel, and the group key lands map-side —
    this is the pattern for telemetry/props columns whose schema drifts
    faster than the pipeline's release cycle.
    """
    e = _t(spark, sf_dir, "events")
    v = e.select(F.parse_json("props").alias("vp"))
    shred = v.select(
        F.expr("variant_get(vp, '$.k', 'int')").alias("k")
    )
    return shred.groupBy((F.col("k") % 10).alias("k_band")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("k").cast("int").alias("k_min"),
        F.max("k").cast("int").alias("k_max"),
    )


@query(
    "q260_expectations_suite",
    oracle="""
    WITH fk AS (
      SELECT count(*) AS n_orphans
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey IS NULL
    ),
    m AS (
      SELECT count(*) AS n,
             count(o_custkey) AS n_custkey,
             count(DISTINCT o_orderkey) AS n_distinct_pk,
             sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS n_neg_price,
             sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END)
               AS n_bad_status
      FROM orders
    )
    SELECT c.name AS constraint_name, c.metric, c.passed FROM (
      SELECT 'completeness(o_custkey)' AS name,
             round(n_custkey * 1.0 / n, 6) AS metric,
             CAST(CASE WHEN n_custkey = n THEN 1 ELSE 0 END AS INT) AS passed
      FROM m
      UNION ALL
      SELECT 'uniqueness(o_orderkey)',
             round(n_distinct_pk * 1.0 / n, 6),
             CAST(CASE WHEN n_distinct_pk = n THEN 1 ELSE 0 END AS INT)
      FROM m
      UNION ALL
      SELECT 'non_negative(o_totalprice)',
             CAST(n_neg_price AS DOUBLE),
             CAST(CASE WHEN n_neg_price = 0 THEN 1 ELSE 0 END AS INT)
      FROM m
      UNION ALL
      SELECT 'in_set(o_orderstatus)',
             CAST(n_bad_status AS DOUBLE),
             CAST(CASE WHEN n_bad_status = 0 THEN 1 ELSE 0 END AS INT)
      FROM m
      UNION ALL
      SELECT 'fk_containment(o_custkey->customer)',
             CAST(n_orphans AS DOUBLE),
             CAST(CASE WHEN n_orphans = 0 THEN 1 ELSE 0 END AS INT)
      FROM fk
    ) c
    """,
)
def q260_expectations_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality EXPECTATIONS suite as one report:
    completeness, primary-key uniqueness, value-bound, domain-set, and
    FK-containment constraints each emit (name, metric, passed) — the
    contract gate a table must clear before a pipeline consumes it. All
    single-table metrics come from ONE aggregate pass (one scan, five
    counters); only the FK probe adds a broadcast anti-join. Extends the
    per-FK orphan audit (q157) into the named-constraint report shape.

    100 TB story: constraint evaluation is O(1) extra state per
    constraint inside an existing scan — the same observe-metrics
    principle as curation.py's inline QA gate.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    m = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_custkey").alias("n_custkey"),
        F.countDistinct("o_orderkey").alias("n_distinct_pk"),
        F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)).alias("n_neg_price"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        ).alias("n_bad_status"),
    )
    orphans = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )
    rows = m.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("completeness(o_custkey)").alias("constraint_name"),
                    F.round(F.col("n_custkey") / F.col("n"), 6).alias("metric"),
                    F.when(F.col("n_custkey") == F.col("n"), 1)
                    .otherwise(0)
                    .cast("int")
                    .alias("passed"),
                ),
                F.struct(
                    F.lit("uniqueness(o_orderkey)").alias("constraint_name"),
                    F.round(F.col("n_distinct_pk") / F.col("n"), 6).alias("metric"),
                    F.when(F.col("n_distinct_pk") == F.col("n"), 1)
                    .otherwise(0)
                    .cast("int")
                    .alias("passed"),
                ),
                F.struct(
                    F.lit("non_negative(o_totalprice)").alias("constraint_name"),
                    F.col("n_neg_price").cast("double").alias("metric"),
                    F.when(F.col("n_neg_price") == 0, 1)
                    .otherwise(0)
                    .cast("int")
                    .alias("passed"),
                ),
                F.struct(
                    F.lit("in_set(o_orderstatus)").alias("constraint_name"),
                    F.col("n_bad_status").cast("double").alias("metric"),
                    F.when(F.col("n_bad_status") == 0, 1)
                    .otherwise(0)
                    .cast("int")
                    .alias("passed"),
                ),
            )
        ).alias("e")
    ).select("e.constraint_name", "e.metric", "e.passed")
    fk_row = orphans.select(
        F.lit("fk_containment(o_custkey->customer)").alias("constraint_name"),
        F.col("n_orphans").cast("double").alias("metric"),
        F.when(F.col("n_orphans") == 0, 1).otherwise(0).cast("int").alias("passed"),
    )
    return rows.unionByName(fk_row)


@query(
    "q261_incremental_agg_maintenance",
    oracle=f"""
    WITH base AS (
      SELECT CAST({EPOCH_SQL.format(c='ts')} // 86400 AS BIGINT) AS day,
             event_type, value
      FROM events
    )
    SELECT day, event_type,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS day_sum,
           CAST(1 AS INT) AS ivm_ok
    FROM base GROUP BY 1, 2
    """,
)
def q261_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance certificate: the daily
    (day x event_type) aggregate is built TWICE — full recompute, and
    incrementally (the first 25 days' aggregate merged with the remaining
    days' delta by re-aggregating partials, the IVM step a daily pipeline
    runs at midnight) — and every row carries ``ivm_ok``. The oracle
    expects 1, so any non-self-maintainable step (a non-decomposable
    aggregate, a lost partial) hash-fails the gate. COUNT and DECIMAL SUM
    are self-maintainable aggregates; the decimal carry makes the merged
    sum bit-equal to the recompute, not just close — which is exactly why
    the money policy (README) mandates DECIMAL partials.

    100 TB story: the nightly delta touches one day's partition; the
    merge is partials-sized (days x types), never a fact rescan — IVM is
    the difference between O(delta) and O(history) daily cost.
    """
    e = _t(spark, sf_dir, "events")
    base = e.select(
        F.expr("(ts div 1000000000) div 86400").cast("long").alias("day"),
        "event_type",
        "value",
    )
    min_day = base.agg(F.min("day")).head()[0]
    cut = (min_day or 0) + 25

    def _partial(df):
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).alias("sum_dec"),
        )

    history = _partial(base.filter(F.col("day") < cut))
    delta = _partial(base.filter(F.col("day") >= cut))
    merged = (
        history.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").alias("sum_dec"),
        )
    )
    full = _partial(base).withColumnRenamed("n_events", "n_full").withColumnRenamed(
        "sum_dec", "sum_full"
    )
    j = merged.join(full, ["day", "event_type"])
    return j.select(
        "day",
        "event_type",
        "n_events",
        F.round(F.col("sum_dec"), 2).cast("double").alias("day_sum"),
        F.when(
            (F.col("n_events") == F.col("n_full"))
            & (F.col("sum_dec") == F.col("sum_full")),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("ivm_ok"),
    )


@query(
    "q262_snake_sharding",
    oracle=f"""
    WITH lens AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tok
      FROM documents WHERE trim(text) <> ''
    ),
    ranked AS (
      SELECT doc_id, n_tok,
             CAST(row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1 AS BIGINT)
               AS r
      FROM lens
    ),
    assigned AS (
      SELECT n_tok,
             CASE WHEN (r // 8) % 2 = 0 THEN r % 8 ELSE 7 - (r % 8) END
               AS shard
      FROM ranked
    ),
    tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS t FROM assigned)
    SELECT CAST(shard AS BIGINT) AS shard,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS token_sum,
           round(sum(n_tok) * 8.0 / (SELECT t FROM tot) - 1.0, 6)
             AS imbalance
    FROM assigned GROUP BY 1
    """,
)
def q262_snake_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balance-OPTIMIZED training-shard assignment by SNAKE
    (boustrophedon) order: sort docs by token count desc, deal them across
    8 shards alternating direction each pass — the closed-form
    ``shard = f(rank)`` stand-in for greedy LPT bin packing (which is
    inherently sequential and cannot run as a plan). Snake order pairs a
    heavy pick in one pass with a light pick in the return pass, so
    per-shard token sums land within a fraction of a percent of ideal —
    the ``imbalance`` column measures it exactly. Complements q147's
    salted-hash sharding (random, content-addressed) with the
    skew-minimizing variant a token-budgeted trainer wants.

    100 TB story: one range-partitioned sort + a rank formula — no
    sequential state, no driver loop; re-runs reproduce the same shards.
    """
    d = _t(spark, sf_dir, "documents")
    lens = d.filter(F.trim("text") != "").select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tok"),
    )
    from phoebe_spark.operators.layout import global_rank_by_value

    ranked = global_rank_by_value(lens, "n_tok", "doc_id").select(
        "n_tok", (F.col("r") - 1).alias("r")
    )
    assigned = ranked.select(
        "n_tok",
        F.when(F.expr("r div 8") % 2 == 0, F.col("r") % 8)
        .otherwise(7 - F.col("r") % 8)
        .alias("shard"),
    )
    tot = F.sum("token_sum").over(Window.partitionBy())
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("token_sum"),
        )
        .select(
            "shard",
            "n_docs",
            "token_sum",
            F.round(F.col("token_sum") * 8.0 / tot - 1.0, 6).alias("imbalance"),
        )
    )


@query(
    "q263_golden_record",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source, n_chars,
             md5(substring(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                           1, 80)) AS fp
      FROM documents WHERE trim(text) <> ''
    ),
    clusters AS (
      SELECT fp FROM fp GROUP BY fp HAVING count(*) >= 2
    )
    SELECT f.fp AS cluster_fp,
           CAST(min(f.doc_id) AS BIGINT) AS golden_doc_id,
           count(*) AS n_members,
           CAST(count(DISTINCT f.source) AS BIGINT) AS n_sources,
           string_agg(DISTINCT f.source, ',' ORDER BY f.source) AS sources,
           CAST(max(f.n_chars) AS BIGINT) AS max_chars
    FROM fp f JOIN clusters USING (fp)
    GROUP BY 1
    """,
)
def q263_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution SURVIVORSHIP: for every exact-duplicate cluster
    (normalized-prefix fingerprint, the q08/q178 family), MERGE a golden
    record by policy — lowest doc_id as the canonical key, member and
    distinct-source census, the sorted source list (provenance a data
    card needs), and the longest variant's length. Complements q88's
    keep-best (which PICKS one row) with the attribute-merge shape a
    master-data pipeline emits.

    100 TB story: one fingerprint shuffle; every survivorship rule is an
    ordinary aggregate (min/max/count/sort_array of collect_set) — no
    per-cluster iteration, no skew beyond natural cluster sizes.
    """
    d = _t(spark, sf_dir, "documents")
    f = d.filter(F.trim("text") != "").select(
        "doc_id", "source", "n_chars", _prefix_fp().alias("fp")
    )
    g = f.groupBy("fp").agg(
        F.min("doc_id").alias("golden_doc_id"),
        F.count(F.lit(1)).alias("n_members"),
        F.countDistinct("source").alias("n_sources"),
        F.array_join(F.sort_array(F.collect_set("source")), ",").alias("sources"),
        F.max("n_chars").alias("max_chars"),
    )
    return g.filter(F.col("n_members") >= 2).select(
        F.col("fp").alias("cluster_fp"),
        "golden_doc_id",
        "n_members",
        "n_sources",
        "sources",
        "max_chars",
    )


@query(
    "q264_determinism_cert",
    oracle="""
    WITH kept AS (
      SELECT source, doc_id
      FROM documents
      WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|v1'), 1, 15))
                 AS BIGINT) % 10000 < 3000
    )
    SELECT source,
           count(*) AS n_kept,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(max(doc_id) AS BIGINT) AS max_id,
           CAST(1 AS INT) AS stable_ok
    FROM kept GROUP BY 1
    """,
)
def q264_determinism_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISM certificate for the sampling family: the salted-hash
    30% sample is drawn TWICE under adversarially different physical
    layouts (7-partition round-robin vs 13-partition range-by-text) and
    ``stable_ok`` asserts the two draws picked IDENTICAL rows per source.
    This is the contract the whole no-RNG design rides on — `Bernoulli
    sample()` changes membership under retries/AQE re-partitioning,
    salted-hash membership cannot — here it stops being a docstring claim
    and becomes a hash-checked gate row (the oracle expects 1, so any
    layout-sensitivity in the scan-side expression fails the round).

    100 TB story: both draws are scan-side codegen predicates (no
    shuffle); the certificate join is sample-sized on the id.
    """
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    a = sampling.hash_sample(d.repartition(7), 0.30, id_col="doc_id", salt="v1")
    b = sampling.hash_sample(
        d.repartitionByRange(13, "doc_id"), 0.30, id_col="doc_id", salt="v1"
    )
    both = a.select("doc_id", "source").join(
        b.select(F.col("doc_id").alias("doc_id_b")),
        F.col("doc_id") == F.col("doc_id_b"),
        "full",
    )
    return (
        both.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.min(
                F.when(
                    F.col("doc_id").isNotNull() & F.col("doc_id_b").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("int")
            .alias("stable_ok"),
        )
        .filter(F.col("source").isNotNull())
    )


@query(
    "q265_order_integrity",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             {EPOCH_SQL.format(c='ts')} AS es,
             lag({EPOCH_SQL.format(c='ts')}) OVER w AS prev_es
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    )
    SELECT user_id,
           CAST(count(prev_es) AS BIGINT) AS n_steps,
           CAST(sum(CASE WHEN es < prev_es THEN 1 ELSE 0 END) AS BIGINT)
             AS n_inversions,
           CAST(max(CASE WHEN es < prev_es THEN prev_es - es ELSE 0 END)
                AS BIGINT) AS max_backstep_s,
           round(sum(CASE WHEN es < prev_es THEN 1 ELSE 0 END) * 1.0
                 / count(prev_es), 6) AS disorder_rate
    FROM seq WHERE prev_es IS NOT NULL
    GROUP BY 1
    """,
)
def q265_order_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-INTEGRITY certificate: per key, does event time ever step
    BACKWARD along arrival order (the event_id sequence)? Every streaming
    drain in this engine stages with a 0-SECOND watermark — which is only
    correct because ingestion order preserves event time; this query
    turns that assumption into a hash-checked gate row (n_inversions and
    max_backstep_s expected 0 on this corpus — if the fixture ever gains
    disorder, the row fails loudly and the watermark-delay choice must be
    revisited; the same report, run on a disordered feed, IS the
    watermark-tuning measurement — max backstep bounds the delay from
    below, q205 certifies what a too-small delay drops).

    100 TB story: one shuffle on the key for the lag window, then a
    grouped rollup on the same key — Spark reuses the partitioning.
    """
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = e.select(
        "user_id",
        _epoch().alias("es"),
        F.lag(_epoch()).over(w).alias("prev_es"),
    ).filter(F.col("prev_es").isNotNull())
    inv = F.when(F.col("es") < F.col("prev_es"), 1).otherwise(0)
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_steps"),
        F.sum(inv).alias("n_inversions"),
        F.max(
            F.when(F.col("es") < F.col("prev_es"), F.col("prev_es") - F.col("es"))
            .otherwise(0)
        ).alias("max_backstep_s"),
        F.round(F.sum(inv) / F.count(F.lit(1)), 6).alias("disorder_rate"),
    )


@query(
    "q266_reconciliation",
    oracle="""
    WITH l AS (
      SELECT l_orderkey,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                            * (CAST(1 AS DECIMAL(18,4)) + CAST(l_tax AS DECIMAL(18,4)))), 2)
                  AS DOUBLE) AS line_total
      FROM lineitem GROUP BY 1
    ),
    j AS (
      SELECT o.o_orderkey, o.o_totalprice, l.line_total,
             CASE
               WHEN l.line_total IS NULL THEN 'missing_lines'
               WHEN abs(o.o_totalprice - l.line_total) / o.o_totalprice < 0.01
                 THEN 'tie_1pct'
               WHEN abs(o.o_totalprice - l.line_total) / o.o_totalprice < 0.10
                 THEN 'drift_1_10pct'
               ELSE 'drift_over_10pct'
             END AS band
      FROM orders o LEFT JOIN l ON o.o_orderkey = l.l_orderkey
    )
    SELECT band,
           count(*) AS n_orders,
           CAST(round(sum(CAST(abs(o_totalprice - coalesce(line_total, 0))
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS abs_delta_sum
    FROM j GROUP BY 1
    """,
)
def q266_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table FINANCIAL RECONCILIATION: does the order header total
    tie out against the sum of its line extensions (price x (1-disc) x
    (1+tax))? Orders band into tie (<1%), drift (1-10%), material
    mismatch (>10%), and headers with NO lines — the controls report
    every warehouse runs between fact tables that are supposed to agree.
    On this corpus the invariant deliberately does NOT hold, so every
    band is populated (asserted non-vacuous by the gate row counts); line
    sums carry DECIMAL so banding never moves on partial-agg order.

    100 TB story: one map-side-combining rollup on the line side, one
    key join, one 4-group aggregate — reconciliation cost is one scan of
    each table regardless of mismatch rate.
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    l = li.groupBy("l_orderkey").agg(
        F.round(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
                * (F.lit(1).cast("decimal(18,4)") + _dec("l_tax"))
            ),
            2,
        )
        .cast("double")
        .alias("line_total")
    )
    j = o.join(l, o.o_orderkey == l.l_orderkey, "left")
    rel = F.abs(F.col("o_totalprice") - F.col("line_total")) / F.col("o_totalprice")
    band = (
        F.when(F.col("line_total").isNull(), "missing_lines")
        .when(rel < 0.01, "tie_1pct")
        .when(rel < 0.10, "drift_1_10pct")
        .otherwise("drift_over_10pct")
    )
    return (
        j.select(
            band.alias("band"),
            F.abs(
                F.col("o_totalprice") - F.coalesce("line_total", F.lit(0.0))
            ).alias("d"),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(_dec("d")), 2).cast("double").alias("abs_delta_sum"),
        )
    )


@query(
    "q267_ts_similarity_search",
    oracle=f"""
    WITH hc AS (
      SELECT user_id,
             CAST(({EPOCH_SQL.format(c='ts')} // 3600) % 24 AS INT) AS hod,
             CAST(count(*) AS DOUBLE) AS c
      FROM events GROUP BY 1, 2
    ),
    grid AS (SELECT unnest(generate_series(0, 23)) AS hod),
    dense AS (
      SELECT u.user_id, g.hod, coalesce(hc.c, 0.0) AS c
      FROM (SELECT DISTINCT user_id FROM hc) u
      CROSS JOIN grid g
      LEFT JOIN hc ON hc.user_id = u.user_id AND hc.hod = g.hod
    ),
    stats AS (
      SELECT user_id, avg(c) AS mu,
             sqrt(avg(c * c) - avg(c) * avg(c)) AS sd
      FROM dense GROUP BY 1 HAVING sqrt(avg(c * c) - avg(c) * avg(c)) > 0
    ),
    z AS (
      SELECT d.user_id, d.hod, (d.c - s.mu) / s.sd AS z
      FROM dense d JOIN stats s USING (user_id)
    ),
    q AS (SELECT hod, z AS qz FROM z WHERE user_id = 0),
    dist AS (
      SELECT z.user_id, sqrt(sum((z.z - q.qz) * (z.z - q.qz))) AS zdist
      FROM z JOIN q USING (hod)
      WHERE z.user_id <> 0
      GROUP BY 1
    )
    SELECT user_id, round(zdist, 6) AS zdist,
           CAST(row_number() OVER (ORDER BY round(zdist, 6), user_id) AS INT)
             AS rank
    FROM dist
    QUALIFY row_number() OVER (ORDER BY round(zdist, 6), user_id) <= 10
    """,
)
def q267_ts_similarity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-SERIES similarity search (the distributed-TS-search shape, cf.
    EDBT'19 streaming TS similarity): each user's 24-hour activity profile
    is z-NORMALIZED (shape match, not volume match — the UCR-suite
    convention) and the 10 nearest users to user 0 by Euclidean distance
    come back ranked. Flat profiles (sd=0) are excluded — z-normalization
    is undefined there. Rank ties break on 6dp-rounded distance then
    user_id, so ordering is engine-stable.

    100 TB story: profile build is one map-side-combining rollup to
    users x 24 rows; the query profile broadcasts (24 rows); distance is
    a per-user aggregate over 24 aligned dims — the corpus is scanned
    once and only (user, dist) rows shuffle for the global top-k (which
    plans as WindowGroupLimit partial top-k). At billions of series the
    same plan gains an LSH/PAA prefilter exactly like the ANN ladder.
    """
    e = _t(spark, sf_dir, "events")
    hc = e.groupBy(
        "user_id",
        F.expr("CAST(((ts div 1000000000) div 3600) % 24 AS INT)").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    grid = spark.range(0, 24).select(F.col("id").cast("int").alias("hod"))
    users = hc.select("user_id").distinct()
    dense = (
        users.crossJoin(F.broadcast(grid))
        .join(hc, ["user_id", "hod"], "left")
        .select("user_id", "hod", F.coalesce("c", F.lit(0.0)).alias("c"))
    )
    stats = (
        dense.groupBy("user_id")
        .agg(
            F.avg("c").alias("mu"),
            F.sqrt(F.avg(F.col("c") * F.col("c")) - F.avg("c") * F.avg("c")).alias("sd"),
        )
        .filter(F.col("sd") > 0)
    )
    z = dense.join(stats, "user_id").select(
        "user_id", "hod", ((F.col("c") - F.col("mu")) / F.col("sd")).alias("z")
    )
    q = z.filter(F.col("user_id") == 0).select("hod", F.col("z").alias("qz"))
    dist = (
        z.filter(F.col("user_id") != 0)
        .join(F.broadcast(q), "hod")
        .groupBy("user_id")
        .agg(F.sqrt(F.sum((F.col("z") - F.col("qz")) * (F.col("z") - F.col("qz")))).alias("zd"))
    )
    ranked = dist.select(
        "user_id", F.round("zd", 6).alias("zdist")
    ).withColumn(
        "rank",
        F.row_number().over(Window.orderBy("zdist", "user_id")).cast("int"),
    )
    return ranked.filter(F.col("rank") <= 10)


# Shared z-normalized 24-hour profile CTE (q267/q268)
_ZPROF_SQL = f"""
    hc AS (
      SELECT user_id,
             CAST(({EPOCH_SQL.format(c='ts')} // 3600) % 24 AS INT) AS hod,
             CAST(count(*) AS DOUBLE) AS c
      FROM events GROUP BY 1, 2
    ),
    grid AS (SELECT unnest(generate_series(0, 23)) AS hod),
    dense AS (
      SELECT u.user_id, g.hod, coalesce(hc.c, 0.0) AS c
      FROM (SELECT DISTINCT user_id FROM hc) u
      CROSS JOIN grid g
      LEFT JOIN hc ON hc.user_id = u.user_id AND hc.hod = g.hod
    ),
    stats AS (
      SELECT user_id, avg(c) AS mu,
             sqrt(avg(c * c) - avg(c) * avg(c)) AS sd
      FROM dense GROUP BY 1 HAVING sqrt(avg(c * c) - avg(c) * avg(c)) > 0
    ),
    z AS (
      SELECT d.user_id, d.hod, (d.c - s.mu) / s.sd AS z
      FROM dense d JOIN stats s USING (user_id)
    )
"""


@query(
    "q268_paa_prune_audit",
    oracle=f"""
    WITH {_ZPROF_SQL},
    q AS (SELECT hod, z AS qz FROM z WHERE user_id = 0),
    paa AS (
      SELECT user_id, hod // 3 AS seg, avg(z) AS zm
      FROM z GROUP BY 1, 2
    ),
    qpaa AS (SELECT hod // 3 AS seg, avg(qz) AS qm FROM q GROUP BY 1),
    lb AS (
      SELECT p.user_id,
             sqrt(3 * sum((p.zm - qp.qm) * (p.zm - qp.qm))) AS lb_paa
      FROM paa p JOIN qpaa qp USING (seg)
      WHERE p.user_id <> 0 GROUP BY 1
    ),
    dist AS (
      SELECT z.user_id, sqrt(sum((z.z - q.qz) * (z.z - q.qz))) AS zdist
      FROM z JOIN q USING (hod) WHERE z.user_id <> 0 GROUP BY 1
    ),
    j AS (
      SELECT d.user_id, d.zdist, l.lb_paa,
             CAST(CASE WHEN round(l.lb_paa, 9) <= round(d.zdist, 9) + 1e-9
                       THEN 1 ELSE 0 END AS INT) AS lb_ok
      FROM dist d JOIN lb l USING (user_id)
    ),
    kth AS (
      SELECT max(zdist) AS k10 FROM (
        SELECT zdist FROM j ORDER BY zdist, user_id LIMIT 10)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(min(lb_ok) AS INT) AS lb_holds_everywhere,
           CAST(sum(CASE WHEN j.lb_paa > kth.k10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_prunable,
           round(sum(CASE WHEN j.lb_paa > kth.k10 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS prune_rate
    FROM j, kth
    """,
)
def q268_paa_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAA LOWER-BOUND pruning audit — the scale path for q267's
    time-series search, certified: the 8-segment piecewise aggregate
    approximation of each z-profile gives Keogh's lower bound
    ``sqrt(w * sum((mean_x - mean_y)^2)) <= Euclid(x, y)`` (w=3), so a
    series whose LB already exceeds the exact 10th-best distance can be
    skipped WITHOUT computing its full distance and recall stays 1.0.
    ``lb_holds_everywhere`` re-proves the lemma on every candidate inside
    the hash-checked gate (tolerance 1e-9 at 9dp for the one float
    rounding), and ``prune_rate`` reports how much of the corpus the
    8-dim prefilter eliminates — the number that says whether the index
    pays for itself.

    100 TB story: PAA shrinks every series to 8 values (map-side), the
    LB pass scans those 8-dim sketches only, and the exact pass touches
    just the unpruned survivors — the ANN generate-then-verify shape
    (LSH/IVF/PQ ladder) applied to time series.
    """
    e = _t(spark, sf_dir, "events")
    hc = e.groupBy(
        "user_id",
        F.expr("CAST(((ts div 1000000000) div 3600) % 24 AS INT)").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    grid = spark.range(0, 24).select(F.col("id").cast("int").alias("hod"))
    dense = (
        hc.select("user_id").distinct()
        .crossJoin(F.broadcast(grid))
        .join(hc, ["user_id", "hod"], "left")
        .select("user_id", "hod", F.coalesce("c", F.lit(0.0)).alias("c"))
    )
    stats = (
        dense.groupBy("user_id")
        .agg(
            F.avg("c").alias("mu"),
            F.sqrt(F.avg(F.col("c") * F.col("c")) - F.avg("c") * F.avg("c")).alias("sd"),
        )
        .filter(F.col("sd") > 0)
    )
    z = dense.join(stats, "user_id").select(
        "user_id", "hod", ((F.col("c") - F.col("mu")) / F.col("sd")).alias("z")
    ).localCheckpoint(eager=True)
    q = z.filter(F.col("user_id") == 0).select("hod", F.col("z").alias("qz"))
    paa = z.groupBy("user_id", F.expr("hod div 3").alias("seg")).agg(
        F.avg("z").alias("zm")
    )
    qpaa = q.groupBy(F.expr("hod div 3").alias("seg")).agg(F.avg("qz").alias("qm"))
    lb = (
        paa.filter(F.col("user_id") != 0)
        .join(F.broadcast(qpaa), "seg")
        .groupBy("user_id")
        .agg(
            F.sqrt(F.lit(3) * F.sum((F.col("zm") - F.col("qm")) ** 2)).alias("lb_paa")
        )
    )
    dist = (
        z.filter(F.col("user_id") != 0)
        .join(F.broadcast(q), "hod")
        .groupBy("user_id")
        .agg(F.sqrt(F.sum((F.col("z") - F.col("qz")) ** 2)).alias("zdist"))
    )
    j = dist.join(lb, "user_id").select(
        "user_id",
        "zdist",
        "lb_paa",
        F.when(
            F.round("lb_paa", 9) <= F.round("zdist", 9) + F.lit(1e-9), 1
        ).otherwise(0).cast("int").alias("lb_ok"),
    )
    k10 = (
        j.select("zdist", "user_id")
        .withColumn("rk", F.row_number().over(Window.orderBy("zdist", "user_id")))
        .filter(F.col("rk") <= 10)
        .agg(F.max("zdist").alias("k10"))
    )
    return j.crossJoin(F.broadcast(k10)).agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.min("lb_ok").cast("int").alias("lb_holds_everywhere"),
        F.sum(F.when(F.col("lb_paa") > F.col("k10"), 1).otherwise(0)).alias(
            "n_prunable"
        ),
        F.round(
            F.sum(F.when(F.col("lb_paa") > F.col("k10"), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("prune_rate"),
    )


@query(
    "q269_sax_words",
    oracle=f"""
    WITH {_ZPROF_SQL},
    paa AS (
      SELECT user_id, hod // 3 AS seg, avg(z) AS zm
      FROM z GROUP BY 1, 2
    ),
    sym AS (
      SELECT user_id, seg,
             CASE WHEN zm < -0.6745 THEN 'a'
                  WHEN zm < 0 THEN 'b'
                  WHEN zm < 0.6745 THEN 'c'
                  ELSE 'd' END AS s
      FROM paa
    ),
    words AS (
      SELECT user_id, string_agg(s, '' ORDER BY seg) AS sax_word
      FROM sym GROUP BY 1
    )
    SELECT sax_word,
           count(*) AS n_users,
           CAST(min(user_id) AS BIGINT) AS example_user
    FROM words GROUP BY 1 HAVING count(*) >= 2
    """,
)
def q269_sax_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin et al. 2003): each user's z-normalized
    24-hour profile reduces to an 8-segment PAA, each segment to one of 4
    symbols at the standard Gaussian quartile breakpoints (-0.6745, 0,
    0.6745) — the 8-char "shape word" that makes time series GROUPABLE:
    users sharing a word have the same activity shape, found by one
    groupBy instead of any pairwise distance. Completes the TS ladder
    next to exact search (q267) and PAA pruning (q268); words with >= 2
    members only, so the output certifies real shape collisions.

    Scale: profiles and PAA are map-side rollups; symbolization is a
    codegen CASE; the final shuffle is on the 4^8-bounded word key.
    """
    e = _t(spark, sf_dir, "events")
    hc = e.groupBy(
        "user_id",
        F.expr("CAST(((ts div 1000000000) div 3600) % 24 AS INT)").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    grid = spark.range(0, 24).select(F.col("id").cast("int").alias("hod"))
    dense = (
        hc.select("user_id").distinct()
        .crossJoin(F.broadcast(grid))
        .join(hc, ["user_id", "hod"], "left")
        .select("user_id", "hod", F.coalesce("c", F.lit(0.0)).alias("c"))
    )
    stats = (
        dense.groupBy("user_id")
        .agg(
            F.avg("c").alias("mu"),
            F.sqrt(F.avg(F.col("c") * F.col("c")) - F.avg("c") * F.avg("c")).alias("sd"),
        )
        .filter(F.col("sd") > 0)
    )
    z = dense.join(stats, "user_id").select(
        "user_id", "hod", ((F.col("c") - F.col("mu")) / F.col("sd")).alias("z")
    )
    paa = z.groupBy("user_id", F.expr("hod div 3").alias("seg")).agg(
        F.avg("z").alias("zm")
    )
    sym = paa.select(
        "user_id",
        "seg",
        F.when(F.col("zm") < -0.6745, "a")
        .when(F.col("zm") < 0, "b")
        .when(F.col("zm") < 0.6745, "c")
        .otherwise("d")
        .alias("s"),
    )
    words = sym.groupBy("user_id").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.struct("seg", "s"))).getField("s"), ""
        ).alias("sax_word")
    )
    return (
        words.groupBy("sax_word")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("user_id").alias("example_user"),
        )
        .filter(F.col("n_users") >= 2)
    )


@query(
    "q270_seasonal_backtest",
    oracle=f"""
    WITH hc AS (
      SELECT {EPOCH_SQL.format(c='ts')} // 86400 AS day,
             ({EPOCH_SQL.format(c='ts')} // 3600) % 24 AS hr,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    j AS (
      SELECT a.day, a.hr, a.c AS actual, f.c AS forecast
      FROM hc a JOIN hc f ON f.day = a.day - 7 AND f.hr = a.hr
    )
    SELECT CAST(day AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(abs(actual - forecast)) AS BIGINT) AS abs_err_sum,
           round(sum(abs(actual - forecast)) * 1.0 / count(*), 6) AS mae,
           round(sum(abs(actual - forecast) * 1.0 / actual) / count(*), 6)
             AS mape
    FROM j WHERE actual > 0
    GROUP BY 1
    """,
)
def q270_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin BACKTEST of the seasonal-naive forecaster (predict
    hour h of day d with hour h of day d-7): per-day MAE and MAPE over
    the hourly event-count series — the baseline every workload
    forecaster (reference M1-M3; phoebe_spark/models/workload.py) must
    beat, produced as one batch query so the bar is itself
    oracle-certified. Errors are exact integers; only the two final
    ratios are float.

    100 TB story: the hourly rollup is map-side-combining; the
    forecast join is a self-equi-join on the O(hours) aggregate, never
    on raw events; per-day scoring reuses the same key partitioning.
    """
    e = _t(spark, sf_dir, "events")
    hc = e.groupBy(
        F.expr("(ts div 1000000000) div 86400").alias("day"),
        F.expr("((ts div 1000000000) div 3600) % 24").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("c"))
    a = hc.select("day", "hr", F.col("c").alias("actual"))
    f = hc.select(
        (F.col("day") + 7).alias("day"), "hr", F.col("c").alias("forecast")
    )
    j = a.join(f, ["day", "hr"]).filter(F.col("actual") > 0)
    err = F.abs(F.col("actual") - F.col("forecast"))
    return j.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(err).alias("abs_err_sum"),
        F.round(F.sum(err) / F.count(F.lit(1)), 6).alias("mae"),
        F.round(
            F.sum(err / F.col("actual")) / F.count(F.lit(1)), 6
        ).alias("mape"),
    )


def _q271_dtw_oracle(n: int = 24, band: int = 2) -> str:
    """Generated oracle for q271: the banded DTW dynamic program unrolled
    as one chained-CTE row per DP row (the q145/q214 generated-oracle
    treatment applied to DTW). Row i carries the 5 in-band cells
    D(i, i+k), k=-2..2, as lateral-alias columns — DuckDB evaluates the
    intra-row dependency D(i, j-1) left-to-right, exactly like the
    engine-side numpy loop, so the float sequence is identical op for op.
    Virtual row 0 is D(0,0)=0 (others +inf), giving the standard base
    case without special-casing row 1."""
    INF = "1e308"
    ks = list(range(-band, band + 1))

    def nm(k: int) -> str:
        return f"m{-k}" if k < 0 else f"p{k}" if k > 0 else "0"

    def cell(i: int, k: int) -> str:
        j = i + k
        if j < 1 or j > n:
            return INF
        p_k1 = f"c{nm(k + 1)}" if k + 1 <= band else INF
        p_k0 = f"c{nm(k)}"
        c_km1 = f"n{nm(k - 1)}" if k - 1 >= -band else INF
        return (
            f"(x.xs[{i}] - q.qs[{j}]) * (x.xs[{i}] - q.qs[{j}])"
            f" + least({p_k1}, {p_k0}, {c_km1})"
        )

    ctes = [
        "r0 AS (SELECT user_id, "
        + ", ".join(
            f"CAST({'0' if k == 0 else INF} AS DOUBLE) AS c{nm(k)}" for k in ks
        )
        + " FROM prof WHERE user_id <> 0)"
    ]
    for i in range(1, n + 1):
        cols = ", ".join(f"{cell(i, k)} AS n{nm(k)}" for k in ks)
        renames = ", ".join(f"n{nm(k)} AS c{nm(k)}" for k in ks)
        ctes.append(
            f"r{i}_t AS (SELECT r{i - 1}.user_id, {cols} "
            f"FROM r{i - 1} JOIN prof x USING (user_id), qrow q)"
        )
        ctes.append(f"r{i} AS (SELECT user_id, {renames} FROM r{i}_t)")
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {_ZPROF_SQL},
    prof AS (
      SELECT user_id, list(z ORDER BY hod) AS xs FROM z GROUP BY 1
    ),
    qrow AS (SELECT xs AS qs FROM prof WHERE user_id = 0),
    {chain},
    dist AS (SELECT user_id, sqrt(c0) AS dtw FROM r{n})
    SELECT user_id, round(dtw, 6) AS dtw,
           CAST(row_number() OVER (ORDER BY round(dtw, 6), user_id) AS INT)
             AS rank
    FROM dist
    QUALIFY row_number() OVER (ORDER BY round(dtw, 6), user_id) <= 10
    """


@query("q271_dtw_topk", oracle=_q271_dtw_oracle())
def q271_dtw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact BANDED DTW search — the elastic-distance capstone of the TS
    ladder (q267 exact Euclidean / q268 PAA prune / q269 SAX): the 10
    users whose z-normalized 24-hour profiles are closest to user 0 under
    dynamic time warping with a Sakoe-Chiba band of 2 (shapes may lead or
    lag by up to 2 hours without penalty — Euclidean calls a 1-hour
    phase shift 'different', DTW does not). The DP runs as a vectorized
    numpy loop inside one Arrow batch pass; the oracle replays the SAME
    DP as a generated 24-row CTE chain with lateral aliases, so every
    float op happens in the same order and the distance matches to 6dp
    digit-for-digit.

    100 TB story: profiles are map-side rollups to O(keys) rows of 24
    doubles; the query profile broadcasts via closure; DTW is O(n*band)
    per candidate inside mapInPandas (no shuffle); only (user, dist)
    rows shuffle for the WindowGroupLimit top-k. The q268 PAA bound
    prunes candidates for DTW exactly as for Euclidean (LB_PAA lower
    bounds both).
    """
    import numpy as np
    import pandas as pd

    e = _t(spark, sf_dir, "events")
    hc = e.groupBy(
        "user_id",
        F.expr("CAST(((ts div 1000000000) div 3600) % 24 AS INT)").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    grid = spark.range(0, 24).select(F.col("id").cast("int").alias("hod"))
    dense = (
        hc.select("user_id").distinct()
        .crossJoin(F.broadcast(grid))
        .join(hc, ["user_id", "hod"], "left")
        .select("user_id", "hod", F.coalesce("c", F.lit(0.0)).alias("c"))
    )
    stats = (
        dense.groupBy("user_id")
        .agg(
            F.avg("c").alias("mu"),
            F.sqrt(F.avg(F.col("c") * F.col("c")) - F.avg("c") * F.avg("c")).alias("sd"),
        )
        .filter(F.col("sd") > 0)
    )
    z = dense.join(stats, "user_id").select(
        "user_id", "hod", ((F.col("c") - F.col("mu")) / F.col("sd")).alias("z")
    )
    prof = z.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("hod", "z")))
        .getField("z")
        .alias("xs")
    )
    qs = np.array(
        prof.filter(F.col("user_id") == 0).head()["xs"], dtype=np.float64
    )
    band = 2
    n = 24
    INF = 1e308

    def _dtw(batches):
        for pdf in batches:
            out_u, out_d = [], []
            for uid, xs in zip(pdf["user_id"], pdf["xs"]):
                x = np.asarray(xs, dtype=np.float64)
                # prev[k+band] = D(i-1, (i-1)+k); virtual row 0: D(0,0)=0
                prev = np.full(2 * band + 1, INF)
                prev[band] = 0.0
                for i in range(1, n + 1):
                    cur = np.full(2 * band + 1, INF)
                    for k in range(-band, band + 1):
                        j = i + k
                        if j < 1 or j > n:
                            continue
                        p_k1 = prev[k + 1 + band] if k + 1 <= band else INF
                        p_k0 = prev[k + band]
                        c_km1 = cur[k - 1 + band] if k - 1 >= -band else INF
                        cost = (x[i - 1] - qs[j - 1]) * (x[i - 1] - qs[j - 1])
                        cur[k + band] = cost + min(p_k1, p_k0, c_km1)
                    prev = cur
                out_u.append(int(uid))
                out_d.append(float(np.sqrt(prev[band])))
            yield pd.DataFrame({"user_id": out_u, "dtw": out_d})

    cand = prof.filter(F.col("user_id") != 0)
    dist = cand.mapInPandas(_dtw, schema="user_id long, dtw double")
    ranked = dist.select(
        "user_id", F.round("dtw", 6).alias("dtw")
    ).withColumn(
        "rank",
        F.row_number().over(Window.orderBy("dtw", "user_id")).cast("int"),
    )
    return ranked.filter(F.col("rank") <= 10)


@query(
    "q272_matrix_profile",
    oracle=f"""
    WITH hc AS (
      SELECT {EPOCH_SQL.format(c='ts')} // 3600 AS hr,
             CAST(count(*) AS DOUBLE) AS c
      FROM events GROUP BY 1
    ),
    bounds AS (SELECT min(hr) AS lo, max(hr) AS hi FROM hc),
    grid AS (
      SELECT unnest(generate_series(0, hi - lo)) AS hi2, lo
      FROM bounds
    ),
    dense AS (
      SELECT g.hi2 AS idx, coalesce(hc.c, 0.0) AS c
      FROM grid g LEFT JOIN hc ON hc.hr = g.lo + g.hi2
    ),
    nsub AS (SELECT max(idx) + 1 - 24 AS last_start FROM dense),
    starts AS (
      SELECT unnest(generate_series(0, last_start, 3)) AS s FROM nsub
    ),
    sub AS (
      SELECT st.s, d.idx - st.s AS o, d.c
      FROM starts st JOIN dense d ON d.idx >= st.s AND d.idx < st.s + 24
    ),
    arrs AS (
      SELECT s, list(c ORDER BY o) AS a FROM sub GROUP BY 1
    ),
    zt AS (
      SELECT s, a,
             list_sum(a) / 24 AS mu,
             sqrt(list_sum(list_transform(a, x -> x * x)) / 24
                  - (list_sum(a) / 24) * (list_sum(a) / 24)) AS sd
      FROM arrs
    ),
    zs AS (
      SELECT s, list_transform(a, x -> (x - mu) / sd) AS za
      FROM zt WHERE sd > 0
    ),
    pairs AS (
      SELECT a.s AS s1, b.s AS s2,
             sqrt(list_sum(list_transform(generate_series(1, 24),
                  i -> (a.za[i] - b.za[i]) * (a.za[i] - b.za[i])))) AS d
      FROM zs a JOIN zs b ON b.s > a.s AND b.s - a.s >= 12
    ),
    sym AS (
      SELECT s1 AS s, s2 AS partner, d FROM pairs
      UNION ALL SELECT s2, s1, d FROM pairs
    ),
    mp AS (
      SELECT s, partner, round(d, 6) AS mp_dist
      FROM sym
      QUALIFY row_number() OVER (PARTITION BY s ORDER BY round(d, 6), partner) = 1
    ),
    ranked AS (
      SELECT 'motif' AS kind, s, partner, mp_dist,
             CAST(row_number() OVER (ORDER BY mp_dist, s) AS INT) AS rank
      FROM mp
      UNION ALL
      SELECT 'discord', s, partner, mp_dist,
             CAST(row_number() OVER (ORDER BY mp_dist DESC, s) AS INT)
      FROM mp
    )
    SELECT kind, CAST(s AS BIGINT) AS s, CAST(partner AS BIGINT) AS partner,
           mp_dist, rank
    FROM ranked WHERE rank <= 5
    """,
)
def q272_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRIDED MATRIX PROFILE over the dense hourly event-count series
    (Yeh et al., ICDM 2016 — the all-pairs nearest-neighbor profile that
    yields MOTIFS, the most-repeated shapes, and DISCORDS, the anomalies,
    from one structure): 24-hour windows at stride 3, z-normalized, an
    exclusion zone of half a window so trivial self-matches never win,
    and the top-5 of each kind returned. Missing hours are real zeros
    (the count of an empty hour), not gaps — the subsequence grid is
    dense by construction.

    100 TB story: the PROFILE input is the aggregated O(hours) series
    (one map-side rollup of the raw events), so the quadratic
    subsequence join is over hours²/stride², never rows — the matrix
    profile of a year of hourly data is ~3k windows, trivially
    distributed; stride and exclusion are declared knobs.
    """
    e = _t(spark, sf_dir, "events")
    hc = e.groupBy(F.expr("(ts div 1000000000) div 3600").alias("hr")).agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    b = hc.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    grid = b.select(
        F.explode(F.expr("sequence(0, CAST(hi - lo AS INT))")).alias("idx"), "lo"
    )
    dense = grid.join(hc, grid.lo + grid.idx == hc.hr, "left").select(
        "idx", F.coalesce("c", F.lit(0.0)).alias("c")
    ).localCheckpoint(eager=True)
    last_start = dense.agg(F.max("idx")).head()[0] + 1 - 24
    starts = spark.range(0, last_start + 1, 3).select(F.col("id").alias("s"))
    sub = starts.join(
        dense, (dense.idx >= starts.s) & (dense.idx < starts.s + 24)
    ).select("s", (F.col("idx") - F.col("s")).alias("o"), "c")
    arrs = sub.groupBy("s").agg(
        F.array_sort(F.collect_list(F.struct("o", "c"))).getField("c").alias("a")
    )
    lsum = F.aggregate(F.col("a"), F.lit(0.0), lambda acc, x: acc + x)
    lsq = F.aggregate(F.col("a"), F.lit(0.0), lambda acc, x: acc + x * x)
    zt = arrs.select(
        "s",
        "a",
        (lsum / 24).alias("mu"),
        F.sqrt(lsq / 24 - (lsum / 24) * (lsum / 24)).alias("sd"),
    )
    zs = zt.filter(F.col("sd") > 0).select(
        "s",
        F.transform("a", lambda x: (x - F.col("mu")) / F.col("sd")).alias("za"),
    ).localCheckpoint(eager=True)
    a = zs.alias("a")
    bb = zs.alias("b")
    pd_ = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("a.za"), F.col("b.za"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    pairs = a.join(
        bb,
        (F.col("b.s") > F.col("a.s")) & (F.col("b.s") - F.col("a.s") >= 12),
    ).select(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"), pd_.alias("d"))
    sym = pairs.select(
        F.col("s1").alias("s"), F.col("s2").alias("partner"), "d"
    ).unionAll(pairs.select(F.col("s2"), F.col("s1"), "d"))
    mp = (
        sym.select("s", "partner", F.round("d", 6).alias("mp_dist"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("s").orderBy("mp_dist", "partner")
            ),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    motifs = mp.withColumn(
        "rank", F.row_number().over(Window.orderBy("mp_dist", "s")).cast("int")
    ).withColumn("kind", F.lit("motif"))
    discords = mp.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("mp_dist").desc(), "s")).cast("int"),
    ).withColumn("kind", F.lit("discord"))
    return (
        motifs.unionAll(discords)
        .filter(F.col("rank") <= 5)
        .select("kind", "s", "partner", "mp_dist", "rank")
    )


def _q273_holt_oracle(T: int = 30, a: float = 0.5, g: float = 0.3, keyed: bool = False) -> str:
    """Generated oracle for q273: Holt's linear recursion unrolled as one
    CTE per time step (the DTW/q271 generated-chain treatment applied to
    exponential smoothing). Level/trend are lateral-alias scalars; the
    float sequence is identical to the engine-side sequential fold."""
    k = "k, " if keyed else ""
    ctes = [
        f"h1_r AS (SELECT {k}xs[1] AS l, xs[2] - xs[1] AS b, xs FROM series)"
    ]
    for t in range(2, T + 1):
        ctes.append(
            f"h{t} AS (SELECT {k}{a} * xs[{t}] + {1 - a} * (l + b) AS nl, "
            f"{g} * ({a} * xs[{t}] + {1 - a} * (l + b) - l) + {1 - g} * b AS nb, "
            f"xs FROM h{t - 1}_r)"
        )
        ctes.append(f"h{t}_r AS (SELECT {k}nl AS l, nb AS b, xs FROM h{t})")
    chain = ",\n    ".join(ctes)
    last = f"h{T}_r"
    if keyed:
        return f"""
    WITH hc AS (
      SELECT event_type AS k,
             epoch_ns(ts) // 1000000000 // 86400 AS day,
             CAST(count(*) AS DOUBLE) AS c
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(day) AS lo FROM hc),
    keys AS (SELECT DISTINCT k FROM hc),
    grid AS (SELECT keys.k, g.d, b.lo
             FROM keys CROSS JOIN (SELECT unnest(generate_series(0, {T - 1})) AS d) g,
                  bounds b),
    dense AS (
      SELECT g.k, g.d, coalesce(hc.c, 0.0) AS c
      FROM grid g LEFT JOIN hc ON hc.k = g.k AND hc.day = g.lo + g.d
    ),
    series AS (SELECT k, list(c ORDER BY d) AS xs FROM dense GROUP BY 1),
    {chain}
    SELECT k AS event_type,
           round(l, 6) + 0.0 AS level, round(b, 6) + 0.0 AS trend,
           round(l + 1 * b, 6) + 0.0 AS f1,
           round(l + 2 * b, 6) + 0.0 AS f2,
           round(l + 3 * b, 6) + 0.0 AS f3
    FROM {last}
    """
    return f"""
    WITH hc AS (
      SELECT epoch_ns(ts) // 1000000000 // 86400 AS day,
             CAST(count(*) AS DOUBLE) AS c
      FROM events GROUP BY 1
    ),
    bounds AS (SELECT min(day) AS lo FROM hc),
    grid AS (SELECT unnest(generate_series(0, {T - 1})) AS d, lo FROM bounds),
    dense AS (
      SELECT g.d, coalesce(hc.c, 0.0) AS c
      FROM grid g LEFT JOIN hc ON hc.day = g.lo + g.d
    ),
    series AS (SELECT list(c ORDER BY d) AS xs FROM dense),
    {chain}
    SELECT round(l, 6) + 0.0 AS level, round(b, 6) + 0.0 AS trend,
           round(l + 1 * b, 6) + 0.0 AS f1,
           round(l + 2 * b, 6) + 0.0 AS f2,
           round(l + 3 * b, 6) + 0.0 AS f3
    FROM {last}
    """


@query("q273_holt_linear", oracle=_q273_holt_oracle())
def q273_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's LINEAR exponential smoothing (alpha=0.5, gamma=0.3) over the
    first 30 days of daily event counts, with 1/2/3-step-ahead forecasts —
    the workload-forecasting family (reference M1-M3) brought INSIDE the
    hash-checked gate: the sequential level/trend recursion folds in ONE
    codegen `aggregate` over the day array engine-side, and the oracle
    replays the identical recursion as a generated 30-step CTE chain, so
    the smoothed state matches digit-for-digit (same float ops, same
    order). Complements the seasonal-naive backtest (q270): that scores a
    baseline, this certifies a real smoother.

    100 TB story: the input is the O(days) aggregate of the fact table
    (map-side rollup); the fold is a single-row array operation. Per-key
    smoothing (millions of series) is the same fold grouped by key.
    """
    e = _t(spark, sf_dir, "events")
    T, a, g = 30, 0.5, 0.3
    hc = e.groupBy(F.expr("(ts div 1000000000) div 86400").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    b = hc.agg(F.min("day").alias("lo"))
    grid = b.select(F.explode(F.sequence(F.lit(0), F.lit(T - 1))).alias("d"), "lo")
    dense = grid.join(hc, grid.lo + grid.d == hc.day, "left").select(
        "d", F.coalesce("c", F.lit(0.0)).alias("c")
    )
    series = dense.agg(
        F.array_sort(F.collect_list(F.struct("d", "c"))).getField("c").alias("xs")
    )
    # seed on (x1, x2-x1), then fold steps t=2..T over xs[2..T] — the
    # oracle's h1/h2..h30 chain in one codegen aggregate
    state = F.aggregate(
        F.slice("xs", 2, T - 1),
        F.struct(
            (F.col("xs")[0]).alias("l"),
            (F.col("xs")[1] - F.col("xs")[0]).alias("b"),
        ),
        lambda acc, x: F.struct(
            (F.lit(a) * x + F.lit(1 - a) * (acc["l"] + acc["b"])).alias("l"),
            (
                F.lit(g)
                * (F.lit(a) * x + F.lit(1 - a) * (acc["l"] + acc["b"]) - acc["l"])
                + F.lit(1 - g) * acc["b"]
            ).alias("b"),
        ),
    )
    out = series.select(state.alias("st"))
    return out.select(
        (F.round(F.col("st.l"), 6) + F.lit(0.0)).alias("level"),
        (F.round(F.col("st.b"), 6) + F.lit(0.0)).alias("trend"),
        (F.round(F.col("st.l") + 1 * F.col("st.b"), 6) + F.lit(0.0)).alias("f1"),
        (F.round(F.col("st.l") + 2 * F.col("st.b"), 6) + F.lit(0.0)).alias("f2"),
        (F.round(F.col("st.l") + 3 * F.col("st.b"), 6) + F.lit(0.0)).alias("f3"),
    )


@query("q274_holt_by_key", oracle=_q273_holt_oracle(keyed=True))
def q274_holt_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q273's Holt smoother GROUPED — one level/trend fold per event_type
    series, certifying the 'millions of series' claim: the recursion is a
    per-row array fold, so smoothing N keys is one groupBy + the same
    codegen aggregate, no per-series driver loop, no iteration joins. The
    generated oracle chain runs row-wise, so it certifies every key's
    recursion in the same pass.

    100 TB story: per-key daily rollup (map-side) -> per-key array
    (one shuffle on the key) -> embarrassingly parallel folds.
    """
    e = _t(spark, sf_dir, "events")
    T, a, g = 30, 0.5, 0.3
    hc = (
        e.groupBy(
            F.col("event_type").alias("k"),
            F.expr("(ts div 1000000000) div 86400").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .localCheckpoint(eager=True)
    )
    lo = hc.agg(F.min("day").alias("lo"))
    keys = hc.select("k").distinct()
    grid = keys.crossJoin(
        F.broadcast(
            lo.select(F.explode(F.sequence(F.lit(0), F.lit(T - 1))).alias("d"), "lo")
        )
    )
    dense = grid.join(
        hc, (grid.k == hc.k) & (grid.lo + grid.d == hc.day), "left"
    ).select(grid.k, grid.d, F.coalesce("c", F.lit(0.0)).alias("c"))
    series = dense.groupBy("k").agg(
        F.array_sort(F.collect_list(F.struct("d", "c"))).getField("c").alias("xs")
    )
    state = F.aggregate(
        F.slice("xs", 2, T - 1),
        F.struct(
            (F.col("xs")[0]).alias("l"),
            (F.col("xs")[1] - F.col("xs")[0]).alias("b"),
        ),
        lambda acc, x: F.struct(
            (F.lit(a) * x + F.lit(1 - a) * (acc["l"] + acc["b"])).alias("l"),
            (
                F.lit(g)
                * (F.lit(a) * x + F.lit(1 - a) * (acc["l"] + acc["b"]) - acc["l"])
                + F.lit(1 - g) * acc["b"]
            ).alias("b"),
        ),
    )
    out = series.select(F.col("k").alias("event_type"), state.alias("st"))
    return out.select(
        "event_type",
        (F.round(F.col("st.l"), 6) + F.lit(0.0)).alias("level"),
        (F.round(F.col("st.b"), 6) + F.lit(0.0)).alias("trend"),
        (F.round(F.col("st.l") + 1 * F.col("st.b"), 6) + F.lit(0.0)).alias("f1"),
        (F.round(F.col("st.l") + 2 * F.col("st.b"), 6) + F.lit(0.0)).alias("f2"),
        (F.round(F.col("st.l") + 3 * F.col("st.b"), 6) + F.lit(0.0)).alias("f3"),
    )


@query("q275_streaming_holt_drain", oracle=_q273_holt_oracle(keyed=True))
def q275_streaming_holt_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Holt smoothing drained in the hash-checked gate — the
    q273/q274 recursion as a stateful operator
    (:func:`stateful.streaming_holt`): the per-key daily series arrives
    as three sequence-ordered micro-batches (days 0-9, 10-19, 20-29), the
    (level, trend) state folds ACROSS batches, and the final state must
    match the generated 30-step CTE-chain oracle digit-for-digit. One
    smoother, three execution forms, one answer: batch array fold (q273),
    grouped fold (q274), cross-batch stateful stream (this) — the
    strongest equivalence class in the registry.

    Scale: state is 4 scalars per key; each micro-batch does O(new rows)
    work — the streaming form is how a million series smooth INCREMENTALLY
    every day without re-reading history.
    """
    from phoebe_spark.streaming import drain
    from phoebe_spark.streaming.stateful import streaming_holt

    e = _t(spark, sf_dir, "events")
    T, a, g = 30, 0.5, 0.3
    hc = (
        e.groupBy(
            F.col("event_type").alias("k"),
            F.expr("(ts div 1000000000) div 86400").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .localCheckpoint(eager=True)
    )
    lo = hc.agg(F.min("day").alias("lo"))
    keys = hc.select("k").distinct()
    grid = keys.crossJoin(
        F.broadcast(
            lo.select(F.explode(F.sequence(F.lit(0), F.lit(T - 1))).alias("d"), "lo")
        )
    )
    dense = grid.join(
        hc, (grid.k == hc.k) & (grid.lo + grid.d == hc.day), "left"
    ).select(grid.k, grid.d.cast("int").alias("d"), F.coalesce("c", F.lit(0.0)).alias("c"))

    with drain.scratch("q275_") as work:
        src_dir = f"{work}/src"
        drain.stage_slices(
            (
                dense.filter((F.col("d") >= d_lo) & (F.col("d") < d_hi))
                for d_lo, d_hi in ((0, 10), (10, 20), (20, 30))
            ),
            src_dir,
        )

        stream = (
            spark.readStream.schema("k STRING, d INT, c DOUBLE")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        out = streaming_holt(stream, alpha=a, gamma=g, key_col="k")
        sink = drain.run(out, work, output_mode="update")
        final = drain.latest(spark.read.parquet(sink)).select(
            F.col("key").alias("event_type"),
            (F.round("level", 6) + F.lit(0.0)).alias("level"),
            (F.round("trend", 6) + F.lit(0.0)).alias("trend"),
            (F.round(F.col("level") + 1 * F.col("trend"), 6) + F.lit(0.0)).alias("f1"),
            (F.round(F.col("level") + 2 * F.col("trend"), 6) + F.lit(0.0)).alias("f2"),
            (F.round(F.col("level") + 3 * F.col("trend"), 6) + F.lit(0.0)).alias("f3"),
        )
        return final.localCheckpoint(eager=True)

# ---------------------------------------------------------------------------
# Round 7: QoS / operations analytics (the reference's own domain — QoS-aware
# stream processing per arXiv 2206.09679 — expressed as oracle-certified
# batch analytics over the events/orders streams)
# ---------------------------------------------------------------------------


@query(
    "q276_slo_burn_rate",
    oracle="""
    WITH h AS (
      SELECT epoch_ns(ts) // 1000000000 // 3600 AS hr,
             count(*) AS n,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errs
      FROM events GROUP BY 1
    ),
    b AS (
      SELECT hr, n, errs,
             (errs * 1.0 / n) / 0.2 AS bs,
             (sum(errs) OVER w * 1.0 / sum(n) OVER w) / 0.2 AS bl
      FROM h
      WINDOW w AS (ORDER BY hr RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT hr, n, errs,
           round(bs, 6) AS burn_short,
           round(bl, 6) AS burn_long,
           CASE WHEN bs > 1.5 AND bl > 1.1 THEN 1 ELSE 0 END AS page
    FROM b
    """,
)
def q276_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO error-budget burn rate (Google SRE workbook ch.5)
    over the events stream — the alerting arithmetic a QoS controller like
    the reference's (latency-SLO-driven rescaling, phoebe §III) runs on its
    own metrics. SLO = 80% non-error; burn = error_rate / budget. A page
    fires only when BOTH the 1 h window burns > 1.5x AND the trailing 6 h
    window burns > 1.1x — the two-window AND that suppresses blips but
    catches sustained burns.

    The 6 h window is a RANGE frame over the hour number, so missing hours
    shorten the window identically in both engines (no dense fill needed).

    100 TB story: one map-side hourly rollup of the fact stream, then a
    single O(hours-in-span) ordered window — the window input is
    SF-independent (720 rows per month regardless of event volume).
    """
    e = _t(spark, sf_dir, "events")
    h = e.groupBy(F.expr("(ts div 1000000000) div 3600").alias("hr")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("errs"),
    )
    w = Window.orderBy("hr").rangeBetween(-5, 0)
    b = h.select(
        "hr",
        "n",
        "errs",
        ((F.col("errs") * 1.0 / F.col("n")) / 0.2).alias("bs"),
        ((F.sum("errs").over(w) * 1.0 / F.sum("n").over(w)) / 0.2).alias("bl"),
    )
    return b.select(
        "hr",
        "n",
        "errs",
        F.round("bs", 6).alias("burn_short"),
        F.round("bl", 6).alias("burn_long"),
        F.when((F.col("bs") > 1.5) & (F.col("bl") > 1.1), 1).otherwise(0).alias("page"),
    )


@query(
    "q277_littles_law_audit",
    oracle="""
    WITH o AS (
      SELECT o_orderkey,
             datediff('day', DATE '1970-01-01', o_orderdate) AS aday,
             greatest(datediff('day', DATE '1970-01-01', o_orderdate),
                      max(datediff('day', DATE '1970-01-01', l_shipdate)) + 1) AS cday
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    bounds AS (SELECT min(aday) AS d0, max(cday) AS d1 FROM o),
    grid AS (SELECT unnest(generate_series(b.d0, b.d1)) AS d, b.d0 FROM bounds b),
    arr AS (SELECT aday AS d, count(*) AS a FROM o GROUP BY 1),
    comp AS (SELECT cday AS d, count(*) AS c FROM o GROUP BY 1),
    wip AS (
      SELECT g.d, g.d0,
             sum(coalesce(arr.a, 0)) OVER (ORDER BY g.d) -
             sum(coalesce(comp.c, 0)) OVER (ORDER BY g.d) AS l
      FROM grid g LEFT JOIN arr ON arr.d = g.d LEFT JOIN comp ON comp.d = g.d
    ),
    wk_wip AS (
      SELECT (d - d0) // 7 AS wk, avg(l) AS avg_wip
      FROM wip GROUP BY 1
    ),
    wk_arr AS (
      SELECT (o.aday - b.d0) // 7 AS wk,
             count(*) / 7.0 AS lam,
             avg(o.cday - o.aday) AS mean_w
      FROM o, bounds b GROUP BY 1
    )
    SELECT a.wk,
           round(w.avg_wip, 6) AS avg_wip,
           round(a.lam, 6) AS lam,
           round(a.mean_w, 6) AS mean_w,
           round(a.lam * a.mean_w, 6) AS pred_l,
           round(w.avg_wip - a.lam * a.mean_w, 6) AS resid
    FROM wk_arr a JOIN wk_wip w ON w.wk = a.wk
    """,
)
def q277_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's-law audit (L = λW) of the order-fulfilment pipeline — the
    queueing identity the reference's capacity model (phoebe §IV: latency
    vs utilisation) rests on, checked empirically: per week, average
    work-in-progress (orders placed, not yet fully shipped) is compared
    against arrival-rate × mean-flow-time, and the residual reported.
    An order's completion day is its last lineitem ship day + 1, clamped
    to >= the arrival day (the synthetic corpus has ship dates before
    order dates; clamped intervals contribute zero flow time).

    WIP is NOT computed with an interval join: on a daily grid it is
    cumulative-arrivals minus cumulative-completions — two O(span)
    ordered windows over day-grouped counts, so the expensive
    interval-containment join is avoided entirely.

    100 TB story: the per-day rollups are map-side combines of the two
    fact scans; the grid is O(calendar-span) rows independent of SF, and
    every float here is an exact int-sum divide — no accumulation-order
    sensitivity.
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    od = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey",
            F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("aday"),
        )
        .agg(
            F.greatest(
                F.col("aday"),
                F.max(F.datediff("l_shipdate", F.lit("1970-01-01")).cast("long")) + 1,
            ).alias("cday")
        )
    )
    bounds = od.agg(F.min("aday").alias("d0"), F.max("cday").alias("d1"))
    grid = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d"), "d0"
    )
    arr = od.groupBy(F.col("aday").alias("d")).agg(F.count(F.lit(1)).alias("a"))
    comp = od.groupBy(F.col("cday").alias("d")).agg(F.count(F.lit(1)).alias("c"))
    wg = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wip = (
        grid.join(arr, "d", "left")
        .join(comp, "d", "left")
        .select(
            "d",
            "d0",
            (
                F.sum(F.coalesce("a", F.lit(0))).over(wg)
                - F.sum(F.coalesce("c", F.lit(0))).over(wg)
            ).alias("l"),
        )
    )
    wk_wip = wip.groupBy(F.expr("(d - d0) div 7").alias("wk")).agg(
        F.avg("l").alias("avg_wip")
    )
    wk_arr = (
        od.crossJoin(F.broadcast(bounds))
        .groupBy(F.expr("(aday - d0) div 7").alias("wk"))
        .agg(
            (F.count(F.lit(1)) / 7.0).alias("lam"),
            F.avg(F.col("cday") - F.col("aday")).alias("mean_w"),
        )
    )
    return wk_arr.join(wk_wip, "wk").select(
        "wk",
        F.round("avg_wip", 6).alias("avg_wip"),
        F.round("lam", 6).alias("lam"),
        F.round("mean_w", 6).alias("mean_w"),
        F.round(F.col("lam") * F.col("mean_w"), 6).alias("pred_l"),
        F.round(F.col("avg_wip") - F.col("lam") * F.col("mean_w"), 6).alias("resid"),
    )


def _q278_rescale_oracle(T: int = 30, cap: int = 12) -> str:
    """Generated oracle for q278: the rescale-decision recursion unrolled
    as one CTE per day (the q273 Holt treatment applied to the reference's
    control loop). All-integer arithmetic, so the chain is exact."""
    ctes = [
        "s1 AS (SELECT 1 AS t, xs[1] AS c, (xs[1] + "
        f"{cap - 1}) // {cap} AS target, (xs[1] + {cap - 1}) // {cap} AS par, "
        "0 AS rescaled, xs FROM series)"
    ]
    for t in range(2, T + 1):
        tgt = f"(xs[{t - 1}] + {cap - 1}) // {cap}"
        ctes.append(
            f"s{t} AS (SELECT {t} AS t, xs[{t}] AS c, {tgt} AS target, "
            f"CASE WHEN abs({tgt} - par) >= 2 THEN {tgt} ELSE par END AS par, "
            f"CASE WHEN abs({tgt} - par) >= 2 THEN 1 ELSE 0 END AS rescaled, "
            f"xs FROM s{t - 1})"
        )
    chain = ",\n    ".join(ctes)
    union = "\n    UNION ALL ".join(
        f"SELECT t, c, target, par, rescaled FROM s{t}" for t in range(1, T + 1)
    )
    return f"""
    WITH dc AS (
      SELECT epoch_ns(ts) // 1000000000 // 86400 AS day, count(*) AS c
      FROM events GROUP BY 1
    ),
    bounds AS (SELECT min(day) AS lo FROM dc),
    grid AS (SELECT unnest(generate_series(0, {T - 1})) AS d, lo FROM bounds),
    dense AS (
      SELECT g.d, coalesce(dc.c, 0) AS c
      FROM grid g LEFT JOIN dc ON dc.day = g.lo + g.d
    ),
    series AS (SELECT list(c ORDER BY d) AS xs FROM dense),
    {chain}
    {union}
    """


@query("q278_rescale_replay", oracle=_q278_rescale_oracle())
def q278_rescale_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay of the reference's core control loop — forecast-driven
    rescaling with hysteresis (phoebe §III: predict the workload, size the
    parallelism, suppress sub-threshold rescales because a rescale costs a
    savepoint-restore) — as an oracle-certified recursion. Per day t:
    target_t = ceil(prev-day count / 12) and the running parallelism only
    moves when |target - current| >= 2. All-integer, so the engine fold
    and the generated 30-step CTE chain agree exactly, not just to 6 dp.

    Engine side the recursion is ONE codegen `aggregate` fold over the
    dense day array (no iteration joins, no driver loop); the decision
    sequence is then posexploded back to rows.

    100 TB story: input is the O(days) map-side rollup of the event
    stream; the fold is a single-row array op. Replaying one controller
    per pipeline (thousands of keys) is the q274 grouped-fold shape.
    """
    e = _t(spark, sf_dir, "events")
    T, cap = 30, 12
    dc = e.groupBy(F.expr("(ts div 1000000000) div 86400").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    lo = dc.agg(F.min("day").alias("lo"))
    grid = lo.select(F.explode(F.sequence(F.lit(0), F.lit(T - 1))).alias("d"), "lo")
    dense = grid.join(dc, grid.lo + grid.d == dc.day, "left").select(
        "d", F.coalesce("c", F.lit(0)).alias("c")
    )
    series = dense.agg(
        F.array_sort(F.collect_list(F.struct("d", "c"))).getField("c").alias("xs")
    )
    first = F.struct(
        F.lit(1).alias("t"),
        F.col("xs")[0].alias("c"),
        ((F.col("xs")[0] + (cap - 1)) / cap).cast("long").alias("target"),
        ((F.col("xs")[0] + (cap - 1)) / cap).cast("long").alias("par"),
        F.lit(0).alias("rescaled"),
    )
    # fold t=2..T: target from the PREVIOUS day's count, hysteresis >= 2
    def step(acc, t):
        prev = F.element_at(acc, -1)
        tgt = F.floor((F.element_at(F.col("xs"), (t - 1).cast("int")) + (cap - 1)) / cap)
        move = F.abs(tgt - prev["par"]) >= 2
        return F.concat(
            acc,
            F.array(
                F.struct(
                    t.cast("int").alias("t"),
                    F.element_at(F.col("xs"), t.cast("int")).alias("c"),
                    tgt.alias("target"),
                    F.when(move, tgt).otherwise(prev["par"]).alias("par"),
                    F.when(move, 1).otherwise(0).alias("rescaled"),
                )
            ),
        )

    decisions = series.select(
        F.aggregate(
            F.sequence(F.lit(2), F.lit(T)), F.array(first), step
        ).alias("steps")
    )
    return decisions.select(F.explode("steps").alias("s")).select(
        F.col("s.t").alias("t"),
        F.col("s.c").alias("c"),
        F.col("s.target").alias("target"),
        F.col("s.par").alias("par"),
        F.col("s.rescaled").alias("rescaled"),
    )


@query(
    "q279_roc_auc",
    oracle="""
    WITH s AS (
      SELECT l_linestatus AS grp,
             CAST(round(l_discount * 100) AS BIGINT) * 10
               + CAST(round(l_tax * 100) AS BIGINT) AS s,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    g AS (
      SELECT grp, s, count(*) AS n_s,
             CAST(sum(y) AS BIGINT) AS p_s
      FROM s GROUP BY 1, 2
    ),
    r AS (
      SELECT grp, s, n_s, p_s,
             coalesce(sum(n_s) OVER (PARTITION BY grp ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM g
    ),
    a AS (
      SELECT grp,
             CAST(sum(p_s) AS BIGINT) AS p,
             CAST(sum(n_s - p_s) AS BIGINT) AS n,
             sum(p_s * (before + (n_s + 1) / 2.0)) AS pos_rank_sum
      FROM r GROUP BY 1
    )
    SELECT grp, p, n,
           round((pos_rank_sum - p * (p + 1) / 2.0) / (p * n), 6) AS auc,
           round(2 * ((pos_rank_sum - p * (p + 1) / 2.0) / (p * n)) - 1, 6) AS gini
    FROM a
    """,
)
def q279_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based ROC-AUC (Mann-Whitney U with average-rank tie handling)
    per linestatus: label = returned flag, score = the discretised
    discount/tax signal. The textbook formula needs a global rank over all
    rows; here ranks are reconstructed from per-DISTINCT-SCORE counts —
    cum-before + (n_s+1)/2 is each tie group's average rank — so the
    ordered window runs over the score VOCABULARY (~100 rows), not the
    fact table. A near-0.5 AUC is the correct answer for this synthetic
    corpus (returnflag is independent of discount/tax); the tie-heavy
    score makes the average-rank path the thing being certified.

    100 TB story: one map-side-combining groupBy(grp, score), then an
    O(|scores|) window; rank sums are integer-exact in doubles (< 2^52),
    so partial-aggregation order cannot move the hash.
    """
    li = _t(spark, sf_dir, "lineitem")
    s = li.select(
        F.col("l_linestatus").alias("grp"),
        (
            F.round(F.col("l_discount") * 100).cast("long") * 10
            + F.round(F.col("l_tax") * 100).cast("long")
        ).alias("s"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    g = s.groupBy("grp", "s").agg(
        F.count(F.lit(1)).alias("n_s"), F.sum("y").cast("long").alias("p_s")
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = g.withColumn("before", F.coalesce(F.sum("n_s").over(w), F.lit(0)))
    a = r.groupBy("grp").agg(
        F.sum("p_s").cast("long").alias("p"),
        F.sum(F.col("n_s") - F.col("p_s")).cast("long").alias("n"),
        F.sum(F.col("p_s") * (F.col("before") + (F.col("n_s") + 1) / 2.0)).alias(
            "pos_rank_sum"
        ),
    )
    auc = (F.col("pos_rank_sum") - F.col("p") * (F.col("p") + 1) / 2.0) / (
        F.col("p") * F.col("n")
    )
    return a.select(
        "grp",
        "p",
        "n",
        F.round(auc, 6).alias("auc"),
        F.round(2 * auc - 1, 6).alias("gini"),
    )


@query(
    "q280_calibration_bins",
    oracle="""
    WITH s AS (
      SELECT least(CAST(round(l_discount * 100) AS BIGINT), 9) AS bin,
             l_discount * 10 AS conf,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    b AS (
      SELECT bin, count(*) AS n,
             avg(conf) AS conf_mean,
             CAST(sum(y) AS BIGINT) * 1.0 / count(*) AS acc
      FROM s GROUP BY 1
    )
    SELECT bin, n,
           round(conf_mean, 6) AS conf_mean,
           round(acc, 6) AS acc,
           round(acc - conf_mean, 6) AS gap,
           round(abs(acc - conf_mean) * n / (sum(n) OVER ()), 6) AS ece_term
    FROM b
    """,
)
def q280_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram / expected-calibration-error bins: treat the
    scaled discount as a predicted probability of return and compare each
    decile bin's mean confidence against its empirical accuracy; `ece_term`
    is the bin's weighted contribution, so sum(ece_term) IS the ECE. The
    honest result for this corpus is a strongly mis-calibrated "model"
    (acc ~ 1/3 in every bin) — the operator, not the model, is under test.

    Bin ids are computed with integer arithmetic on round(discount*100)
    (floor of the float product would be representation-sensitive at the
    0.0x boundaries; the integer detour is exact in both engines).

    100 TB story: one map-side-combining groupBy into <= 10 bins; the
    window for the ECE weight runs over 10 rows.
    """
    li = _t(spark, sf_dir, "lineitem")
    s = li.select(
        F.least(
            F.round(F.col("l_discount") * 100).cast("long"),
            F.lit(9).cast("long"),
        ).alias("bin"),
        (F.col("l_discount") * 10).alias("conf"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    b = s.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("conf").alias("conf_mean"),
        (F.sum("y").cast("long") * 1.0 / F.count(F.lit(1))).alias("acc"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return b.select(
        "bin",
        "n",
        F.round("conf_mean", 6).alias("conf_mean"),
        F.round("acc", 6).alias("acc"),
        F.round(F.col("acc") - F.col("conf_mean"), 6).alias("gap"),
        F.round(
            F.abs(F.col("acc") - F.col("conf_mean"))
            * F.col("n")
            / F.sum("n").over(wall),
            6,
        ).alias("ece_term"),
    )


@query(
    "q281_ab_welch_ttest",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(user_id % 2 AS INT) AS arm,
             value AS v
      FROM events
    ),
    g AS (
      SELECT event_type,
             count(*) FILTER (WHERE arm = 0) AS n0,
             count(*) FILTER (WHERE arm = 1) AS n1,
             avg(v) FILTER (WHERE arm = 0) AS m0,
             avg(v) FILTER (WHERE arm = 1) AS m1,
             var_samp(v) FILTER (WHERE arm = 0) AS v0,
             var_samp(v) FILTER (WHERE arm = 1) AS v1
      FROM s GROUP BY 1
    )
    SELECT event_type, n0, n1,
           round(m0, 6) AS mean_a,
           round(m1, 6) AS mean_b,
           round((m0 - m1) / sqrt(v0 / n0 + v1 / n1), 6) AS t_stat,
           round(pow(v0 / n0 + v1 / n1, 2)
                 / (pow(v0 / n0, 2) / (n0 - 1) + pow(v1 / n1, 2) / (n1 - 1)),
                 6) AS df,
           CASE WHEN abs((m0 - m1) / sqrt(v0 / n0 + v1 / n1)) > 1.96
                THEN 1 ELSE 0 END AS significant
    FROM g
    """,
)
def q281_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test per event type over a
    deterministic A/B split (user_id parity — hash-stable, no RNG), with
    the Welch-Satterthwaite degrees of freedom. The |t|>1.96 flag is the
    normal-approximation decision at alpha=0.05; by construction the arms
    are exchangeable, so ~0 significant rows is the correct answer and a
    nonzero t certifies only the arithmetic. Means/variances of ~2k
    doubles carry O(1e-12) accumulation-order noise — far below the 6 dp
    rounding.

    100 TB story: one map-side-combining groupBy(event_type) computing
    both arms' moments in a single pass (conditional aggregation, no
    self-join of the two arms).
    """
    e = _t(spark, sf_dir, "events")
    s = e.select(
        "event_type", (F.col("user_id") % 2).cast("int").alias("arm"), F.col("value").alias("v")
    )
    g = s.groupBy("event_type").agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("n0"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n1"),
        F.avg(F.when(F.col("arm") == 0, F.col("v"))).alias("m0"),
        F.avg(F.when(F.col("arm") == 1, F.col("v"))).alias("m1"),
        F.var_samp(F.when(F.col("arm") == 0, F.col("v"))).alias("v0"),
        F.var_samp(F.when(F.col("arm") == 1, F.col("v"))).alias("v1"),
    )
    se2 = F.col("v0") / F.col("n0") + F.col("v1") / F.col("n1")
    t = (F.col("m0") - F.col("m1")) / F.sqrt(se2)
    df = F.pow(se2, 2) / (
        F.pow(F.col("v0") / F.col("n0"), 2) / (F.col("n0") - 1)
        + F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
    )
    return g.select(
        "event_type",
        "n0",
        "n1",
        F.round("m0", 6).alias("mean_a"),
        F.round("m1", 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 6).alias("df"),
        F.when(F.abs(t) > 1.96, 1).otherwise(0).alias("significant"),
    )


@query(
    "q282_kaplan_meier",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey,
             datediff('day', DATE '1970-01-01', o_orderdate) AS d
      FROM orders
    ),
    mx AS (SELECT max(d) AS dmax FROM o),
    g AS (
      SELECT o_custkey, d,
             lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS nd
      FROM o
    ),
    dur AS (
      SELECT CASE WHEN nd IS NULL THEN (SELECT dmax FROM mx) - d
                  ELSE nd - d END AS t,
             CASE WHEN nd IS NULL THEN 0 ELSE 1 END AS ev
      FROM g
    ),
    byt AS (
      SELECT t, count(*) AS n_all, CAST(sum(ev) AS BIGINT) AS d_ev
      FROM dur GROUP BY 1
    ),
    risk AS (
      SELECT t, d_ev,
             CAST(sum(n_all) OVER () -
             coalesce(sum(n_all) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      FROM byt
    ),
    ev AS (SELECT t, n_risk, d_ev FROM risk WHERE d_ev > 0),
    km AS (
      SELECT t, n_risk, d_ev,
             sum(CASE WHEN d_ev < n_risk
                      THEN ln(1 - d_ev * 1.0 / n_risk) END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS lnsum,
             max(CASE WHEN d_ev >= n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS zs
      FROM ev
    )
    SELECT t, n_risk, d_ev AS d,
           round(CASE WHEN zs = 1 THEN 0.0 ELSE exp(coalesce(lnsum, 0.0)) END, 6)
             AS survival
    FROM km
    """,
)
def q282_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator over customer reorder gaps: each
    consecutive-order gap is an observed event, the tail from a customer's
    last order to the corpus end is right-censored (censored subjects
    leave the risk set without stepping the curve — the thing that
    distinguishes KM from a plain ECDF). S(t) steps only at event times:
    S = prod(1 - d_i/n_i), computed as exp of a running ln-sum over the
    O(distinct gap) event-time rows, with the d==n full-absorption edge
    handled by a cumulative zero flag (Spark's ln(0) is NULL, DuckDB's is
    -inf — the CASE keeps both engines on the same finite path).

    100 TB story: durations come from one lead() pass partitioned by
    customer (shuffle on the key); everything after is grouped by gap
    VALUE — O(distinct days) rows, SF-independent — so the ordered
    windows never see the fact table.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d"),
    )
    dmax = o.agg(F.max("d").alias("dmax"))
    g = o.withColumn(
        "nd",
        F.lead("d").over(
            Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
        ),
    )
    dur = g.crossJoin(F.broadcast(dmax)).select(
        F.when(F.col("nd").isNull(), F.col("dmax") - F.col("d"))
        .otherwise(F.col("nd") - F.col("d"))
        .alias("t"),
        F.when(F.col("nd").isNull(), 0).otherwise(1).alias("ev"),
    )
    byt = dur.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_all"), F.sum("ev").cast("long").alias("d_ev")
    )
    wtot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wbef = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = byt.select(
        "t",
        "d_ev",
        (
            F.sum("n_all").over(wtot)
            - F.coalesce(F.sum("n_all").over(wbef), F.lit(0))
        ).alias("n_risk"),
    ).filter(F.col("d_ev") > 0)
    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = risk.select(
        "t",
        "n_risk",
        "d_ev",
        F.sum(
            F.when(
                F.col("d_ev") < F.col("n_risk"),
                F.log(1 - F.col("d_ev") * 1.0 / F.col("n_risk")),
            )
        )
        .over(wc)
        .alias("lnsum"),
        F.max(F.when(F.col("d_ev") >= F.col("n_risk"), 1).otherwise(0))
        .over(wc)
        .alias("zs"),
    )
    return km.select(
        "t",
        "n_risk",
        F.col("d_ev").alias("d"),
        F.round(
            F.when(F.col("zs") == 1, 0.0).otherwise(
                F.exp(F.coalesce(F.col("lnsum"), F.lit(0.0)))
            ),
            6,
        ).alias("survival"),
    )


@query(
    "q283_hll_distinct",
    oracle="""
    WITH base AS (
      SELECT lang AS grp, doc_id FROM documents
      UNION ALL
      SELECT 'ALL' AS grp, doc_id FROM documents
    ),
    h0 AS (SELECT grp, doc_id, doc_id % 4294967296 AS a FROM base),
    h1 AS (SELECT grp, doc_id,
                  (xor(a >> 16, a) * 73244475) % 4294967296 AS a FROM h0),
    h2 AS (SELECT grp, doc_id,
                  (xor(a >> 16, a) * 73244475) % 4294967296 AS a FROM h1),
    h AS (SELECT grp, doc_id, xor(a >> 16, a) AS hv FROM h2),
    rho AS (
      SELECT grp, doc_id, hv % 64 AS idx,
             CASE WHEN hv // 64 = 0 THEN 27
                  ELSE 27 - length(bin(hv // 64)) END AS r,
             doc_id % 2 AS half
      FROM h
    ),
    regs AS (
      SELECT grp, idx, max(r) AS m FROM rho GROUP BY 1, 2
    ),
    regs_h AS (
      SELECT grp, half, idx, max(r) AS m FROM rho GROUP BY 1, 2, 3
    ),
    merged AS (
      SELECT grp, idx, max(m) AS m FROM regs_h GROUP BY 1, 2
    ),
    est AS (
      SELECT grp,
             0.709 * 64 * 64 /
               (sum(1.0 / (CAST(1 AS BIGINT) << m)) + (64 - count(*))) AS e_raw,
             64 - count(*) AS v
      FROM regs GROUP BY 1
    ),
    est_m AS (
      SELECT grp,
             0.709 * 64 * 64 /
               (sum(1.0 / (CAST(1 AS BIGINT) << m)) + (64 - count(*))) AS e_raw,
             64 - count(*) AS v
      FROM merged GROUP BY 1
    ),
    fin AS (
      SELECT grp,
             CASE WHEN e_raw <= 160 AND v > 0 THEN 64 * ln(64.0 / v)
                  ELSE e_raw END AS e
      FROM est
    ),
    fin_m AS (
      SELECT grp,
             CASE WHEN e_raw <= 160 AND v > 0 THEN 64 * ln(64.0 / v)
                  ELSE e_raw END AS e
      FROM est_m
    ),
    ex AS (SELECT grp, count(DISTINCT doc_id) AS n_exact FROM base GROUP BY 1)
    SELECT ex.grp, ex.n_exact,
           round(fin.e, 6) AS est,
           round(fin_m.e, 6) AS est_merged,
           round(abs(fin.e - ex.n_exact) / ex.n_exact, 6) AS rel_err,
           CASE WHEN fin.e = fin_m.e THEN 1 ELSE 0 END AS merge_exact
    FROM ex JOIN fin ON fin.grp = ex.grp JOIN fin_m ON fin_m.grp = ex.grp
    """,
)
def q283_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog (p=6, m=64 registers, Flajolet et al.
    2007 incl. the small-range linear-counting correction) per language
    plus an 'ALL' rollup — the canonical mergeable-sketch distinct count,
    joining the KMV (q154/q202), CMS (q141), Bloom (q73) and MinHash
    (q244) sketch family. The hash is the degski 32-bit avalanche mixer
    (two xor-shift-multiply rounds; the multiplier is < 2^27 so every
    intermediate fits a BIGINT under ANSI overflow checks — and a plain
    multiplicative hash demonstrably FAILS here: on sequential ids its
    rho distribution is non-geometric and the estimate lands 78% high);
    register rank rho comes
    from the binary-string length of the remaining 26 bits (`bin()` —
    float log2 would be representation-sensitive at power-of-two
    boundaries). 2^-M is an exact bigint shift, and a sum of powers of
    two spanning <= 27 bits is EXACT in a double, so the harmonic mean is
    accumulation-order-independent — the property that makes an HLL hash
    safe to certify. The parity-split/merge path (register max of two
    half-sketches) must reproduce the full sketch bit-for-bit
    (`merge_exact`), certifying the distributed-union operator.

    100 TB story: a sketch build is one map-side-combining groupBy to
    m * groups rows; merges are register-max — the shape that counts
    distincts over a 100 TB corpus in one pass with O(m) state.
    """
    d = _t(spark, sf_dir, "documents")
    base = d.select(F.col("lang").alias("grp"), "doc_id").unionAll(
        d.select(F.lit("ALL").alias("grp"), "doc_id")
    )
    rho = (
        base.select(
            "grp", "doc_id", F.expr("doc_id % 4294967296").alias("a")
        )
        .select(
            "grp",
            "doc_id",
            F.expr("((shiftright(a, 16) ^ a) * 73244475) % 4294967296").alias("a"),
        )
        .select(
            "grp",
            "doc_id",
            F.expr("((shiftright(a, 16) ^ a) * 73244475) % 4294967296").alias("a"),
        )
        .select(
            "grp",
            "doc_id",
            (F.col("doc_id") % 2).alias("half"),
            F.expr("shiftright(a, 16) ^ a").alias("hv"),
        )
    ).select(
        "grp",
        "doc_id",
        "half",
        (F.col("hv") % 64).alias("idx"),
        F.when(F.expr("hv div 64") == 0, 27)
        .otherwise(27 - F.length(F.bin(F.expr("hv div 64"))))
        .alias("r"),
    )
    regs = rho.groupBy("grp", "idx").agg(F.max("r").alias("m"))
    regs_h = rho.groupBy("grp", "half", "idx").agg(F.max("r").alias("m"))
    merged = regs_h.groupBy("grp", "idx").agg(F.max("m").alias("m"))

    def estimate(rdf: DataFrame) -> DataFrame:
        e = rdf.groupBy("grp").agg(
            (
                F.lit(0.709 * 64 * 64)
                / (
                    F.sum(F.expr("1.0 / cast(shiftleft(1L, m) as double)"))
                    + (64 - F.count(F.lit(1)))
                )
            ).alias("e_raw"),
            (64 - F.count(F.lit(1))).alias("v"),
        )
        return e.select(
            "grp",
            F.when(
                (F.col("e_raw") <= 160) & (F.col("v") > 0),
                64 * F.log(64.0 / F.col("v")),
            )
            .otherwise(F.col("e_raw"))
            .alias("e"),
        )

    fin = estimate(regs)
    fin_m = estimate(merged).withColumnRenamed("e", "em")
    ex = base.groupBy("grp").agg(F.countDistinct("doc_id").alias("n_exact"))
    return (
        ex.join(fin, "grp")
        .join(fin_m, "grp")
        .select(
            "grp",
            "n_exact",
            F.round("e", 6).alias("est"),
            F.round("em", 6).alias("est_merged"),
            F.round(F.abs(F.col("e") - F.col("n_exact")) / F.col("n_exact"), 6).alias(
                "rel_err"
            ),
            F.when(F.col("e") == F.col("em"), 1).otherwise(0).alias("merge_exact"),
        )
    )


def _q284_hw_oracle(T: int = 28, m: int = 7, a: float = 0.4, b: float = 0.2, g: float = 0.3) -> str:
    """Generated oracle for q284: additive Holt-Winters unrolled as one CTE
    per step with the 7 seasonal components as rotating columns (the q273
    Holt chain treatment extended with a seasonal register file). nl/nb/ns
    re-expand subexpressions rather than referencing lateral aliases, so
    every float op matches the engine fold exactly."""
    scols = ", ".join(f"s{i}" for i in range(1, m + 1))
    sum1 = "(" * (m - 1) + "xs[1]" + "".join(f" + xs[{i}])" for i in range(2, m + 1))
    sum2 = "(" * (m - 1) + f"xs[{m + 1}]" + "".join(
        f" + xs[{i}])" for i in range(m + 2, 2 * m + 1)
    )
    seas = ", ".join(f"xs[{i}] - l AS s{i}" for i in range(1, m + 1))
    ctes = [
        f"w0 AS (SELECT k, xs, {sum1} / {m} AS l FROM series)",
        f"w{m}_r AS (SELECT k, xs, l, ({sum2} / {m} - l) / {m} AS b, {seas} FROM w0)",
    ]
    for t in range(m + 1, T + 1):
        nl = f"{a} * (xs[{t}] - s1) + {1 - a} * (l + b)"
        nb = f"{b_lit(b)} * (({nl}) - l) + {1 - b} * b"
        ns = f"{g} * (xs[{t}] - ({nl})) + {1 - g} * s1"
        keep = ", ".join(f"s{i}" for i in range(2, m + 1))
        rot = ", ".join(f"s{i + 1} AS s{i}" for i in range(1, m)) + f", ns AS s{m}"
        # ns is computed HERE, where l/b/s1 still bind to the OLD state —
        # in the rotation CTE the lateral aliases `nl AS l` would shadow
        # them and silently smooth with the new level
        ctes.append(
            f"w{t} AS (SELECT k, xs, ({nl}) AS nl, ({nb}) AS nb, ({ns}) AS ns, "
            f"{keep} FROM w{t - 1}_r)"
        )
        ctes.append(
            f"w{t}_r AS (SELECT k, xs, nl AS l, nb AS b, {rot} FROM w{t})"
        )
    chain = ",\n    ".join(ctes)
    fcs = ", ".join(
        f"round(l + {h} * b + s{h}, 6) + 0.0 AS f{h}" for h in range(1, m + 1)
    )
    return f"""
    WITH hc AS (
      SELECT event_type AS k,
             epoch_ns(ts) // 1000000000 // 86400 AS day,
             CAST(count(*) AS DOUBLE) AS c
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(day) AS lo FROM hc),
    keys AS (SELECT DISTINCT k FROM hc),
    grid AS (SELECT keys.k, g.d, b.lo
             FROM keys CROSS JOIN (SELECT unnest(generate_series(0, {T - 1})) AS d) g,
                  bounds b),
    dense AS (
      SELECT g.k, g.d, coalesce(hc.c, 0.0) AS c
      FROM grid g LEFT JOIN hc ON hc.k = g.k AND hc.day = g.lo + g.d
    ),
    series AS (SELECT k, list(c ORDER BY d) AS xs FROM dense GROUP BY 1),
    {chain}
    SELECT k AS event_type, round(l, 6) + 0.0 AS level,
           round(b, 6) + 0.0 AS trend, {fcs}
    FROM w{T}_r
    """


def b_lit(x: float) -> str:
    return repr(x)


@query("q284_holt_winters", oracle=_q284_hw_oracle())
def q284_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (alpha=0.4, beta=0.2, gamma=0.3, weekly
    season m=7) per event type over 28 days of daily counts, with a full
    season of forecasts — the seasonal tier of the smoothing ladder
    (q270 seasonal-naive baseline, q273/q274 Holt level+trend, this adds
    the seasonal register file; the reference's auto_arima workload models
    fit exactly this shape of series). Classical init: level = mean of
    week 1, trend = (mean week 2 - mean week 1)/7, seasonals = week-1
    residuals; the mean is an EXPLICIT left-to-right sum chain, not avg(),
    so both engines add in the same order. The engine folds (level,
    trend, 7-slot rotating seasonal array) in ONE codegen `aggregate`;
    the oracle replays the identical recursion as a generated 21-step CTE
    chain with the seasonals as rotating columns — digit-for-digit.

    100 TB story: O(days x keys) map-side rollup, one shuffle on the
    key, then embarrassingly parallel per-row folds (q274's shape).
    """
    e = _t(spark, sf_dir, "events")
    T, m = 28, 7
    a, bt, g = 0.4, 0.2, 0.3
    hc = (
        e.groupBy(
            F.col("event_type").alias("k"),
            F.expr("(ts div 1000000000) div 86400").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .localCheckpoint(eager=True)
    )
    lo = hc.agg(F.min("day").alias("lo"))
    keys = hc.select("k").distinct()
    grid = keys.crossJoin(
        F.broadcast(
            lo.select(F.explode(F.sequence(F.lit(0), F.lit(T - 1))).alias("d"), "lo")
        )
    )
    dense = grid.join(
        hc, (grid.k == hc.k) & (grid.lo + grid.d == hc.day), "left"
    ).select(grid.k, grid.d, F.coalesce("c", F.lit(0.0)).alias("c"))
    series = dense.groupBy("k").agg(
        F.array_sort(F.collect_list(F.struct("d", "c"))).getField("c").alias("xs")
    )
    xs = F.col("xs")
    # explicit left-to-right sums (same float order as the oracle)
    l0 = xs[0]
    for i in range(1, m):
        l0 = l0 + xs[i]
    l0 = l0 / m
    s2 = xs[m]
    for i in range(m + 1, 2 * m):
        s2 = s2 + xs[i]
    b0 = (s2 / m - l0) / m
    init = F.struct(
        l0.alias("l"),
        b0.alias("b"),
        F.array(*[(xs[i] - l0) for i in range(m)]).alias("s"),
    )

    def step(acc, t):
        x = F.element_at(xs, t.cast("int"))
        s1 = F.element_at(acc["s"], 1)
        nl = F.lit(a) * (x - s1) + F.lit(1 - a) * (acc["l"] + acc["b"])
        nb = F.lit(bt) * (nl - acc["l"]) + F.lit(1 - bt) * acc["b"]
        ns = F.lit(g) * (x - nl) + F.lit(1 - g) * s1
        return F.struct(
            nl.alias("l"),
            nb.alias("b"),
            F.concat(F.slice(acc["s"], 2, m - 1), F.array(ns)).alias("s"),
        )

    st = F.aggregate(F.sequence(F.lit(m + 1), F.lit(T)), init, step)
    out = series.select(F.col("k").alias("event_type"), st.alias("st"))
    cols = [
        "event_type",
        (F.round(F.col("st.l"), 6) + F.lit(0.0)).alias("level"),
        (F.round(F.col("st.b"), 6) + F.lit(0.0)).alias("trend"),
    ]
    for h in range(1, m + 1):
        cols.append(
            (
                F.round(
                    F.col("st.l")
                    + h * F.col("st.b")
                    + F.element_at(F.col("st.s"), h),
                    6,
                )
                + F.lit(0.0)
            ).alias(f"f{h}")
        )
    return out.select(*cols)


@query(
    "q285_bigram_lm_score",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents WHERE trim(text) <> ''
    ),
    uni AS (SELECT unnest(toks) AS tok FROM t),
    ucnt AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
    n AS (SELECT count(*) AS n_uni FROM uni),
    bi AS (
      SELECT doc_id, source,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i])) AS w1,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i + 1])) AS w2
      FROM t WHERE len(toks) >= 2
    ),
    bcnt AS (SELECT w1, w2, count(*) AS c_ab FROM bi GROUP BY 1, 2),
    scored AS (
      SELECT bi.doc_id, bi.source,
             ln(0.7 * (bcnt.c_ab * 1.0 / ua.c)
                + 0.3 * (ub.c * 1.0 / n.n_uni)) AS lp
      FROM bi
      JOIN bcnt ON bcnt.w1 = bi.w1 AND bcnt.w2 = bi.w2
      JOIN ucnt ua ON ua.tok = bi.w1
      JOIN ucnt ub ON ub.tok = bi.w2
      CROSS JOIN n
    ),
    perdoc AS (
      SELECT doc_id, source, avg(lp) AS doc_lp FROM scored GROUP BY 1, 2
    )
    SELECT source,
           count(*) AS n_docs,
           round(avg(doc_lp), 6) AS avg_lp,
           round(exp(-avg(doc_lp)), 6) AS ppl
    FROM perdoc GROUP BY 1
    """,
)
def q285_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer-interpolated bigram language model (lambda=0.7
    bigram MLE + 0.3 unigram MLE) fit on the corpus and applied back to
    score every document; reported as per-source mean log-prob and
    perplexity. This is the bigram tier above the CCNet-style unigram LM
    quality signal (q72/q137) — fluency-aware, so boilerplate with
    common words in odd ORDER now scores badly too.

    100 TB story: counts are two map-side-combining groupBys bounded by
    the (observed) vocabulary and bigram vocabulary; scoring joins the
    bigram stream against those count frames on their keys — no corpus
    self-join, and the count frames broadcast when small. The per-doc
    mean then per-source mean keeps every reduction associative.
    """
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    t = d.select("doc_id", "source", text.tokens(F.col("text")).alias("toks"))
    nt = F.size("toks")
    bi = (
        t.filter(nt >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.zip_with(
                    F.slice("toks", 1, nt - 1),
                    F.slice("toks", 2, nt - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("e"),
        )
        .select("doc_id", "source", F.col("e.w1").alias("w1"), F.col("e.w2").alias("w2"))
    )
    uni = t.select(F.explode("toks").alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n = uni.agg(F.count(F.lit(1)).alias("n_uni"))
    bcnt = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    ua = ucnt.select(F.col("tok").alias("w1"), F.col("c").alias("ca"))
    ub = ucnt.select(F.col("tok").alias("w2"), F.col("c").alias("cb"))
    scored = (
        bi.join(_dim(bcnt), ["w1", "w2"])
        .join(_dim(ua), "w1")
        .join(_dim(ub), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "source",
            F.log(
                0.7 * (F.col("c_ab") * 1.0 / F.col("ca"))
                + 0.3 * (F.col("cb") * 1.0 / F.col("n_uni"))
            ).alias("lp"),
        )
    )
    perdoc = scored.groupBy("doc_id", "source").agg(F.avg("lp").alias("doc_lp"))
    return perdoc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("doc_lp"), 6).alias("avg_lp"),
        F.round(F.exp(-F.avg("doc_lp")), 6).alias("ppl"),
    )


@query(
    "q286_l_diversity",
    oracle="""
    WITH g AS (
      SELECT lang, n_chars // 50 AS band, source, count(*) AS c
      FROM documents GROUP BY 1, 2, 3
    ),
    g2 AS (
      SELECT lang, band, c,
             sum(c) OVER (PARTITION BY lang, band) AS tot
      FROM g
    ),
    q AS (
      SELECT lang, band,
             CAST(sum(c) AS BIGINT) AS k,
             count(*) AS l_distinct,
             exp(-sum((c * 1.0 / tot) * ln(c * 1.0 / tot))) AS l_entropy
      FROM g2 GROUP BY 1, 2
    )
    SELECT lang, band, k, l_distinct,
           round(l_entropy, 6) AS l_entropy,
           CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END AS violates_l3
    FROM q
    """,
)
def q286_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) extending the
    k-anonymity census (q239): quasi-identifier = (lang, 50-char length
    band), sensitive attribute = source. Per QI group: group size k,
    DISTINCT l-diversity, ENTROPY l-diversity (exp of the sensitive-value
    entropy — penalises groups where one sensitive value dominates even
    when several are nominally present), and the distinct-l<3 violation
    flag a release gate would block on.

    100 TB story: one map-side-combining groupBy to (QI x sensitive)
    cells, then a second groupBy to QI groups — both bounded by the
    attribute-combination vocabulary, never corpus-sized.
    """
    d = _t(spark, sf_dir, "documents")
    g = d.groupBy(
        "lang", F.expr("n_chars div 50").alias("band"), "source"
    ).agg(F.count(F.lit(1)).alias("c"))
    g2 = g.withColumn(
        "tot", F.sum("c").over(Window.partitionBy("lang", "band"))
    )
    q = g2.groupBy("lang", "band").agg(
        F.sum("c").cast("long").alias("k"),
        F.count(F.lit(1)).alias("l_distinct"),
        F.exp(
            -F.sum(
                (F.col("c") * 1.0 / F.col("tot"))
                * F.log(F.col("c") * 1.0 / F.col("tot"))
            )
        ).alias("l_entropy"),
    )
    return q.select(
        "lang",
        "band",
        "k",
        "l_distinct",
        F.round("l_entropy", 6).alias("l_entropy"),
        F.when(F.col("l_distinct") < 3, 1).otherwise(0).alias("violates_l3"),
    )


@query(
    "q287_column_dependence",
    oracle="""
    WITH cell AS (
      SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
    ),
    mx AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rx FROM cell GROUP BY 1),
    my AS (SELECT source, CAST(sum(o) AS BIGINT) AS cy FROM cell GROUP BY 1),
    n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cell),
    dims AS (SELECT (SELECT count(*) FROM mx) AS r, (SELECT count(*) FROM my) AS c),
    terms AS (
      SELECT cell.o, mx.rx, my.cy, n.n,
             (cell.o * 1.0 / n.n)
               * ln((cell.o * 1.0 / n.n) / ((mx.rx * 1.0 / n.n) * (my.cy * 1.0 / n.n)))
               AS mi_term,
             (mx.rx * 1.0 * my.cy / n.n) AS e,
             (cell.o - (mx.rx * 1.0 * my.cy / n.n))
               * (cell.o - (mx.rx * 1.0 * my.cy / n.n))
               / (mx.rx * 1.0 * my.cy / n.n) AS chi_term
      FROM cell JOIN mx USING (lang) JOIN my USING (source) CROSS JOIN n
    )
    SELECT n.n, dims.r, dims.c,
           round(sum(mi_term), 6) AS mi,
           round(sum(chi_term) + (n.n - sum(e)), 6) AS chi2,
           (dims.r - 1) * (dims.c - 1) AS dof,
           round(sqrt((sum(chi_term) + (n.n - sum(e)))
                      / (n.n * least(dims.r - 1, dims.c - 1))), 6) AS cramers_v
    FROM terms CROSS JOIN n CROSS JOIN dims
    GROUP BY n.n, dims.r, dims.c
    """,
)
def q287_column_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-dependence audit between lang and source: mutual
    information (nats), the chi-square independence statistic, its
    degrees of freedom, and Cramer's V — the screening pass a curation
    pipeline runs to find leaking/correlated metadata columns before
    stratifying on them. Unobserved contingency cells still owe their
    expected count to chi-square; rather than materializing the full
    R x C grid, the identity sum_all(e) = N folds them in as
    N - sum_observed(e) — observed cells only, exact same value.

    100 TB story: one groupBy to observed cells (vocabulary-bounded),
    marginals re-aggregated from the cell frame (no second corpus scan),
    a cell-sized join, one scalar row out.
    """
    d = _t(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    mx = cell.groupBy("lang").agg(F.sum("o").cast("long").alias("rx"))
    my = cell.groupBy("source").agg(F.sum("o").cast("long").alias("cy"))
    n = cell.agg(F.sum("o").cast("long").alias("n"))
    dims = mx.agg(F.count(F.lit(1)).alias("r")).crossJoin(
        my.agg(F.count(F.lit(1)).alias("c"))
    )
    e = F.col("rx") * 1.0 * F.col("cy") / F.col("n")
    terms = (
        cell.join(_dim(mx), "lang")
        .join(_dim(my), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "o",
            "n",
            (
                (F.col("o") * 1.0 / F.col("n"))
                * F.log(
                    (F.col("o") * 1.0 / F.col("n"))
                    / ((F.col("rx") * 1.0 / F.col("n")) * (F.col("cy") * 1.0 / F.col("n")))
                )
            ).alias("mi_term"),
            e.alias("e"),
            ((F.col("o") - e) * (F.col("o") - e) / e).alias("chi_term"),
        )
    )
    agg = terms.groupBy("n").agg(
        F.sum("mi_term").alias("smi"),
        F.sum("chi_term").alias("schi"),
        F.sum("e").alias("se"),
    )
    return agg.crossJoin(F.broadcast(dims)).select(
        "n",
        "r",
        "c",
        F.round("smi", 6).alias("mi"),
        F.round(F.col("schi") + (F.col("n") - F.col("se")), 6).alias("chi2"),
        ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
        F.round(
            F.sqrt(
                (F.col("schi") + (F.col("n") - F.col("se")))
                / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@query(
    "q288_fs_em_weights",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, source, lang, n_chars,
             regexp_split_to_array(trim(text), '\s+')[1] AS tok1,
             n_chars // 25 AS band
      FROM documents WHERE trim(text) <> ''
    ),
    pairs AS (
      SELECT a.doc_id AS i, b.doc_id AS j,
             CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS g1,
             CASE WHEN a.tok1 = b.tok1 THEN 1 ELSE 0 END AS g2,
             CASE WHEN abs(a.n_chars - b.n_chars) <= 5 THEN 1 ELSE 0 END AS g3
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
    ),
    u0 AS (
      SELECT avg(g1 * 1.0) AS u1, avg(g2 * 1.0) AS u2, avg(g3 * 1.0) AS u3,
             count(*) AS np
      FROM pairs
    ),
    post AS (
      SELECT g1, g2, g3, np,
             (0.05
              * (CASE WHEN g1 = 1 THEN 0.9 ELSE 0.1 END)
              * (CASE WHEN g2 = 1 THEN 0.9 ELSE 0.1 END)
              * (CASE WHEN g3 = 1 THEN 0.9 ELSE 0.1 END))
             /
             ((0.05
              * (CASE WHEN g1 = 1 THEN 0.9 ELSE 0.1 END)
              * (CASE WHEN g2 = 1 THEN 0.9 ELSE 0.1 END)
              * (CASE WHEN g3 = 1 THEN 0.9 ELSE 0.1 END))
              + (0.95
              * (CASE WHEN g1 = 1 THEN u1 ELSE 1 - u1 END)
              * (CASE WHEN g2 = 1 THEN u2 ELSE 1 - u2 END)
              * (CASE WHEN g3 = 1 THEN u3 ELSE 1 - u3 END))) AS w
      FROM pairs CROSS JOIN u0
    ),
    upd AS (
      SELECT np,
             sum(w) AS sw, sum(1 - w) AS swn,
             sum(w * g1) AS m1n, sum((1 - w) * g1) AS u1n,
             sum(w * g2) AS m2n, sum((1 - w) * g2) AS u2n,
             sum(w * g3) AS m3n, sum((1 - w) * g3) AS u3n
      FROM post GROUP BY np
    ),
    fields AS (
      SELECT 'same_source' AS field, m1n / sw AS m, u1n / swn AS u, np FROM upd
      UNION ALL
      SELECT 'same_first_token', m2n / sw, u2n / swn, np FROM upd
      UNION ALL
      SELECT 'len_within_5', m3n / sw, u3n / swn, np FROM upd
    )
    SELECT field, np AS n_pairs,
           round(m, 6) AS m,
           round(u, 6) AS u,
           round(ln(m / u), 6) AS w_agree,
           round(ln((1 - m) / (1 - u)), 6) AS w_disagree
    FROM fields
    """,
)
def q288_fs_em_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (1969), fit the
    real-world way — UNSUPERVISED: blocked candidate pairs (lang x
    25-char band, the q207 blocking shape), three field-agreement
    patterns (source, first token, length-within-5), and ONE
    deterministic EM step from the standard init (m=0.9, u=observed
    agreement rate, prior 0.05) to per-field m/u probabilities and the
    log-likelihood agree/disagree weights a linkage rule sums. No RNG,
    no labels; the posterior arithmetic is the same closed-form Bayes
    expression in both engines.

    100 TB story: pairs are generated only within blocks (the standard
    ER contract — block growth is the quadratic knob, finer blocking is
    the scale path), and the pair stream collapses in ONE
    map-side-combining pass to the 8-cell (g1,g2,g3) agreement census —
    the u-init, the posterior, and the EM update are all arithmetic on
    that checkpointed 8-row frame, so the blocked self-join runs once
    and nothing pair-sized ever reaches the driver.
    """
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.trim("text") != "")
        .select(
            "doc_id",
            "source",
            "lang",
            "n_chars",
            text.tokens(F.col("text")).getItem(0).alias("tok1"),
            F.expr("n_chars div 25").alias("band"),
        )
    )
    a = d.select(*[F.col(c).alias(f"a_{c}") for c in d.columns])
    b = d.select(*[F.col(c).alias(f"b_{c}") for c in d.columns])
    pairs = (
        a.join(
            b,
            (F.col("a_lang") == F.col("b_lang"))
            & (F.col("a_band") == F.col("b_band"))
            & (F.col("a_doc_id") < F.col("b_doc_id")),
        )
        .select(
            F.when(F.col("a_source") == F.col("b_source"), 1).otherwise(0).alias("g1"),
            F.when(F.col("a_tok1") == F.col("b_tok1"), 1).otherwise(0).alias("g2"),
            F.when(F.abs(F.col("a_n_chars") - F.col("b_n_chars")) <= 5, 1)
            .otherwise(0)
            .alias("g3"),
        )
    )
    # (g1,g2,g3) census (round-11 optimization): the former plan consumed
    # `pairs` twice — the u0 aggregate AND the posterior pass — so the
    # blocked self-join (documents scanned + tokenized on BOTH sides) ran
    # twice end to end. The agreement vector has only 8 cells, so ONE
    # map-side-combining census carries everything both passes need and
    # every EM quantity below is arithmetic on the 8-row checkpointed
    # frame. u1..u3 are bit-identical (integer cell counts are exact in
    # DOUBLE below 2^53 and the division sees the same operands), so the
    # per-cell posterior w is bit-identical too; the weighted sums
    # sum(c*x) replace float sums whose partial-aggregation order was
    # already nondeterministic — ulp-level differences, orders of
    # magnitude under the 6-dp output rounding (oracle-verified).
    cen = (
        pairs.groupBy("g1", "g2", "g3")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    u0 = cen.agg(
        (F.sum(F.col("c") * F.col("g1")).cast("double") / F.sum("c")).alias("u1"),
        (F.sum(F.col("c") * F.col("g2")).cast("double") / F.sum("c")).alias("u2"),
        (F.sum(F.col("c") * F.col("g3")).cast("double") / F.sum("c")).alias("u3"),
        F.sum("c").cast("long").alias("np"),
    )

    def lik(g, p):
        return F.when(F.col(g) == 1, F.lit(p)).otherwise(F.lit(1 - p))

    def ulik(g, u):
        return F.when(F.col(g) == 1, F.col(u)).otherwise(1 - F.col(u))

    num = F.lit(0.05) * lik("g1", 0.9) * lik("g2", 0.9) * lik("g3", 0.9)
    den = num + F.lit(0.95) * ulik("g1", "u1") * ulik("g2", "u2") * ulik("g3", "u3")
    post = cen.crossJoin(F.broadcast(u0)).select(
        "g1", "g2", "g3", "c", "np", (num / den).alias("w")
    )
    upd = post.groupBy("np").agg(
        F.sum(F.col("c") * F.col("w")).alias("sw"),
        F.sum(F.col("c") * (1 - F.col("w"))).alias("swn"),
        *[
            agg
            for i in (1, 2, 3)
            for agg in (
                F.sum(F.col("c") * F.col("w") * F.col(f"g{i}")).alias(f"m{i}n"),
                F.sum(F.col("c") * (1 - F.col("w")) * F.col(f"g{i}")).alias(f"u{i}n"),
            )
        ],
    )
    names = {1: "same_source", 2: "same_first_token", 3: "len_within_5"}
    parts = [
        upd.select(
            F.lit(names[i]).alias("field"),
            (F.col(f"m{i}n") / F.col("sw")).alias("m"),
            (F.col(f"u{i}n") / F.col("swn")).alias("u"),
            F.col("np").alias("n_pairs"),
        )
        for i in (1, 2, 3)
    ]
    fields = parts[0].unionAll(parts[1]).unionAll(parts[2])
    return fields.select(
        "field",
        "n_pairs",
        F.round("m", 6).alias("m"),
        F.round("u", 6).alias("u"),
        F.round(F.log(F.col("m") / F.col("u")), 6).alias("w_agree"),
        F.round(F.log((1 - F.col("m")) / (1 - F.col("u"))), 6).alias("w_disagree"),
    )


@query("q289_streaming_burn_drain", oracle=None)
def q289_streaming_burn_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING multi-window SLO burn-rate alerting drained in the
    hash-checked gate — q276's batch computation re-executed through
    Structured Streaming with the trailing 6 h window carried in the
    state store (:func:`stateful.streaming_burn_rate`): hourly aggregates
    arrive as three hour-ordered micro-batches, the window ring folds
    ACROSS batches, and the union of emitted rows must match q276's
    DuckDB oracle digit-for-digit. Batch RANGE frame and streaming state:
    two execution forms, one answer — the q273/q274/q275 equivalence
    class applied to the alerting operator the reference's QoS monitor
    would run continuously.

    Scale: state is <= 6 triples per SLO stream; each micro-batch does
    O(new hours) work — the streaming form alerts on an unbounded metric
    stream with O(1) memory, no re-reading history.
    """
    from phoebe_spark.streaming import drain
    from phoebe_spark.streaming.stateful import streaming_burn_rate

    e = _t(spark, sf_dir, "events")
    h = e.groupBy(F.expr("(ts div 1000000000) div 3600").alias("hr")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("errs"),
    )
    with drain.scratch("q289_") as work:
        src_dir = f"{work}/src"
        lo = h.agg(F.min("hr")).collect()[0][0]
        drain.stage_slices(
            (
                h.filter((F.col("hr") >= lo + h_lo) & (F.col("hr") < lo + h_hi))
                for h_lo, h_hi in ((0, 240), (240, 480), (480, 100000))
            ),
            src_dir,
        )

        stream = (
            spark.readStream.schema("hr LONG, n LONG, errs LONG")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        out = streaming_burn_rate(stream)
        sink = drain.run(out, work, output_mode="update")
        res = spark.read.parquet(sink).select(
            "hr",
            "n",
            "errs",
            F.round("burn_short", 6).alias("burn_short"),
            F.round("burn_long", 6).alias("burn_long"),
            "page",
        )
        return res.localCheckpoint(eager=True)


# the drain must reproduce the batch operator's oracle exactly — batch
# RANGE frame and streaming state are two forms of one computation
ORACLE["q289_streaming_burn_drain"] = ORACLE["q276_slo_burn_rate"]


@query(
    "q290_conformal_interval",
    oracle="""
    WITH dc AS (
      SELECT epoch_ns(ts) // 1000000000 // 86400 AS day, count(*) AS c
      FROM events GROUP BY 1
    ),
    b AS (SELECT min(day) AS lo FROM dc),
    grid AS (SELECT unnest(generate_series(0, 29)) AS d, lo FROM b),
    dense AS (
      SELECT g.d, CAST(coalesce(dc.c, 0) AS BIGINT) AS c
      FROM grid g LEFT JOIN dc ON dc.day = g.lo + g.d
    ),
    resid AS (
      SELECT a.d, abs(a.c - p.c) AS r
      FROM dense a JOIN dense p ON p.d = a.d - 7
      WHERE a.d >= 7
    ),
    calib AS (
      SELECT r, row_number() OVER (ORDER BY r, d) AS rn,
             count(*) OVER () AS n_cal
      FROM resid WHERE d % 2 = 0
    ),
    qh AS (
      SELECT r AS q_hat, n_cal FROM calib
      WHERE rn = ((n_cal + 1) * 4 + 4) // 5
    ),
    test AS (SELECT r FROM resid WHERE d % 2 = 1)
    SELECT qh.n_cal,
           (SELECT count(*) FROM test) AS n_test,
           qh.q_hat,
           round(avg(CASE WHEN test.r <= qh.q_hat THEN 1.0 ELSE 0.0 END), 6)
             AS coverage,
           CAST(0.8 AS DOUBLE) AS target
    FROM test CROSS JOIN qh
    GROUP BY qh.n_cal, qh.q_hat
    """,
)
def q290_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval (Vovk; Lei et al. 2018) wrapped
    around the seasonal-naive forecaster the backtest scores (q270):
    absolute day-over-week residuals on the even-day calibration split
    give the ceil((n+1)*0.8)-th order statistic as the distribution-free
    80% interval half-width q_hat; the odd-day test split reports
    empirical coverage. The order statistic is an integer row_number
    lookup (no float quantile interpolation), so the certificate is
    exact in both engines.

    100 TB story: residuals are O(days) from the map-side daily rollup;
    the order statistic is a window over the calibration rows only. Per
    series (q274's grouped shape) this is one sort per key of
    O(days)-sized arrays — conformal calibration for a million
    forecasters in one pass.
    """
    e = _t(spark, sf_dir, "events")
    dc = e.groupBy(F.expr("(ts div 1000000000) div 86400").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    lo = dc.agg(F.min("day").alias("lo"))
    grid = lo.select(F.explode(F.sequence(F.lit(0), F.lit(29))).alias("d"), "lo")
    dense = grid.join(dc, grid.lo + grid.d == dc.day, "left").select(
        "d", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    )
    a = dense.select(F.col("d").alias("ad"), F.col("c").alias("ac"))
    p = dense.select(F.col("d").alias("pd"), F.col("c").alias("pc"))
    resid = (
        a.join(p, F.col("pd") == F.col("ad") - 7)
        .filter(F.col("ad") >= 7)
        .select(F.col("ad").alias("d"), F.abs(F.col("ac") - F.col("pc")).alias("r"))
    )
    calib = (
        resid.filter(F.col("d") % 2 == 0)
        .select(
            "r",
            F.row_number().over(Window.orderBy("r", "d")).alias("rn"),
            F.count(F.lit(1)).over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("n_cal"),
        )
    )
    # integer ceil division: ceil((n+1)*0.8) == ((n+1)*4 + 4) div 5
    qh = calib.filter(
        F.col("rn") == F.expr("((n_cal + 1) * 4 + 4) div 5")
    ).select(F.col("r").alias("q_hat"), "n_cal")
    test = resid.filter(F.col("d") % 2 == 1)
    return (
        test.crossJoin(F.broadcast(qh))
        .groupBy("n_cal", "q_hat")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.round(
                F.avg(F.when(F.col("r") <= F.col("q_hat"), 1.0).otherwise(0.0)), 6
            ).alias("coverage"),
        )
        .select(
            "n_cal",
            "n_test",
            "q_hat",
            "coverage",
            F.lit(0.8).alias("target"),
        )
    )


def _q291_kcore_oracle(k: int = 2, rounds: int = 6) -> str:
    """Generated oracle for q291: every peeling round as two CTEs (the
    q232 fixed-iteration treatment applied to k-core). Unlike q232's
    chain, each round references the PREVIOUS round twice (both join
    sides), so un-materialized CTE inlining is exponential in rounds —
    ``AS MATERIALIZED`` on the multiply-referenced CTEs keeps the oracle
    linear (the SQL analogue of the Spark side's localCheckpoint)."""
    ctes = [
        "edges AS MATERIALIZED (SELECT s1 AS src, s2 AS dst FROM co UNION ALL SELECT s2, s1 FROM co)",
        "a0 AS MATERIALIZED (SELECT DISTINCT src AS n FROM edges)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"d{r} AS (SELECT e.src, count(*) AS dg FROM edges e "
            f"JOIN a{r - 1} x ON e.src = x.n JOIN a{r - 1} y ON e.dst = y.n "
            f"GROUP BY 1)"
        )
        ctes.append(f"a{r} AS MATERIALIZED (SELECT src AS n FROM d{r} WHERE dg >= {k})")
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {_COGRAPH_SQL},
    {chain},
    dfin AS (
      SELECT e.src, count(*) AS dg FROM edges e
      JOIN a{rounds} x ON e.src = x.n JOIN a{rounds} y ON e.dst = y.n
      GROUP BY 1
    ),
    cert AS (
      SELECT CASE WHEN (SELECT count(*) FROM a{rounds - 1})
                     = (SELECT count(*) FROM a{rounds}) THEN 1 ELSE 0 END AS stable
    )
    SELECT dfin.src AS part, CAST(dfin.dg AS BIGINT) AS core_deg, cert.stable
    FROM dfin CROSS JOIN cert
    """


@query("q291_kcore", oracle=_q291_kcore_oracle())
def q291_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the part co-occurrence graph by 6 bounded peeling rounds
    (Seidman 1983 coreness; Batagelj-Zaversnik peeling as iterated
    DataFrame joins) — the density filter that isolates the structurally
    cohesive region of the purchase graph, completing the graph ladder
    (components q53, triangles q233, PageRank q232, label propagation
    q243). Emits each surviving node's within-core degree plus a
    convergence certificate (`stable` = the last round no longer shrank
    the set; k=2 converges within 8 rounds at every test SF — k=3 peels
    the co-graph to EMPTY at sf0.1, so the 2-core is the non-vacuous
    choice at all SFs).

    100 TB story: a round is two equi-joins + one grouped count shuffled
    on the node id (edge-sized, never node-squared), checkpointed per
    round; peeling rounds shrink the frontier monotonically.
    """
    co = _cograph_edges(spark, sf_dir)
    edges = graph.symmetrize(co).localCheckpoint(eager=True)
    prev, alive, deg_final = graph.kcore_peel(edges, k=2, rounds=6)
    cert = (
        prev.agg(F.count(F.lit(1)).alias("pc"))
        .crossJoin(alive.agg(F.count(F.lit(1)).alias("ac")))
        .select(
            F.when(F.col("pc") == F.col("ac"), 1).otherwise(0).alias("stable")
        )
    )
    return deg_final.crossJoin(F.broadcast(cert)).select(
        F.col("src").alias("part"),
        F.col("deg").cast("long").alias("core_deg"),
        "stable",
    )


@query(
    "q292_quantile_hist_sketch",
    oracle="""
    WITH vals AS (
      SELECT o_orderkey, o_totalprice AS v,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    binned AS (
      SELECT o_orderkey % 2 AS half,
             least((cents * 128) // 50000000, 127) AS bin
      FROM vals
    ),
    hb AS (SELECT half, bin, count(*) AS c FROM binned GROUP BY 1, 2),
    merged AS (SELECT bin, CAST(sum(c) AS BIGINT) AS c FROM hb GROUP BY 1),
    full_h AS (SELECT bin, count(*) AS c FROM binned GROUP BY 1),
    cert AS (
      SELECT CAST(min(CASE WHEN m.c = f.c THEN 1 ELSE 0 END) AS INT) AS merge_exact
      FROM merged m JOIN full_h f USING (bin)
    ),
    cum AS (
      SELECT bin, c,
             coalesce(CAST(sum(c) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
               AS before,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM full_h
    ),
    qs(q, num, den) AS (VALUES (0.5, 1, 2), (0.95, 19, 20), (0.99, 99, 100)),
    est AS (
      SELECT qs.q,
             cum.bin * 3906.25
               + 3906.25 * ((qs.q * cum.n) - cum.before) / cum.c AS est,
             (qs.num * cum.n + qs.den - 1) // qs.den AS k
      FROM qs JOIN cum
        ON cum.before < qs.q * cum.n AND cum.before + cum.c >= qs.q * cum.n
    ),
    ranked AS (
      SELECT v, row_number() OVER (ORDER BY v, o_orderkey) AS rn FROM vals
    )
    SELECT CAST(est.q AS DOUBLE) AS q,
           round(est.est, 6) AS est,
           round(ranked.v, 6) AS exact,
           round(est.est - ranked.v, 6) AS err,
           round(abs(est.est - ranked.v) / ranked.v, 6) AS rel_err,
           cert.merge_exact
    FROM est JOIN ranked ON ranked.rn = est.k CROSS JOIN cert
    """,
)
def q292_quantile_hist_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-range histogram quantile sketch over order totals:
    128 equi-width bins on [0, 500k) with CENTS-integer bin assignment
    (a float floor at bin boundaries would be representation-sensitive;
    (cents*128) div 5e7 is exact), linear interpolation inside the
    quantile bin for p50/p95/p99, audited against the EXACT order
    statistic, plus a parity-split merge certificate (half-sketches sum
    to the full sketch bin-for-bin — additive counts are what make the
    sketch mergeable across 1000 executors). Joins the mergeable-sketch
    family: HLL (q283) merges by register max, KMV (q202) by
    k-min union, this by vector addition.

    100 TB story: the sketch is one map-side-combining groupBy into 128
    cells — O(1) state per partition, one tiny shuffle; the exact
    order-statistic side is the AUDIT, not the product (rank lookup via
    sort is the thing the sketch exists to avoid).
    """
    o = _t(spark, sf_dir, "orders")
    vals, binned = _order_price_bins(o)
    hb = binned.groupBy("half", "bin").agg(F.count(F.lit(1)).alias("c"))
    return _hist_sketch_assembly(spark, vals, binned, hb)


def _order_price_bins(o: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(vals, binned) for the q292/q300 histogram sketch: order totals with
    their exact-cents representation, and the (parity-half, 128-bin) cell
    assignment on [0, 500k) — integer arithmetic only at the boundary."""
    vals = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("v"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    binned = vals.select(
        (F.col("o_orderkey") % 2).alias("half"),
        F.least(F.expr("(cents * 128) div 50000000"), F.lit(127).cast("long")).alias(
            "bin"
        ),
    )
    return vals, binned


def _hist_sketch_assembly(
    spark: SparkSession, vals: DataFrame, binned: DataFrame, hb: DataFrame
) -> DataFrame:
    """Shared downstream of the histogram quantile sketch (q292 batch,
    q300 streaming drain): merge the half-sketches (q300: the DRAINED
    streaming state) against the batch-direct full histogram with a
    bin-for-bin certificate, interpolate p50/p95/p99 inside the quantile
    bin, audit against the exact order statistic."""
    merged = hb.groupBy("bin").agg(F.sum("c").cast("long").alias("mc"))
    full_h = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
    cert = (
        merged.join(full_h, "bin")
        .agg(
            F.min(F.when(F.col("mc") == F.col("c"), 1).otherwise(0))
            .cast("int")
            .alias("merge_exact")
        )
    )
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = full_h.select(
        "bin",
        "c",
        F.coalesce(F.sum("c").over(wb), F.lit(0)).cast("long").alias("before"),
        F.sum("c").over(wall).cast("long").alias("n"),
    )
    qs = spark.range(1).select(
        F.explode(
            F.array(
                F.struct(F.lit(0.5).alias("q"), F.lit(1).alias("num"), F.lit(2).alias("den")),
                F.struct(F.lit(0.95).alias("q"), F.lit(19).alias("num"), F.lit(20).alias("den")),
                F.struct(F.lit(0.99).alias("q"), F.lit(99).alias("num"), F.lit(100).alias("den")),
            )
        ).alias("s")
    ).select("s.q", "s.num", "s.den")
    est = qs.join(
        cum,
        (F.col("before") < F.col("q") * F.col("n"))
        & (F.col("before") + F.col("c") >= F.col("q") * F.col("n")),
    ).select(
        "q",
        (
            F.col("bin") * 3906.25
            + 3906.25 * ((F.col("q") * F.col("n")) - F.col("before")) / F.col("c")
        ).alias("est"),
        F.expr("(num * n + den - 1) div den").alias("k"),
    )
    # exact order statistic WITHOUT a single-reducer global sort: the
    # two-phase value-bucketed rank ($100-cents buckets — offsets frame
    # bounded by the price RANGE), bit-identical to row_number() over
    # the naive total-order window
    from phoebe_spark.operators.layout import global_rank_by_value

    ranked = global_rank_by_value(
        vals, "v", "o_orderkey", descending=False, out_col="rn",
        bucket=F.expr("cents div 10000"),
    ).select("v", "rn")
    return (
        est.join(ranked, est.k == ranked.rn)
        .crossJoin(F.broadcast(cert))
        .select(
            F.col("q").cast("double").alias("q"),
            F.round("est", 6).alias("est"),
            F.round("v", 6).alias("exact"),
            F.round(F.col("est") - F.col("v"), 6).alias("err"),
            F.round(F.abs(F.col("est") - F.col("v")) / F.col("v"), 6).alias("rel_err"),
            "merge_exact",
        )
    )


def _q293_eigencentrality_oracle(iters: int = 5) -> str:
    """Generated oracle for q293: every power-iteration round as three
    MATERIALIZED CTEs (matvec, norm, normalize) — the q291 treatment;
    every sum is a DECIMAL(32,8) sum of 8-dp-rounded terms so both
    engines fold bit-identically regardless of row order."""
    ctes = [
        "edges AS MATERIALIZED (SELECT s1 AS src, s2 AS dst FROM co UNION ALL SELECT s2, s1 FROM co)",
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS n FROM edges)",
        "v0 AS MATERIALIZED (SELECT n, round(1.0 / sqrt((SELECT count(*) FROM nodes)), 8) AS v FROM nodes)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"r{k} AS MATERIALIZED (SELECT e.src AS n, "
            f"CAST(sum(CAST(round(p.v, 8) AS DECIMAL(32,8))) AS DOUBLE) AS raw "
            f"FROM edges e JOIN v{k - 1} p ON e.dst = p.n GROUP BY 1)"
        )
        ctes.append(
            f"n{k} AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(round(raw * raw, 8) "
            f"AS DECIMAL(32,8))) AS DOUBLE)) AS nrm FROM r{k})"
        )
        ctes.append(
            f"v{k} AS MATERIALIZED (SELECT n, "
            f"round(raw / (SELECT nrm FROM n{k}), 8) AS v FROM r{k})"
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {_COGRAPH_SQL},
    {chain}
    SELECT n AS part, v AS score,
           (SELECT nrm FROM n{iters}) AS lambda_est
    FROM v{iters}
    """


@query("q293_eigencentrality", oracle=_q293_eigencentrality_oracle())
def q293_eigencentrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality of the part co-occurrence graph — 5 power-
    iteration rounds (:func:`graph.eigencentrality`), the principal-
    direction complement to PageRank's random-walk mass (q232) and the
    measure HITS degenerates to on an undirected graph (hub == authority),
    closing the centrality ladder: components (q53), triangles (q233),
    PageRank (q232), label propagation (q243), k-core (q291), this.
    Certified digit-for-digit: every sum in both engines is a
    DECIMAL(32,8) fold of 8-dp-rounded terms, and the only float ops
    (divide, sqrt) are IEEE correctly-rounded on identical inputs.

    100 TB story: a round is one edge-list join + one grouped decimal sum
    shuffled on the node id (edge-sized, never node-squared), plus a
    scalar norm to the driver; localCheckpoint keeps the plan
    round-count-independent.
    """
    co = _cograph_edges(spark, sf_dir)
    edges = graph.symmetrize(co).localCheckpoint(eager=True)
    return graph.eigencentrality(edges, iters=5).select(
        F.col("n").alias("part"), "score", "lambda_est"
    )


@query(
    "q294_clustering_coeff",
    oracle=f"""
    WITH {_COGRAPH_SQL},
    edges AS MATERIALIZED (SELECT s1 AS src, s2 AS dst FROM co
                           UNION ALL SELECT s2, s1 FROM co),
    deg AS (SELECT src AS part, count(*) AS deg FROM edges GROUP BY 1),
    tri AS (
      SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
      FROM co e1
      JOIN co e2 ON e1.s2 = e2.s1
      JOIN co e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
    ),
    tcount AS (
      SELECT part, count(*) AS n_tri FROM (
        SELECT a AS part FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY 1
    )
    SELECT deg.part, CAST(deg.deg AS BIGINT) AS deg,
           CAST(coalesce(tcount.n_tri, 0) AS BIGINT) AS n_tri,
           round(2.0 * coalesce(tcount.n_tri, 0)
                 / (deg.deg * (deg.deg - 1)), 6) AS cc
    FROM deg LEFT JOIN tcount USING (part)
    WHERE deg.deg >= 2
    """,
)
def q294_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient (Watts-Strogatz 1998) per node of the
    part co-occurrence graph: cc = 2*triangles / (deg*(deg-1)) for nodes
    of degree >= 2 — the community-tightness audit that separates hub
    parts (high degree, low cc) from clique parts (dense neighborhoods).
    Reuses the oriented a<b<c triangle enumeration (q233: each triangle
    generated once, no /6 correction) joined against the symmetrized
    degree table.

    100 TB story: triangles are two equi-joins on oriented edges (fan-out
    bounded by the co-count threshold), degrees one grouped count; the
    final assembly is a node-keyed left join — nothing is
    neighborhood-squared outside the oriented join.
    """
    co = _cograph_edges(spark, sf_dir).localCheckpoint(eager=True)
    deg = (
        graph.symmetrize(co)
        .groupBy(F.col("src").alias("part"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = graph.triangle_counts(co).withColumnRenamed("n_triangles", "n_tri")
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "part", "left")
        .select(
            "part",
            F.col("deg").cast("long").alias("deg"),
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
            F.round(
                2.0 * F.coalesce("n_tri", F.lit(0)) / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ).alias("cc"),
        )
    )


@query(
    "q296_t_closeness",
    oracle="""
    WITH cells AS (
      SELECT lang, n_chars // 50 AS band, source, count(*) AS c
      FROM documents GROUP BY 1, 2, 3
    ),
    classes AS (
      SELECT lang, band, CAST(sum(c) AS BIGINT) AS k FROM cells GROUP BY 1, 2
    ),
    gm AS (
      SELECT source, sum(c) AS gc, sum(sum(c)) OVER () AS gtot
      FROM cells GROUP BY 1
    ),
    grid AS (
      SELECT cl.lang, cl.band, cl.k, g.source,
             g.gc * 1.0 / g.gtot AS q
      FROM classes cl CROSS JOIN gm g
    ),
    terms AS (
      SELECT grid.lang, grid.band, grid.k,
             CAST(round(abs(coalesce(cells.c, 0) * 1.0 / grid.k - grid.q), 8)
                  AS DECIMAL(32,8)) AS term
      FROM grid LEFT JOIN cells
        ON cells.lang = grid.lang AND cells.band = grid.band
       AND cells.source = grid.source
    )
    SELECT lang, band, k,
           CAST(0.5 * CAST(sum(term) AS DOUBLE) AS DOUBLE) AS t_dist,
           CAST(CASE WHEN 0.5 * CAST(sum(term) AS DOUBLE) > 0.2
                THEN 1 ELSE 0 END AS INT) AS violates_t02
    FROM terms GROUP BY 1, 2, 3
    """,
)
def q296_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li, Venkatasubramanian 2007) completing the
    privacy ladder (k-anonymity q239, l-diversity q286): per QI class
    (lang, 50-char band), the distance between the class's sensitive
    (source) distribution and the GLOBAL source distribution — equal
    ground metric, so EMD reduces to total variation 0.5*sum|p - q|,
    taken over the FULL source vocabulary (absent sources contribute
    |0 - q|, which the naive inner-join formulation silently drops).
    Per-term 8-dp rounding + DECIMAL fold keeps the <= 20-term sum
    order-independent and engine-exact.

    100 TB story: cells and the global marginal are vocabulary-bounded
    aggregates; the audit grid is classes x sources (bounded), built by
    broadcasting the tiny global marginal — nothing corpus-sized shuffles
    twice.
    """
    d = _t(spark, sf_dir, "documents")
    # ONE corpus scan: every downstream frame (classes, global marginal,
    # audit grid) derives from the vocabulary-bounded cells table, so
    # checkpoint it instead of re-scanning documents per branch
    cells = (
        d.groupBy("lang", F.expr("n_chars div 50").alias("band"), "source")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    classes = cells.groupBy("lang", "band").agg(F.sum("c").cast("long").alias("k"))
    glob = (
        cells.groupBy("source")
        .agg(F.sum("c").alias("gc"))
        .select(
            "source",
            (
                F.col("gc")
                * 1.0
                / F.sum("gc").over(
                    Window.rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                )
            ).alias("q"),
        )
    )
    grid = classes.crossJoin(F.broadcast(glob))
    terms = grid.join(cells, ["lang", "band", "source"], "left").select(
        "lang",
        "band",
        "k",
        F.round(
            F.abs(F.coalesce("c", F.lit(0)) * 1.0 / F.col("k") - F.col("q")), 8
        )
        .cast("decimal(32,8)")
        .alias("term"),
    )
    t_dist = (0.5 * F.sum("term").cast("double")).cast("double")
    return terms.groupBy("lang", "band", "k").agg(
        t_dist.alias("t_dist"),
        F.when(t_dist > 0.2, 1).otherwise(0).cast("int").alias("violates_t02"),
    )


@query(
    "q297_mann_whitney",
    oracle="""
    WITH s AS (
      SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp
      FROM events WHERE event_type IN ('purchase', 'error')
    ),
    dist AS (SELECT value, count(*) AS t FROM s GROUP BY 1),
    ranked AS (
      SELECT value, t,
             coalesce(CAST(sum(t) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
               AS below
      FROM dist
    ),
    rr AS (SELECT value, (below + (t + 1) / 2.0) AS avg_rank, t FROM ranked),
    agg AS (
      SELECT CAST(sum(CASE WHEN s.grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN s.grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN s.grp = 1
                  THEN CAST(round(rr.avg_rank, 6) AS DECIMAL(32,6))
                  ELSE CAST(0 AS DECIMAL(32,6)) END) AS DOUBLE) AS r1
      FROM s JOIN rr USING (value)
    ),
    ties AS (
      SELECT CAST(sum(t * t * t - t) AS DOUBLE) AS tie_cube FROM dist
    )
    SELECT n1, n2,
           round(r1 - n1 * (n1 + 1) / 2.0, 6) AS u1,
           round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
                 / sqrt((n1 * 1.0 * n2 / 12.0)
                        * ((n1 + n2 + 1)
                           - tie_cube / ((n1 + n2) * 1.0 * (n1 + n2 - 1)))),
                 6) AS z
    FROM agg CROSS JOIN ties
    """,
)
def q297_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (purchase vs error event values) —
    the distribution-free location test that backs A/B decisions when the
    Welch t-test's normality assumption (q281) is off. Average ranks for
    ties come from the VALUE-level distinct table (below-count + (t+1)/2),
    never a row-level window; the z-score uses the exact tie-corrected
    variance. Rank sums fold as DECIMAL(32,6) of 6-dp-rounded average
    ranks — order-independent and engine-exact; the KS test (q183) checks
    shape, this checks location, together the full two-sample screen.

    100 TB story: ranking is one groupBy to the distinct-value table plus
    one ordered cumulative window over values (bounded by value
    cardinality, not row count); the rank-sum join back is value-keyed.
    """
    e = _t(spark, sf_dir, "events")
    s = e.filter(F.col("event_type").isin("purchase", "error")).select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("grp"),
    )
    dist = s.groupBy("value").agg(F.count(F.lit(1)).alias("t"))
    ranked = dist.select(
        "value",
        "t",
        F.coalesce(
            F.sum("t").over(
                Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("below"),
    )
    rr = ranked.select(
        "value", (F.col("below") + (F.col("t") + 1) / 2.0).alias("avg_rank")
    )
    agg = (
        s.join(rr, "value")
        .agg(
            F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("n1"),
            F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("n2"),
            F.sum(
                F.when(
                    F.col("grp") == 1,
                    F.round("avg_rank", 6).cast("decimal(32,6)"),
                ).otherwise(F.lit(0).cast("decimal(32,6)"))
            )
            .cast("double")
            .alias("r1"),
        )
    )
    ties = dist.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("double")
        .alias("tie_cube")
    )
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0
    n, m = F.col("n1"), F.col("n2")
    sigma = F.sqrt(
        (n * 1.0 * m / 12.0)
        * ((n + m + 1) - F.col("tie_cube") / ((n + m) * 1.0 * (n + m - 1)))
    )
    return agg.crossJoin(F.broadcast(ties)).select(
        "n1",
        "n2",
        F.round(u1, 6).alias("u1"),
        F.round((u1 - n * m / 2.0) / sigma, 6).alias("z"),
    )


def _q298_pca_oracle(iters: int = 4, dim: int = 64) -> str:
    """Generated oracle for q298: integer-quantized Gram + dim-sums give
    the CENTERED covariance as cov = g/n - (s_i/n)(s_j/n) — exact BIGINT
    folds feeding IEEE double ops on identical inputs, so the hot path
    never touches a decimal aggregate (the q219 quantization recipe);
    the 64x64 power-iteration rounds then follow the q293 DECIMAL(32,8)
    8-dp policy (cheap at 4096 rows)."""
    ctes = [
        "nn AS (SELECT count(*) AS n FROM embeddings)",
        f"qx AS MATERIALIZED (SELECT vec_id, t.i AS i, "
        f"CAST(floor(CAST(embedding[t.i + 1] AS DOUBLE) * 10000) AS BIGINT) AS q "
        f"FROM embeddings CROSS JOIN "
        f"(SELECT unnest(generate_series(0, {dim - 1})) AS i) t)",
        "gram AS MATERIALIZED (SELECT a.i AS i, b.i AS j, sum(a.q * b.q) AS g "
        "FROM qx a JOIN qx b USING (vec_id) GROUP BY 1, 2)",
        "sv AS MATERIALIZED (SELECT i, sum(q) AS s FROM qx GROUP BY 1)",
        "cov AS MATERIALIZED (SELECT gram.i, gram.j, "
        "round((CAST(gram.g AS DOUBLE) / (SELECT n FROM nn) "
        " - (CAST(si.s AS DOUBLE) / (SELECT n FROM nn)) "
        " * (CAST(sj.s AS DOUBLE) / (SELECT n FROM nn))) / 100000000.0, 8) AS cv "
        "FROM gram JOIN sv si ON gram.i = si.i JOIN sv sj ON gram.j = sj.i)",
        "tr AS (SELECT CAST(sum(CAST(round(cv, 8) AS DECIMAL(32,8))) AS DOUBLE)"
        " AS trace FROM cov WHERE i = j)",
        "v0 AS MATERIALIZED (SELECT i AS j, CAST(0.125 AS DOUBLE) AS v FROM sv)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"w{k} AS MATERIALIZED (SELECT cov.i,"
            f" CAST(sum(CAST(cov.cv AS DECIMAL(18,8)) * CAST(p.v AS DECIMAL(18,8)))"
            f" AS DOUBLE) AS w"
            f" FROM cov JOIN v{k - 1} p ON cov.j = p.j GROUP BY 1)"
        )
        ctes.append(
            f"n{k} AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(round(w * w, 8)"
            f" AS DECIMAL(32,8))) AS DOUBLE)) AS nrm FROM w{k})"
        )
        ctes.append(
            f"v{k} AS MATERIALIZED (SELECT i AS j,"
            f" round(w / (SELECT nrm FROM n{k}), 8) AS v FROM w{k})"
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain}
    SELECT CAST(j AS BIGINT) AS dim, v AS loading,
           (SELECT nrm FROM n{iters}) AS lambda_est,
           round((SELECT nrm FROM n{iters}) / (SELECT trace FROM tr), 6)
             AS explained_ratio
    FROM v{iters}
    """


@query("q298_pca_power_iter", oracle=_q298_pca_oracle())
def q298_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the CENTERED embedding corpus by
    distributed covariance + 4 power-iteration rounds — the statistic
    q219's uncentered Gram direction cannot produce: mean removal makes
    this PCA proper (ABTT-style anisotropy is measured after centering),
    and the eigenvalue/trace ratio is the explained-variance number an
    embedding-health dashboard actually reports. Complements
    q219_pca_power_iteration (dominant singular direction, integer
    quantization); this one follows the q293 decimal-fold policy. The covariance is the ONLY
    corpus-sized pass (posexplode long form, vec_id-keyed pair join,
    grouped decimal fold to d^2 = 4096 cells); the iteration then runs on
    the fixed 64x64 matrix, so its cost is INDEPENDENT of corpus size.
    Emits each dimension's loading, the Rayleigh eigenvalue estimate
    ||C v||, and the explained-variance ratio lambda/trace(C). Certified
    digit-for-digit: values quantize scan-side to BIGINT (floor(1e4*x),
    the q219 recipe), the Gram and per-dim sums fold as EXACT integer
    aggregates, and cov = g/n - (s_i/n)(s_j/n) is IEEE double arithmetic
    on identical integers — a decimal aggregate over the N*d^2 product
    rows (the first cut) ran 21.7 s at sf0.1 vs 2.5 s for the integer
    Gram. The matvec multiplies EXACT decimals (18,8 x 18,8 -> 16-scale
    product) instead of rounding the float product: cv*0.125 lands on an
    exact half-tie whenever cv's 8th digit is 4 mod 8 — a structural 1/8
    of cells where the engines' tie-breaking diverges.

    100 TB story: one integer Gram shuffle onto 4096 cells (map-side
    combine does the heavy reduction — same cells regardless of N);
    matvec rounds shuffle 4096 rows; localCheckpoint keeps plans
    round-count-independent.
    """
    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select(
        "vec_id",
        F.col("i").cast("long").alias("i"),
        F.floor(F.col("xf").cast("double") * 10000).cast("long").alias("q"),
    )
    a = flat.select("vec_id", "i", F.col("q").alias("qa"))
    b = flat.select("vec_id", F.col("i").alias("j"), F.col("q").alias("qb"))
    gram = (
        a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(F.sum(F.col("qa") * F.col("qb")).alias("g"))
    )
    sv = flat.groupBy("i").agg(F.sum("q").alias("s"))
    nd = F.lit(float(n))
    cov = (
        gram.join(F.broadcast(sv.select(F.col("i"), F.col("s").alias("si"))), "i")
        .join(F.broadcast(sv.select(F.col("i").alias("j"), F.col("s").alias("sj"))), "j")
        .select(
            "i",
            "j",
            F.round(
                (
                    F.col("g").cast("double") / nd
                    - (F.col("si").cast("double") / nd)
                    * (F.col("sj").cast("double") / nd)
                )
                / 1e8,
                8,
            ).alias("cv"),
        )
        .localCheckpoint(eager=True)
    )
    tr = cov.filter(F.col("i") == F.col("j")).agg(
        F.sum(F.round("cv", 8).cast("decimal(32,8)")).cast("double").alias("trace")
    )
    v = sv.select(F.col("i").alias("j"), F.lit(0.125).alias("v"))
    nrm = None
    for _ in range(4):
        w = (
            cov.join(v, "j")
            .groupBy("i")
            .agg(
                F.sum(
                    F.col("cv").cast("decimal(18,8)")
                    * F.col("v").cast("decimal(18,8)")
                )
                .cast("double")
                .alias("w")
            )
        )
        nrm = w.agg(
            F.sqrt(
                F.sum(F.round(F.col("w") * F.col("w"), 8).cast("decimal(32,8)")).cast(
                    "double"
                )
            ).alias("nrm")
        )
        v = (
            w.crossJoin(F.broadcast(nrm))
            .select(F.col("i").alias("j"), F.round(F.col("w") / F.col("nrm"), 8).alias("v"))
            .localCheckpoint(eager=True)
        )
    return (
        v.crossJoin(F.broadcast(nrm))
        .crossJoin(F.broadcast(tr))
        .select(
            F.col("j").cast("long").alias("dim"),
            F.col("v").alias("loading"),
            F.col("nrm").alias("lambda_est"),
            F.round(F.col("nrm") / F.col("trace"), 6).alias("explained_ratio"),
        )
    )


@query(
    "q299_blocking_quality",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             md5(substr(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), 1, 80))
               AS fp,
             lang || '|' || CAST(n_chars // 100 AS VARCHAR) AS blk
      FROM documents
    ),
    n AS (SELECT count(*) AS n_docs FROM d),
    blocks AS (SELECT blk, count(*) AS s FROM d GROUP BY 1),
    cand AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
                    CAST(sum(s * (s - 1) / 2) AS BIGINT) AS cand_pairs
             FROM blocks),
    truth AS (SELECT CAST(sum(c * (c - 1) / 2) AS BIGINT) AS true_pairs
              FROM (SELECT fp, count(*) AS c FROM d GROUP BY 1)),
    tib AS (SELECT CAST(sum(c * (c - 1) / 2) AS BIGINT) AS true_in_block
            FROM (SELECT fp, blk, count(*) AS c FROM d GROUP BY 1, 2))
    SELECT CAST(n.n_docs AS BIGINT) AS n_docs,
           cand.n_blocks, cand.cand_pairs, truth.true_pairs, tib.true_in_block,
           round(1.0 - cand.cand_pairs * 2.0 / (n.n_docs * (n.n_docs - 1)), 6)
             AS reduction_ratio,
           round(CASE WHEN truth.true_pairs = 0 THEN 1.0
                 ELSE tib.true_in_block * 1.0 / truth.true_pairs END, 6)
             AS pairs_completeness
    FROM n CROSS JOIN cand CROSS JOIN truth CROSS JOIN tib
    """,
)
def q299_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme quality audit for entity resolution (Christen
    2012): for the (lang, 100-char band) blocking key the ER join (q207)
    and the Fellegi-Sunter weights (q288) run on, report REDUCTION RATIO
    (candidate pairs vs all N(N-1)/2 pairs — how much work blocking
    saves) and PAIRS COMPLETENESS (ground-truth duplicate pairs, by the
    q08 normalized-prefix fingerprint, that land in the same block — the
    recall blocking silently trades away). The metric pair is what
    decides whether a blocking key is production-safe: RR near 1 with PC
    near 1, never one without the other.

    100 TB story: pure counting — three map-side-combining groupBys
    (block sizes, fingerprint group sizes, their intersection) and
    four scalar aggregates cross-joined into one row; candidate pairs
    are COUNTED via s*(s-1)/2, never materialized.
    """
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        _prefix_fp().alias("fp"),
        F.concat_ws("|", "lang", F.expr("n_chars div 100")).alias("blk"),
    )
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    blocks = d.groupBy("blk").agg(F.count(F.lit(1)).alias("s"))
    cand = blocks.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(F.expr("s * (s - 1) div 2")).cast("long").alias("cand_pairs"),
    )
    truth = (
        d.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.expr("c * (c - 1) div 2")).cast("long").alias("true_pairs"))
    )
    tib = (
        d.groupBy("fp", "blk")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.expr("c * (c - 1) div 2")).cast("long").alias("true_in_block"))
    )
    return (
        n.crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(truth))
        .crossJoin(F.broadcast(tib))
        .select(
            "n_docs",
            "n_blocks",
            "cand_pairs",
            "true_pairs",
            "true_in_block",
            F.round(
                1.0
                - F.col("cand_pairs") * 2.0 / (F.col("n_docs") * (F.col("n_docs") - 1)),
                6,
            ).alias("reduction_ratio"),
            F.round(
                F.when(F.col("true_pairs") == 0, 1.0).otherwise(
                    F.col("true_in_block") * 1.0 / F.col("true_pairs")
                ),
                6,
            ).alias("pairs_completeness"),
        )
    )


@query("q300_streaming_hist_drain")
def q300_streaming_hist_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING histogram-sketch drain twinning the batch q292: the
    (parity-half, 128-bin) cell counts accumulate in a COMPLETE-mode
    streaming aggregation across 2 micro-batches — the source is staged
    as one file PER HALF with maxFilesPerTrigger=1, so the cross-batch
    state merge IS the half-sketch merge the batch query certifies — then
    the drained state feeds the exact same assembly
    (:func:`_hist_sketch_assembly`): merge certificate against the
    batch-direct histogram, p50/p95/p99 interpolation, exact-order-
    statistic audit. One sketch, two execution models, one hash-checked
    answer (the oracle IS q292's oracle).

    Scale notes: the streaming agg is all-JVM (no Python stateful
    operator) with O(256) state cells; the drain stages narrow
    (8 state partitions, fresh checkpoint; see streaming/drain.py).
    """
    from phoebe_spark.streaming import drain

    o = _t(spark, sf_dir, "orders")
    vals, binned = _order_price_bins(o)
    with drain.scratch("q300_") as work:
        src_dir = f"{work}/src"
        # one file per half: batch 1 streams half 0, batch 2 half 1 —
        # state after the drain holds the merged sketch
        drain.stage_slices(
            (binned.filter(F.col("half") == hv).repartition(1) for hv in (0, 1)),
            src_dir,
        )

        stream = (
            spark.readStream.schema("half LONG, bin LONG")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        agg = stream.groupBy("half", "bin").agg(F.count(F.lit(1)).alias("c"))
        sink = drain.run(agg, work, output_mode="complete")

        hb = spark.read.parquet(sink).select("half", "bin", "c")
        out = _hist_sketch_assembly(spark, vals, binned, hb)
        return out.localCheckpoint(eager=True)


# the streaming drain must reproduce the batch sketch's oracle exactly —
# complete-mode state and the batch groupBy are two forms of one histogram
ORACLE["q300_streaming_hist_drain"] = ORACLE["q292_quantile_hist_sketch"]
