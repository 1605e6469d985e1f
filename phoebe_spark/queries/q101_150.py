"""Query registry block 101-150 (mechanically split from the former
single-module registry in round 9; see ``_core`` for the decorator,
the registry dicts, and the float-determinism policy)."""

from __future__ import annotations


from phoebe_spark.operators import dedup, graph, sampling, similarity, text

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._core import EPOCH_SQL, _dec, _dim, _dsum2, _epoch, _t, query
from .q001_050 import _MD5H_SQL, _TOKS_SQL
from .q051_100 import _CHUNK_PAIRS_SQL

@query(
    "q101_curation_pipeline",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, text, {_TOKS_SQL} AS toks, len({_TOKS_SQL}) AS n_words
      FROM documents WHERE trim(text) <> ''),
    quality AS (
      SELECT *, (n_words >= 20) AS ok_quality FROM base),
    fp AS (
      SELECT *, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
      FROM quality WHERE ok_quality),
    keep_dup AS (
      SELECT *, (doc_id = min(doc_id) OVER (PARTITION BY fingerprint)) AS is_canonical
      FROM fp),
    grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 4),
             i -> array_to_string(toks[i:i+4], ' ')))) AS g
      FROM base WHERE len(toks) >= 5),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 5),
    contaminated AS (
      SELECT DISTINCT gr.doc_id FROM grams gr JOIN bench b ON gr.g = b.g
      WHERE gr.doc_id >= 5),
    staged AS (
      SELECT b.source, b.doc_id, b.n_words,
             coalesce(q.ok_quality, FALSE) AS ok_q,
             coalesce(k.is_canonical, FALSE) AS ok_d,
             (c.doc_id IS NULL AND b.doc_id >= 5) AS ok_c
      FROM base b
      LEFT JOIN quality q USING (doc_id)
      LEFT JOIN keep_dup k ON k.doc_id = b.doc_id
      LEFT JOIN contaminated c ON c.doc_id = b.doc_id)
    SELECT source,
           CAST(count(*) AS BIGINT) AS docs_in,
           CAST(sum(CASE WHEN NOT ok_q THEN 1 ELSE 0 END) AS BIGINT) AS drop_quality,
           CAST(sum(CASE WHEN ok_q AND NOT ok_d THEN 1 ELSE 0 END) AS BIGINT) AS drop_dup,
           CAST(sum(CASE WHEN ok_q AND ok_d AND NOT ok_c THEN 1 ELSE 0 END) AS BIGINT) AS drop_contaminated,
           CAST(sum(CASE WHEN ok_q AND ok_d AND ok_c THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
           CAST(sum(CASE WHEN ok_q AND ok_d AND ok_c THEN n_words ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM staged GROUP BY source
    """,
)
def q101_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation pipeline with a per-source yield report —
    the integration query proving the stages compose: quality gate
    (length floor) -> exact dedup (md5 fingerprint canonical,
    :func:`text.fingerprint` / q08) -> benchmark decontamination
    (5-gram overlap vs the doc_id<5 eval set,
    :func:`dedup.contamination_flags` / q58) -> per-source attrition +
    kept-token accounting (the numbers a data lead actually reviews
    before a training run). Stage flags are computed once each over one
    corpus scan apiece; the report is a single source-keyed aggregate."""
    d = _t(spark, sf_dir, "documents")
    base = (
        d.filter(F.trim("text") != "")
        .withColumn("n_words", F.size(text.tokens(F.col("text"))))
    )
    ok_q = base.withColumn("ok_q", F.col("n_words") >= 20)
    fp = text.fingerprint(ok_q.filter("ok_q"))
    canon = fp.withColumn(
        "ok_d",
        F.col("doc_id")
        == F.min("doc_id").over(Window.partitionBy("fingerprint")),
    ).select("doc_id", "ok_d")
    flags = dedup.contamination_flags(
        base.filter(F.col("doc_id") >= 5), base.filter(F.col("doc_id") < 5), n=5
    )
    contaminated = flags.filter(F.col("n_contaminated") > 0).select(
        F.col("doc").alias("doc_id"), F.lit(True).alias("is_cont")
    )
    staged = (
        ok_q.select("source", "doc_id", "n_words", "ok_q")
        .join(canon, "doc_id", "left")
        .join(contaminated, "doc_id", "left")
        .withColumn("ok_d", F.coalesce("ok_d", F.lit(False)))
        .withColumn("ok_c", F.col("is_cont").isNull() & (F.col("doc_id") >= 5))
    )
    kept = F.col("ok_q") & F.col("ok_d") & F.col("ok_c")
    return staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_in"),
        F.sum((~F.col("ok_q")).cast("long")).alias("drop_quality"),
        F.sum((F.col("ok_q") & ~F.col("ok_d")).cast("long")).alias("drop_dup"),
        F.sum((F.col("ok_q") & F.col("ok_d") & ~F.col("ok_c")).cast("long")).alias(
            "drop_contaminated"
        ),
        F.sum(kept.cast("long")).alias("docs_kept"),
        F.sum(F.when(kept, F.col("n_words")).otherwise(0)).alias("tokens_kept"),
    )


@query(
    "q102_incremental_dedup",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
      FROM documents WHERE trim(text) <> ''),
    hist AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 400),
    batch AS (SELECT * FROM fp WHERE doc_id >= 400),
    flagged AS (
      SELECT b.doc_id, b.source, (h.fingerprint IS NOT NULL) AS dup_of_history,
             (b.doc_id <> min(b.doc_id) OVER (PARTITION BY b.fingerprint)) AS dup_in_batch
      FROM batch b LEFT JOIN hist h USING (fingerprint))
    SELECT source,
           CAST(count(*) AS BIGINT) AS batch_docs,
           CAST(sum(CASE WHEN dup_of_history THEN 1 ELSE 0 END) AS BIGINT) AS dup_vs_history,
           CAST(sum(CASE WHEN NOT dup_of_history AND dup_in_batch THEN 1 ELSE 0 END) AS BIGINT) AS dup_in_batch,
           CAST(sum(CASE WHEN NOT dup_of_history AND NOT dup_in_batch THEN 1 ELSE 0 END) AS BIGINT) AS kept
    FROM flagged GROUP BY source
    """,
)
def q102_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the production daily-drop shape: a new batch
    (doc_id >= 400) deduped against the historical fingerprint set
    (doc_id < 400) AND within itself, reported per source. The history
    side reduces to its distinct fingerprints before the join (at 100 TB
    that fingerprint set is the only state carried between runs — store
    it partitioned by fingerprint prefix and this join is storage-pruned);
    within-batch dups resolve by a min-id window on the batch only."""
    d = _t(spark, sf_dir, "documents")
    fp = text.fingerprint(d.filter(F.trim("text") != ""))
    hist = fp.filter(F.col("doc_id") < 400).select("fingerprint").distinct()
    batch = fp.filter(F.col("doc_id") >= 400)
    flagged = (
        batch.join(
            hist.withColumn("_h", F.lit(True)), "fingerprint", "left"
        )
        .withColumn("dup_of_history", F.col("_h").isNotNull())
        .withColumn(
            "dup_in_batch",
            F.col("doc_id")
            != F.min("doc_id").over(Window.partitionBy("fingerprint")),
        )
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("batch_docs"),
        F.sum(F.col("dup_of_history").cast("long")).alias("dup_vs_history"),
        F.sum((~F.col("dup_of_history") & F.col("dup_in_batch")).cast("long")).alias(
            "dup_in_batch"
        ),
        F.sum((~F.col("dup_of_history") & ~F.col("dup_in_batch")).cast("long")).alias(
            "kept"
        ),
    )


@query(
    "q103_attribution",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, {EPOCH_SQL.format(c='ts')} AS sec, event_id
               FROM events),
    lc AS (
      SELECT user_id, event_type, sec,
             max(CASE WHEN event_type = 'click' THEN sec END)
               OVER (PARTITION BY user_id ORDER BY sec, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click
      FROM e),
    p AS (SELECT CAST(floor(sec / 86400.0) AS BIGINT) AS day,
                 (last_click IS NOT NULL AND sec - last_click <= 3600) AS attributed
          FROM lc WHERE event_type = 'purchase')
    SELECT day, CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CASE WHEN attributed THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed
    FROM p GROUP BY day
    """,
)
def q103_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is attributed when the same
    user clicked within the preceding hour — computed with carried-
    forward window state (max of click-times over an UNBOUNDED-to-1-
    PRECEDING frame), NOT an event-table self-join: one user_id shuffle,
    one pass, however many purchases. Tie order pinned to (second,
    event_id) so both engines walk the same sequence."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", _epoch().alias("sec"), "event_id"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lc = e.withColumn(
        "last_click",
        F.max(F.when(F.col("event_type") == "click", F.col("sec"))).over(w),
    )
    p = lc.filter(F.col("event_type") == "purchase").select(
        F.floor(F.col("sec") / 86400).cast("long").alias("day"),
        (
            F.col("last_click").isNotNull()
            & ((F.col("sec") - F.col("last_click")) <= 3600)
        ).alias("attributed"),
    )
    return p.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("attributed").cast("long")).alias("n_attributed"),
    )


@query(
    "q104_value_quantiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.75), 6) AS p75,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(quantile_cont(value, 0.99), 6) AS p99,
           CAST(count(value) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def q104_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped quantile profile (p25/p50/p75/p95/p99 per series) in ONE
    exact-percentile aggregate (Spark evaluates the whole percentile
    ARRAY from a single per-group buffer — five quantiles cost one
    sort, not five). Extends q28's single p95; at 100 TB swap in
    approx_percentile with the same array form."""
    e = _t(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.25, 0.5, 0.75, 0.95, 0.99))").alias("qs"),
        F.count("value").alias("n"),
    )
    return q.select(
        "event_type",
        *[
            F.round(F.col("qs")[i], 6).alias(name)
            for i, name in enumerate(["p25", "p50", "p75", "p95", "p99"])
        ],
        "n",
    )


@query(
    "q105_wow_growth",
    oracle=f"""
    WITH d AS (
      SELECT CAST(floor({EPOCH_SQL.format(c='ts')} / 604800.0) AS BIGINT) AS week,
             CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS wk_value
      FROM events GROUP BY 1),
    g AS (SELECT week, wk_value, lag(wk_value) OVER (ORDER BY week) AS prev FROM d)
    SELECT week, wk_value,
           round(CASE WHEN prev > 0 THEN (wk_value - prev) / prev END, 6) AS wow_growth
    FROM g
    """,
)
def q105_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth of total activity — the trend report on top
    of an order-independent decimal weekly rollup (q01 money contract),
    so the growth ratios are bit-stable. The lag window runs over the
    calendar-bounded weekly frame (tiny), not the events."""
    e = _t(spark, sf_dir, "events").withColumn(
        "week", F.floor(_epoch() / 604800).cast("long")
    )
    d = e.groupBy("week").agg(_dsum2(_dec("value")).alias("wk_value"))
    w = Window.orderBy("week")
    g = d.withColumn("prev", F.lag("wk_value").over(w))
    return g.select(
        "week",
        "wk_value",
        F.round(
            F.when(F.col("prev") > 0, (F.col("wk_value") - F.col("prev")) / F.col("prev")),
            6,
        ).alias("wow_growth"),
    )


@query(
    "q106_ship_delay",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           round(sum(date_diff('day', o.o_orderdate, l.l_shipdate)) * 1.0 / count(*), 6) AS avg_ship_delay_days,
           CAST(sum(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30
                    THEN 1 ELSE 0 END) AS BIGINT) AS within_30d
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q106_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment SLA by order priority: average order-to-ship delay and
    the 30-day on-time count (TPC-H Q4's business question, answered
    with a fact-fact join instead of EXISTS). Integer day sums are exact
    (BIGINT), so the average is deterministic without decimal help; the
    orders side carries only two columns into the join."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    dd = F.datediff("l_shipdate", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey).withColumn("dd", dd)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.round(F.sum("dd") * 1.0 / F.count(F.lit(1)), 6).alias("avg_ship_delay_days"),
        F.sum((F.col("dd") <= 30).cast("long")).alias("within_30d"),
    )


@query(
    "q107_session_conversion",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, {EPOCH_SQL.format(c='ts')} AS es, event_id
               FROM events),
    marked AS (
      SELECT user_id, event_type, es, event_id,
             CASE WHEN lag(es) OVER w IS NULL OR es - lag(es) OVER w > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
    sess AS (
      SELECT user_id, event_type,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY es, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked),
    per AS (
      SELECT user_id, sid, count(*) AS ev,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM sess GROUP BY 1, 2)
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           round(sum(converted) * 1.0 / count(*), 6) AS conversion_rate,
           round(sum(CASE WHEN converted = 1 THEN ev ELSE 0 END) * 1.0
                 / nullif(sum(converted), 0), 6) AS avg_events_converted,
           round(sum(CASE WHEN converted = 0 THEN ev ELSE 0 END) * 1.0
                 / nullif(count(*) - sum(converted), 0), 6) AS avg_events_organic
    FROM per
    """,
)
def q107_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session conversion report on q46's gap sessionization: fraction of
    30-min-gap sessions containing a purchase, plus average session size
    split by outcome. One user_id shuffle feeds the gap lag, the session
    running sum, and the per-session rollup (all same-key); the final
    report is a 1-row aggregate of exact integer sums. Tie order pinned
    to (second, event_id) in both engines."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", _epoch().alias("es"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    marked = e.withColumn(
        "new_session",
        F.when(
            F.lag("es").over(w).isNull() | ((F.col("es") - F.lag("es").over(w)) > 1800),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "sid", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("ev"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted"),
    )
    conv = F.sum("converted")
    n = F.count(F.lit(1))
    return per.agg(
        n.alias("n_sessions"),
        conv.cast("long").alias("n_converted"),
        F.round(conv * 1.0 / n, 6).alias("conversion_rate"),
        F.round(
            F.sum(F.when(F.col("converted") == 1, F.col("ev")).otherwise(0))
            * 1.0
            / F.nullif(conv, F.lit(0)),
            6,
        ).alias("avg_events_converted"),
        F.round(
            F.sum(F.when(F.col("converted") == 0, F.col("ev")).otherwise(0))
            * 1.0
            / F.nullif(n - conv, F.lit(0)),
            6,
        ).alias("avg_events_organic"),
    )


@query(
    "q108_source_dup_ratio",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents
               WHERE trim(text) <> ''),
    ch AS (SELECT doc_id, source,
                  unnest(list_transform(generate_series(0, CAST(ceil(len(toks)/8.0) AS INT)-1),
                         c -> array_to_string(toks[c*8+1 : c*8+8], ' '))) AS chunk FROM t),
    cnt AS (SELECT chunk, count(*) AS c FROM ch GROUP BY chunk)
    SELECT ch.source, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           round(sum(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS dup_ratio
    FROM ch JOIN cnt USING (chunk) GROUP BY ch.source
    """,
)
def q108_source_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE duplication pressure: the q78 chunk census aggregated
    to the source level — the ranking a curation team uses to decide
    which feeds get the aggressive dedup treatment. Same exchange-free
    chunk assembly; corpus-wide counts join back on the chunk key."""
    d = _t(spark, sf_dir, "documents")
    return dedup.chunk_dedup_stats(d, group_col="source")


@query(
    "q109_embedding_health",
    oracle="""
    WITH n AS (
      SELECT label, vec_id, len(embedding) AS dim,
             round(sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS nrm
      FROM embeddings)
    SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(min(dim) AS BIGINT) AS min_dim, CAST(max(dim) AS BIGINT) AS max_dim,
           round(CAST(sum(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_norm
    FROM n GROUP BY label
    """,
)
def q109_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table health per label: vector counts, zero-norm
    vectors (dead rows an ANN index must not ingest), dimension
    consistency, and mean norm (catches an un-normalized drop before it
    poisons cosine math). Norms are codegen higher-order functions;
    rounded-then-DECIMAL norm sums keep the means engine-exact."""
    emb = _t(spark, sf_dir, "embeddings")
    nrm = F.round(similarity.norm(F.col("embedding")), 6)
    n = emb.select(
        "label",
        F.size("embedding").alias("dim").cast("long").alias("dim"),
        nrm.alias("nrm"),
    )
    return n.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum((F.col("nrm") == 0).cast("long")).alias("n_zero"),
        F.min("dim").alias("min_dim"),
        F.max("dim").alias("max_dim"),
        F.round(
            F.sum(F.col("nrm").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("avg_norm"),
    )

# ---------------------------------------------------------------------------
# Round-3 (cont.): corpus heavy-hitters, RFM, autocorrelation, seasonality,
# discount-band OLAP, bigram PMI collocations
# ---------------------------------------------------------------------------


@query(
    "q110_token_topk",
    oracle=r"""
    WITH t AS (
      SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents WHERE trim(text) <> ''),
    c AS (SELECT lang, tok, count(*) AS n FROM t GROUP BY 1, 2),
    r AS (SELECT lang, tok, n,
                 row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok ASC) AS rank
          FROM c)
    SELECT lang, CAST(rank AS BIGINT) AS rank, tok, CAST(n AS BIGINT) AS n
    FROM r WHERE rank <= 5
    """,
)
def q110_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters: top-5 most frequent tokens per language — the
    vocabulary skew report a tokenizer/mixture design starts from.

    Scale notes: explode + map-side-combined groupBy(lang, tok) is the
    only O(rows) shuffle; the top-k window then runs over DISTINCT
    (lang, tok) counts only (vocabulary-sized, orders of magnitude
    smaller than the corpus), partitioned by lang so no global sort.
    Ties pinned by token ASC in both engines."""
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    tok = d.select("lang", F.explode(text.tokens(F.col("text"))).alias("tok"))
    cnt = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    return (
        cnt.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("lang", "rank", "tok", "n")
    )


@query(
    "q111_rfm_segments",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), (SELECT max(o_orderdate) FROM orders)) AS rec_days,
             count(*) AS freq,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS mon
      FROM orders GROUP BY o_custkey),
    th AS (
      SELECT quantile_cont(rec_days, [0.25, 0.5, 0.75]) AS rq,
             quantile_cont(freq, [0.25, 0.5, 0.75]) AS fq,
             quantile_cont(mon, [0.25, 0.5, 0.75]) AS mq
      FROM per),
    seg AS (
      SELECT (1 + CAST(rec_days > rq[1] AS INT) + CAST(rec_days > rq[2] AS INT)
                + CAST(rec_days > rq[3] AS INT)) * 100
           + (4 - CAST(freq > fq[1] AS INT) - CAST(freq > fq[2] AS INT)
                - CAST(freq > fq[3] AS INT)) * 10
           + (4 - CAST(mon > mq[1] AS INT) - CAST(mon > mq[2] AS INT)
                - CAST(mon > mq[3] AS INT)) AS segment,
             mon
      FROM per CROSS JOIN th)
    SELECT CAST(segment AS BIGINT) AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(round(sum(CAST(mon AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_monetary
    FROM seg GROUP BY segment
    """,
)
def q111_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation with
    VALUE-BASED quartiles: thresholds are the exact interpolated 25/50/75
    percentiles of each metric, and a customer's quartile is how many
    thresholds its value exceeds (recency: lower is better -> quartile 1;
    freq/monetary: higher is better -> quartile 1).

    Scale notes: deliberately NOT NTILE — rank-based NTILE needs a global
    single-partition sort, a scale-killer at 100x. Here the per-customer
    rollup is one shuffle; the 9 thresholds are a 1-row aggregate
    broadcast back (crossJoin of a 1-row frame), so segment assignment is
    pure codegen. Boundary compares are FP-stable across engines even
    though Spark computes (1-g)*a + g*b and DuckDB a + (b-a)*g (ulp-
    different when a != b): each threshold then lies strictly BETWEEN
    its two interpolation endpoints in both engines, and every data
    value is <= a or >= b by rank, so no value can sit inside the ulp
    gap; when a == b both formulas yield exactly a."""
    o = _t(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("maxd"))
    per = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last"),
            F.count(F.lit(1)).alias("freq"),
            _dsum2(_dec("o_totalprice")).alias("mon"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            F.datediff("maxd", "last").alias("rec_days"),
            "freq",
            "mon",
        )
        # customer-sized rollup feeds thresholds AND segment assignment:
        # materialize once so orders is scanned once, not per consumer
        .localCheckpoint(eager=True)
    )
    th = per.agg(
        F.expr("percentile(rec_days, array(0.25, 0.5, 0.75))").alias("rq"),
        F.expr("percentile(freq, array(0.25, 0.5, 0.75))").alias("fq"),
        F.expr("percentile(mon, array(0.25, 0.5, 0.75))").alias("mq"),
    )
    j = per.crossJoin(F.broadcast(th))

    def _quart(col, th_col, invert):
        gt = sum(
            (F.col(col) > F.element_at(F.col(th_col), i)).cast("int") for i in (1, 2, 3)
        )
        return (4 - gt) if invert else (1 + gt)

    seg = (
        _quart("rec_days", "rq", invert=False) * 100
        + _quart("freq", "fq", invert=True) * 10
        + _quart("mon", "mq", invert=True)
    )
    return (
        j.select(seg.cast("long").alias("segment"), "mon")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _dsum2(_dec("mon")).alias("total_monetary"),
        )
    )


@query(
    "q112_acf",
    oracle=f"""
    WITH b AS (
      SELECT event_type, {EPOCH_SQL.format(c='ts')} // 60 AS bucket, avg(value) AS v
      FROM events GROUP BY 1, 2),
    l AS (
      SELECT event_type, v,
             lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
             lag(v, 3) OVER w AS l3, lag(v, 4) OVER w AS l4,
             lag(v, 5) OVER w AS l5
      FROM b WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
    lagged AS (
      SELECT event_type, lag, v, lv FROM (
        SELECT event_type, v,
               unnest([1, 2, 3, 4, 5]) AS lag,
               unnest([l1, l2, l3, l4, l5]) AS lv
        FROM l)
      WHERE lv IS NOT NULL)
    SELECT event_type, CAST(lag AS BIGINT) AS lag,
           round(corr(v, lv), 6) AS acf, CAST(count(*) AS BIGINT) AS n_pairs
    FROM lagged GROUP BY 1, 2
    """,
)
def q112_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1-5) of each event type's minutely
    mean-value series — the stationarity/seasonality diagnostic that
    feeds AR-order selection (the PACF path in models.workload uses the
    same primitive).

    Scale notes: one shuffle to the minutely rollup; ONE window sort per
    event_type computes all 5 lags (Spark reuses the partitionBy/orderBy
    sort across the lag columns), then posexplode fans the (lag, pair)
    rows out without touching the raw events again. corr() is a
    single-pass JVM aggregate."""
    e = _t(spark, sf_dir, "events")
    b = (
        e.select("event_type", (_epoch() / F.lit(60)).cast("long").alias("bucket"), "value")
        .groupBy("event_type", "bucket")
        .agg(F.avg("value").alias("v"))
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    lags = b.select(
        "event_type",
        "v",
        F.array(*[F.lag("v", k).over(w) for k in (1, 2, 3, 4, 5)]).alias("lvs"),
    )
    pairs = lags.select(
        "event_type", "v", F.posexplode("lvs").alias("pos", "lv")
    ).filter(F.col("lv").isNotNull())
    return (
        pairs.groupBy("event_type", (F.col("pos") + 1).cast("long").alias("lag"))
        .agg(
            F.round(F.corr("v", "lv"), 6).alias("acf"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )


@query(
    "q113_seasonality",
    oracle=f"""
    WITH e AS (
      SELECT event_type, ({EPOCH_SQL.format(c='ts')} // 3600) % 24 AS hod,
             (({EPOCH_SQL.format(c='ts')} // 86400) + 4) % 7 AS dow, value
      FROM events),
    cell AS (
      SELECT event_type, hod, dow, count(*) AS n, avg(value) AS cell_avg
      FROM e GROUP BY 1, 2, 3),
    base AS (
      SELECT event_type,
             sum(n * cell_avg) / sum(n) AS overall
      FROM cell GROUP BY event_type)
    SELECT cell.event_type, CAST(hod AS BIGINT) AS hod, CAST(dow AS BIGINT) AS dow,
           CAST(n AS BIGINT) AS n, round(cell_avg, 6) AS cell_avg,
           round(cell_avg - overall, 6) AS deviation
    FROM cell JOIN base ON cell.event_type = base.event_type
    """,
)
def q113_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day x day-of-week seasonality profile per event type:
    cell mean and its deviation from the type's overall mean — the
    weekly-seasonality fingerprint behind the reference's sinus workload
    modeling (`analytics/app/workload/models.py` fits exactly this shape).

    Scale notes: hod/dow are integer epoch math (no timezone functions —
    portable and codegen); one groupBy to the 24x7xtypes cells, then the
    per-type overall mean is recovered from the CELL rollup (weighted
    mean, no second scan of raw events) and joined back broadcast-size.
    Overall mean is computed as sum(n*avg)/sum(n) in BOTH engines so the
    FP summation shape matches."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        ((_epoch() / F.lit(3600)).cast("long") % 24).alias("hod"),
        ((((_epoch() / F.lit(86400)).cast("long")) + 4) % 7).alias("dow"),
        "value",
    )
    cell = e.groupBy("event_type", "hod", "dow").agg(
        F.count(F.lit(1)).alias("n"), F.avg("value").alias("cell_avg")
    ).localCheckpoint(eager=True)  # 24x7xtypes rows; feeds base + the join
    base = cell.groupBy("event_type").agg(
        (F.sum(F.col("n") * F.col("cell_avg")) / F.sum("n")).alias("overall")
    )
    return cell.join(F.broadcast(base), "event_type").select(
        "event_type",
        F.col("hod").cast("long").alias("hod"),
        F.col("dow").cast("long").alias("dow"),
        F.col("n").cast("long").alias("n"),
        F.round("cell_avg", 6).alias("cell_avg"),
        F.round(F.col("cell_avg") - F.col("overall"), 6).alias("deviation"),
    )


@query(
    "q114_discount_bands",
    oracle="""
    SELECT CAST(round(l_discount * 100) AS BIGINT) AS band_pct,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS discount_given,
           round(avg(l_quantity), 6) AS avg_qty
    FROM lineitem GROUP BY band_pct
    """,
)
def q114_discount_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-band pricing report: items, net revenue, total discount
    given away, and mean quantity per integer discount percentage band.

    Scale notes: single scan, two-column ReadSchema, map-side-combined
    groupBy on a ~12-value key; money sums go through DECIMAL(18,4) so
    partial-aggregation order cannot move the result."""
    li = _t(spark, sf_dir, "lineitem")
    band = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.groupBy(band.alias("band_pct"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dsum2(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))).alias("revenue"),
            _dsum2(_dec("l_extendedprice") * _dec("l_discount")).alias("discount_given"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        )
    )


@query(
    "q115_bigram_pmi",
    oracle=r"""
    WITH t AS (
      SELECT regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents WHERE trim(text) <> ''),
    uni AS (
      SELECT unnest(toks) AS tok FROM t),
    ucnt AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
    bi AS (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bg
      FROM t WHERE len(toks) >= 2),
    bcnt AS (SELECT bg, count(*) AS c_ab FROM bi GROUP BY bg),
    tot AS (SELECT (SELECT count(*) FROM uni) AS n_uni,
                   (SELECT count(*) FROM bi) AS n_bi),
    pmi AS (
      SELECT bg, c_ab,
             round(ln(c_ab) + ln(n_uni) + ln(n_uni) - ln(n_bi)
                   - ln(ua.c) - ln(ub.c), 6) AS pmi
      FROM bcnt CROSS JOIN tot
      JOIN ucnt ua ON ua.tok = split_part(bg, ' ', 1)
      JOIN ucnt ub ON ub.tok = split_part(bg, ' ', 2)
      WHERE c_ab >= 20)
    SELECT bg, CAST(c_ab AS BIGINT) AS c_ab, pmi FROM (
      SELECT bg, c_ab, pmi,
             row_number() OVER (ORDER BY pmi DESC, bg ASC) AS rn FROM pmi)
    WHERE rn <= 20
    """,
)
def q115_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by pointwise mutual information
    (min count 20) — the collocation mining step behind phrase-aware
    tokenizer vocab construction (word2vec-style phrase detection,
    Mikolov et al. 2013, public).

    Scale notes: ONE corpus pass — unigrams and bigrams explode
    together as a tagged gram stream (bigrams built by zip_with inside
    the token array: codegen, no self-join) into ONE map-side-combined
    groupBy; the resulting vocabulary-sized count frame is materialized
    once and serves the unigram side, the bigram side, AND the totals
    (sums over the counts), so the corpus is never re-scanned. The PMI
    join is vocabulary-sized, ln() terms are ordered identically in both
    engines so the rounded doubles match bit-for-bit, and the final
    top-20 window runs over the >=20-count survivors only (tiny). At
    100x, the count frames stay vocabulary-bounded; nothing is
    corpus-quadratic."""
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    t = d.select(text.tokens(F.col("text")).alias("toks"))
    n = F.size("toks")
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice("toks", 1, n - 1),
            F.slice("toks", 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tagged = t.select(
        F.explode(
            F.concat(
                F.transform("toks", lambda x: F.struct(F.lit(0).alias("k"), x.alias("g"))),
                F.transform(bigrams, lambda x: F.struct(F.lit(1).alias("k"), x.alias("g"))),
            )
        ).alias("e")
    ).select(F.col("e.k").alias("k"), F.col("e.g").alias("g"))
    cnt = (
        tagged.groupBy("k", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)  # vocabulary-sized; feeds 3 consumers
    )
    ucnt = cnt.filter(F.col("k") == 0).select(F.col("g").alias("tok"), "c")
    bcnt = cnt.filter(F.col("k") == 1).select(F.col("g").alias("bg"), F.col("c").alias("c_ab"))
    tot = cnt.groupBy().agg(
        F.sum(F.when(F.col("k") == 0, F.col("c"))).alias("n_uni"),
        F.sum(F.when(F.col("k") == 1, F.col("c"))).alias("n_bi"),
    )
    ua = ucnt.select(F.col("tok").alias("_ta"), F.col("c").alias("ca"))
    ub = ucnt.select(F.col("tok").alias("_tb"), F.col("c").alias("cb"))
    pmi_col = F.round(
        F.log("c_ab") + F.log("n_uni") + F.log("n_uni") - F.log("n_bi")
        - F.log("ca") - F.log("cb"),
        6,
    )
    pmi = (
        bcnt.filter(F.col("c_ab") >= 20)
        .crossJoin(F.broadcast(tot))
        .withColumn("_ta", F.split("bg", " ").getItem(0))
        .withColumn("_tb", F.split("bg", " ").getItem(1))
        .join(_dim(ua), "_ta")
        .join(_dim(ub), "_tb")
        .select("bg", "c_ab", pmi_col.alias("pmi"))
    )
    w = Window.orderBy(F.desc("pmi"), F.asc("bg"))
    return (
        pmi.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("bg", "c_ab", "pmi")
    )


@query(
    "q116_cardinality_gate",
    oracle=r"""
    WITH t AS (
      SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents WHERE trim(text) <> '')
    SELECT source,
           CAST(count(DISTINCT tok) AS BIGINT) AS n_exact,
           TRUE AS sketch_within_5pct
    FROM t GROUP BY source
    """,
)
def q116_cardinality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token cardinality per source, with an HLL sketch
    acceptance gate: the q35-style boolean-oracle pattern for
    approximate operators — the oracle asserts the exact count and that
    Spark's approx_count_distinct (rsd=0.02) landed within 5% of it.

    Scale notes: this is the sketch the 100 TB path actually uses —
    approx_count_distinct is a fixed-size HLL merged map-side (O(1)
    state per group), while exact COUNT(DISTINCT) expands to an EXPAND +
    two-level aggregate. Running both here certifies the sketch against
    the exact answer on the same scan."""
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    t = d.select("source", F.explode(text.tokens(F.col("text"))).alias("tok"))
    return t.groupBy("source").agg(
        F.count_distinct("tok").alias("n_exact"),
        F.approx_count_distinct("tok", rsd=0.02).alias("_approx"),
    ).select(
        "source",
        "n_exact",
        (
            F.abs(F.col("_approx") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("sketch_within_5pct"),
    )


@query(
    "q117_quantile_gate",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50_exact,
           round(quantile_cont(value, 0.9), 6) AS p90_exact,
           TRUE AS sketch_rank_ok
    FROM events GROUP BY event_type
    """,
)
def q117_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90 of event values per type, plus an acceptance gate
    for the approximate-quantile sketch: the rank of
    approx_percentile's answer must sit within +-2 percentage points of
    the target rank (the sketch's own accuracy contract, checked
    against the data rather than trusted).

    Scale notes: exact `percentile` needs the full value multiset per
    group (fine per-type; the 100 TB path uses the sketch); the gate
    re-ranks the sketch output with one extra aggregate over the same
    scan, both map-side combined. The boolean-oracle pattern makes a
    non-reproducible sketch driver-checkable (precedent: q35/q116)."""
    e = _t(spark, sf_dir, "events").select("event_type", "value")
    agg = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("_p50"),
        F.expr("percentile(value, 0.9)").alias("_p90"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("_a50"),
        F.expr("approx_percentile(value, 0.9, 10000)").alias("_a90"),
    )
    ranked = (
        e.join(F.broadcast(agg), "event_type")
        .groupBy("event_type")
        .agg(
            F.avg((F.col("value") <= F.col("_a50")).cast("double")).alias("_r50"),
            F.avg((F.col("value") <= F.col("_a90")).cast("double")).alias("_r90"),
            F.first("_p50").alias("_p50"),
            F.first("_p90").alias("_p90"),
        )
    )
    return ranked.select(
        "event_type",
        F.round("_p50", 6).alias("p50_exact"),
        F.round("_p90", 6).alias("p90_exact"),
        (
            (F.abs(F.col("_r50") - 0.5) <= 0.02) & (F.abs(F.col("_r90") - 0.9) <= 0.02)
        ).alias("sketch_rank_ok"),
    )


@query(
    "q118_dup_pagerank",
    oracle=f"""
    WITH {_CHUNK_PAIRS_SQL},
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg),
    p0 AS (SELECT src AS node, 1.0 / n AS pr FROM deg CROSS JOIN nn),
    p1 AS (SELECT e.dst AS node, 0.15 / max(nn.n) + 0.85 * sum(p0.pr / deg.d) AS pr
           FROM edges e JOIN p0 ON p0.node = e.src JOIN deg ON deg.src = e.src
           CROSS JOIN nn GROUP BY e.dst),
    p2 AS (SELECT e.dst AS node, 0.15 / max(nn.n) + 0.85 * sum(p1.pr / deg.d) AS pr
           FROM edges e JOIN p1 ON p1.node = e.src JOIN deg ON deg.src = e.src
           CROSS JOIN nn GROUP BY e.dst),
    p3 AS (SELECT e.dst AS node, 0.15 / max(nn.n) + 0.85 * sum(p2.pr / deg.d) AS pr
           FROM edges e JOIN p2 ON p2.node = e.src JOIN deg ON deg.src = e.src
           CROSS JOIN nn GROUP BY e.dst)
    SELECT node AS doc_id, round(pr, 6) AS pagerank FROM p3
    """,
)
def q118_dup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 power iterations, d=0.85) over the undirected
    chunk-sharing near-dup graph: high-rank documents are template/
    boilerplate HUBS — the docs whose removal collapses the most
    duplication (a centrality-guided curation target the plain component
    view cannot rank).

    Scale notes: the classic iterative join-agg pattern — each iteration
    is ONE shuffle join (rank frame x edges on src, rank/deg weighted)
    plus ONE groupBy(dst) sum, exactly the GraphX/Pregel dataflow
    expressed relationally. Iteration count is FIXED (3), so the lineage
    stays bounded without checkpointing; the edge and degree frames are
    reused across iterations (cached by reference in one job). Every
    node in the pair graph has degree >= 1 so no dangling-mass term is
    needed."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.chunk_pairs(d, chunk_words=8, max_docs_per_chunk=100)
    edges = pairs.selectExpr("id_a AS src", "id_b AS dst").unionAll(
        pairs.selectExpr("id_b AS src", "id_a AS dst")
    )
    # The edge list enters every iteration's lineage: checkpoint it once
    # so the chunk-pair generator runs once, not once per iteration (the
    # q53 components pattern).
    edges = edges.localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")).localCheckpoint(eager=True)
    nn = deg.agg(F.count(F.lit(1)).alias("n"))
    pr = deg.crossJoin(F.broadcast(nn)).select(
        F.col("src").alias("node"), (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(3):
        contrib = (
            edges.join(pr, edges.src == pr.node)
            .join(deg, "src")
            .select("dst", (F.col("pr") / F.col("d")).alias("c"))
        )
        pr = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .crossJoin(F.broadcast(nn))
            .select(
                F.col("dst").alias("node"),
                (F.lit(0.15) / F.col("n") + F.lit(0.85) * F.col("s")).alias("pr"),
            )
        )
    return pr.select(F.col("node").alias("doc_id"), F.round("pr", 6).alias("pagerank"))


@query(
    "q119_multires_rollup",
    oracle=f"""
    WITH e AS (
      SELECT event_type, {EPOCH_SQL.format(c='ts')} // 60 AS m,
             {EPOCH_SQL.format(c='ts')} // 3600 AS h,
             {EPOCH_SQL.format(c='ts')} // 86400 AS d, value
      FROM events)
    SELECT event_type,
           CASE WHEN grouping(m) = 0 THEN 'minute'
                WHEN grouping(h) = 0 THEN 'hour' ELSE 'day' END AS resolution,
           coalesce(m, h, d) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(round(sum(CAST(value AS DECIMAL(28,10))), 6) AS DOUBLE) / count(*), 6) AS avg_value
    FROM e
    GROUP BY GROUPING SETS ((event_type, m), (event_type, h), (event_type, d))
    """,
)
def q119_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: minute/hour/day rollups of
    each event type materialized in ONE pass via GROUPING SETS — the
    multi-resolution downsampling a time-series store keeps hot
    (TimescaleDB continuous aggregates; the reference's TimeSeries
    binning A9 generalized to a resolution hierarchy).

    Scale notes: GROUPING SETS plans as a single scan + EXPAND(3) +
    map-side-combined aggregate — one shuffle for all three resolutions
    vs three scans for three separate groupBys; grouping() flags
    recover which set each output row came from. Buckets are integer
    epoch divisions (codegen, TZ-free)."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        (_epoch() / F.lit(60)).cast("long").alias("m"),
        (_epoch() / F.lit(3600)).cast("long").alias("h"),
        (_epoch() / F.lit(86400)).cast("long").alias("d"),
        "value",
    )
    g = e.groupingSets(
        [["event_type", "m"], ["event_type", "h"], ["event_type", "d"]],
        "event_type", "m", "h", "d",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        # decimal sum -> round -> double -> divide: order-independent and
        # engine-exact (q01 money policy) — plain double avg() diverged
        # from the oracle in the 6th decimal on one 32-row group at sf0.1
        F.round(
            F.round(F.sum(F.col("value").cast("decimal(28,10)")), 6).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_value"),
        F.grouping("m").alias("_gm"),
        F.grouping("h").alias("_gh"),
    )
    return g.select(
        "event_type",
        F.when(F.col("_gm") == 0, "minute")
        .when(F.col("_gh") == 0, "hour")
        .otherwise("day")
        .alias("resolution"),
        F.coalesce("m", "h", "d").alias("bucket"),
        "n",
        "avg_value",
    )


@query(
    "q120_cluster_purity",
    oracle=f"""
    WITH RECURSIVE {_CHUNK_PAIRS_SQL},
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(doc, lbl) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, r.lbl FROM edges e JOIN reach r ON r.doc = e.d),
    comp AS (SELECT doc, min(lbl) AS component FROM reach GROUP BY doc),
    j AS (SELECT comp.component, dd.source
          FROM comp JOIN documents dd ON dd.doc_id = comp.doc)
    SELECT component, CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           (count(DISTINCT source) > 1) AS cross_source
    FROM j GROUP BY component
    """,
)
def q120_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source purity of each near-dup cluster: member count, distinct
    feeds, and a cross-source flag — the contamination view that tells a
    curation team whether duplication is WITHIN a feed (crawl artifact,
    fix the feed) or ACROSS feeds (syndication, needs corpus-level
    dedup). Components come from the same iterative min-label
    propagation as q53, checked here against the recursive-CTE fixpoint
    on the chunk-pair graph; the source join is components-sized, the
    rollup per-component."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.chunk_pairs(d, chunk_words=8, max_docs_per_chunk=100)
    comp = dedup.dedup_components(pairs, id_col_a="id_a", id_col_b="id_b")
    j = comp.join(d.select(F.col("doc_id").alias("doc"), "source"), "doc")
    return j.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.count_distinct("source").alias("n_sources"),
        (F.count_distinct("source") > 1).alias("cross_source"),
    )


@query(
    "q121_minhash_calibration",
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
    ),
    scored AS (
      SELECT cand.doc_a, cand.doc_b,
             list_sum(list_transform(generate_series(1, 32),
                   k -> CASE WHEN sa[k] = sb[k] THEN 1 ELSE 0 END)) / 32.0 AS est,
             len(list_intersect(ga.grams, gb.grams)) * 1.0
               / (len(ga.grams) + len(gb.grams)
                  - len(list_intersect(ga.grams, gb.grams))) AS tru
      FROM cand JOIN sh ga ON ga.doc_id = cand.doc_a
                JOIN sh gb ON gb.doc_id = cand.doc_b
    )
    SELECT CAST(floor(est * 10) AS BIGINT) AS est_decile,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(est), 6) AS avg_est,
           round(avg(tru), 6) AS avg_true,
           round(avg(abs(est - tru)), 6) AS mae
    FROM scored GROUP BY est_decile
    """,
)
def q121_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash calibration report: on every LSH candidate pair, the
    32-hash signature ESTIMATE of Jaccard vs the TRUE shingle-set
    Jaccard, binned by estimate decile with mean absolute error — the
    certification that tells you whether the sketch's band/row config is
    honest enough to act on (the q116/q117 gate idea applied pairwise).

    Scale notes: truth is only ever computed on the CANDIDATE set (LSH
    output), never all pairs; the gram arrays join back by doc id
    (broadcast-able), and intersections are array_intersect on
    already-distinct arrays. est = k/32 is exact binary, so the decile
    binning cannot straddle engines. The corpus is tokenized + shingled
    exactly ONCE: the posting pass is materialized and feeds both the
    minhash signatures (via ``postings=``) and the true-Jaccard gram sets
    (collect_set over the same frame) — previously three full
    scan+shingle subtrees (signatures + both gram-join sides)."""
    d = _t(spark, sf_dir, "documents")
    post = dedup.shingle_postings(d, "doc_id", "text", 3, distinct=False).localCheckpoint(
        eager=True
    )
    pairs = dedup.minhash_lsh_pairs(
        d, num_hashes=32, bands=8, shingle_n=3, hash_fn="md5", postings=post
    )
    grams = (
        post.groupBy("doc")
        .agg(F.collect_set("shingle").alias("grams"))
        .localCheckpoint(eager=True)
    )
    ga = grams.select(F.col("doc").alias("doc_a"), F.col("grams").alias("_ga"))
    gb = grams.select(F.col("doc").alias("doc_b"), F.col("grams").alias("_gb"))
    inter = F.size(F.array_intersect("_ga", "_gb"))
    tru = inter * 1.0 / (F.size("_ga") + F.size("_gb") - inter)
    scored = (
        pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select("doc_a", "doc_b", F.col("est_jaccard").alias("est"), tru.alias("tru"))
    )
    return scored.groupBy(
        F.floor(F.col("est") * 10).cast("long").alias("est_decile")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("est"), 6).alias("avg_est"),
        F.round(F.avg("tru"), 6).alias("avg_true"),
        F.round(F.avg(F.abs(F.col("est") - F.col("tru"))), 6).alias("mae"),
    )


@query(
    "q122_source_overlap",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents
               WHERE trim(text) <> ''),
    ch AS (SELECT DISTINCT source, chunk FROM (
       SELECT source,
              unnest(list_transform(generate_series(0, CAST(ceil(len(toks)/8.0) AS INT)-1),
                     c -> array_to_string(toks[c*8+1 : c*8+8], ' '))) AS chunk
       FROM t)),
    per AS (SELECT source, count(*) AS c FROM ch GROUP BY source),
    inter AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS i
              FROM ch a JOIN ch b ON a.chunk = b.chunk AND a.source < b.source
              GROUP BY 1, 2)
    SELECT source_a, source_b, CAST(i AS BIGINT) AS n_shared,
           round(i * 1.0 / (pa.c + pb.c - i), 6) AS jaccard
    FROM inter JOIN per pa ON pa.source = inter.source_a
               JOIN per pb ON pb.source = inter.source_b
    """,
)
def q122_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise content overlap between sources: Jaccard of each feed
    pair's distinct 8-word-chunk sets — the syndication matrix that
    tells a mixture designer which feeds are near-copies of each other
    (and should not be double-weighted).

    Scale notes: ONE distinct (source, chunk) projection feeds both the
    per-source sizes and the intersection self-join; the join key is the
    chunk, so pair expansion per chunk is bounded by the (small) number
    of sources carrying it, never by document count. Only pairs sharing
    at least one chunk appear (identical in both engines)."""
    d = _t(spark, sf_dir, "documents")
    ch = (
        dedup.doc_chunks(d, "doc_id", "text", 8)
        .join(d.select(F.col("doc_id").alias("doc"), "source"), "doc")
        .select("source", "chunk")
        .distinct()
        # three consumers (sizes + both self-join sides): materialize the
        # distinct projection once instead of re-scanning the corpus 3x
        .localCheckpoint(eager=True)
    )
    per = ch.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    a = ch.select(F.col("source").alias("source_a"), "chunk")
    b = ch.select(F.col("source").alias("source_b"), "chunk")
    inter = (
        a.join(b, "chunk")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    pa = per.select(F.col("source").alias("source_a"), F.col("c").alias("ca"))
    pb = per.select(F.col("source").alias("source_b"), F.col("c").alias("cb"))
    return (
        inter.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("i").alias("n_shared"),
            F.round(F.col("i") / (F.col("ca") + F.col("cb") - F.col("i")), 6).alias(
                "jaccard"
            ),
        )
    )


@query(
    "q123_dedup_yield_curve",
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
    pr AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS size_a, b.sz AS size_b,
             count(*) AS inter
      FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ),
    jac AS (
      SELECT doc_a, doc_b, inter * 1.0 / (size_a + size_b - inter) AS j
      FROM pr WHERE inter * 1.0 / (size_a + size_b - inter) >= 0.2
    ),
    sweep AS (
      SELECT th, doc_a, doc_b FROM jac
      CROSS JOIN (SELECT CAST(unnest([0.2, 0.35, 0.5, 0.65, 0.8]) AS DOUBLE) AS th)
      WHERE j >= th
    ),
    docs AS (
      SELECT th, doc FROM (
        SELECT th, doc_a AS doc FROM sweep
        UNION ALL SELECT th, doc_b FROM sweep)
    )
    SELECT th AS threshold,
           CAST((SELECT count(*) FROM sweep s WHERE s.th = d.th) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT doc) AS BIGINT) AS n_docs_touched
    FROM docs d GROUP BY th
    """,
)
def q123_dedup_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup aggressiveness sweep: how many near-dup pairs and touched
    documents survive each Jaccard threshold in {0.2..0.8} — the yield
    curve that picks the operating point BEFORE running the expensive
    full dedup at one threshold.

    Scale notes: the pair set (q13's posting-index output) is computed
    ONCE at the loosest threshold and the five-point sweep is a literal
    explode over it — five thresholds cost one extra narrow stage, not
    five pair-generation runs. Pair and touched-doc counts both roll up
    per threshold with map-side combine."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, n=5, threshold=0.2, max_shingle_freq=1000)
    sweep = (
        pairs.select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.explode(F.array(*[F.lit(t) for t in (0.2, 0.35, 0.5, 0.65, 0.8)])).alias(
                "th"
            ),
        )
        .filter(F.col("jaccard") >= F.col("th"))
    )
    return (
        sweep.select("th", F.explode(F.array("doc_a", "doc_b")).alias("doc"))
        .groupBy("th")
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n_pairs"),
            F.count_distinct("doc").alias("n_docs_touched"),
        )
        .select(F.col("th").alias("threshold"), "n_pairs", "n_docs_touched")
    )


@query(
    "q124_sole_late_supplier",
    oracle="""
    WITH j AS (
      SELECT l.l_orderkey AS ok, l.l_suppkey AS sk,
             (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    per AS (
      SELECT ok,
             count(DISTINCT sk) AS n_supp,
             count(DISTINCT CASE WHEN late THEN sk END) AS n_late,
             max(CASE WHEN late THEN sk END) AS late_supp
      FROM j GROUP BY ok)
    SELECT late_supp AS l_suppkey, CAST(count(*) AS BIGINT) AS numwait
    FROM per WHERE n_supp >= 2 AND n_late = 1
    GROUP BY late_supp
    """,
)
def q124_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's business question on this schema: suppliers who were
    the ONLY late shipper (ship > order date + 60d) on multi-supplier
    orders — the classic blame report.

    Scale notes: the textbook form is lineitem EXISTS lineitem / NOT
    EXISTS lineitem — two extra fact-fact self-joins. Here the whole
    predicate collapses into ONE groupBy(orderkey) (distinct suppliers,
    distinct late suppliers, the argmax late supplier), so the plan is
    one fact-fact equi-join + one aggregation; the oracle uses the same
    rollup, and n_late = 1 makes max() over late suppliers exact."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_suppkey").alias("sk"),
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias(
            "late"
        ),
    )
    per = j.groupBy("ok").agg(
        F.count_distinct("sk").alias("n_supp"),
        F.count_distinct(F.when(F.col("late"), F.col("sk"))).alias("n_late"),
        F.max(F.when(F.col("late"), F.col("sk"))).alias("late_supp"),
    )
    return (
        per.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .groupBy(F.col("late_supp").alias("l_suppkey"))
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "q125_supplier_share",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
      FROM lineitem GROUP BY l_suppkey),
    tot AS (SELECT CAST(round(sum(CAST(revenue AS DECIMAL(18,4))), 2) AS DOUBLE) AS t,
                   CAST(count(*) AS BIGINT) AS ns FROM rev)
    SELECT l_suppkey, revenue, round(revenue / t, 6) AS share
    FROM rev CROSS JOIN tot
    WHERE revenue > 1.05 * t / ns
    """,
)
def q125_supplier_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11's shape: suppliers whose revenue exceeds 1.05x the fair
    per-supplier share of the corpus total — the
    HAVING-against-a-scalar-subquery pattern. Q11's literal fraction must
    shrink as 1/SF to stay non-vacuous (TPC-H specifies 0.0001/SF); the
    fair-share multiple is the scale-free equivalent, so the query
    returns a meaningful head at every scale factor.

    Scale notes: the total arrives as a 1-row broadcast re-aggregated
    FROM the per-supplier rollup (no second lineitem scan), and the
    threshold filter is codegen after the broadcast — the whole query is
    one shuffle on l_suppkey. Both revenue and the total go through
    DECIMAL so the share is bit-stable."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        _dsum2(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))).alias("revenue")
    # the rollup feeds both the output and the total: materialize the
    # supplier-sized frame so lineitem is scanned once, not twice
    ).localCheckpoint(eager=True)
    tot = rev.agg(_dsum2(_dec("revenue")).alias("t"), F.count(F.lit(1)).alias("ns"))
    return (
        rev.crossJoin(F.broadcast(tot))
        .filter(F.col("revenue") > 1.05 * F.col("t") / F.col("ns"))
        .select("l_suppkey", "revenue", F.round(F.col("revenue") / F.col("t"), 6).alias("share"))
    )


@query(
    "q126_set_ops",
    oracle="""
    WITH both_prio AS (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'),
    never_f AS (
      SELECT o_custkey FROM both_prio
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    SELECT CAST(count(*) AS BIGINT) AS n_both,
           CAST((SELECT count(*) FROM never_f) AS BIGINT) AS n_both_never_f
    FROM both_prio
    """,
)
def q126_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational set operators: customers who placed BOTH an urgent and
    a low-priority order (INTERSECT), and of those, the ones with no
    completed order (EXCEPT) — U3's distinct-union sibling coverage.

    Scale notes: Spark plans INTERSECT as a left-semi aggregate join and
    EXCEPT as left-anti — both hash joins on the key, no sort, and the
    priority filters push to the parquet scan. The two counts aggregate
    frames that are customer-sized, not order-sized."""
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    both = urgent.intersect(low).localCheckpoint(eager=True)
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    never_f = both.exceptAll(f.distinct())
    return both.agg(F.count(F.lit(1)).alias("n_both")).crossJoin(
        F.broadcast(never_f.agg(F.count(F.lit(1)).alias("n_both_never_f")))
    )


@query(
    "q127_value_rank_profile",
    oracle=f"""
    WITH e AS (SELECT event_type, event_id, value FROM events),
    r AS (
      SELECT event_type, event_id, value,
             percent_rank() OVER w AS pr,
             cume_dist() OVER w AS cd
      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id))
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(CASE WHEN pr >= 0.99 THEN value END), 6) AS avg_top1pct,
           round(max(CASE WHEN cd <= 0.5 THEN value END), 6) AS median_by_cd
    FROM r GROUP BY event_type
    """,
)
def q127_value_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic rank functions over keyed partitions: percent_rank /
    cume_dist of each event's value within its type, rolled up to the
    top-1% mean and the cume_dist median — SQL-analytics parity for the
    rank family (rank/row_number are exercised elsewhere).

    Scale notes: ONE window sort per event_type computes both rank
    functions (shared partitioning/ordering), then a map-side-combined
    rollup; ranks are exact rationals of row counts so the cross-engine
    comparison is FP-safe. Tie order pinned by (value, event_id)."""
    e = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    r = e.select(
        "event_type",
        "value",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.when(F.col("pr") >= 0.99, F.col("value"))), 6).alias(
            "avg_top1pct"
        ),
        F.round(F.max(F.when(F.col("cd") <= 0.5, F.col("value"))), 6).alias(
            "median_by_cd"
        ),
    )


@query(
    "q128_keyed_ntile",
    oracle=f"""
    WITH e AS (SELECT event_type, event_id, value FROM events),
    q AS (
      SELECT event_type, value,
             ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS quartile
      FROM e)
    SELECT event_type, CAST(quartile AS BIGINT) AS quartile,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 6) AS lo, round(max(value), 6) AS hi
    FROM q GROUP BY event_type, quartile
    """,
)
def q128_keyed_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed NTILE quartiles: each event type's value distribution cut
    into four equal-count buckets with their boundaries — the scalable
    NTILE (partitioned per key, so each sort is per-group; contrast with
    q111, which deliberately avoids the GLOBAL unkeyed NTILE).

    Scale notes: one window sort per event_type, deterministic ties via
    (value, event_id); the rollup shares the window's partitioning."""
    e = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    q = e.select(
        "event_type", "value", F.ntile(4).over(w).cast("long").alias("quartile")
    )
    return q.groupBy("event_type", "quartile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    )


@query(
    "q129_scd2_islands",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, {EPOCH_SQL.format(c='ts')} AS es, event_id
               FROM events),
    m AS (
      SELECT user_id, event_type, es, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
    isl AS (
      SELECT user_id, event_type, es,
             sum(chg) OVER (PARTITION BY user_id ORDER BY es, event_id
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM m),
    runs AS (
      SELECT user_id, island, min(event_type) AS state,
             min(es) AS valid_from, max(es) AS last_seen, count(*) AS n_events
      FROM isl GROUP BY user_id, island)
    SELECT user_id, state, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, island) AS valid_to,
           last_seen, CAST(n_events AS BIGINT) AS n_events
    FROM runs
    """,
)
def q129_scd2_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build (gaps-and-islands): each
    user's consecutive same-event-type runs collapse into validity
    intervals [valid_from, valid_to) with the next run's start as the
    expiry (NULL = current) — the warehouse pattern for turning an event
    stream into queryable history, distinct from q46's TIME-gap
    sessionization (islands break on VALUE change).

    Scale notes: ONE user_id shuffle serves the change-detect lag, the
    island running sum, the per-run rollup, and the expiry lead (all
    same-key window/group operations — Spark reuses the partitioning);
    no self-joins. Ties pinned by (second, event_id) in both engines."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", _epoch().alias("es"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    m = e.withColumn(
        "chg",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0),
    )
    isl = m.withColumn(
        "island", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    runs = isl.groupBy("user_id", "island").agg(
        F.min("event_type").alias("state"),
        F.min("es").alias("valid_from"),
        F.max("es").alias("last_seen"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "island")
    return runs.select(
        "user_id",
        "state",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "last_seen",
        "n_events",
    )


@query(
    "q130_transition_matrix",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, {EPOCH_SQL.format(c='ts')} AS es, event_id
               FROM events),
    nxt AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY es, event_id) AS dst,
             CASE WHEN lead(es) OVER (PARTITION BY user_id ORDER BY es, event_id)
                       - es <= 1800 THEN 1 ELSE 0 END AS in_session
      FROM e),
    t AS (SELECT src, dst, count(*) AS n FROM nxt
          WHERE dst IS NOT NULL AND in_session = 1 GROUP BY src, dst),
    tot AS (SELECT src, sum(n) AS tn FROM t GROUP BY src)
    SELECT t.src, t.dst, CAST(n AS BIGINT) AS n,
           round(n * 1.0 / tn, 6) AS p
    FROM t JOIN tot ON t.src = tot.src
    """,
)
def q130_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    (event_type -> next event_type) step within a 30-minute session
    horizon, the count and conditional probability P(next | current) —
    the behavioral model behind next-action prediction and funnel
    drop-off diagnosis.

    Scale notes: ONE user_id shuffle computes the lead pair per event;
    transition counts are a map-side-combined groupBy on the 25-cell
    (src, dst) key; row-normalization joins the 5-row totals broadcast.
    Ties pinned by (second, event_id)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", _epoch().alias("es"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    nxt = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
        ((F.lead("es").over(w) - F.col("es")) <= 1800).alias("in_session"),
    )
    t = (
        nxt.filter(F.col("dst").isNotNull() & F.col("in_session"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        # 25-cell frame feeding totals AND the normalization join:
        # materialize once so the lead-window subtree runs once
        .localCheckpoint(eager=True)
    )
    tot = t.groupBy("src").agg(F.sum("n").alias("tn"))
    return t.join(F.broadcast(tot), "src").select(
        "src", "dst", "n", F.round(F.col("n") / F.col("tn"), 6).alias("p")
    )


@query(
    "q131_zipf_slope",
    oracle=r"""
    WITH t AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents WHERE trim(text) <> ''),
    c AS (SELECT tok, count(*) AS n FROM t GROUP BY tok),
    r AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rank FROM c)
    SELECT CAST(count(*) AS BIGINT) AS vocab_size,
           round(regr_slope(ln(n), ln(rank)), 6) + 0.0 AS zipf_slope,
           round(regr_r2(ln(n), ln(rank)), 6) + 0.0 AS r2
    FROM r
    """,
)
def q131_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the token frequency distribution: OLS slope of
    ln(frequency) on ln(rank) with R² — natural text sits near -1;
    templated/synthetic corpora deviate sharply, making this a one-row
    corpus-authenticity fingerprint (Zipf 1949, public).

    Scale notes: token counts are the only corpus-scale shuffle
    (map-side combined); the rank window and the regression run over the
    VOCABULARY (orders of magnitude smaller). regr_slope/regr_r2 are
    single-pass JVM aggregates with identical semantics in DuckDB; ln()
    of identical integer counts/ranks matches bit-for-bit, and the
    1-row result rounds at 6dp."""
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    c = (
        d.select(F.explode(text.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    r = c.select("n", F.row_number().over(w).alias("rank"))
    return r.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        (F.round(F.expr("regr_slope(ln(n), ln(rank))"), 6) + F.lit(0.0)).alias(
            "zipf_slope"
        ),
        (F.round(F.expr("regr_r2(ln(n), ln(rank))"), 6) + F.lit(0.0)).alias("r2"),
    )


def _zorder_oracle() -> str:
    """DuckDB oracle for q132: the IDENTICAL literal Morton interleave
    (shared generator :func:`layout.morton_expr`, div spelled ``//``) over
    the same equal-width quantization, bucketed into 16 z-ranges."""
    from phoebe_spark.operators.layout import morton_expr, quantize_expr

    xq = quantize_expr("l_partkey", "xmin", "xmax", 256, "//")
    yq = quantize_expr("l_suppkey", "ymin", "ymax", 256, "//")
    z = morton_expr("xq", "yq", 8, "//")
    return f"""
    WITH mm AS (SELECT min(l_partkey) AS xmin, max(l_partkey) AS xmax,
                       min(l_suppkey) AS ymin, max(l_suppkey) AS ymax
                FROM lineitem),
    q AS (SELECT l_partkey, l_suppkey, {xq} AS xq, {yq} AS yq
          FROM lineitem, mm),
    z AS (SELECT l_partkey, l_suppkey, {z} AS zv FROM q)
    SELECT CAST(zv // 4096 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(l_partkey) AS BIGINT) AS part_lo,
           CAST(max(l_partkey) AS BIGINT) AS part_hi,
           CAST(min(l_suppkey) AS BIGINT) AS supp_lo,
           CAST(max(l_suppkey) AS BIGINT) AS supp_hi
    FROM z GROUP BY bucket
    """


@query("q132_zorder_locality", oracle=_zorder_oracle())
def q132_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout profile: interleave the bits of the
    quantized ``(l_partkey, l_suppkey)`` pair into one sort key, then
    report per z-range row counts and BOTH columns' min/max spans — the
    evidence that sorting by the z-value keeps every contiguous range
    narrow in both dimensions at once, which is what makes parquet
    row-group min/max stats prune two-column predicates after a
    ``ZORDER``-style rewrite (``repartitionByRange`` + ``sortWithinPartitions``
    on the z-value).

    Scale notes: one tiny min/max aggregate broadcast back as four
    scalars; the interleave is literal div/mod integer arithmetic —
    whole-stage codegen, no shuffle besides the 16-group rollup. The
    identical literal expression runs in DuckDB (generator shared,
    savgol-oracle pattern)."""
    from phoebe_spark.operators.layout import morton_expr, quantize_expr

    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    mm = li.agg(
        F.min("l_partkey").alias("xmin"),
        F.max("l_partkey").alias("xmax"),
        F.min("l_suppkey").alias("ymin"),
        F.max("l_suppkey").alias("ymax"),
    )
    q = li.crossJoin(F.broadcast(mm)).selectExpr(
        "l_partkey",
        "l_suppkey",
        f"{quantize_expr('l_partkey', 'xmin', 'xmax', 256, 'div')} AS xq",
        f"{quantize_expr('l_suppkey', 'ymin', 'ymax', 256, 'div')} AS yq",
    )
    z = q.selectExpr(
        "l_partkey", "l_suppkey", f"{morton_expr('xq', 'yq', 8, 'div')} AS zv"
    )
    return z.groupBy((F.expr("zv div 4096")).cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_partkey").cast("long").alias("part_lo"),
        F.max("l_partkey").cast("long").alias("part_hi"),
        F.min("l_suppkey").cast("long").alias("supp_lo"),
        F.max("l_suppkey").cast("long").alias("supp_hi"),
    )


@query(
    "q133_top_unshipped",
    oracle="""
    SELECT l.l_orderkey,
           CAST(date_diff('day', DATE '1970-01-01', o.o_orderdate) AS BIGINT) AS order_day,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey ASC
    LIMIT 10
    """,
)
def q133_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping-priority top-10): revenue still unshipped
    at the cutoff for one market segment — an ordered-limit over a
    fact-fact join that Catalyst executes as a TakeOrderedAndProject
    (per-partition top-10 heaps, only 10 rows per task reach the driver
    stage — no global sort materialization at any scale).

    Scale notes: both date filters push into the parquet scans; the
    segment filter shrinks customer before it broadcasts; the single real
    shuffle is lineitem join orders on orderkey. Ties are pinned by
    (revenue DESC, orderkey ASC) so LIMIT 10 is deterministic."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(_dim(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_dsum2(rev).alias("revenue"))
        .select(
            "l_orderkey",
            F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("order_day"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q134_promo_share",
    oracle="""
    SELECT
      CAST(round(sum(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))
                 ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS promo_revenue,
      CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS total_revenue,
      round(100.0 * CAST(round(sum(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))
                 ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE)
               / CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE), 6) AS promo_share_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-03-01'
    """,
)
def q134_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): the revenue share of PROMO-type
    parts in a two-month ship window — conditional aggregation over a
    broadcast dimension join, the canonical "rate inside one scan"
    pattern (no second scan, no self-join for the denominator).

    Scale notes: the ship-date range pushes into the lineitem scan; part
    broadcasts (only p_partkey + p_type survive pruning); both sums ride
    one map-side-combined aggregate. Money stays DECIMAL until the final
    rounded doubles, so partial-aggregation order can't wiggle cents."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-03-01").cast("timestamp"))
    )
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    zero = F.lit(0).cast("decimal(18,4)")
    agg = li.join(_dim(p), li.l_partkey == p.p_partkey).agg(
        F.round(F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)), 2)
        .cast("double")
        .alias("promo_revenue"),
        F.round(F.sum(rev), 2).cast("double").alias("total_revenue"),
    )
    return agg.select(
        "promo_revenue",
        "total_revenue",
        F.round(100.0 * F.col("promo_revenue") / F.col("total_revenue"), 6).alias(
            "promo_share_pct"
        ),
    )


@query(
    "q135_disjunctive_pred",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_items,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 10 AND 35)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 20 AND 50)
    """,
)
def q135_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates): an
    OR-of-ANDs predicate that mixes columns from BOTH join sides — the
    classic case where a naive engine evaluates the whole disjunction
    post-join. Catalyst extracts the common join key AND pushes the
    per-side residuals (brand/size prefilter into the part scan via
    constraint propagation of the OR's part-only projection is not free,
    so the broadcast stays small by column pruning instead).

    Scale notes: part broadcasts (3 columns after pruning); the
    disjunction runs as one codegen stage on the joined row; one
    map-side-combined global aggregate returns a single row."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#7") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 35))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 50))
    )
    return (
        li.join(_dim(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dsum2(rev).alias("revenue"),
        )
    )


@query(
    "q136_ngram_diversity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, {_TOKS_SQL} AS t FROM documents WHERE trim(text) <> ''
    ),
    uni AS (SELECT lang, unnest(t) AS g FROM toks),
    bi AS (
      SELECT lang, unnest(list_transform(generate_series(1, len(t) - 1),
                                         i -> t[i] || ' ' || t[i+1])) AS g
      FROM toks WHERE len(t) >= 2
    )
    SELECT u.lang,
           u.n_tokens, u.distinct_tokens, round(u.ttr, 6) AS ttr,
           b.n_bigrams, b.distinct_bigrams, round(b.bttr, 6) AS bigram_ttr
    FROM (SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(count(DISTINCT g) AS BIGINT) AS distinct_tokens,
                 count(DISTINCT g) * 1.0 / count(*) AS ttr
          FROM uni GROUP BY lang) u
    JOIN (SELECT lang, CAST(count(*) AS BIGINT) AS n_bigrams,
                 CAST(count(DISTINCT g) AS BIGINT) AS distinct_bigrams,
                 count(DISTINCT g) * 1.0 / count(*) AS bttr
          FROM bi GROUP BY lang) b USING (lang)
    """,
)
def q136_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity fingerprint per language: type-token ratio at the
    unigram and bigram level — templated or over-deduplicated corpora
    collapse to low TTR, synthetic word soup approaches 1.0; pipelines
    track both to catch generation/curation regressions.

    Scale notes: one tagged explode per n-gram order feeding
    ``count(DISTINCT)`` aggregates that Spark executes as two-stage
    partial-distinct (expand + map-side dedup on (lang, gram)) — the
    corpus shuffles distinct grams only, never raw token streams; bigrams
    come from a zip-with-next array transform inside the scan, no window,
    no self-join."""
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    t = d.select("lang", text.tokens(F.col("text")).alias("t"))
    uni = t.select("lang", F.explode("t").alias("g"))
    bi = t.filter(F.size("t") >= 2).select(
        "lang",
        F.explode(
            F.expr("transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))")
        ).alias("g"),
    )
    u = uni.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("g").alias("distinct_tokens"),
    )
    b = bi.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.countDistinct("g").alias("distinct_bigrams"),
    )
    return (
        u.join(b, "lang")
        .select(
            "lang",
            "n_tokens",
            "distinct_tokens",
            F.round(F.col("distinct_tokens") / F.col("n_tokens"), 6).alias("ttr"),
            "n_bigrams",
            "distinct_bigrams",
            F.round(F.col("distinct_bigrams") / F.col("n_bigrams"), 6).alias("bigram_ttr"),
        )
    )


@query(
    "q137_importance_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang = 'en' AS is_t, unnest({_TOKS_SQL}) AS term
      FROM documents WHERE trim(text) <> ''
    ),
    counts AS (
      SELECT term, count(*) AS n_raw,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS n_tgt
      FROM toks GROUP BY term
    ),
    tot AS (SELECT sum(n_raw) AS tr, sum(n_tgt) AS tt, count(*) AS v FROM counts),
    lm AS (
      SELECT term, ln((n_tgt + 1.0) / (tt + 1.0 * v))
                   - ln((n_raw + 1.0) / (tr + 1.0 * v)) AS lr
      FROM counts, tot
    )
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(sum(lr), 6) AS log_importance
    FROM toks t JOIN lm USING (term)
    GROUP BY t.doc_id
    """,
)
def q137_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (:func:`curation.importance_weights`,
    Xie et al. 2023): per-doc ``sum log(P_en(t)/P_corpus(t))`` under two
    add-1-smoothed unigram LMs sharing the corpus vocabulary — the
    hashed-n-gram importance-resampling signal that steers a 100 TB raw
    crawl toward a target domain without training a classifier.

    Scale notes: one explode feeds both LM fits (corpus + conditional
    target counts in the SAME map-side-combined groupBy(term)); totals and
    |V| broadcast from a 1-row aggregate of the vocabulary frame; scoring
    is explode -> term equi-join -> per-doc sum. Log-ratio sums round at
    6dp, far above double reassociation error for ~1e2-token docs."""
    from phoebe_spark.operators import curation

    d = _t(spark, sf_dir, "documents")
    out = curation.importance_weights(d, target=F.col("lang") == "en")
    return out.select(
        "doc_id", "n_tokens", F.round("log_importance", 6).alias("log_importance")
    )


@query(
    "q138_prefix_ssjoin",
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
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS size_a, b.sz AS size_b,
             count(*) AS inter
      FROM posting a JOIN posting b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           round(inter * 1.0 / (size_a + size_b - inter), 6) AS jaccard,
           round(inter * 1.0 / least(size_a, size_b), 6) AS containment
    FROM pairs WHERE inter * 1.0 / (size_a + size_b - inter) >= 0.5
    """,
)
def q138_prefix_ssjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering
    (:func:`dedup.prefix_filter_jaccard_pairs`, PPJoin family — Chaudhuri
    ICDE'06 / Xiao WWW'08): all pairs with 5-gram Jaccard >= 0.5, zero
    recall loss, plus the asymmetric CONTAINMENT score
    (``inter/min(sz)``) that flags near-subset duplication symmetric
    Jaccard under-rates. Candidate generation touches only each doc's
    rarest-shingle prefix, so hot-stopword posting groups never pair up —
    the exactness alternative to q24's probabilistic LSH and q13's
    df-capped lower bound. The oracle is the brute-force inverted-index
    join over ALL postings: matching it certifies the prefix filter
    dropped nothing.

    Scale notes: prefixes shrink pair generation by design (rarity-sorted
    df ordering); every shuffle is bounded (doc- or shingle-keyed); the
    full-set verify joins only the candidate pairs. No cap, no
    cross-join, no Python."""
    d = _t(spark, sf_dir, "documents")
    out = dedup.prefix_filter_jaccard_pairs(d, n=5, threshold=0.5)
    return out.select(
        "doc_a",
        "doc_b",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("containment", 6).alias("containment"),
    )


@query(
    "q139_jsonl_roundtrip",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(length(text)) AS BIGINT) AS text_chars
    FROM documents GROUP BY lang
    """,
)
def q139_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL interchange round-trip (:mod:`phoebe_spark.sources.jsonl`):
    export the corpus as newline-delimited JSON, re-ingest it with an
    explicit schema (no inference pass), and aggregate per language —
    matching the oracle computed on the ORIGINAL parquet certifies the
    round-trip is lossless down to every text byte (sum of text lengths
    rides the check).

    Scale notes: JSONL part-files split on line boundaries (full read
    parallelism at any corpus size); the explicit schema keeps re-ingest
    one pass with field pruning inside the JSON parser; writes stream
    partition-parallel, nothing through the driver."""
    import os

    from phoebe_spark.sources import jsonl

    d = _t(spark, sf_dir, "documents")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/phoebe_jsonl_{tag}"
    jsonl.write_jsonl(d, path)
    back = jsonl.read_jsonl(
        spark,
        path,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(F.length("text")).alias("text_chars"),
    )


@query(
    "q140_bpe_pair_stats",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKS_SQL}) AS w FROM documents WHERE trim(text) <> ''
    ),
    pairs AS (
      SELECT w[i] || w[i+1] AS pair
      FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
            FROM toks WHERE len(w) >= 2)
    ),
    counted AS (SELECT pair, count(*) AS n FROM pairs GROUP BY pair),
    tot AS (SELECT sum(n) AS t FROM counted)
    SELECT pair, CAST(n AS BIGINT) AS n, round(n * 1.0 / t, 6) AS share
    FROM counted, tot
    ORDER BY n DESC, pair ASC LIMIT 20
    """,
)
def q140_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of BPE tokenizer training at corpus scale (Sennrich et
    al. 2016, arXiv 1508.07909 — public): the frequency of every adjacent
    symbol pair inside words, top-20 with corpus share — the statistic a
    byte-pair-encoding trainer recomputes per merge; at 100 TB this
    aggregation IS the tokenizer-training bottleneck, so it must run as a
    distributed map-side-combined count, never a driver-side vocabulary
    walk.

    Scale notes: two nested codegen explodes (words, then in-word
    character pairs via ``transform(sequence)`` + ``substring``) feed one
    groupBy(pair) whose key space is bounded (alphabet²); the top-20 is a
    TakeOrderedAndProject over the tiny pair frame; the corpus-total
    share denominator broadcasts from a 1-row aggregate. Ties pinned by
    (n DESC, pair ASC)."""
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    words = d.select(F.explode(text.tokens(F.col("text"))).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    tot = counted.agg(F.sum("n").alias("t"))
    return (
        counted.crossJoin(F.broadcast(tot))
        .select("pair", "n", F.round(F.col("n") / F.col("t"), 6).alias("share"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


@query(
    "q141_cms_gate",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKS_SQL}) AS tok FROM documents WHERE trim(text) <> ''
    ),
    exact AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
    probes AS (SELECT tok, n FROM exact ORDER BY n DESC, tok ASC LIMIT 20),
    seeded AS (
      SELECT t.tok, s.s,
             {_MD5H_SQL.format(x="t.tok || '|' || s.s")} % 256 AS bucket
      FROM toks t CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) s
    ),
    counters AS (SELECT s, bucket, count(*) AS c FROM seeded GROUP BY s, bucket),
    est AS (
      SELECT p.tok, min(c.c) AS cms_est
      FROM probes p
      CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) s
      JOIN counters c ON c.s = s.s
                     AND c.bucket = {_MD5H_SQL.format(x="p.tok || '|' || s.s")} % 256
      GROUP BY p.tok
    )
    SELECT p.tok, CAST(p.n AS BIGINT) AS exact_n,
           CAST(e.cms_est AS BIGINT) AS cms_est,
           CAST(e.cms_est - p.n AS BIGINT) AS overcount
    FROM probes p JOIN est e USING (tok)
    """,
)
def q141_cms_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch certification (Cormode & Muthukrishnan 2005 —
    public): build a depth-4 x width-256 CMS over the corpus token stream
    with the oracle-portable md5 hash family, then report, for the top-20
    true heavy hitters, the exact count beside the sketch estimate and
    its overcount — completing the sketch-gate family (q116 HLL
    cardinality, q117 quantile sketch) with the counting sketch. The CMS
    never undercounts (est = min over rows of a counter that includes
    every occurrence), and the overcount column is the measured collision
    mass the width bounds in expectation by N/256 per row.

    Scale notes: the sketch build is a groupBy on (seed, bucket) — 1,024
    cells of map-side-combined state regardless of vocabulary size (the
    whole point: per-key state O(d*w), not O(|domain|)); probes broadcast
    into the cell frame. The cell counters are built from the
    VOCABULARY-sized exact-count frame (sum of per-token counts per
    bucket == count of raw occurrences), not by re-exploding the token
    stream 4x — one corpus scan feeds everything, and nothing
    token-stream-sized is ever materialized or reshuffled."""
    from phoebe_spark.operators.dedup import md5_hash64

    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    toks = d.select(F.explode(text.tokens(F.col("text"))).alias("tok"))
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    probes = exact.orderBy(F.desc("n"), F.asc("tok")).limit(20)
    seeds = F.explode(F.array(*[F.lit(s) for s in range(4)])).alias("s")
    bucket = F.pmod(
        md5_hash64(F.concat(F.col("tok"), F.lit("|"), F.col("s").cast("string"))),
        F.lit(256),
    )
    counters = (
        exact.select("tok", "n", seeds)
        .select("s", bucket.alias("bucket"), "n")
        .groupBy("s", "bucket")
        .agg(F.sum("n").alias("c"))
    )
    est = (
        probes.select("tok", "n", seeds)
        .select("tok", "n", "s", bucket.alias("bucket"))
        .join(counters, ["s", "bucket"])
        .groupBy("tok", "n")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        "tok",
        F.col("n").alias("exact_n"),
        "cms_est",
        (F.col("cms_est") - F.col("n")).alias("overcount"),
    )


@query(
    "q142_partition_pruning",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value,
           CAST(min(epoch_ns(ts) // 1000000000) AS BIGINT) AS first_sec,
           CAST(max(epoch_ns(ts) // 1000000000) AS BIGINT) AS last_sec
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
)
def q142_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned table layout + directory-pruned read
    (:mod:`phoebe_spark.sources.layout`): persist the event fact table
    partitioned by ``event_type``, then answer a two-type slice question
    from the partitioned copy — matching the oracle computed on the
    ORIGINAL parquet certifies the partitioned round-trip (counts,
    distinct users, money sums, and epoch-second extrema all survive).
    The reference keeps one SQLite table per experiment id for the same
    access pattern (dos-group/phoebe analytics/app/common/db.py:21-38 —
    partition-per-key, single-node edition).

    Scale notes: the IN-filter lands in the scan's ``PartitionFilters``
    (plan-asserted in tests/test_plans.py), so non-matching partition
    DIRECTORIES are skipped at planning time — at 100 TB that's the
    difference between scanning 2/5 of the table and all of it. The write
    repartitions on the partition column first (one writer per value, no
    tasks x partitions small-file explosion). Aggregation is a single
    map-side-combined groupBy on the partition key."""
    import os

    from phoebe_spark.sources import layout

    ev = _t(spark, sf_dir, "events")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/phoebe_part_{tag}"
    layout.write_partitioned(ev, path, ["event_type"])
    back = layout.read_partitioned(spark, path)
    return (
        back.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            _dsum2(_dec("value")).alias("total_value"),
            F.min(_epoch("ts")).alias("first_sec"),
            F.max(_epoch("ts")).alias("last_sec"),
        )
    )


@query(
    "q143_orc_roundtrip",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-01-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q143_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange round-trip (:mod:`phoebe_spark.sources.orc`):
    export lineitem as ORC — Spark's second built-in columnar format,
    the one Hive/Trino warehouses commonly standardize on — re-read it
    (schema from the ORC footer, self-describing, no inference scan), and
    aggregate a shipdate slice per (returnflag, linestatus). Matching the
    oracle computed on the ORIGINAL parquet certifies the ORC writer/
    reader preserve decimals, dates, and row multiplicity exactly.

    Scale notes: ORC splits on stripe boundaries (full read parallelism
    at any size); the shipdate predicate pushes into ORC stripe min/max
    indexes (``spark.sql.orc.filterPushdown``, default on) and column
    projection reads only the five referenced streams; decoding stays in
    the JVM vectorized reader. One map-side-combined groupBy after the
    pruned scan."""
    import os

    from phoebe_spark.sources import orc as orc_src

    li = _t(spark, sf_dir, "lineitem")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/phoebe_orc_{tag}"
    orc_src.write_orc(li, path)
    back = orc_src.read_orc(spark, path)
    return (
        back.filter(F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dsum2(_dec("l_quantity")).alias("sum_qty"),
            _dsum2(_dec("l_extendedprice")).alias("sum_price"),
        )
    )


@query(
    "q144_skyline_users",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(round(sum(CAST(value AS DECIMAL(18,4))) * 100, 0) AS BIGINT) AS cents
      FROM events GROUP BY user_id
    )
    SELECT a.user_id, a.n_events, a.cents
    FROM u a
    WHERE NOT EXISTS (
      SELECT 1 FROM u b
      WHERE b.n_events >= a.n_events AND b.cents >= a.cents
        AND (b.n_events > a.n_events OR b.cents > a.cents)
    )
    """,
)
def q144_skyline_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier preference query
    (:func:`skyline.skyline_2d`, Borzsony ICDE'01): the users no other
    user beats on BOTH event count and total spend — the multi-objective
    selection primitive (the reference's profiling loop filters its
    scaleOut-vs-throughput profiles to the same usable frontier before
    fitting, analytics/app/latency/preprocessing.py:21-38). The oracle is
    the textbook quadratic NOT EXISTS self-join; matching it certifies
    the two-phase distributed plan is exact, including duplicate-point
    ties (twins never dominate each other, so both survive).

    Scale notes: the NOT EXISTS form is O(n²) comparisons and
    un-pushdownable — the operator instead hash-buckets users (one
    shuffle), drops locally dominated points with an O(n log n)
    sort-based value-range-window dominance test (no self-join), and runs
    the same test once more over the tiny survivor set. Spend is summed
    in DECIMAL cents so the frontier compares exact integers, never
    float-reordered doubles."""
    from phoebe_spark.operators import skyline

    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(_dec("value")) * 100, 0).cast("long").alias("cents"),
    )
    return skyline.skyline_2d(u, x="n_events", y="cents", id_cols=["user_id"])


def _bpe_oracle(rounds: int) -> str:
    """Generated CTE chain mirroring ``text.bpe_train``: round r counts
    adjacent symbol pairs, picks the (count DESC, left ASC, right ASC)
    argmax, and applies it with the same sentinel-string ``replace``."""
    # symbols are ENCLOSED chr(31)+sym+chr(30) so the merge pattern carries
    # both symbol boundaries (a prefix-only sentinel false-matches when the
    # next symbol merely starts with r_sym) — mirrors text.BPE_SEP/BPE_END
    cte = f"""
    WITH toks AS (
      SELECT unnest({_TOKS_SQL}) AS t FROM documents WHERE trim(text) <> ''
    ),
    words0 AS (
      SELECT array_to_string(list_transform(generate_series(1, length(t)),
                                            i -> chr(31) || t[i] || chr(30)), '') AS w
      FROM toks WHERE length(t) >= 1
    )"""
    for r in range(1, rounds + 1):
        p = r - 1
        cte += f""",
    sy{r} AS (SELECT list_transform(
                       list_filter(string_split(w, chr(30)), x -> x <> ''),
                       x -> replace(x, chr(31), '')) AS s
              FROM words{p}),
    pr{r} AS (SELECT s[i] AS l_sym, s[i+1] AS r_sym
              FROM (SELECT s, unnest(generate_series(1, len(s) - 1)) AS i
                    FROM sy{r} WHERE len(s) >= 2)),
    best{r} AS (SELECT {r} AS rnd, l_sym, r_sym, count(*) AS n FROM pr{r}
                GROUP BY l_sym, r_sym ORDER BY n DESC, l_sym ASC, r_sym ASC
                LIMIT 1),
    words{r} AS (SELECT replace(w, chr(31) || b.l_sym || chr(30) || chr(31) || b.r_sym || chr(30),
                                chr(31) || b.l_sym || b.r_sym || chr(30)) AS w
                 FROM words{p}, best{r} b)"""
    union = " UNION ALL ".join(f"SELECT * FROM best{r}" for r in range(1, rounds + 1))
    return (
        cte
        + f"""
    SELECT rnd, l_sym, r_sym, l_sym || r_sym AS merged, CAST(n AS BIGINT) AS n
    FROM ({union}) ORDER BY rnd"""
    )


@query("q145_bpe_train", oracle=_bpe_oracle(5))
def q145_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer training, 5 merge rounds
    (:func:`text.bpe_train`, Sennrich et al. 2016 arXiv 1508.07909):
    learn the first 5 merges over the whole corpus and return the merge
    table — round, pair, merged symbol, and the pair's corpus frequency
    at selection time. q140 is one round of the pair statistic; this is
    the full training loop, the iterative-algorithm class (q118 PageRank,
    q53 components) applied to tokenizer learning. The oracle replays all
    5 rounds as a generated CTE chain — digit-for-digit agreement
    certifies pair counting, deterministic argmax tie-breaks, AND the
    greedy leftmost merge application each round.

    Scale notes: each round is the q140 map-side-combined pair count
    (bounded key space) plus a 1-row argmax fetch (a model parameter, not
    a data collect) and a pure-codegen string ``replace`` merge — the
    sentinel-prefixed symbol encoding makes greedy BPE application
    exactly literal replace, no per-row Python, no array rebuilds; words
    re-checkpoint per round so lineage stays O(1) (q53/q118 discipline)."""
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    words = d.select(F.explode(text.tokens(F.col("text"))).alias("w")).filter(
        F.length("w") >= 1
    )
    merges = text.bpe_train(words, rounds=5, word_col="w")
    return spark.createDataFrame(
        merges, "rnd INT, l_sym STRING, r_sym STRING, merged STRING, n BIGINT"
    ).orderBy("rnd")


def _maxcover_oracle(rounds: int) -> str:
    """Generated CTE chain replaying ``curation.greedy_max_coverage``:
    round r scores every doc's uncovered-bigram gain, takes the
    (gain DESC, doc_id ASC) argmax among gain > 0 (the operator's
    exhaustion break), and folds the winner's bigrams into the covered
    set."""
    cte = f"""
    WITH docsets AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(w) - 1),
                                          i -> w[i] || ' ' || w[i+1])) AS toks
      FROM (SELECT doc_id, {_TOKS_SQL} AS w FROM documents
            WHERE trim(text) <> '' AND len({_TOKS_SQL}) >= 2)
    ),
    cov0 AS (SELECT CAST([] AS VARCHAR[]) AS c)"""
    for r in range(1, rounds + 1):
        p = r - 1
        cte += f""",
    gain{r} AS (
      SELECT d.doc_id,
             len(list_filter(d.toks, t -> NOT list_contains(c.c, t))) AS gain
      FROM docsets d, cov{p} c
    ),
    best{r} AS (SELECT {r} AS rnd, doc_id, gain FROM gain{r} WHERE gain > 0
                ORDER BY gain DESC, doc_id ASC LIMIT 1),
    cov{r} AS (
      SELECT list_distinct(list_concat(c.c, d.toks)) AS c
      FROM cov{p} c, best{r} b JOIN docsets d ON d.doc_id = b.doc_id
    )"""
    union = " UNION ALL ".join(f"SELECT * FROM best{r}" for r in range(1, rounds + 1))
    return (
        cte
        + f"""
    SELECT rnd, doc_id, CAST(gain AS BIGINT) AS gain FROM ({union}) ORDER BY rnd"""
    )


@query("q146_max_coverage", oracle=_maxcover_oracle(5))
def q146_max_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage document selection, 5 rounds
    (:func:`curation.greedy_max_coverage`, Nemhauser 1978 / distributed
    greedy a la Chierichetti WWW'10): the 5 documents that together cover
    the most distinct bigrams, picked greedily with deterministic
    tie-breaks — submodular data selection, the "which k docs buy the
    most diversity" pruning loop. The oracle replays all 5 rounds as a
    generated CTE chain (the q145 pattern applied to set coverage);
    digit-for-digit agreement certifies gain scoring, argmax tie-breaks,
    and the covered-set fold.

    Scale notes: one pass builds the per-doc DISTINCT-bigram-set frame
    (zip_with over token-array slices — no explode, no per-element
    re-split), checkpointed and reused by all rounds; the covered set
    stays bounded (rounds x max-doc-bigrams, model state, never
    corpus-sized) and ships as an array LITERAL into a shuffle-free
    ``size(array_except(toks, covered))`` scan, so each round is a single
    TakeOrdered argmax job whose 1-row result carries the winner's
    uncovered set — no joins, no per-round shuffles."""
    from phoebe_spark.operators import curation

    d = _t(spark, sf_dir, "documents")
    picks = curation.greedy_max_coverage(d, rounds=5)
    return spark.createDataFrame(picks, "rnd INT, doc_id LONG, gain BIGINT").orderBy(
        "rnd"
    )


@query(
    "q147_shard_layout",
    oracle="""
    WITH b AS (
      SELECT doc_id, length(text) AS chars,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|shard'), 1, 15)) AS BIGINT)
               % 16 AS shard_id,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|order'), 1, 15)) AS BIGINT)
               AS okey
      FROM documents
    )
    SELECT shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(chars) AS BIGINT) AS total_chars,
           arg_min(doc_id, okey) AS first_doc,
           arg_max(doc_id, okey) AS last_doc,
           min(okey) AS min_okey
    FROM b GROUP BY shard_id
    """,
)
def q147_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard layout: the dataloader-facing write of
    a curated corpus as N shards, each with a stable pseudo-random
    internal order (the "global shuffle" step before tokenized-sample
    serving). Shard assignment and intra-shard order key are both salted
    md5 hashes of ``doc_id`` (:func:`sampling.hash_bucket` /
    :func:`dedup.md5_hash64`) — reproducible across runs, partitionings,
    and engines, unlike ``rand()``-based shuffles which re-roll under AQE
    re-planning and task retries. Result is the per-shard manifest
    (counts, bytes, first/last doc in shard order); sensitive to every
    row's shard AND order via arg_min/arg_max/min-key columns.

    Scale notes: at 100 TB this is ``repartition(N, shard_id)`` +
    ``sortWithinPartitions(okey)`` + parquet write — exactly one shuffle,
    no global sort (the order is per-shard by construction, which is all
    a dataloader that samples shards round-robin needs). The manifest
    here is the same plan minus the write: one scan, codegen hash exprs,
    map-side-combining groupBy on a 16-value key."""
    from phoebe_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")
    okey = dedup.md5_hash64(
        F.concat(F.col("doc_id").cast("string"), F.lit("|order"))
    )
    s = d.select(
        "doc_id",
        F.length("text").alias("chars"),
        sampling.hash_bucket(F.col("doc_id"), salt="shard", buckets=16).alias(
            "shard_id"
        ),
        okey.alias("okey"),
    )
    return s.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("chars").cast("long").alias("total_chars"),
        F.min_by("doc_id", "okey").alias("first_doc"),
        F.max_by("doc_id", "okey").alias("last_doc"),
        F.min("okey").alias("min_okey"),
    )


@query(
    "q148_length_buckets",
    oracle=r"""
    WITH t AS (
      SELECT CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks
      FROM documents
    ),
    b AS (
      SELECT toks,
             greatest(16, CAST(pow(2, length(bin(greatest(toks, 1) - 1))) AS BIGINT))
               AS bucket_cap
      FROM t
    )
    SELECT bucket_cap,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS sum_tokens,
           round(1 - CAST(sum(toks) AS BIGINT) / (bucket_cap * CAST(count(*) AS BIGINT)), 6)
             AS padding_frac
    FROM b GROUP BY bucket_cap
    """,
)
def q148_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching report: assign every document to the
    smallest power-of-two token bucket (floor 16) and report the padding
    waste if batches pad to the bucket cap — the standard pre-tokenization
    question "what do length-grouped batches cost us vs dynamic batching".
    Token count is the q52 whitespace tokenizer, so the two reports share
    a vocabulary of terms.

    The bucket cap is computed with integer bit-length arithmetic
    (``2 ^ length(bin(toks - 1))``), not ``ceil(log2(x))`` — float log2
    at exact powers of two is where engines disagree; ``bin`` is exact
    and bit-identical in Spark and DuckDB.

    Scale notes: one scan, pure codegen exprs, map-side-combining groupBy
    on a ~10-value key — shuffle is O(buckets). This is the profile you
    run BEFORE choosing fixed context-window packing (q62) vs bucketed
    batching at 100 TB."""
    d = _t(spark, sf_dir, "documents")
    toks = F.size(text.tokens(F.col("text")))
    s = d.select(toks.alias("toks"))
    bits = F.length(F.bin(F.greatest(F.col("toks"), F.lit(1)) - 1))
    cap = F.greatest(
        F.lit(16).cast("long"), F.pow(F.lit(2.0), bits).cast("long")
    )
    g = (
        s.withColumn("bucket_cap", cap)
        .groupBy("bucket_cap")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").cast("long").alias("sum_tokens"),
        )
    )
    return g.select(
        "bucket_cap",
        "n_docs",
        "sum_tokens",
        F.round(
            F.lit(1) - F.col("sum_tokens") / (F.col("bucket_cap") * F.col("n_docs")),
            6,
        ).alias("padding_frac"),
    )


@query(
    "q149_pq_ann",
    oracle="""
    WITH n AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    ms AS (SELECT unnest(generate_series(0, 3)) AS m),
    sub AS (
      SELECT vec_id, m, v[(m * 16 + 1):((m + 1) * 16)] AS sv FROM n, ms
    ),
    cb AS (
      SELECT m, CAST(vec_id - 20 AS INT) AS code, sv AS cw
      FROM sub WHERE vec_id BETWEEN 20 AND 27
    ),
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, cb.code,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY list_sum(list_transform(generate_series(1, 16),
                            i -> (s.sv[i] - cb.cw[i]) * (s.sv[i] - cb.cw[i]))),
                          cb.code) AS rk
        FROM sub s JOIN cb USING (m)) WHERE rk = 1
    ),
    qsub AS (
      SELECT vec_id AS query_id, m, sv AS qv
      FROM sub WHERE vec_id IN (0, 1, 2, 3, 4)
    ),
    contrib AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, e.m,
             list_sum(list_transform(generate_series(1, 16),
                      i -> q.qv[i] * cb.cw[i])) AS part
      FROM enc e
      JOIN cb ON cb.m = e.m AND cb.code = e.code
      JOIN qsub q ON q.m = e.m
    ),
    scores AS (
      SELECT query_id, neighbor_id,
             list_sum(list(part ORDER BY m)) AS adc_dot
      FROM contrib GROUP BY query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(adc_dot, 6) AS adc_dot
    FROM (SELECT query_id, neighbor_id, adc_dot,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_dot DESC, neighbor_id) AS rank
          FROM scores)
    WHERE rank <= 5
    """,
)
def q149_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-5 via asymmetric distance
    (:func:`similarity.pq_topk`, Jégou 2011 / FAISS IndexPQ) with a
    PRETRAINED pivot codebook: M=4 subspaces of 16 dims, K=8 codewords
    per subspace taken from corpus vectors 20-27 (the q44 deterministic
    train-once/assign-many pattern), so encoding, the ADC lookup, and the
    top-5 are all exactly reproducible — the oracle replays subvector
    slicing, nearest-codeword argmin (ties -> smallest code), per-subspace
    LUT dots, and the fixed-order m=0..3 score sum digit-for-digit.

    Completes the ANN ladder: q23 exact brute force, q42/q74 LSH
    projections, q44 IVF cell probing, q69 int8 storage compression —
    this is the codes-only memory path (M ints per corpus row, 64x
    smaller than float32 at d=64/M=4)."""
    emb = _t(spark, sf_dir, "embeddings")
    pivots = (
        emb.filter(F.col("vec_id").between(20, 27)).orderBy("vec_id").collect()
    )
    codebooks = [
        [list(r["embedding"])[j * 16 : (j + 1) * 16] for r in pivots]
        for j in range(4)
    ]
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2, 3, 4))
    out = similarity.pq_topk(emb, queries, codebooks, k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        F.round("adc_dot", 6).alias("adc_dot"),
    )


# ---------------------------------------------------------------------------
# Round 4 extensions: substring-dup diagnostics, classic warehouse shapes,
# KMV distinct sketching, mixture resampling
# ---------------------------------------------------------------------------


@query(
    "q150_dup_substring_ratio",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents WHERE trim(text) <> ''
    ),
    pos AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 7),
                                   i -> array_to_string(t[i:i+7], ' '))) AS g
      FROM toks WHERE len(t) >= 8
    ),
    gc AS (SELECT g, count(*) AS c FROM pos GROUP BY g)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_positions,
           CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_positions,
           round(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS dup_ratio
    FROM pos JOIN gc USING (g)
    GROUP BY doc_id
    """,
)
def q150_dup_substring_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring ratio: the fraction of a doc's
    8-word-gram POSITIONS whose gram occurs anywhere else in the corpus
    (including elsewhere in the same doc) — the scan that motivates
    suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): docs dominated by
    corpus-duplicated spans are boilerplate/syndication candidates even
    when no whole-doc fingerprint matches.

    Scale notes: the posting pass (posexplode + window lead, codegen) is
    the same single-scan shingler the minhash path uses; the global gram
    census is one map-side-combined groupBy on the gram key, and the
    postings->census join is an equi-join on that same key — no
    all-pairs anything, and the gram census (distinct 8-grams) is the
    natural partition-pruned build side at 100 TB. Positions, not
    distinct grams, are scored, so a doc repeating one spammy sentence
    50 times scores 50 duplicated positions."""
    d = _t(spark, sf_dir, "documents")
    return dedup.dup_substring_ratio(d, "doc_id", "text", n=8)
