"""Query registry block 151-200 (mechanically split from the former
single-module registry in round 9; see ``_core`` for the decorator,
the registry dicts, and the float-determinism policy)."""

from __future__ import annotations


from phoebe_spark.operators import dedup, graph, sampling, similarity, text

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._core import EPOCH_SQL, _dec, _dim, _dsum2, _epoch, _t, query
from .q001_050 import _MD5H_SQL, _PREFIX_FP_SQL, _SW_SQL, _TOKS_SQL, _prefix_fp

@query(
    "q151_cheapest_supplier",
    oracle=f"""
    WITH costs AS (
      SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, n.n_name,
             CAST(l.l_extendedprice AS DOUBLE) / CAST(l.l_quantity AS DOUBLE) AS unit_cost
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE r.r_name = 'EUROPE' AND p.p_size <= 5 AND l.l_quantity > 0
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY p_partkey
                                   ORDER BY unit_cost, s_suppkey) AS rk
      FROM costs
    )
    SELECT p_partkey, p_name, s_suppkey, s_name, n_name,
           round(unit_cost, 6) AS unit_cost
    FROM ranked WHERE rk = 1
    """,
)
def q151_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape on the observed schema: for every small part
    (p_size <= 5) shipped from a EUROPE supplier, the supplier offering
    the minimum observed unit price (extendedprice/quantity; ties ->
    smallest suppkey). The classic correlated MIN subquery re-expressed
    as one window argmin — a single pass instead of the textbook
    re-join against a per-part aggregate.

    Scale notes: region/nation/supplier/part are dimension tables —
    Catalyst broadcasts all of them (only lineitem shuffles, and only
    for the per-part window); the p_size and r_name predicates prune
    the build sides before broadcast. unit_cost is a per-row double op
    (identical IEEE in both engines), never aggregated."""
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    costs = (
        l.join(_dim(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(_dim(p), l.l_partkey == p.p_partkey)
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name", "n_name",
            (F.col("l_extendedprice").cast("double") / F.col("l_quantity").cast("double")).alias("unit_cost"),
        )
    )
    w = Window.partitionBy("p_partkey").orderBy(F.col("unit_cost").asc(), F.col("s_suppkey").asc())
    return (
        costs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name", "n_name",
            F.round("unit_cost", 6).alias("unit_cost"),
        )
    )


@query(
    "q152_big_orders",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey,
             CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 250
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(year(o.o_orderdate) * 10000 + month(o.o_orderdate) * 100
                + day(o.o_orderdate) AS INT) AS orderdate_ymd,
           o.o_totalprice, big.total_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q152_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume orders): orders whose total line quantity
    exceeds 250, joined back to customer — the HAVING-subquery-IN shape
    as a plain aggregate-then-join.

    Scale notes: the lineitem rollup is one map-side-combined groupBy on
    orderkey; the HAVING filter collapses it to a tiny frame (p99 of
    order quantity is ~262 here), which then BROADCASTS into orders —
    the fact-fact join never happens, only fact x filtered-aggregate.
    Quantity totals ride the DECIMAL money policy."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(_dsum2(_dec("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    ymd = (
        F.year("o_orderdate") * 10000 + F.month("o_orderdate") * 100 + F.dayofmonth("o_orderdate")
    ).cast("int")
    return (
        o.join(_dim(big), o.o_orderkey == big.l_orderkey)
        .join(_dim(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey",
            ymd.alias("orderdate_ymd"),
            "o_totalprice", "total_qty",
        )
    )


@query(
    "q153_idle_rich_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
             / count(*) AS ab
      FROM customer WHERE c_acctbal > 0
    )
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_custs,
           CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_bal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    CROSS JOIN avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n.n_name
    """,
)
def q153_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with an above-average (positive-balance
    average) account balance and NO orders since 2000-01-01 (lapsed
    high-value accounts), rolled up by nation — the anti-join +
    scalar-subquery pattern.

    Scale notes: the scalar average is a 1-row broadcast (decimal-sum
    policy so the threshold double is engine-exact); the no-orders test
    is a LEFT ANTI join on custkey (no NOT IN null traps, no
    correlated re-scan); the nation rollup is a broadcast dim join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (F.round(F.sum(_dec("c_acctbal")), 2).cast("double") / F.count(F.lit(1))).alias("ab")
    )
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("c_custkey"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, "c_custkey", "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            _dsum2(_dec("c_acctbal")).alias("total_bal"),
        )
    )


@query(
    "q154_kmv_distinct",
    oracle=f"""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (
      SELECT event_type, user_id,
             {_MD5H_SQL.format(x='CAST(user_id AS VARCHAR)')} / 1152921504606846976.0 AS frac
      FROM du
    ),
    ranked AS (
      SELECT event_type, frac,
             row_number() OVER (PARTITION BY event_type ORDER BY frac, user_id) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n_exact
      FROM h
    )
    SELECT event_type,
           CAST(max(n_exact) AS BIGINT) AS n_exact,
           round(CASE WHEN max(n_exact) < 32 THEN max(n_exact)
                      ELSE 31.0 / max(CASE WHEN rk = 32 THEN frac END) END, 6) AS kmv_est,
           round(abs(CASE WHEN max(n_exact) < 32 THEN max(n_exact)
                          ELSE 31.0 / max(CASE WHEN rk = 32 THEN frac END) END
                     - max(n_exact)) / max(n_exact), 6) AS rel_err
    FROM ranked GROUP BY event_type
    """,
)
def q154_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, k=32, per event
    type over user ids (Bar-Yossef et al. 2002 — the bottom-k sketch
    behind theta sketches): estimate = (k-1) / r_k where r_k is the
    k-th smallest normalized hash of the distinct values; groups with
    fewer than k distinct values fall back to the exact count. Reported
    against the exact distinct count with relative error — the
    mergeable-sketch alternative to approx_count_distinct whose state
    is k doubles per group and whose union is a k-smallest merge.

    Scale notes: one distinct-collapse shuffle (map-side combining on
    (type, user)), then a per-group bottom-k window — at 100 TB you'd
    keep only the running k-minimum per partition (the sketch property);
    here the window form keeps the whole computation one oracle-exact
    pass. The md5-derived hash is engine-portable, so the estimate is
    digit-for-digit reproducible, not a property test."""
    e = _t(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    frac = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10).cast("long")
        / F.lit(1152921504606846976.0)
    )
    h = e.select("event_type", "user_id", frac.alias("frac"))
    w = Window.partitionBy("event_type").orderBy(F.col("frac").asc(), F.col("user_id").asc())
    cnt = Window.partitionBy("event_type")
    ranked = h.select(
        "event_type",
        "frac",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(cnt).alias("n_exact"),
    )
    est = F.when(
        F.max("n_exact") < 32, F.max("n_exact").cast("double")
    ).otherwise(F.lit(31.0) / F.max(F.when(F.col("rk") == 32, F.col("frac"))))
    return ranked.groupBy("event_type").agg(
        F.max("n_exact").cast("long").alias("n_exact"),
        F.round(est, 6).alias("kmv_est"),
        F.round(F.abs(est - F.max("n_exact")) / F.max("n_exact"), 6).alias("rel_err"),
    )


@query(
    "q155_mixture_resample",
    oracle=f"""
    WITH per AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n, count(*) AS s FROM per),
    fac AS (
      SELECT source, n_docs,
             CAST(tot.n AS DOUBLE) / (tot.s * n_docs) AS factor
      FROM per CROSS JOIN tot
    ),
    rep AS (
      SELECT d.doc_id, d.source, fac.factor,
             CAST(floor(fac.factor) AS BIGINT)
             + CASE WHEN {_MD5H_SQL.format(x='CAST(d.doc_id AS VARCHAR)')} / 1152921504606846976.0
                         < fac.factor - floor(fac.factor)
                    THEN 1 ELSE 0 END AS n_repeats
      FROM documents d JOIN fac ON fac.source = d.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(max(factor), 6) AS factor,
           CAST(sum(n_repeats) AS BIGINT) AS n_emitted
    FROM rep GROUP BY source
    """,
)
def q155_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture resampling plan: to hit a uniform
    per-source target mixture, each source gets a sampling factor
    N/(S*n_src); every doc is emitted floor(factor) times plus one more
    when its salted hash falls under the fractional part — the
    upsample/downsample executor for the mixture WEIGHTS q67 designs
    (DoReMi/SlimPajama-style mixture execution). Reported per source:
    factor and the number of training copies emitted.

    Scale notes: the per-source census is one tiny groupBy broadcast
    back onto the corpus scan; the repeat decision is a pure column
    expression on the content-stable md5 hash (no RNG — retries and
    AQE replans cannot change the sample), and the downstream explode
    would be sequence(1, n_repeats) — fan-out without a shuffle."""
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per.agg(
        F.sum("n_docs").cast("long").alias("_n"), F.count(F.lit(1)).alias("_s")
    )
    fac = per.crossJoin(F.broadcast(tot)).select(
        "source",
        (F.col("_n").cast("double") / (F.col("_s") * F.col("n_docs"))).alias("factor"),
    )
    frac = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast("long")
        / F.lit(1152921504606846976.0)
    )
    rep = d.join(F.broadcast(fac), "source").select(
        "source",
        "factor",
        (
            F.floor("factor").cast("long")
            + F.when(frac < F.col("factor") - F.floor("factor"), 1).otherwise(0)
        ).alias("n_repeats"),
    )
    return rep.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.max("factor"), 6).alias("factor"),
        F.sum("n_repeats").cast("long").alias("n_emitted"),
    )


@query(
    "q156_ivf_recall_curve",
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
      SELECT query_id, qv, qnrm, cell, rk FROM (
        SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rk
        FROM ad WHERE vec_id IN (0, 1, 2, 3, 4)) WHERE rk <= 4
    ),
    probes AS (SELECT unnest([1, 2, 4]) AS n_probe),
    cand AS (
      SELECT p.n_probe, qc.query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(generate_series(1, len(c.v)),
                      i -> c.v[i] * qc.qv[i])) / (c.nrm * qc.qnrm) AS cs
      FROM probes p, qc, cells c
      WHERE qc.rk <= p.n_probe AND c.cell = qc.cell
    ),
    approx AS (
      SELECT n_probe, query_id, neighbor_id FROM (
        SELECT n_probe, query_id, neighbor_id,
               row_number() OVER (PARTITION BY n_probe, query_id
                                  ORDER BY cs DESC, neighbor_id) AS rnk
        FROM cand) WHERE rnk <= 10
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n
          WHERE vec_id IN (0, 1, 2, 3, 4)),
    ex AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 list_sum(list_transform(generate_series(1, len(e.v)),
                          i -> e.v[i] * q.qv[i])) / (e.nrm * q.qnrm) DESC,
                 e.vec_id) AS rnk
        FROM n e, q) WHERE rnk <= 10
    )
    SELECT a.query_id, CAST(a.n_probe AS INT) AS n_probe,
           CAST(count(e.neighbor_id) AS BIGINT) AS n_hits,
           round(count(e.neighbor_id) / 10.0, 6) AS recall_at_10
    FROM approx a
    LEFT JOIN ex e ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY a.query_id, a.n_probe
    """,
)
def q156_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN acceptance certification: recall@10 of the IVF index against
    the exact brute-force top-10, per query, at probe depths 1/2/4 of 8
    cells — the recall-vs-cost curve an index operator publishes before
    anyone is allowed to swap brute force out (the q121 sketch-
    calibration idea applied to ANN; deterministic pivot quantizer as in
    q44, so the whole curve is oracle-exact, not a threshold test).

    Scale notes: exact truth is computed only for the FIXED query panel
    (broadcast top-k scan — one corpus pass), not per corpus row; each
    probe depth reuses the same deterministic cell assignment; the
    recall join runs on (panel x k)-sized frames."""
    emb = _t(spark, sf_dir, "embeddings")
    pivots = [
        list(r["embedding"])
        for r in emb.filter(F.col("vec_id").between(10, 17)).orderBy("vec_id").collect()
    ]
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2, 3, 4))
    exact = similarity.brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    parts = []
    for p in (1, 2, 4):
        a = similarity.ivf_topk(
            emb, queries, k=10, n_centroids=8, n_probe=p, centroids=pivots
        )
        parts.append(
            a.select("query_id", "neighbor_id", F.lit(p).cast("int").alias("n_probe"))
        )
    approx = parts[0].unionByName(parts[1]).unionByName(parts[2])
    hits = approx.join(
        exact.withColumn("_hit", F.lit(1)), ["query_id", "neighbor_id"], "left"
    )
    return hits.groupBy("query_id", "n_probe").agg(
        F.count("_hit").alias("n_hits"),
        F.round(F.count("_hit") / F.lit(10.0), 6).alias("recall_at_10"),
    )


@query(
    "q157_referential_integrity",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS constraint,
           CAST(count(*) AS BIGINT) AS n_child,
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
           (sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) = 0) AS ok
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           (sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) = 0)
    FROM lineitem l LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           (sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) = 0)
    FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           (sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) = 0)
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           (sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) = 0)
    FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           (sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) = 0)
    FROM supplier s LEFT JOIN nation n ON n.n_nationkey = s.s_nationkey
    """,
)
def q157_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema referential-integrity audit: for every foreign-key
    edge, the child row count and the number of orphans (child keys with
    no parent) — the ingest acceptance gate that runs before any join
    in this file is trusted (an orphaned key silently DROPS rows from
    every inner join downstream).

    Scale notes: each edge is one left join against a DISTINCT-key
    parent; parents here are dimensions (broadcast), and the fact-fact
    edge (lineitem->orders) aggregates to two counters per edge — the
    shuffle carries key + null-flag only. At 100 TB you'd run all six
    edges in one pass over each child with `observe` counters; the
    per-edge form keeps each constraint independently attributable."""
    checks = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ]
    outs = []
    for name, child, ck, parent, pk in checks:
        c = _t(spark, sf_dir, child).select(F.col(ck).alias("_k"))
        par = _t(spark, sf_dir, parent).select(F.col(pk).alias("_k"), F.lit(1).alias("_p"))
        j = c.join(_dim(par), "_k", "left")
        outs.append(
            j.agg(
                F.lit(name).alias("constraint"),
                F.count(F.lit(1)).alias("n_child"),
                F.sum(F.when(F.col("_p").isNull(), 1).otherwise(0)).cast("long").alias("n_orphans"),
                (F.sum(F.when(F.col("_p").isNull(), 1).otherwise(0)) == 0).alias("ok"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@query(
    "q158_compaction_plan",
    oracle="""
    WITH per AS (
      SELECT lang, source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS part_bytes
      FROM documents GROUP BY lang, source
    )
    SELECT lang, source, n_docs, part_bytes,
           CAST(greatest(1, ceil(part_bytes / 65536.0)) AS BIGINT) AS target_files,
           round(part_bytes / (greatest(1, ceil(part_bytes / 65536.0)) * 65536.0), 6)
             AS fill_ratio,
           (part_bytes < 32768) AS undersized
    FROM per
    """,
)
def q158_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planner: per (lang, source) partition, the
    byte volume (n_chars as the proxy), the target file count at a 64 KiB
    unit (stand-in for the production 128 MB-1 GB row-group target), the
    fill ratio those files would have, and an undersized flag for
    partitions worth merging INTO a sibling — the table-maintenance pass
    every long-lived lakehouse table needs before reads degrade into
    footer-fetch storms.

    Scale notes: pure single-pass groupBy census (map-side combined,
    partition-count-sized output); the plan itself is what a compaction
    job consumes as its `repartition(target_files)` argument — the same
    shape q147's shard manifest uses for the write side."""
    d = _t(spark, sf_dir, "documents")
    unit = 65536.0
    per = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("part_bytes"),
    )
    target = F.greatest(F.lit(1), F.ceil(F.col("part_bytes") / F.lit(unit))).cast("long")
    return per.select(
        "lang", "source", "n_docs", "part_bytes",
        target.alias("target_files"),
        F.round(F.col("part_bytes") / (target * F.lit(unit)), 6).alias("fill_ratio"),
        (F.col("part_bytes") < 32768).alias("undersized"),
    )


@query(
    "q159_token_budget_curve",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS_SQL}) END AS tok,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text) END AS pr,
             CASE WHEN trim(text) = '' THEN 0.0 ELSE {_SW_SQL} * 1.0 / len({_TOKS_SQL}) END AS sw
      FROM documents
    ),
    q AS (
      SELECT doc_id, tok,
             0.5 * least(tok / 100.0, 1.0) + 0.5 * least(sw * 5.0, 1.0)
             - 0.25 * least(pr * 5.0, 1.0) AS quality
      FROM s
    ),
    r AS (
      SELECT doc_id, tok, quality,
             row_number() OVER (ORDER BY quality DESC, doc_id) AS rk,
             count(*) OVER () AS n
      FROM q
    ),
    c AS (
      SELECT quality, tok,
             CAST(floor((rk - 1) * 10 / n) AS INT) AS decile,
             sum(tok) OVER (ORDER BY rk) AS cum_tokens
      FROM r
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(cum_tokens) AS BIGINT) AS cum_tokens,
           round(min(quality), 6) AS cutoff_quality
    FROM c GROUP BY decile
    """,
)
def q159_token_budget_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curriculum curve: rank the corpus by quality score
    (best first) and report, per rank decile, the CUMULATIVE token count
    and the quality cutoff at the decile boundary — the planning table
    that answers "to fill a 10B-token budget with the best documents,
    where do I set the quality threshold, and how much does the tail
    cost?" (the quality-vs-volume tradeoff behind FineWeb/DCLM-style
    filtered mixes).

    Scale notes: the rank is the two-phase bucketed form
    (layout.global_rank_by_value, buckets = quality rounded to 2dp — a
    monotone coarsening, offsets bounded by the score range) — no
    single-partition sort anywhere; quality is per-row arithmetic
    (identical IEEE both engines), cumulative sums are integer-exact."""
    from phoebe_spark.operators.layout import global_rank_by_value

    d = _t(spark, sf_dir, "documents")
    q = text.quality_score(d).select("doc_id", "token_count", "quality_score")
    rk = global_rank_by_value(
        q, "quality_score", "doc_id", descending=True,
        bucket=F.round(F.col("quality_score"), 2), out_col="rk",
    )
    n1 = q.agg(F.count(F.lit(1)).cast("long").alias("n"))
    r = rk.crossJoin(F.broadcast(n1)).select(
        "doc_id", "token_count", "quality_score", "rk", "n"
    )
    c = r.select(
        "quality_score",
        "token_count",
        F.floor((F.col("rk") - 1) * 10 / F.col("n")).cast("int").alias("decile"),
        F.col("token_count"),
    )
    # cumulative tokens at each decile BOUNDARY == running sum of the
    # per-decile totals (a 10-row window), so the per-row cumulative-sum
    # global window is unnecessary
    dec = c.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("token_count").alias("dec_tokens"),
        F.round(F.min("quality_score"), 6).alias("cutoff_quality"),
    )
    cum = F.sum("dec_tokens").over(
        Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    )
    return dec.select(
        "decile",
        "n_docs",
        cum.cast("long").alias("cum_tokens"),
        "cutoff_quality",
    )


def _bpe_encode_oracle(rounds: int) -> str:
    """Generated oracle for q160: re-learn the ``rounds`` merges with the
    q145 CTE chain, then REPLAY them over every (lang, word) occurrence
    and aggregate per-language token/char totals."""
    cte = f"""
    WITH toks AS (
      SELECT lang, unnest({_TOKS_SQL}) AS t FROM documents WHERE trim(text) <> ''
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
    best{r} AS (SELECT l_sym, r_sym, count(*) AS n FROM pr{r}
                GROUP BY l_sym, r_sym ORDER BY n DESC, l_sym ASC, r_sym ASC
                LIMIT 1),
    words{r} AS (SELECT replace(w, chr(31) || b.l_sym || chr(30) || chr(31) || b.r_sym || chr(30),
                                chr(31) || b.l_sym || b.r_sym || chr(30)) AS w
                 FROM words{p}, best{r} b)"""
    cte += """,
    wl0 AS (
      SELECT lang,
             array_to_string(list_transform(generate_series(1, length(t)),
                                            i -> chr(31) || t[i] || chr(30)), '') AS e,
             length(t) AS ch
      FROM toks WHERE length(t) >= 1
    )"""
    for r in range(1, rounds + 1):
        p = r - 1
        cte += f""",
    wl{r} AS (SELECT lang,
                     replace(e, chr(31) || b.l_sym || chr(30) || chr(31) || b.r_sym || chr(30),
                             chr(31) || b.l_sym || b.r_sym || chr(30)) AS e, ch
              FROM wl{p}, best{r} b)"""
    return (
        cte
        + f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(ch) AS BIGINT) AS n_chars,
           CAST(sum(len(list_filter(string_split(e, chr(30)), x -> x <> ''))) AS BIGINT)
             AS n_tokens,
           round(sum(len(list_filter(string_split(e, chr(30)), x -> x <> ''))) * 1.0
                 / count(*), 6) AS tokens_per_word,
           round(sum(ch) * 1.0
                 / sum(len(list_filter(string_split(e, chr(30)), x -> x <> ''))), 6)
             AS chars_per_token
    FROM wl{rounds} GROUP BY lang"""
    )


@query("q160_bpe_encode", oracle=_bpe_encode_oracle(5))
def q160_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — the apply half of the q145 trainer: learn 5 merges on
    the corpus, replay them over every word occurrence, and report
    per-language tokenizer-efficiency stats (tokens/word and chars/token
    — the fertility and compression numbers that decide whether a
    tokenizer is paying for itself on each language). Completes the
    tokenizer lifecycle: q140 pair stats -> q145 training -> q160
    encoding; the oracle re-learns AND re-applies every merge, so both
    halves are certified digit-for-digit.

    Scale notes: the merge table is model state (5 rows, collected like
    q145); encoding is a chain of 5 literal string ``replace`` exprs in
    ONE codegen scan pass — per-token cost is independent of corpus
    size, no shuffle until the ~languages-sized rollup."""
    from phoebe_spark.operators.text import BPE_END, BPE_SEP

    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    corpus_words = d.select(F.explode(text.tokens(F.col("text"))).alias("w")).filter(
        F.length("w") >= 1
    )
    merges = text.bpe_train(corpus_words, rounds=5)

    wl = d.select("lang", F.explode(text.tokens(F.col("text"))).alias("w")).filter(
        F.length("w") >= 1
    )
    enc = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.concat(F.lit(BPE_SEP), F.substring(F.col("w"), i, F.lit(1)), F.lit(BPE_END)),
        ),
        "",
    )
    for _, l_sym, r_sym, merged, _n in merges:
        enc = F.replace(
            enc,
            F.lit(BPE_SEP + l_sym + BPE_END + BPE_SEP + r_sym + BPE_END),
            F.lit(BPE_SEP + merged + BPE_END),
        )
    n_tok = F.size(F.filter(F.split(enc, BPE_END), lambda x: x != ""))
    per = wl.select("lang", F.length("w").alias("ch"), n_tok.alias("nt"))
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("ch").cast("long").alias("n_chars"),
        F.sum("nt").cast("long").alias("n_tokens"),
        F.round(F.sum("nt") / F.count(F.lit(1)), 6).alias("tokens_per_word"),
        F.round(F.sum("ch") / F.sum("nt"), 6).alias("chars_per_token"),
    )


@query(
    "q161_source_data_card",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, source, lang, n_chars,
             CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS_SQL}) END AS tok,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text) END AS pr,
             CASE WHEN trim(text) = '' THEN 0.0 ELSE {_SW_SQL} * 1.0 / len({_TOKS_SQL}) END AS sw,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    q AS (
      SELECT *,
             CAST(round(0.5 * least(tok / 100.0, 1.0) + 0.5 * least(sw * 5.0, 1.0)
                        - 0.25 * least(pr * 5.0, 1.0), 6) AS DECIMAL(18,6)) AS quality
      FROM s
    ),
    fp AS (
      SELECT source, fp, count(*) AS c FROM q GROUP BY source, fp
    ),
    dup AS (
      SELECT source, CAST(sum(c - 1) AS BIGINT) AS n_dup_docs FROM fp GROUP BY source
    )
    SELECT q.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(q.tok) AS BIGINT) AS total_tokens,
           CAST(sum(q.n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT q.lang) AS BIGINT) AS n_langs,
           round(CAST(sum(q.quality) AS DOUBLE) / count(*), 6) AS mean_quality,
           CAST(sum(CASE WHEN q.tok = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
           max(dup.n_dup_docs) AS n_dup_docs,
           round(max(dup.n_dup_docs) * 1.0 / count(*), 6) AS dup_rate
    FROM q JOIN dup ON dup.source = q.source
    GROUP BY q.source
    """,
)
def q161_source_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data card: the one-row-per-feed summary a dataset ships
    with — volume (docs/tokens/chars), language spread, mean quality
    score, empty-doc count, and the exact-duplicate rate — composing the
    quality (q10), fingerprint-dedup (q08), and census primitives into
    the acceptance sheet reviewed before a source enters the mix.

    Scale notes: ONE corpus scan computes tokens/quality/fingerprint
    side by side; the dup census is a (source, fingerprint) groupBy that
    reuses the same scan output; per-row quality is rounded then carried
    as DECIMAL so the mean is order-independent (the q119 lesson
    pre-applied). Output is sources-sized."""
    d = _t(spark, sf_dir, "documents")
    q = text.quality_score(d).select(
        "doc_id", "source", "lang", "n_chars", "token_count",
        F.round("quality_score", 6).cast("decimal(18,6)").alias("quality"),
        F.md5(
            F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
        ).alias("fp"),
    ).localCheckpoint(eager=True)
    dup = (
        q.groupBy("source", "fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source")
        .agg(F.sum(F.col("c") - 1).cast("long").alias("n_dup_docs"))
    )
    card = q.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("token_count").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.round(F.sum("quality").cast("double") / F.count(F.lit(1)), 6).alias("mean_quality"),
        F.sum(F.when(F.col("token_count") == 0, 1).otherwise(0)).cast("long").alias("n_empty"),
    )
    return card.join(F.broadcast(dup), "source").select(
        "source", "n_docs", "total_tokens", "total_chars", "n_langs",
        "mean_quality", "n_empty", "n_dup_docs",
        F.round(F.col("n_dup_docs") * 1.0 / F.col("n_docs"), 6).alias("dup_rate"),
    )


@query(
    "q162_bilateral_trade",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS ship_year,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    WHERE sn.n_name IN ('NATION_1', 'NATION_2')
      AND cn.n_name IN ('NATION_1', 'NATION_2')
      AND sn.n_name <> cn.n_name
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
    """,
)
def q162_bilateral_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue flowing between two
    specific nations in each direction, by ship year — the
    two-dimension-chain fact join (lineitem->supplier-nation AND
    lineitem->orders->customer-nation on the SAME fact row).

    Scale notes: supplier/customer/nation are broadcast dims and the
    nation filters prune the build sides before broadcast, so the only
    shuffle is lineitem->orders (fact-fact, both sides pre-filtered by
    the broadcast semi-effect of the dim joins); money rides the
    DECIMAL policy; output is 2 x years rows."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = ("NATION_1", "NATION_2")
    cn = n.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("_cnk"), F.col("n_name").alias("cust_nation")
    )
    sn = n.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("supp_nation")
    )
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    return (
        l.join(_dim(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("_snk"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(_dim(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("_cnk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(_dsum2(rev).alias("revenue"))
    )


@query(
    "q163_market_share",
    oracle="""
    WITH eur AS (
      SELECT year(l.l_shipdate) AS yr,
             CAST(l.l_extendedprice AS DECIMAL(18,4))
               * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4))) AS rev,
             (sn.n_name = 'NATION_3') AS is_target
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = cn.n_regionkey AND r.r_name = 'EUROPE'
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    )
    SELECT CAST(yr AS INT) AS ship_year,
           CAST(round(sum(CASE WHEN is_target THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE)
             AS target_revenue,
           CAST(round(sum(rev), 2) AS DOUBLE) AS total_revenue,
           round(CAST(round(sum(CASE WHEN is_target THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE)
                 / CAST(round(sum(rev), 2) AS DOUBLE), 6) AS mkt_share
    FROM eur GROUP BY yr
    """,
)
def q163_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): within the EUROPE customer
    market, the share of revenue supplied by one nation, per ship year —
    numerator and denominator in ONE conditional aggregate over a single
    join tree (no second scan, no self-join; the q134 promo-share
    pattern generalized across a dim chain).

    Scale notes: all dims broadcast (region filter prunes nation->
    customer before broadcast); one fact-fact shuffle (lineitem->orders);
    the share division happens on 2-decimal-rounded DOUBLEs, identical
    in both engines."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cn = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("_cnk")
    )
    sn = n.select(F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("supp_nation"))
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    zero = F.lit(0).cast("decimal(18,4)")
    eur = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(_dim(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("_cnk"))
        .join(_dim(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("_snk"))
        .select(
            F.year("l_shipdate").cast("int").alias("ship_year"),
            rev.alias("rev"),
            (F.col("supp_nation") == "NATION_3").alias("is_target"),
        )
    )
    tgt = F.round(F.sum(F.when(F.col("is_target"), F.col("rev")).otherwise(zero)), 2).cast("double")
    tot = F.round(F.sum("rev"), 2).cast("double")
    return eur.groupBy("ship_year").agg(
        tgt.alias("target_revenue"),
        tot.alias("total_revenue"),
        F.round(tgt / tot, 6).alias("mkt_share"),
    )


@query(
    "q164_returned_items",
    oracle="""
    WITH rev AS (
      SELECT c.c_custkey, c.c_name, n.n_name AS nation, c.c_acctbal,
             CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                            * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
                  AS DOUBLE) AS revenue
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1996-04-01'
      GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    )
    SELECT c_custkey, c_name, nation, c_acctbal, revenue
    FROM (SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rn FROM rev)
    WHERE rn <= 20
    """,
)
def q164_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): the 20 customers who
    generated the most revenue on returned lines in one quarter — the
    triage list an account team works through.

    Scale notes: returnflag + orderdate predicates push to the scans
    before the fact-fact shuffle; customer/nation broadcast; the top-20
    is a rank over the customers-sized aggregate (revenue is
    decimal-rounded BEFORE ranking and ties break on c_custkey, so the
    cut line is deterministic in both engines). At 100 TB the rank input
    is customers-sized, not fact-sized."""
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    agg = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(_dim(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "nation", "c_acctbal")
        .agg(_dsum2(rev).alias("revenue"))
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("c_custkey", "c_name", "nation", "c_acctbal", "revenue")
    )


@query(
    "q165_order_count_distribution",
    oracle="""
    WITH oc AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c.c_custkey
    )
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM oc GROUP BY c_count
    """,
)
def q165_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): histogram of customers by
    how many qualifying orders they placed, INCLUDING the zero-order
    customers the left join preserves — the double-aggregate shape
    (per-customer count, then count-of-counts).

    Scale notes: the priority filter lands on the orders scan pre-join;
    the left join shuffles both sides on custkey once; the second
    aggregate's input is customers-sized and its output is
    max-order-count-sized (tiny). No broadcast: at 100 TB both sides of
    the first join are large, which is exactly when the shuffle
    hash join is the right plan."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_custkey", "o_orderkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "q166_top_supplier",
    oracle="""
    WITH srev AS (
      SELECT l_suppkey,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2)
                  AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM srev r
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM srev)
    """,
)
def q166_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the supplier(s) whose shipped
    revenue over one quarter equals the global maximum — the
    agg-vs-its-own-extreme shape Q15 writes as a view + scalar subquery.

    Scale notes: the quarter filter pushes to the scan; the per-supplier
    aggregate is map-side combined to a suppliers-sized frame; the global
    max is a 1-row frame broadcast back (no second fact scan, no window
    over the whole aggregate); ties are kept, matching the SQL. Revenue
    is decimal-rounded before the equality so both engines cut
    identically."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    srev = l.groupBy("l_suppkey").agg(_dsum2(rev).alias("total_revenue"))
    mx = srev.agg(F.max("total_revenue").alias("_mx"))
    return (
        srev.join(F.broadcast(mx), srev.total_revenue == F.col("_mx"))
        .join(_dim(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q167_small_qty_revenue",
    oracle="""
    WITH pa AS (
      SELECT l_partkey,
             0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*)) AS qty_thresh
      FROM lineitem GROUP BY l_partkey
    )
    SELECT round(CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) / 7.0, 6)
             AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#23'
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE l.l_quantity < pa.qty_thresh
    """,
)
def q167_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): yearly revenue
    lost if orders below 20% of a part's average order quantity were not
    taken — the correlated-average shape (each fact row compared to its
    own group's aggregate).

    Scale notes: the correlated subquery decorrelates into a parts-sized
    per-part threshold frame joined back on partkey — broadcastable at
    any scale since it is one row per part; the brand filter prunes via
    the broadcast part join before the threshold comparison. The
    threshold is an exact decimal sum divided by an exact count, so the
    `<` cut is bit-identical in both engines."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    pa = l.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (
            F.lit(0.2)
            * (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)))
        ).alias("qty_thresh")
    )
    return (
        l.join(_dim(p), l.l_partkey == p.p_partkey)
        .join(pa, l.l_partkey == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            F.round(F.round(F.sum(_dec("l_extendedprice")), 2).cast("double") / 7.0, 6).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q168_product_profit",
    oracle="""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))
                          - CAST(p.p_retailprice * 0.5 AS DECIMAL(18,4))
                            * CAST(l.l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%widget%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def q168_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): per supplier-nation,
    per-order-year profit on one product line. This schema has no
    partsupp, so unit cost is proxied as half the part's retail price —
    the join/aggregate shape (fact x 3 dims x orders, name-pattern dim
    filter) is what Q9 exercises.

    Scale notes: the p_name LIKE filter prunes part BEFORE broadcast and
    its broadcast join semi-filters the fact scan; supplier/nation
    broadcast; the only shuffle is lineitem->orders. The cost factor is
    folded to DECIMAL(18,4) per part row (double halving is exact), so
    the summed profit is order-independent under the decimal policy."""
    l = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", (F.col("p_retailprice") * 0.5).cast("decimal(18,4)").alias("_unit_cost"))
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,4)") - _dec("l_discount")
    ) - F.col("_unit_cost") * _dec("l_quantity")
    return (
        l.join(_dim(p), l.l_partkey == p.p_partkey)
        .join(_dim(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(_dsum2(profit).alias("profit"))
    )


@query(
    "q169_supplier_relationship",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#45'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q169_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): how many distinct
    suppliers actually shipped parts of each surviving (brand, type,
    size) combination, excluding deny-listed suppliers (negative account
    balance stands in for Q16's complaints predicate).

    Scale notes: all three p_* predicates prune part before its
    broadcast join semi-filters the fact scan; the deny-list is a
    6-row broadcast ANTI join (never a NOT IN materialization); the
    distinct-supplier count shuffles once on the group key with
    partial distinct aggregation map-side."""
    l = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    deny = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        l.join(_dim(deny), l.l_suppkey == deny.s_suppkey, "left_anti")
        .join(_dim(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


def _lsh_planes(k: int = 4, dim: int = 64, seed: int = 7) -> list[list[float]]:
    """Deterministic random hyperplanes, generated once driver-side and
    embedded as LITERALS in both the Spark plan and the oracle SQL — the
    two engines must agree bit-for-bit on every plane component or sign
    decisions near zero diverge."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [[float(x) for x in rng.standard_normal(dim)] for _ in range(k)]


def _lsh_oracle_sql() -> str:
    planes = _lsh_planes()
    dim = len(planes[0])

    def plane_dot(p: list[float]) -> str:
        lit = "[" + ", ".join(repr(x) for x in p) + "]"
        return (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({lit})[i]))"
        )

    bucket = " + ".join(
        f"(CASE WHEN {plane_dot(p)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    pair_dot = (
        "list_sum(list_transform(generate_series(1, len(a.embedding)), "
        "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
    )
    return f"""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
             {bucket} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({pair_dot} / (a.nrm * b.nrm), 6) AS cos_sim
    FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {pair_dot} / (a.nrm * b.nrm) >= 0.4
    """


@query("q170_lsh_neardup_pairs", oracle=_lsh_oracle_sql())
def q170_lsh_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-duplicate pairs (random-hyperplane signatures,
    Charikar 2002 SimHash family): vectors landing in the same
    sign-of-dot-product bucket are the only candidate pairs, and exact
    cosine runs within buckets only — the sub-quadratic scale path the
    exact all-pairs scan (q41) refuses above its row guard. The oracle
    replays the SAME literal planes in SQL, so bucket assignment and the
    surviving pair set are checked end-to-end, not just recall-sampled.

    Scale notes: one scan computes all k sign bits (codegen aggregate
    per plane, no Python); ONE shuffle on the ~uniform bucket key; the
    within-bucket self-join is quadratic only in bucket size, tunable by
    plane count (2^k buckets). False negatives are the LSH contract —
    tested recall lives in test_similarity; THIS entry pins determinism
    and exactness of what the buckets do emit."""
    e = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_bucketed_pairs(e, _lsh_planes(), threshold=0.4)


@query(
    "q171_measure_profile_unpivot",
    oracle="""
    WITH long AS (
      SELECT 'l_quantity' AS measure, l_quantity AS v FROM lineitem
      UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL SELECT 'l_discount', l_discount FROM lineitem
      UNION ALL SELECT 'l_tax', l_tax FROM lineitem
    )
    SELECT measure,
           CAST(count(*) AS BIGINT) AS n,
           round(min(v), 6) AS min_v,
           round(max(v), 6) AS max_v,
           CAST(round(sum(CAST(v AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_v,
           round(CAST(round(sum(CAST(v AS DECIMAL(18,4))), 2) AS DOUBLE) / count(*), 6) AS mean_v
    FROM long GROUP BY measure
    """,
)
def q171_measure_profile_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long measure profile via UNPIVOT (`stack`): the four
    lineitem measures melt to (measure, value) rows inside the scan
    projection, then one grouped aggregate profiles each — the
    data-quality sweep shape that would otherwise be four scans or four
    ad-hoc agg columns.

    Scale notes: stack is a codegen row-expansion in the scan stage (NO
    shuffle for the melt; 4x row fan-out but each long row is 2 narrow
    columns); the profile aggregate map-side combines to a 4-group
    shuffle. The oracle's UNION ALL is DuckDB's spelling of the same
    relational algebra."""
    l = _t(spark, sf_dir, "lineitem")
    long = l.selectExpr(
        "stack(4, 'l_quantity', l_quantity, 'l_extendedprice', l_extendedprice, "
        "'l_discount', l_discount, 'l_tax', l_tax) AS (measure, v)"
    )
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("v"), 6).alias("min_v"),
        F.round(F.max("v"), 6).alias("max_v"),
        _dsum2(_dec("v")).alias("sum_v"),
        F.round(_dsum2(_dec("v")) / F.count(F.lit(1)), 6).alias("mean_v"),
    )


@query(
    "q172_grouping_id_rollup",
    oracle="""
    SELECT CASE WHEN GROUPING(c.c_mktsegment) = 1 THEN NULL ELSE c.c_mktsegment END AS segment,
           CASE WHEN GROUPING(o.o_orderpriority) = 1 THEN NULL ELSE o.o_orderpriority END AS priority,
           CAST(GROUPING(c.c_mktsegment) * 2 + GROUPING(o.o_orderpriority) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY ROLLUP (c.c_mktsegment, o.o_orderpriority)
    """,
)
def q172_grouping_id_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping_id: subtotal rows are tagged by WHICH columns
    were rolled up, not by NULL-coalescing sentinel strings — the
    disambiguation q49/q81 sidestep (a real NULL group value and a
    subtotal row are indistinguishable without GROUPING). gid = 0 detail,
    1 per-segment subtotal, 3 grand total.

    Scale notes: one pass, grouping-set expansion with map-side partials;
    customer broadcasts onto the orders scan; output is
    (segments x priorities)-sized."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(_dim(c), c.c_custkey == o.o_custkey)
    return (
        j.rollup(F.col("c_mktsegment").alias("segment"), F.col("o_orderpriority").alias("priority"))
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            _dsum2(_dec("o_totalprice")).alias("revenue"),
        )
        .select("segment", "priority", "gid", "n_orders", "revenue")
    )


@query(
    "q173_lang_embedding_coherence",
    oracle="""
    WITH e AS (
      SELECT d.lang, em.vec_id, em.embedding
      FROM documents d JOIN embeddings em ON em.vec_id = d.doc_id
    ),
    fan AS (
      -- dim taken from each row's own list length (select-list unnest is
      -- lateral): stays correct if the table is regenerated at another
      -- dimensionality, where a hardcoded series would silently truncate
      SELECT lang, vec_id, unnest(generate_series(1, len(embedding))) AS pos, embedding
      FROM e
    ),
    long AS (
      SELECT lang, vec_id, pos, CAST(embedding[pos] AS DOUBLE) AS val FROM fan
    ),
    cent AS (
      SELECT lang, pos, sum(val) / count(*) AS c FROM long GROUP BY lang, pos
    ),
    pv AS (
      SELECT l.lang, l.vec_id,
             sum(l.val * cent.c) AS dot,
             sum(l.val * l.val) AS v2,
             sum(cent.c * cent.c) AS c2
      FROM long l JOIN cent ON cent.lang = l.lang AND cent.pos = l.pos
      GROUP BY l.lang, l.vec_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(sum(dot / (sqrt(v2) * sqrt(c2))) / count(*), 6) AS mean_coherence
    FROM pv GROUP BY lang
    """,
)
def q173_lang_embedding_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal corpus diagnostic: per language, the mean cosine of
    each document's embedding to its language centroid — low coherence
    flags mislabeled language tags or polluted embedding spaces before a
    semantic-dedup or clustering stage trusts them. Joins the text table
    to the embedding table (doc_id = vec_id), i.e. the two modalities a
    training pipeline must keep aligned.

    Scale notes: vectors fan long-form via posexplode inside the scan
    stage; the centroid is a (langs x dims)-sized aggregate with map-side
    partials; the score join re-keys on the composite (lang, dim) —
    skew-free because dims stripe every language evenly. Float sums are
    order-sensitive in the last bits (both engines round at 1e-6, ~9
    orders above the reorder noise)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    em = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    long = (
        d.join(em, d.doc_id == em.vec_id)
        .select("lang", "vec_id", F.posexplode("embedding").alias("pos", "_v"))
        .select("lang", "vec_id", "pos", F.col("_v").cast("double").alias("val"))
    )
    cent = long.groupBy("lang", "pos").agg(
        (F.sum("val") / F.count(F.lit(1))).alias("c")
    )
    pv = (
        long.join(cent, ["lang", "pos"])
        .groupBy("lang", "vec_id")
        .agg(
            F.sum(F.col("val") * F.col("c")).alias("dot"),
            F.sum(F.col("val") * F.col("val")).alias("v2"),
            F.sum(F.col("c") * F.col("c")).alias("c2"),
        )
    )
    return pv.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(F.col("dot") / (F.sqrt("v2") * F.sqrt("c2"))) / F.count(F.lit(1)), 6
        ).alias("mean_coherence"),
    )


@query(
    "q174_dup_pair_embedding_audit",
    oracle=rf"""
    WITH f AS (
      SELECT doc_id, {_PREFIX_FP_SQL} AS fp
      FROM documents
    ),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    n AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    c AS (
      SELECT p.id_a, p.id_b,
             list_sum(list_transform(generate_series(1, len(ea.embedding)),
                      i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
               / (ea.nrm * eb.nrm) AS cos
      FROM p JOIN n ea ON ea.vec_id = p.id_a JOIN n eb ON eb.vec_id = p.id_b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(sum(cos) / count(*), 6) AS mean_cos,
           round(min(cos), 6) AS min_cos
    FROM c
    """,
)
def q174_dup_pair_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal consistency audit: every text near-dup CANDIDATE pair
    (matching 80-char normalized-prefix fingerprint — the prefix-bucket
    candidate generator) scored by embedding cosine. Textual near-dups
    whose embeddings disagree flag a broken embed pipeline (stale
    vectors, misaligned ids) before any embedding-based dedup or
    retrieval trusts the space; min_cos is the alarm line, mean_cos the
    health trend.

    Scale notes: the fingerprint self-join touches only dup groups
    (groups of 1 produce no pairs); pair count is bounded by the planted
    dup rate, so the two embedding joins are candidate-sized equi-joins —
    never corpus x corpus; cosine is the same ordered JVM aggregate the
    q41 oracle proved bit-compatible."""
    d = _t(spark, sf_dir, "documents")
    em = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", similarity.norm(F.col("embedding")).alias("nrm")
    )
    f = d.select("doc_id", _prefix_fp().alias("fp"))
    a = f.select(F.col("doc_id").alias("id_a"), "fp")
    b = f.select(F.col("doc_id").alias("id_b"), "fp")
    p = a.join(b, "fp").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    ea = em.select(F.col("vec_id").alias("_va"), F.col("embedding").alias("_ea"), F.col("nrm").alias("_na"))
    eb = em.select(F.col("vec_id").alias("_vb"), F.col("embedding").alias("_eb"), F.col("nrm").alias("_nb"))
    cos = similarity.dot(F.col("_ea"), F.col("_eb")) / (F.col("_na") * F.col("_nb"))
    c = (
        p.join(ea, p.id_a == F.col("_va"))
        .join(eb, p.id_b == F.col("_vb"))
        .select(cos.alias("cos"))
    )
    return c.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum("cos") / F.count(F.lit(1)), 6).alias("mean_cos"),
        F.round(F.min("cos"), 6).alias("min_cos"),
    )


@query(
    "q175_trailing_range_window",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, {EPOCH_SQL.format(c='ts')} AS ts_s,
             CAST(value AS DECIMAL(18,4)) AS v
      FROM events
    )
    SELECT event_id, user_id, ts_s,
           CAST(count(*) OVER w AS BIGINT) AS n_5min,
           CAST(round(sum(v) OVER w, 2) AS DOUBLE) AS sum_5min
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
                 RANGE BETWEEN 300 PRECEDING AND CURRENT ROW)
    """,
)
def q175_trailing_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: at every event, the count and value sum
    of the same user's events in the trailing 300 SECONDS — a frame
    bounded by the ORDER BY value, not by row counts, so bursts widen the
    frame and quiet periods shrink it (the per-entity rate/limit signal
    rowsBetween cannot express when event cadence is irregular).

    Scale notes: one shuffle on user_id; the range frame is evaluated by
    a sliding scan within each sorted partition (no self-join
    materialization of the 300 s neighborhood); tied timestamps are frame
    peers in both engines by the RANGE contract; the value sum rides the
    DECIMAL policy so the sliding accumulation order cannot show."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id", "user_id", _epoch("ts").alias("ts_s"), _dec("value").alias("v")
    )
    w = Window.partitionBy("user_id").orderBy("ts_s").rangeBetween(-300, 0)
    return e.select(
        "event_id", "user_id", "ts_s",
        F.count(F.lit(1)).over(w).alias("n_5min"),
        F.round(F.sum("v").over(w), 2).cast("double").alias("sum_5min"),
    )


@query(
    "q176_forecast_revenue_change",
    oracle="""
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                          * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q176_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): the revenue that would vanish
    if small-quantity, mid-discount lines shipped in one year had their
    discounts eliminated — the pure scan-filter-aggregate probe of
    predicate pushdown on three columns at once.

    Scale notes: every predicate reaches the parquet scan (date range,
    discount band, quantity cap), the projection reads only the four
    touched columns, and the single global aggregate is a map-side
    partial + 1-row final — the cheapest possible shape at any scale."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dsum2(_dec("l_extendedprice") * _dec("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q177_local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'ASIA'
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q177_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue per nation where the
    CUSTOMER'S nation equals the SUPPLIER'S nation inside one region and
    order year — the defining Q5 twist is that equality between two dim
    chains hanging off the same fact row (q05/q43 group by one chain
    only).

    Scale notes: region->nation prunes the broadcast nation dim first;
    customer and supplier broadcast; the local-supplier equality is a
    post-broadcast filter on the fact row (no extra shuffle); the only
    shuffle join is lineitem->orders with the date predicate pushed to
    the orders scan."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(_dim(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(nr), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(_dim(s), l.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") == F.col("c_nationkey"))
        .groupBy("nation")
        .agg(_dsum2(rev).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


@query(
    "q178_quality_dup_curve",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS_SQL}) END AS tok,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text) END AS pr,
             CASE WHEN trim(text) = '' THEN 0.0 ELSE {_SW_SQL} * 1.0 / len({_TOKS_SQL}) END AS sw,
             {_PREFIX_FP_SQL} AS fp
      FROM documents
    ),
    q AS (
      SELECT doc_id, tok, fp,
             CAST(round(0.5 * least(tok / 100.0, 1.0) + 0.5 * least(sw * 5.0, 1.0)
                        - 0.25 * least(pr * 5.0, 1.0), 6) AS DECIMAL(18,6)) AS quality
      FROM s
    ),
    c AS (SELECT fp, count(*) AS cnt FROM q GROUP BY fp),
    d AS (
      SELECT q.doc_id, q.tok, q.quality, (c.cnt > 1) AS is_dup,
             ntile(10) OVER (ORDER BY q.quality, q.doc_id) AS decile
      FROM q JOIN c ON c.fp = q.fp
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS total_tokens,
           round(CAST(sum(quality) AS DOUBLE) / count(*), 6) AS mean_quality,
           CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
           round(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS dup_rate
    FROM d GROUP BY decile
    """,
)
def q178_quality_dup_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile duplication curve: split the corpus into quality
    deciles and report each decile's near-dup-candidate rate (80-char
    prefix-fingerprint buckets, the q174 signal) — the standard dataset-
    paper analysis that tells a curation pipeline whether aggressive
    dedup should run BEFORE or AFTER the quality gate (boilerplate is
    usually both low-quality and duplicated; if dup_rate concentrates in
    the bottom deciles, the quality gate removes most dups for free).

    Scale notes: one scan computes quality + fingerprint; the dup census
    is fingerprint-keyed with map-side combining; deciles come from the
    two-phase bucketed rank + exact NTILE arithmetic (buckets = quality
    rounded to 2dp) — no single-partition sort anywhere in the plan."""
    from phoebe_spark.operators.layout import exact_ntile_expr, global_rank_by_value

    d = _t(spark, sf_dir, "documents")
    q = text.quality_score(d).select(
        "doc_id",
        F.col("token_count").alias("tok"),
        F.round("quality_score", 6).cast("decimal(18,6)").alias("quality"),
        _prefix_fp().alias("fp"),
    )
    c = q.groupBy("fp").agg(F.count(F.lit(1)).alias("cnt"))
    rk = global_rank_by_value(
        q, "quality", "doc_id", descending=False,
        bucket=F.round(F.col("quality"), 2),
    )
    n1 = q.agg(F.count(F.lit(1)).cast("long").alias("__nn"))
    dd = (
        rk.crossJoin(F.broadcast(n1))
        .join(c, "fp")
        .select(
            "doc_id", "tok", "quality",
            (F.col("cnt") > 1).alias("is_dup"),
            exact_ntile_expr("r", "__nn", 10).cast("int").alias("decile"),
        )
    )
    return dd.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").cast("long").alias("total_tokens"),
        F.round(F.sum("quality").cast("double") / F.count(F.lit(1)), 6).alias("mean_quality"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("long").alias("n_dup_docs"),
        F.round(
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)) * 1.0 / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
    )


@query(
    "q179_streaming_dedup_drain",
    oracle=rf"""
    WITH f AS (
      SELECT doc_id, source, {_PREFIX_FP_SQL} AS fp
      FROM documents
    ),
    surv AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp)
    SELECT f.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(surv.doc_id) AS BIGINT) AS n_survivors
    FROM f LEFT JOIN surv ON surv.fp = f.fp AND surv.doc_id = f.doc_id
    GROUP BY f.source
    """,
)
def q179_streaming_dedup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING operator inside the correctness gate: run the
    streaming exact-dedup gate (streaming/stateful.py, the
    applyInPandasWithState first-occurrence filter) over the documents
    table AS A STREAM, drain it, and report per-source document and
    survivor counts. The gate's tie-break is (event_time, doc_id) and
    event_time is held constant here, so the drained survivor set is
    deterministically min(doc_id) per fingerprint — which is exactly what
    the batch SQL oracle computes. One operator, two execution models,
    one answer: the streaming path is held to the same hash-checked
    standard as every batch query.

    Scale notes: in production the stream is the ingest feed and state is
    TTL-bounded; here the drain is one availableNow pass (state =
    distinct fingerprints). The survivor join back to sources is
    fingerprint-keyed."""
    from phoebe_spark.streaming import drain
    from phoebe_spark.streaming.stateful import streaming_dedup_gate

    d = _t(spark, sf_dir, "documents")
    with drain.scratch("q179_") as work:
        src_dir = f"{work}/src"
        # ONE fingerprint scan, staged once as one micro-batch: the same
        # parquet is the streaming source (the gate prunes it to its 3
        # columns) AND the batch side of the final per-source aggregate.
        # The gate tie-breaks doc_id as a STRING: zero-pad so string order
        # == numeric order and the drained survivor is min(doc_id).
        drain.stage_slices(
            [
                d.select(
                    _prefix_fp().alias("fp"),
                    F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("doc_id"),
                    F.lit("2026-01-01 00:00:00").cast("timestamp").alias("event_time"),
                    "source",
                )
            ],
            src_dir,
        )

        gate = streaming_dedup_gate(drain.replay(spark, src_dir))
        # Python fold over <=5,000 raw fingerprints; width 1 measured +128%
        # wall (sf0.1, 4 vCPUs)
        survivors = drain.run(gate, work, output_mode="append", state_partitions=8)

        staged = spark.read.parquet(src_dir)
        # unhinted join: survivors ~= distinct fingerprints (corpus-sized at
        # scale) — let the planner pick the strategy
        surv = survivors.select(F.col("doc_id").alias("_sid"))
        out = (
            staged.join(surv, staged.doc_id == F.col("_sid"), "left")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.count("_sid").alias("n_survivors"),
            )
        )
        # frozen: the batch side reads the staged file
        return out.localCheckpoint(eager=True)


@query(
    "q180_streaming_window_drain",
    oracle=f"""
    SELECT ({EPOCH_SQL.format(c='ts')} // 60) * 60 AS win_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q180_streaming_window_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING windowed aggregation inside the hash-checked gate: the
    events table replayed as a stream through a per-type tumbling
    1-minute window aggregate (the reference's keyed-window job shape,
    SURVEY §2.10), drained in complete mode, and compared against the
    batch GROUP BY on the same minute buckets — the streaming-vs-batch
    equivalence the unit tests assert, promoted to the oracle gate.

    Scale notes: complete mode is the DRAIN contract only (final state
    snapshot: the drain keeps the last batch); production uses append + watermark
    (streaming/jobs.py `windowed_keyed_agg`). The value sum rides the
    DECIMAL policy so streaming partial-aggregation order matches the
    batch engines."""
    from phoebe_spark.streaming import drain

    ev = _t(spark, sf_dir, "events")
    with drain.scratch("q180_") as work:
        src_dir = f"{work}/src"
        # one staged file: the whole table is one micro-batch
        drain.stage_slices(
            [
                ev.select(
                    F.expr("timestamp_micros(ts div 1000)").alias("event_time"),
                    "event_type",
                    _dec("value").alias("v"),
                )
            ],
            src_dir,
        )
        agg = (
            drain.replay(spark, src_dir)
            .groupBy(F.window("event_time", "1 minute"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("v"), 2).cast("double").alias("total_value"),
            )
        )
        return drain.run(agg, work, output_mode="complete").select(
            F.col("window.start").cast("long").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )


@query(
    "q181_calendar_gap_audit",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('day', min(o_orderdate)) AS lo,
             date_trunc('day', max(o_orderdate)) AS hi
      FROM orders
    ),
    cal AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds
    ),
    act AS (SELECT DISTINCT date_trunc('day', o_orderdate) AS d FROM orders)
    SELECT strftime(cal.d, '%Y-%m-%d') AS gap_day, dayname(cal.d) AS dow
    FROM cal LEFT JOIN act ON act.d = cal.d
    WHERE act.d IS NULL
    """,
)
def q181_calendar_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-gap audit: generate the full day calendar between the
    first and last order date (`sequence` + explode — rows the data does
    NOT contain) and anti-join the active days away, leaving the days
    with zero orders — the ingestion-outage / upstream-feed-gap check a
    daily pipeline runs before trusting day-over-day metrics. A day
    missing from the fact table is invisible to every GROUP BY; only a
    generated calendar can surface it.

    Scale notes: the calendar is bounds-derived (two-value aggregate,
    broadcast back), thousands of rows regardless of fact size; the
    distinct-day frame collapses the fact table map-side before the
    anti join, so the join is days x days."""
    o = _t(spark, sf_dir, "orders")
    b = o.agg(
        F.date_trunc("day", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("day", F.max("o_orderdate")).alias("hi"),
    )
    cal = b.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d")
    )
    act = o.select(F.date_trunc("day", F.col("o_orderdate")).alias("d")).distinct()
    return (
        cal.join(act, "d", "left_anti")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("gap_day"),
            F.date_format("d", "EEEE").alias("dow"),
        )
    )


@query(
    "q182_leakage_safe_split",
    oracle=f"""
    WITH f AS (SELECT doc_id, {_PREFIX_FP_SQL} AS fp FROM documents),
    r AS (SELECT fp, min(doc_id) AS rep FROM f GROUP BY fp),
    a AS (
      SELECT fp, rep,
             CAST(('0x' || substring(md5(CAST(rep AS VARCHAR) || '|v1'), 1, 15)) AS BIGINT)
               % 10000 AS bucket
      FROM r
    ),
    s AS (SELECT fp, CASE WHEN bucket < 9000 THEN 'train'
                          WHEN bucket < 9500 THEN 'val'
                          ELSE 'test' END AS split FROM a)
    SELECT s.split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT f.fp) AS BIGINT) AS n_groups,
           min(f.doc_id) AS min_doc, max(f.doc_id) AS max_doc
    FROM f JOIN s ON s.fp = f.fp
    GROUP BY 1
    """,
)
def q182_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (:func:`sampling.leakage_safe_split`):
    documents are grouped by the shared 80-char prefix fingerprint (the
    near-dup signal of q174/q178/q179) and the whole group inherits the
    deterministic hash split of its min-doc_id representative — so a
    near-duplicate pair can never land train-side AND test-side, the
    contamination path a row-wise q55 split leaves open. The oracle
    re-derives group, representative, bucket, and label independently.
    Aggregated per split so the compare is sensitive to every doc's
    assignment."""
    d = _t(spark, sf_dir, "documents").select("doc_id", _prefix_fp().alias("fp"))
    s = sampling.leakage_safe_split(d, group_col="fp")
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_groups"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(
    "q183_source_length_ks",
    oracle="""
    WITH cnt AS (
      SELECT source, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2
    ),
    per AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM cnt GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
    vals AS (SELECT DISTINCT v FROM cnt),
    vcum AS (
      SELECT v, sum(tc) OVER (ORDER BY v) AS cum_all
      FROM (SELECT v, sum(c) AS tc FROM cnt GROUP BY v)
    ),
    grid AS (SELECT p.source, p.ns, x.v FROM per p CROSS JOIN vals x),
    scum AS (
      SELECT g.source, g.ns, g.v,
             sum(coalesce(cnt.c, 0))
               OVER (PARTITION BY g.source ORDER BY g.v) AS cum_s
      FROM grid g LEFT JOIN cnt ON cnt.source = g.source AND cnt.v = g.v
    )
    SELECT s.source, s.ns AS n_docs,
           round(max(abs(s.cum_s * 1.0 / s.ns
                 - (vc.cum_all - s.cum_s) * 1.0 / (t.n - s.ns))), 6) AS ks_stat
    FROM scum s JOIN vcum vc ON vc.v = s.v CROSS JOIN tot t
    GROUP BY s.source, s.ns
    """,
)
def q183_source_length_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution-drift audit: the two-sample
    Kolmogorov-Smirnov statistic of each source's document-length
    distribution against the REST of the corpus — the standard "did this
    feed change shape" gate before a source is admitted into a training
    mix (mean/stddev gates miss bimodal drift; KS does not).

    Scale shape: lengths collapse to (source, value, count) map-side
    first, so everything after is (sources x distinct-lengths)-sized —
    bounded by the length domain, independent of corpus rows. Both ECDFs
    come from ONE cumulative window over the shared value grid (rest =
    global cum minus source cum; no second pass), and the max-deviation
    is an ordinary groupBy max."""
    d = _t(spark, sf_dir, "documents")
    # the census feeds FIVE downstream branches (per/tot/vals/vcum/scum):
    # materialize the (sources x distinct-lengths)-sized frame once so the
    # corpus is scanned once, not once per branch
    cnt = (
        d.groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    per = cnt.groupBy("source").agg(F.sum("c").alias("ns"))
    tot = cnt.agg(F.sum("c").alias("n"))
    vals = cnt.select("v").distinct()
    vcum = (
        cnt.groupBy("v")
        .agg(F.sum("c").alias("tc"))
        .withColumn("cum_all", F.sum("tc").over(Window.orderBy("v")))
        .select("v", "cum_all")
    )
    grid = per.crossJoin(vals)
    scum = (
        grid.join(cnt, ["source", "v"], "left")
        .withColumn(
            "cum_s",
            F.sum(F.coalesce(F.col("c"), F.lit(0))).over(
                Window.partitionBy("source").orderBy("v")
            ),
        )
        .select("source", "ns", "v", "cum_s")
    )
    j = scum.join(vcum, "v").crossJoin(F.broadcast(tot))
    dev = F.abs(
        F.col("cum_s") / F.col("ns")
        - (F.col("cum_all") - F.col("cum_s")) / (F.col("n") - F.col("ns"))
    )
    return j.groupBy("source", F.col("ns").alias("n_docs")).agg(
        F.round(F.max(dev), 6).alias("ks_stat")
    )


@query(
    "q184_streaming_profile_drain",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def q184_streaming_profile_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING profile loop in the correctness gate (SURVEY §2.10's
    generator->profile-store cycle, tightened): the events table replays
    in 4 micro-batches (a quarter of the rows each — the file-source
    throttle a backfill uses so one catch-up run cannot starve the live
    cluster), an update-mode keyed aggregate maintains per-event-type
    profiles INCREMENTALLY across micro-batches, and every batch APPENDS
    its updated profile rows to the drained history — the append-only
    profile-store layout (no in-place rewrite at 100 TB; readers take the
    latest version per key). A key's version is its running event count:
    update mode re-emits a key only when rows arrive for it, so the count
    grows with every version. Because each emission is the key's full
    running aggregate, the newest version must equal the one-pass batch
    answer the DuckDB oracle computes. Money-sum policy: DECIMAL(18,4)
    accumulate, round(2), cast DOUBLE — exact under any batch/partial
    ordering."""
    from phoebe_spark.streaming import drain

    with drain.scratch("q184_") as work:
        src_dir = f"{work}/src"
        e = _t(spark, sf_dir, "events").select("event_type", "value")
        quarter = (F.monotonically_increasing_id() % 4).alias("_slice")
        drain.stage(e.select("*", quarter), "_slice", src_dir)

        prof = drain.replay(spark, src_dir).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        history = drain.run(prof, work, output_mode="update")
        return drain.latest(history, key="event_type", order="n_events")


@query(
    "q185_audio_dominant_freq",
    oracle="""
    SELECT doc_id AS media_id,
           round((8 + 8 * (doc_id % 8)) * 8000.0 / 256, 2) AS dominant_freq_hz
    FROM documents
    """,
)
def q185_audio_dominant_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audio DSP loop, analytically oracle-checked: every doc
    synthesizes a REAL RIFF/WAVE file (stdlib ``wave`` encoder, 16-bit
    PCM, 8 kHz) carrying a pure sine planted at bin
    ``k = 8 + 8*(doc_id % 8)`` of a 256-sample frame, then the pipeline
    runs the real decoder (:func:`multimodal.wav_decode`) and the real
    rFFT (:func:`multimodal.audio_spectral_features`). Because the sine
    completes an integer number of cycles per frame, ALL its energy lands
    in bin k, so the detected dominant frequency must equal the planted
    ``k * 8000 / 256`` Hz exactly — the oracle predicts the DSP answer in
    closed form without re-deriving the FFT. Any defect in WAV framing,
    PCM scaling, channel averaging, or FFT indexing shifts the argmax and
    fails the hash.

    Scale shape: generation and analysis are both Arrow-batched
    ``mapInPandas`` kernels; blobs never leave the executor."""
    from phoebe_spark.operators import multimodal

    def _gen(it):
        import io
        import wave as wavelib

        import numpy as np
        import pandas as pd

        sr, n = 8000, 256
        t = np.arange(n)
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                k = 8 + 8 * (int(doc_id) % 8)
                x = 0.4 * np.sin(2 * np.pi * k * t / n)
                pcm = (x * 32767).astype("<i2")
                buf = io.BytesIO()
                with wavelib.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(sr)
                    w.writeframes(pcm.tobytes())
                rows.append(
                    {
                        "media_id": int(doc_id),
                        "content": buf.getvalue(),
                        "n_samples": n,
                        "sample_rate": sr,
                    }
                )
            yield pd.DataFrame(rows)

    d = _t(spark, sf_dir, "documents").select("doc_id")
    blobs = d.mapInPandas(
        _gen, "media_id LONG, content BINARY, n_samples LONG, sample_rate LONG"
    )
    feats = multimodal.audio_spectral_features(blobs)
    return feats.select("media_id", F.round("dominant_freq_hz", 2).alias("dominant_freq_hz"))


@query(
    "q186_chunk_scrub_rebuild",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE trim(text) <> ''),
    ch AS (
      SELECT doc_id,
             unnest(generate_series(0, CAST(ceil(len(toks) / 4.0) AS INT) - 1)) AS pos,
             unnest(list_transform(generate_series(0, CAST(ceil(len(toks) / 4.0) AS INT) - 1),
                    c -> array_to_string(toks[c*4+1 : c*4+4], ' '))) AS chunk
      FROM t),
    census AS (SELECT chunk, count(DISTINCT doc_id) AS df_docs FROM ch GROUP BY chunk)
    SELECT ch.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN census.df_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(length(coalesce(string_agg(CASE WHEN census.df_docs < 2 THEN ch.chunk END, ' '
                                           ORDER BY ch.pos), '')) AS BIGINT) AS clean_len,
           md5(coalesce(string_agg(CASE WHEN census.df_docs < 2 THEN ch.chunk END, ' '
                                   ORDER BY ch.pos), '')) AS clean_md5
    FROM ch JOIN census USING (chunk)
    GROUP BY ch.doc_id
    """,
)
def q186_chunk_scrub_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus boilerplate REMOVAL with document reassembly
    (:func:`dedup.chunk_scrub_rebuild`): the RefinedWeb "drop lines
    repeated across documents" curation step — 4-word chunks occurring in
    >= 2 distinct documents are scrubbed from every document and the
    survivors are re-joined in original order. Where q78 only *counts*
    duplicated chunks, this query certifies the rebuilt text itself: the
    md5 of every reassembled document must match the oracle's
    ``string_agg(... ORDER BY pos)`` reconstruction, so a wrong census
    verdict, a dropped position, or an out-of-order reassembly all fail
    the hash.

    Scale shape: codegen chunk assembly (transform+slice), one census
    shuffle on the chunk string, one verdict join back on the same
    ~uniform key, ONE doc-keyed reassembly groupBy (array_sort of
    (pos, chunk) structs — no per-document window sort)."""
    d = _t(spark, sf_dir, "documents")
    s = dedup.chunk_scrub_rebuild(d, chunk_words=4, min_docs=2)
    return s.select(
        "doc_id",
        "n_chunks",
        "n_removed",
        F.length("clean_text").cast("long").alias("clean_len"),
        F.md5("clean_text").alias("clean_md5"),
    )


@query(
    "q187_kmeans_embeddings",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
      FROM (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 8)),
    d1 AS (
      SELECT x.vec_id, x.v, c.cid,
             row_number() OVER (PARTITION BY x.vec_id
                                ORDER BY sqrt(list_sum(list_transform(generate_series(1, len(x.v)),
                                     i -> (x.v[i] - c.v[i]) * (x.v[i] - c.v[i])))), c.cid) AS rn
      FROM v x CROSS JOIN c0 c),
    a1 AS (SELECT vec_id, v, cid FROM d1 WHERE rn = 1),
    u1 AS (
      SELECT cid, dim,
             CAST(sum(CAST(floor(val * 1000000000.0) AS BIGINT)) AS DOUBLE)
               / (1000000000.0 * count(*)) AS cv
      FROM (SELECT cid, unnest(v) AS val, generate_subscripts(v, 1) AS dim FROM a1)
      GROUP BY cid, dim),
    c1 AS (
      SELECT c0.cid, coalesce(ug.v, c0.v) AS v
      FROM c0 LEFT JOIN (SELECT cid, list(cv ORDER BY dim) AS v FROM u1 GROUP BY cid) ug
      USING (cid)),
    d2 AS (
      SELECT x.vec_id, x.v, c.cid,
             row_number() OVER (PARTITION BY x.vec_id
                                ORDER BY sqrt(list_sum(list_transform(generate_series(1, len(x.v)),
                                     i -> (x.v[i] - c.v[i]) * (x.v[i] - c.v[i])))), c.cid) AS rn
      FROM v x CROSS JOIN c1 c),
    a2 AS (SELECT vec_id, v, cid FROM d2 WHERE rn = 1),
    u2 AS (
      SELECT cid, dim,
             CAST(sum(CAST(floor(val * 1000000000.0) AS BIGINT)) AS DOUBLE)
               / (1000000000.0 * count(*)) AS cv
      FROM (SELECT cid, unnest(v) AS val, generate_subscripts(v, 1) AS dim FROM a2)
      GROUP BY cid, dim),
    c2 AS (
      SELECT c1.cid, coalesce(ug.v, c1.v) AS v
      FROM c1 LEFT JOIN (SELECT cid, list(cv ORDER BY dim) AS v FROM u2 GROUP BY cid) ug
      USING (cid)),
    d3 AS (
      SELECT x.vec_id, c.cid,
             sqrt(list_sum(list_transform(generate_series(1, len(x.v)),
                  i -> (x.v[i] - c.v[i]) * (x.v[i] - c.v[i])))) AS dist,
             row_number() OVER (PARTITION BY x.vec_id
                                ORDER BY sqrt(list_sum(list_transform(generate_series(1, len(x.v)),
                                     i -> (x.v[i] - c.v[i]) * (x.v[i] - c.v[i])))), c.cid) AS rn
      FROM v x CROSS JOIN c2 c),
    a3 AS (SELECT vec_id, cid, dist FROM d3 WHERE rn = 1)
    SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
           round(CAST(sum(CAST(dist AS DECIMAL(27,12))) AS DOUBLE) / count(*), 6) AS mean_dist,
           CAST(min(vec_id) AS BIGINT) AS min_member
    FROM a3 GROUP BY cid
    """,
)
def q187_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means on the embedding corpus
    (:func:`similarity.kmeans_lloyd`, k=8, 2 iterations) — the cluster
    step of SemDeDup semantic dedup and the honest fit behind an IVF
    index (q44 certifies IVF *search* against pretrained pivots; this
    certifies the *training* loop itself). Deterministic lowest-id
    seeding + lowest-cid tie-breaks let the oracle replay BOTH Lloyd
    iterations as a CTE chain: assignment distances are the same ordered
    fold DuckDB computes, centroid updates carry DECIMAL(27,12)-exact
    sums, and an emptied cluster falls back to its previous centroid in
    both engines. Per-cluster size, decimal-carried mean distance, and
    min member certify every vector's final assignment.

    Scale shape: per iteration ONE corpus scan (literal-centroid codegen
    distance folds) + one (k x dims)-sized aggregate; exactly k*dims
    doubles reach the driver per round — the model state, never data."""
    emb = _t(spark, sf_dir, "embeddings")
    fit = similarity.kmeans_lloyd(emb, k=8, iters=2)
    return fit.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(
            F.sum(F.col("dist").cast("decimal(27,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_dist"),
        F.min("vec_id").cast("long").alias("min_member"),
    )


@query(
    "q188_streaming_quota_drain",
    oracle="""
    WITH r AS (
      SELECT user_id, value,
             epoch_ns(ts) AS ord_ns,
             lpad(CAST(event_id AS VARCHAR), 12, '0') AS sid,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_ns(ts), lpad(CAST(event_id AS VARCHAR), 12, '0')) AS rn
      FROM events)
    SELECT CAST(user_id AS VARCHAR) AS key,
           CAST(count(*) AS BIGINT) AS n_admitted,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value,
           CAST(max(ord_ns) AS BIGINT) AS max_ord
    FROM r WHERE rn <= 40 GROUP BY user_id
    """,
)
def q188_streaming_quota_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING per-key admission quota inside the hash-checked gate
    (:func:`stateful.keyed_quota_gate`, quota=40): the per-source intake
    cap of a training-data pipeline (one feed cannot flood the mix) run
    as REAL Structured Streaming — the events table replays as 4
    sequenced files (disjoint ascending (ts, id) ranges, strictly
    increasing mtimes, one file per trigger), so arrival order is the
    global (ts, zero-padded id) order and the admitted set must equal
    the batch ``row_number() <= quota`` answer the DuckDB oracle
    computes. Quota 40 with ~49-86 events/user means most keys admit
    across SEVERAL micro-batches before saturating — the carried counter
    state, not single-batch truncation, decides the cut.

    Scale shape: state is one monotone counter per key, held in 8 hash
    shards; the staging global sort is drain scaffolding only — the
    production source is a Kafka topic whose per-partition order is the
    arrival order. Money policy: DECIMAL(18,4) accumulate, round(2),
    cast DOUBLE."""
    from phoebe_spark.streaming import drain, stateful

    with drain.scratch("q188_") as work:
        src_dir = f"{work}/src"
        e = _t(spark, sf_dir, "events").select(
            F.col("user_id").cast("string").alias("key"),
            F.lpad(F.col("event_id").cast("string"), 12, "0").alias("sid"),
            F.col("ts").alias("ord_ns"),
            F.col("value").cast("double").alias("value"),
        )
        # Staging in ONE pruned pass. Two facts make this cheap without
        # touching the answer:
        #   1. The admitted set only needs the files to hold DISJOINT
        #      ASCENDING ord_ns ranges — the gate canonically re-sorts
        #      every micro-batch by (ord, sid), so the exact boundary
        #      placement is irrelevant. Approximate quantile boundaries
        #      (3 scalars to the driver) therefore slice as well as an
        #      exact global ntile sort did, minus the single-task sort.
        #   2. Map-side pre-prune — the scalable quota-gate ingest
        #      shape: a row ranked > quota per key WITHIN ITS OWN SLICE
        #      can never be admitted (>= quota same-key rows precede it
        #      in the same micro-batch and the counter is monotone), so
        #      the per-(slice, key) row_number <= quota filter provably
        #      leaves the admitted set unchanged while keeping ~70-97%
        #      of the stream away from the Python stateful operator.
        #      Cross-batch counter state still decides the cut: a key
        #      can stage quota rows per file but only quota TOTAL pass.
        qs = e.stat.approxQuantile("ord_ns", [0.25, 0.5, 0.75], 0.001)
        slice_expr = (
            1
            + sum((F.col("ord_ns") > F.lit(b)).cast("int") for b in qs)
        ).alias("_slice")
        w_slice = Window.partitionBy("_slice", "key").orderBy("ord_ns", "sid")
        pruned = (
            e.select("key", "sid", "ord_ns", "value", slice_expr)
            .withColumn("_rn", F.row_number().over(w_slice))
            .filter(F.col("_rn") <= 40)
            .drop("_rn")
        )
        drain.stage(pruned, "_slice", src_dir)

        # the gate folds each of its 8 shards' keys in one handler call:
        # 8 state get/put exchanges per micro-batch instead of ~1500 (one
        # per user), ~190 keys per shard's state row
        admitted = stateful.keyed_quota_gate(
            drain.replay(spark, src_dir),
            quota=40,
            key_col="key",
            id_col="sid",
            ord_col="ord_ns",
        )
        return (
            drain.run(admitted, work, output_mode="append")
            .groupBy("key")
            .agg(
                F.count(F.lit(1)).alias("n_admitted"),
                F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
                .cast("double")
                .alias("total_value"),
                F.max("ord").alias("max_ord"),
            )
        )


@query(
    "q189_stitch_audit",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS w FROM documents
      WHERE trim(text) <> '' AND len({_TOKS_SQL}) >= 6),
    g AS (
      SELECT doc_id,
             array_to_string(w[1:3], ' ') AS head,
             array_to_string(w[-3:], ' ') AS tail
      FROM t),
    hd AS (SELECT head AS gram, count(*) AS h_df FROM g GROUP BY head),
    td AS (SELECT tail AS gram, count(*) AS t_df FROM g GROUP BY tail),
    ok AS (
      SELECT coalesce(hd.gram, td.gram) AS gram
      FROM hd FULL JOIN td ON hd.gram = td.gram
      WHERE coalesce(h_df, 0) <= 64 AND coalesce(t_df, 0) <= 64)
    SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.tail AS gram
    FROM g a
    JOIN ok ON ok.gram = a.tail
    JOIN g b ON b.head = a.tail
    WHERE a.doc_id <> b.doc_id
    """,
)
def q189_stitch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-document reconstruction audit
    (:func:`dedup.stitch_candidates`, k=3, df-cap 64): documents whose
    last 3 tokens open another document — the shard-boundary /
    pagination-cut signal that two stored rows are one logical document.
    Hot boundary grams (template openings/closings) are df-capped on
    both sides before the tail->head equi-join, so the join is
    candidate-sized, never a corpus self-join."""
    d = _t(spark, sf_dir, "documents")
    return dedup.stitch_candidates(d, k=3, max_df=64)


@query(
    "q190_source_quality_cap",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, source,
             CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS_SQL}) END AS tok,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text) END AS pr,
             CASE WHEN trim(text) = '' THEN 0.0 ELSE {_SW_SQL} * 1.0 / len({_TOKS_SQL}) END AS sw
      FROM documents),
    q AS (
      SELECT doc_id, source, tok,
             0.5 * least(tok / 100.0, 1.0) + 0.5 * least(sw * 5.0, 1.0)
               - 0.25 * least(pr * 5.0, 1.0) AS score
      FROM s),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY score DESC, doc_id) AS rn
      FROM q)
    SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
           round(min(score), 6) AS min_kept_score,
           CAST(sum(tok) AS BIGINT) AS kept_tokens,
           CAST(min(doc_id) AS BIGINT) AS best_doc
    FROM r WHERE rn <= 50 GROUP BY source
    """,
)
def q190_source_quality_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-ranked admission cap: each source contributes at
    most its 50 highest-quality documents (ties broken by doc_id) to the
    training mix — the "source capping" curation step that stops one
    over-crawled feed from dominating, ranked by the oracle-proven q10
    composite score. The per-source rollup (count, worst admitted score,
    token yield) certifies the exact admitted set.

    Scale shape: the rank is a PER-SOURCE window (WindowGroupLimit
    pushes the rn<=50 filter into the sort — each partition keeps a
    50-row heap, no full per-source sort materializes), and the output
    is sources-sized. At 100 TB the same query runs with
    approx-quantile score thresholds per source (q159's pattern) if
    even the group-limit sort is too hot."""
    d = _t(spark, sf_dir, "documents")
    q = text.quality_score(d).select("doc_id", "source", "token_count", "quality_score")
    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        q.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.min("quality_score"), 6).alias("min_kept_score"),
            F.sum("token_count").cast("long").alias("kept_tokens"),
            F.min("doc_id").cast("long").alias("best_doc"),
        )
    )


@query(
    "q191_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2),
    tr AS (
      SELECT event_type, day, v,
             avg(v) OVER w AS trend,
             count(*) OVER w AS wn
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
    SELECT event_type, CAST(day % 7 AS INT) AS dow,
           CAST(count(*) AS BIGINT) AS n_days,
           round(CAST(sum(CAST(v - trend AS DECIMAL(27,12))) AS DOUBLE) / count(*), 6)
             + 0.0 AS seasonal
    FROM tr WHERE wn = 7
    GROUP BY event_type, CAST(day % 7 AS INT)
    """,
)
def q191_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite seasonal decomposition of the per-type daily revenue
    series: trend = centered 7-day moving average (full windows only, so
    the profile is never contaminated by edge-shrunken means), seasonal =
    per day-of-week mean of the detrended series — the metrics-domain
    operator behind "is Monday really lower or is that the trend"
    (W3's centered rolling mean composed into a seasonal profile, the
    step the reference's workload forecaster takes implicitly when it
    fits sine-modulated rates; cf. analytics/app/workload/models.py).
    Day-of-week is epoch-day mod 7 — timezone-free and engine-portable.

    Determinism: the daily series carries the DECIMAL(18,4) money
    policy; the 7-row frame average folds in frame order in both
    engines; the dow mean is a DECIMAL(27,12)-carried sum.

    Scale shape: one (type, day) shuffle builds the series, one
    days-sized window sort per type, one 35-key rollup — the fact table
    never sorts globally."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.expr("ts div 86400000000000").alias("day"))
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("v")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "day",
        "v",
        F.avg("v").over(w).alias("trend"),
        F.count(F.lit(1)).over(w).alias("wn"),
    ).filter(F.col("wn") == 7)
    return (
        tr.groupBy("event_type", (F.col("day") % 7).cast("int").alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            (
                F.round(
                    F.sum(
                        (F.col("v") - F.col("trend")).cast("decimal(27,12)")
                    ).cast("double")
                    / F.count(F.lit(1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("seasonal"),
        )
    )


@query(
    "q192_matryoshka_audit",
    oracle="""
    WITH p AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
    b AS (SELECT unnest([8, 16, 32, 64]) AS d),
    s AS (
      SELECT p.qid, e.vec_id AS nid, b.d,
             list_sum(list_transform(generate_series(1, b.d),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.qv[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(generate_series(1, b.d),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(generate_series(1, b.d),
                      i -> CAST(p.qv[i] AS DOUBLE) * CAST(p.qv[i] AS DOUBLE))))) AS cs
      FROM embeddings e CROSS JOIN p CROSS JOIN b
      WHERE e.vec_id <> p.qid),
    r AS (SELECT qid, nid, d, cs,
                 row_number() OVER (PARTITION BY qid, d ORDER BY cs DESC, nid) AS rn
          FROM s),
    t AS (SELECT qid, d, nid, cs FROM r WHERE rn = 1),
    fl AS (SELECT qid, nid AS fid FROM t WHERE d = 64)
    SELECT CAST(t.d AS INT) AS dim_budget,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN t.nid = fl.fid THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           round(CAST(sum(CAST(t.cs AS DECIMAL(27,12))) AS DOUBLE) / count(*), 6)
             AS mean_top1_cos
    FROM t JOIN fl USING (qid) WHERE t.d < 64
    GROUP BY t.d
    """,
)
def q192_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation retrieval audit (Kusupati et al. 2022): for
    a 10-query panel, does top-1 retrieval under the first 8 / 16 / 32
    dimensions (re-normalized truncated cosine) agree with full-64-dim
    top-1? The acceptance gate run before shipping truncated embeddings
    to a cheaper ANN tier — per budget: agreement count and the
    decimal-carried mean top-1 truncated cosine. Budget 64 rides the
    same plan as the ground truth, so one scan scores every budget.

    Scale shape: the query panel broadcasts (q23's pattern); truncated
    cosines are codegen folds over array slices of the SAME scan row —
    4 budgets cost 4 expressions, not 4 scans; per-(query, budget)
    top-1 is a WindowGroupLimit rank; everything after is
    panel-sized."""
    emb = _t(spark, sf_dir, "embeddings")
    panel = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    budgets = F.explode(F.array(*[F.lit(d) for d in (8, 16, 32, 64)])).alias("d")
    pairs = (
        emb.join(F.broadcast(panel))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("vec_id", "embedding", "qid", "qv", budgets)
    )
    scored = pairs.select(
        "qid",
        F.col("vec_id").alias("nid"),
        "d",
        similarity.cosine(
            F.slice("embedding", F.lit(1), F.col("d")),
            F.slice("qv", F.lit(1), F.col("d")),
        ).alias("cs"),
    )
    w = Window.partitionBy("qid", "d").orderBy(F.col("cs").desc(), F.col("nid").asc())
    # panel-sized (n_queries x budgets): materialize once so the full-dim
    # branch and the truncated branch don't EACH re-score the corpus
    top1 = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .localCheckpoint(eager=True)
    )
    full = top1.filter(F.col("d") == 64).select("qid", F.col("nid").alias("fid"))
    return (
        top1.filter(F.col("d") < 64)
        .join(full, "qid")
        .groupBy(F.col("d").cast("int").alias("dim_budget"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(F.when(F.col("nid") == F.col("fid"), 1).otherwise(0))
            .cast("long")
            .alias("n_agree"),
            F.round(
                F.sum(F.col("cs").cast("decimal(27,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_top1_cos"),
        )
    )


# ---------------------------------------------------------------------------
# Round-5 extensions: snapshot/CDC lifecycle, normalization-sensitive dedup,
# langid evaluation, stream-stream join certification, embedding drift,
# robust stats, cross-source vocabulary overlap
# ---------------------------------------------------------------------------


@query(
    "q193_snapshot_diff",
    oracle="""
    WITH prev AS (
      SELECT doc_id, source,
             md5(CASE WHEN doc_id % 7 = 0 THEN substr(text, 1, 10) ELSE text END) AS h
      FROM documents WHERE doc_id % 11 <> 3
    ),
    cur AS (
      SELECT doc_id, source, md5(text) AS h
      FROM documents WHERE doc_id % 13 <> 5
    ),
    d AS (
      SELECT coalesce(cur.source, prev.source) AS source,
             CASE WHEN prev.doc_id IS NULL THEN 'added'
                  WHEN cur.doc_id IS NULL THEN 'removed'
                  WHEN prev.h <> cur.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM prev FULL OUTER JOIN cur ON prev.doc_id = cur.doc_id
    )
    SELECT source, status, count(*) AS n_docs
    FROM d GROUP BY source, status
    """,
)
def q193_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset snapshot diff — the "what changed between crawls" audit
    every corpus refresh needs before reprocessing: full-outer join two
    snapshot views of the corpus on the document key, classify each id
    as added / removed / changed / unchanged by content hash, and
    census the result per source. The two snapshots are deterministic
    derivations of the documents table (previous crawl: drops
    ``doc_id%11==3`` and carries a stale 10-char text for ``%7==0``;
    current crawl: drops ``doc_id%13==5``) so the oracle replays them
    exactly.

    Scale shape: ONE equi-join on the id key — both sides shuffle once
    on doc_id (at 100 TB this is the bucketed-by-id layout's free
    join); the hash compare is a codegen expression, and the output is
    source x status (tiny). No content ever moves — only (id, source,
    16-byte md5)."""
    d = _t(spark, sf_dir, "documents")
    prev = d.filter(F.col("doc_id") % 11 != 3).select(
        "doc_id",
        F.col("source").alias("p_source"),
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 0, F.substring("text", 1, 10)
            ).otherwise(F.col("text"))
        ).alias("p_h"),
    )
    cur = d.filter(F.col("doc_id") % 13 != 5).select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    status = (
        F.when(F.col("p_h").isNull(), "added")
        .when(F.col("h").isNull(), "removed")
        .when(F.col("p_h") != F.col("h"), "changed")
        .otherwise("unchanged")
    )
    return (
        prev.join(cur, "doc_id", "full_outer")
        .select(
            F.coalesce("source", "p_source").alias("source"), status.alias("status")
        )
        .groupBy("source", "status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "q194_cdc_apply",
    oracle="""
    WITH log AS (
      SELECT o_orderkey AS k, 1 AS version, 'I' AS op, o_orderstatus AS status,
             CAST(o_totalprice AS DECIMAL(18,4)) AS price
      FROM orders
      UNION ALL
      SELECT o_orderkey, 2, 'U', o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,4)) + CAST(10 AS DECIMAL(18,4))
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey, 3, 'D', o_orderstatus, NULL
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    last AS (
      SELECT * FROM (
        SELECT log.*, row_number() OVER (PARTITION BY k ORDER BY version DESC) AS rn
        FROM log
      ) WHERE rn = 1
    )
    SELECT status,
           count(*) AS n_live,
           CAST(round(sum(price), 2) AS DOUBLE) AS total_price
    FROM last WHERE op <> 'D'
    GROUP BY status
    """,
)
def q194_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog (CDC) apply — collapse an insert/update/delete log into
    final table state by last-writer-wins, the core of every
    incremental-materialization sink (Debezium -> lakehouse MERGE). The
    log is a deterministic derivation of orders (every key inserted at
    v1; ``%5==0`` updated at v2 with an exact DECIMAL +10 price bump;
    ``%7==0`` tombstoned at v3), so the oracle rebuilds the identical
    log and the final-state census per order status is hash-comparable.

    Scale shape: ONE shuffle on the change key for the per-key
    row_number (in production the log is already key-partitioned by the
    CDC transport, making this map-side); deletes drop in the same
    pass — no join against the base table, because v1 carries the base.
    The DECIMAL policy keeps the surviving-price sum order-independent."""
    o = _t(spark, sf_dir, "orders")
    ins = o.select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("version"),
        F.lit("I").alias("op"),
        F.col("o_orderstatus").alias("status"),
        _dec("o_totalprice").alias("price"),
    )
    upd = (
        o.filter(F.col("o_orderkey") % 5 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.lit(2).alias("version"),
            F.lit("U").alias("op"),
            F.col("o_orderstatus").alias("status"),
            (_dec("o_totalprice") + F.lit(10).cast("decimal(18,4)")).alias("price"),
        )
    )
    dele = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.lit(3).alias("version"),
            F.lit("D").alias("op"),
            F.col("o_orderstatus").alias("status"),
            F.lit(None).cast("decimal(18,4)").alias("price"),
        )
    )
    log = ins.unionByName(upd).unionByName(dele)
    w = Window.partitionBy("k").orderBy(F.col("version").desc())
    live = (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
    )
    return live.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_live"),
        F.round(F.sum("price"), 2).cast("double").alias("total_price"),
    )


@query(
    "q195_normalization_lift",
    oracle="""
    WITH n AS (
      SELECT source,
             md5(text) AS raw_h,
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                                     '\\s+', ' ', 'g'))) AS norm_h
      FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT raw_h) AS n_raw_distinct,
           count(DISTINCT norm_h) AS n_norm_distinct,
           count(DISTINCT raw_h) - count(DISTINCT norm_h) AS dedup_lift
    FROM n GROUP BY source
    """,
)
def q195_normalization_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-sensitivity dedup audit: how many extra duplicate
    groups does aggressive text normalization (lowercase, strip
    non-alphanumerics, collapse whitespace) reveal per source beyond
    byte-exact hashing? This decides whether a corpus needs the
    normalized pass before exact dedup (CCNet / RefinedWeb both
    normalize first) — a per-source lift of 0 means raw hashing
    suffices.

    Scale shape: both fingerprints are codegen expressions over the
    SAME scan row; the per-source distinct-count pair is one partial
    aggregation on (source, hash) — Spark rewrites the multi-distinct
    with expand, still one shuffle family, no text movement (hashes
    only)."""
    d = _t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""), r"\s+", " "
        )
    )
    return (
        d.select("source", F.md5("text").alias("raw_h"), F.md5(norm).alias("norm_h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("raw_h").alias("n_raw_distinct"),
            F.countDistinct("norm_h").alias("n_norm_distinct"),
            (F.countDistinct("raw_h") - F.countDistinct("norm_h")).alias("dedup_lift"),
        )
    )


@query(
    "q196_langid_confusion",
    oracle=f"""
    WITH s AS (
      SELECT lang,
             CASE WHEN (CASE WHEN trim(text) = '' THEN 0.0
                             ELSE {_SW_SQL} * 1.0 / len({_TOKS_SQL}) END) > 0.03
                  THEN 'en' ELSE 'other' END AS pred_lang
      FROM documents
    )
    SELECT lang, pred_lang,
           count(*) AS n_docs,
           round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY lang), 6)
             AS share_of_lang
    FROM s GROUP BY lang, pred_lang
    """,
)
def q196_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the stopword-heuristic classifier
    (q11, text.predict_language) evaluated against the corpus's stored
    ``lang`` labels — per (true, predicted) cell the count and its share
    within the true language. The acceptance sheet run before trusting
    a cheap classifier to route documents at ingest: an 'en' recall row
    below target means the 3% stopword threshold needs retuning.

    Scale shape: classification is a codegen expression on the scan;
    the matrix is one groupBy on a (langs x 2)-sized key; the per-lang
    share is a window over the already-tiny matrix, not the corpus."""
    d = _t(spark, sf_dir, "documents")
    p = text.predict_language(d).select("lang", "pred_lang")
    w = Window.partitionBy("lang")
    return (
        p.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "share_of_lang",
            F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6),
        )
    )


def _even_odd_event_streams(
    spark: SparkSession, ev: DataFrame, work: str
) -> tuple[DataFrame, DataFrame]:
    """The events table staged under ``work`` and replayed as two file
    streams of one micro-batch each, even event_ids on the left and odd on
    the right, each with (event_id, user_id, event_time, v): the two sides
    of the q197/q218 stream-stream interval joins."""
    from phoebe_spark.streaming import drain

    staged = ev.select(
        "event_id",
        "user_id",
        F.expr("timestamp_micros(ts div 1000)").alias("event_time"),
        _dec("value").alias("v"),
    )

    def side(name: str, parity: int) -> DataFrame:
        drain.stage_slices([staged.filter(F.col("event_id") % 2 == parity)], f"{work}/{name}")
        return drain.replay(spark, f"{work}/{name}")

    return side("left", 0), side("right", 1)


@query(
    "q197_stream_join_drain",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, ts, value FROM events
    ),
    j AS (
      SELECT a.user_id,
             CAST(b.value AS DECIMAL(18,4)) AS bv,
             {EPOCH_SQL.format(c='b.ts')} - {EPOCH_SQL.format(c='a.ts')} AS lag_s
      FROM e a JOIN e b
        ON a.user_id = b.user_id
       AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
       AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    )
    SELECT user_id,
           count(*) AS n_pairs,
           CAST(round(sum(bv), 2) AS DOUBLE) AS total_value,
           CAST(max(lag_s) AS BIGINT) AS max_lag_s
    FROM j GROUP BY user_id
    """,
)
def q197_stream_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join inside the hash-checked gate: the
    events table split into two live streams (even event_ids as the
    trigger stream, odd as the response stream), joined per user on a
    [0, 30 min] event-time range, drained with availableNow, and the
    per-user pair census compared against the batch interval-join
    oracle. This promotes the last big Structured Streaming operator
    family (stream-stream joins, SURVEY §2.10's transport composed with
    §2.3's interval join) to the same oracle standard as the stateful
    gates (q179/q188) and windowed aggs (q180) — one operator, two
    execution models, one answer.

    Scale notes: both sides carry watermarks and the join condition is
    time-bounded, so state eviction is exactly the production contract
    (Spark drops buffered rows older than watermark + 30 min); the
    drained join output is aggregated before leaving the executors.
    The drain runs with 1 state partition and a fresh checkpoint
    (streaming/drain.py)."""
    from phoebe_spark.streaming import drain
    from phoebe_spark.streaming.jobs import stream_stream_interval_join

    ev = _t(spark, sf_dir, "events")
    with drain.scratch("q197_") as work:
        left, right = _even_odd_event_streams(spark, ev, work)
        joined = stream_stream_interval_join(
            left,
            right,
            key_col="user_id",
            left_watermark="0 seconds",
            right_watermark="0 seconds",
            upper="30 minutes",
            how="inner",
        ).select(
            "user_id",
            F.col("v_r").alias("v"),
            (F.col("event_time_r").cast("long") - F.col("event_time_l").cast("long")).alias(
                "lag_s"
            ),
        )
        return (
            drain.run(joined, work, output_mode="append")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.round(F.sum("v"), 2).cast("double").alias("total_value"),
                F.max("lag_s").alias("max_lag_s"),
            )
        )


@query(
    "q198_source_centroid_drift",
    oracle="""
    WITH joined AS (
      SELECT d.source, e.embedding
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    flat AS (
      SELECT source, unnest(generate_series(1, len(embedding))) AS dim,
             unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
      FROM joined
    ),
    sc AS (
      SELECT source, dim, avg(v) AS c, count(*) AS n
      FROM flat GROUP BY source, dim
    ),
    gc AS (
      SELECT dim, sum(c * n) / sum(n) AS g FROM sc GROUP BY dim
    )
    SELECT sc.source,
           CAST(max(sc.n) AS BIGINT) AS n_vecs,
           round(sum(sc.c * gc.g)
                 / (sqrt(sum(sc.c * sc.c)) * sqrt(sum(gc.g * gc.g))), 6)
             AS centroid_cos
    FROM sc JOIN gc ON gc.dim = sc.dim
    GROUP BY sc.source
    """,
)
def q198_source_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding drift: cosine between each source's mean
    embedding and the corpus-wide mean. The cross-modal health check a
    mixture pipeline runs per crawl — a source whose centroid swings
    away from the corpus centroid changed its content distribution
    (new spam template, language shift) even when its volume and
    quality metrics look flat. Global centroid is derived FROM the
    per-source partials (weighted by count), so both engines fold the
    same per-(source,dim) means and the comparison is exact at 6dp.

    Scale shape: posexplode inside the scan, ONE map-side-combining
    groupBy on the (source, dim) key — the shuffle carries
    O(sources x dims) partials per task, never vectors; everything
    after (global centroid, cosine) is sources x dims sized."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    emb = _t(spark, sf_dir, "embeddings")
    joined = emb.join(d, emb.vec_id == d.doc_id).select(
        "source", F.posexplode("embedding").alias("pos", "v")
    )
    sc = joined.groupBy("source", (F.col("pos") + 1).alias("dim")).agg(
        F.avg(F.col("v").cast("double")).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    # sources x dims — materialize once so the global-centroid branch and
    # the per-source branch don't EACH re-run the corpus join + explode
    sc = sc.localCheckpoint(eager=True)
    gc = sc.groupBy("dim").agg(
        (F.sum(F.col("c") * F.col("n")) / F.sum("n")).alias("g")
    )
    # sources x dims — broadcast-sized by construction at any corpus scale
    return (
        sc.join(F.broadcast(gc), "dim")
        .groupBy("source")
        .agg(
            F.max("n").alias("n_vecs"),
            F.round(
                F.sum(F.col("c") * F.col("g"))
                / (
                    F.sqrt(F.sum(F.col("c") * F.col("c")))
                    * F.sqrt(F.sum(F.col("g") * F.col("g")))
                ),
                6,
            ).alias("centroid_cos"),
        )
    )


@query(
    "q199_winsorized_stats",
    oracle="""
    WITH q AS (
      SELECT source,
             percentile_cont(0.10) WITHIN GROUP (ORDER BY n_chars) AS p10,
             percentile_cont(0.90) WITHIN GROUP (ORDER BY n_chars) AS p90
      FROM documents GROUP BY source
    )
    SELECT d.source,
           count(*) AS n_docs,
           round(q.p10, 6) AS p10,
           round(q.p90, 6) AS p90,
           round(avg(least(greatest(d.n_chars, q.p10), q.p90)), 6)
             AS winsorized_mean,
           round(avg(d.n_chars), 6) AS raw_mean
    FROM documents d JOIN q ON q.source = d.source
    GROUP BY d.source, q.p10, q.p90
    """,
)
def q199_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics per source: clamp document lengths to
    the source's [p10, p90] band before averaging, next to the raw mean.
    The outlier-robust size profile mixture planning reads — one
    pathological 100 MB document shifts a raw mean for a month, but
    moves the winsorized mean by one part in n. Exact interpolating
    percentiles (Spark ``percentile`` == DuckDB ``percentile_cont``)
    over integer lengths, so the clamp bounds match digit-for-digit.

    Scale shape: two passes over the (source, n_chars) projection —
    one percentile aggregation (exact percentile needs the values; at
    100 TB swap in approx_percentile with a bounded error and the same
    clamp shape) and one clamped re-aggregation against the
    broadcast-sized per-source bounds table."""
    d = _t(spark, sf_dir, "documents").select("source", "n_chars")
    q = d.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.10)").alias("p10"),
        F.expr("percentile(n_chars, 0.90)").alias("p90"),
    )
    clamped = d.join(F.broadcast(q), "source").select(
        "source",
        "p10",
        "p90",
        "n_chars",
        F.least(F.greatest(F.col("n_chars").cast("double"), "p10"), "p90").alias("w"),
    )
    return clamped.groupBy("source", "p10", "p90").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("w"), 6).alias("winsorized_mean"),
        F.round(F.avg("n_chars"), 6).alias("raw_mean"),
    ).select(
        "source",
        "n_docs",
        F.round("p10", 6).alias("p10"),
        F.round("p90", 6).alias("p90"),
        "winsorized_mean",
        "raw_mean",
    )


@query(
    "q200_source_vocab_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT source, {_TOKS_SQL} AS t FROM documents
      WHERE trim(text) <> '' AND len({_TOKS_SQL}) >= 3
    ),
    grams AS (
      SELECT DISTINCT source, g
      FROM (
        SELECT source,
               unnest(list_transform(generate_series(1, len(t) - 2),
                                     i -> array_to_string(t[i:i+2], ' '))) AS g
        FROM toks
      )
    ),
    sz AS (SELECT source, count(*) AS n FROM grams GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
      FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT source_a, source_b, n_shared,
           round(n_shared * 1.0 / (sa.n + sb.n - n_shared), 6) AS vocab_jaccard
    FROM inter
    JOIN sz sa ON sa.source = source_a
    JOIN sz sb ON sb.source = source_b
    WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= 0.05
    """,
)
def q200_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap matrix: Jaccard similarity
    between sources' distinct token-trigram vocabularies, reported for
    pairs above 5%. The syndication / shared-template detector at the
    SOURCE granularity (q13/q121 find document pairs; this finds feed
    pairs) — two crawl feeds with 80% trigram overlap are mirrors and
    one should be dropped before dedup even runs.

    Scale shape: the classic inverted-index set-similarity plan with
    the corpus collapsed to (source, gram) DISTINCT pairs first —
    postings per gram are bounded by the number of sources (not
    documents), so the self-join fan-out is at most sources² per gram
    and the output is a sources x sources matrix. One shuffle to
    distinct, one on the gram key."""
    d = _t(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    grams = (
        d.filter((F.trim("text") != "") & (F.size(toks) >= 3))
        .select(
            "source",
            F.explode(
                F.zip_with(
                    F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(0))),
                    F.zip_with(
                        F.slice(toks, 2, F.greatest(F.size(toks) - 2, F.lit(0))),
                        F.slice(toks, 3, F.greatest(F.size(toks) - 2, F.lit(0))),
                        lambda b, c: F.concat_ws(" ", b, c),
                    ),
                    lambda a, bc: F.concat_ws(" ", a, bc),
                )
            ).alias("g"),
        )
        .distinct()
    )
    sz = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    b = grams.select(F.col("source").alias("source_b"), "g")
    inter = (
        grams.join(b, (grams.g == b.g) & (grams.source < b.source_b))
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    jac = (
        inter.join(
            F.broadcast(sz.select(F.col("source").alias("source_a"), F.col("n").alias("na"))),
            "source_a",
        )
        .join(
            F.broadcast(sz.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))),
            "source_b",
        )
        .withColumn(
            "vocab_jaccard",
            F.round(F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared")), 6),
        )
    )
    return jac.filter(
        F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared")) >= 0.05
    ).select("source_a", "source_b", "n_shared", "vocab_jaccard")
