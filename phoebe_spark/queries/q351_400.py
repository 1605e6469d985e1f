"""Query registry block 351-400 (mechanically split from the former
single-module registry in round 9; see ``_core`` for the decorator,
the registry dicts, and the float-determinism policy)."""

from __future__ import annotations


from phoebe_spark.operators import dedup, graph, sampling, similarity, text

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._core import _dec, _dim, _t, query
from .q001_050 import _MD5H_SQL, _TOKS_SQL
from .q201_250 import _COGRAPH_SQL, _cograph_edges
from .q301_350 import _CHI2_95, _INV_SQRT2, _p2_col, _p2_sql

@query(
    "q351_ljung_box",
    oracle=f"""
    WITH d AS (
      SELECT (epoch_ns(ts) // 1000000000) // 86400 AS day,
             CAST(round(sum(CAST(value AS DECIMAL(18,4))) * 100, 0) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    arr AS (
      SELECT list(cents / 100.0 / n ORDER BY day) AS x, count(*) AS n FROM d
    ),
    m AS (
      SELECT x, n, list_sum(x) / n AS xb,
             list_sum(list_transform(x, v -> (v - list_sum(x) / n) * (v - list_sum(x) / n))) AS den
      FROM arr
    ),
    lags AS (SELECT unnest(generate_series(1, 7)) AS k),
    rho AS (
      SELECT k, n,
             list_sum(list_transform(generate_series(k + 1, CAST(n AS INT)),
                                     t -> (x[t] - xb) * (x[t - k] - xb))) / den AS r
      FROM m CROSS JOIN lags
    ),
    q AS (
      SELECT k, n, r,
             sum(n * (n + 2.0) * r * r / (n - k)) OVER (ORDER BY k) AS qs
      FROM rho
    )
    SELECT CAST(k AS INT) AS lag,
           round(r, 6) + 0.0 AS rho,
           round(qs, 6) AS q_stat,
           CAST(([{", ".join(str(c) for c in _CHI2_95)}])[k] AS DOUBLE) AS crit_95,
           CAST(CASE WHEN qs > ([{", ".join(str(c) for c in _CHI2_95)}])[k] THEN 1 ELSE 0 END AS INT) AS reject
    FROM q
    """,
)
def q351_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (Ljung & Box 1978) for autocorrelation
    in the daily-mean value series: ACF at lags 1..7 over the day-ordered
    series, the cumulative Q_m = n(n+2) * sum rho_k^2/(n-k), and the
    reject decision against the literal chi-square(m) 95% critical values
    — the "is there ANY serial structure left" gate run on residuals
    after a forecast fit (the test tier above q112/q237's raw ACF
    emission; disclosed kinship). Every fold runs over the SAME
    day-ordered array in both engines (index-ordered left folds), so Q
    matches digit-for-digit.

    100 TB story: the corpus collapses to the O(days) rollup in one
    map-side aggregate; the series becomes a single-row array and all 7
    lags are bounded array folds — corpus-size-independent after the
    first scan."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = e.groupBy(F.expr("(ts div 1000000000) div 86400").alias("day")).agg(
        F.round(F.sum(_dec("value")) * 100, 0).cast("long").alias("cents"),
        F.count(F.lit(1)).alias("n"),
    )
    arr = d.agg(
        F.array_sort(
            F.collect_list(F.struct("day", (F.col("cents") / 100.0 / F.col("n")).alias("v")))
        ).getField("v").alias("x"),
        F.count(F.lit(1)).alias("n"),
    )
    xsum = F.aggregate(F.col("x"), F.lit(0.0), lambda a, v: a + v)
    m = arr.select(
        "x",
        "n",
        (xsum / F.col("n")).alias("xb"),
    ).select(
        "*",
        F.aggregate(
            F.col("x"), F.lit(0.0), lambda a, v: a + (v - F.col("xb")) * (v - F.col("xb"))
        ).alias("den"),
    ).localCheckpoint(eager=True)
    # all 7 lags AND the cumulative Q computed as array folds on the
    # single stats row — no window anywhere, not even over 7 rows
    def _num(k):
        return F.aggregate(
            F.sequence(k + 1, F.col("n").cast("int")),
            F.lit(0.0),
            lambda a, t: a
            + (F.element_at(F.col("x"), t) - F.col("xb"))
            * (F.element_at(F.col("x"), t - k) - F.col("xb")),
        )

    rhos = m.select(
        "n",
        F.array(*[(_num(F.lit(k)) / F.col("den")).alias(f"r{k}") for k in range(1, 8)]).alias(
            "rhos"
        ),
    )
    qs = F.transform(
        F.sequence(F.lit(1), F.lit(7)),
        lambda k: F.aggregate(
            F.sequence(F.lit(1), k),
            F.lit(0.0),
            lambda a, j: a
            + F.col("n")
            * (F.col("n") + 2.0)
            * F.element_at(F.col("rhos"), j)
            * F.element_at(F.col("rhos"), j)
            / (F.col("n") - j),
        ),
    )
    row = rhos.select("rhos", qs.alias("qs"))
    crit_arr = F.array(*[F.lit(c) for c in _CHI2_95])
    out = row.select(
        F.posexplode(F.sequence(F.lit(1), F.lit(7))).alias("i", "k"),
        "rhos",
        "qs",
    )
    crit = F.element_at(crit_arr, F.col("k"))
    qsk = F.element_at(F.col("qs"), F.col("k"))
    return out.select(
        F.col("k").cast("int").alias("lag"),
        (F.round(F.element_at(F.col("rhos"), F.col("k")), 6) + F.lit(0.0)).alias("rho"),
        F.round(qsk, 6).alias("q_stat"),
        crit.alias("crit_95"),
        F.when(qsk > crit, 1).otherwise(0).cast("int").alias("reject"),
    )


@query(
    "q349_association_rules",
    oracle="""
    WITH b AS (
      SELECT DISTINCT user_id, (epoch_ns(ts) // 1000000000) // 86400 AS day, event_type
      FROM events
    ),
    nb AS (SELECT CAST(count(DISTINCT (user_id, day)) AS BIGINT) AS n FROM b),
    sup1 AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
    sup2 AS (
      SELECT a.event_type AS ante, c.event_type AS cons, CAST(count(*) AS BIGINT) AS cc
      FROM b a JOIN b c ON a.user_id = c.user_id AND a.day = c.day
                       AND a.event_type <> c.event_type
      GROUP BY 1, 2
    )
    SELECT s.ante, s.cons,
           s.cc AS n_baskets_both,
           round(s.cc * 1.0 / nb.n, 6) AS support,
           round(s.cc * 1.0 / sa.c, 6) AS confidence,
           round((s.cc * 1.0 / sa.c) / (sc.c * 1.0 / nb.n), 6) AS lift
    FROM sup2 s
    JOIN sup1 sa ON sa.event_type = s.ante
    JOIN sup1 sc ON sc.event_type = s.cons
    CROSS JOIN nb
    """,
)
def q349_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over user-day baskets (Agrawal et al.
    1993, the 2-itemset tier of Apriori): for every ordered event-type
    pair A -> B, the basket support, confidence P(B|A), and lift
    P(B|A)/P(B) — the unordered-co-occurrence complement of q71's
    ordered funnel (disclosed kinship; q337's "lift" is a model-gain
    curve, a different statistic). All three measures are exact ratios
    of integer basket counts.

    100 TB story: ONE distinct-collapse shuffle builds the (user, day,
    type) basket items; the pair census self-joins baskets on the
    (user, day) key — each basket contributes at most K(K-1) pairs (K =
    #types, bounded), so pair work is linear in baskets; supports and
    the K^2 rule frame are broadcast-sized aggregates."""
    e = _t(spark, sf_dir, "events")
    b = e.select(
        "user_id", F.expr("(ts div 1000000000) div 86400").alias("day"), "event_type"
    ).distinct().localCheckpoint(eager=True)
    nb = b.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    sup1 = b.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a, c = b.alias("a"), b.alias("c")
    sup2 = (
        a.join(
            c,
            (F.col("a.user_id") == F.col("c.user_id"))
            & (F.col("a.day") == F.col("c.day"))
            & (F.col("a.event_type") != F.col("c.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ante"), F.col("c.event_type").alias("cons")
        )
        .agg(F.count(F.lit(1)).alias("cc"))
    )
    sa = sup1.select(F.col("event_type").alias("ante"), F.col("c").alias("ca"))
    sc = sup1.select(F.col("event_type").alias("cons"), F.col("c").alias("cb"))
    return (
        sup2.join(F.broadcast(sa), "ante")
        .join(F.broadcast(sc), "cons")
        .crossJoin(F.broadcast(nb))
        .select(
            "ante",
            "cons",
            F.col("cc").cast("long").alias("n_baskets_both"),
            F.round(F.col("cc") * 1.0 / F.col("n"), 6).alias("support"),
            F.round(F.col("cc") * 1.0 / F.col("ca"), 6).alias("confidence"),
            F.round(
                (F.col("cc") * 1.0 / F.col("ca")) / (F.col("cb") * 1.0 / F.col("n")), 6
            ).alias("lift"),
        )
    )


def _q348_textrank_oracle(rounds: int = 6, topk: int = 15) -> str:
    """Generated oracle for q348: the co-occurrence graph and weighted
    degree MATERIALIZED once (multiply-referenced — the k-core CTE
    lesson), then one CTE per TextRank round replaying the engine's
    12-dp DECIMAL fold and per-round quantization digit-for-digit."""
    ctes = [
        """toks AS MATERIALIZED (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term,
             generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS pos
      FROM documents WHERE trim(text) <> ''
    )""",
        """co AS MATERIALIZED (
      SELECT a.term AS s1, b.term AS s2, CAST(count(*) AS BIGINT) AS w
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos - a.pos IN (1, 2) AND a.term <> b.term
      GROUP BY 1, 2
    )""",
        """edges AS MATERIALIZED (
      SELECT s1 AS src, s2 AS dst, CAST(sum(w) AS BIGINT) AS w FROM (
        SELECT s1, s2, w FROM co UNION ALL SELECT s2, s1, w FROM co
      ) GROUP BY 1, 2
    )""",
        "wdeg AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS wd FROM edges GROUP BY 1)",
        "r0 AS MATERIALIZED (SELECT src AS node, 1.0 AS r FROM wdeg)",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""r{k} AS MATERIALIZED (
      SELECT e.dst AS node,
             round(0.15 + 0.85 * CAST(sum(CAST(round(e.w * p.r / d.wd, 12) AS DECIMAL(38,12))) AS DOUBLE), 12) AS r
      FROM edges e JOIN r{k - 1} p ON e.src = p.node JOIN wdeg d ON d.src = e.src
      GROUP BY 1
    )"""
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain}
    SELECT node AS term, round(r, 6) AS textrank
    FROM r{rounds} ORDER BY r DESC, node ASC LIMIT {topk}
    """


@query("q348_textrank", oracle=_q348_textrank_oracle())
def q348_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    (damping 0.85, uniform 1.0 start) over the corpus-wide word
    co-occurrence graph (tokens within a 2-token forward window,
    symmetrized, edge weight = co-occurrence count, contributions
    normalized by WEIGHTED degree), 6 rounds, top-15 keywords — the
    graph-centrality tier of the keyphrase ladder above q325's RAKE
    (degree/frequency scoring; disclosed kinship). Per-round per-edge
    contributions are 12-dp-rounded DECIMAL(38,12) folds and each round's
    score re-quantizes to 12 dp (the q293 graph-ladder policy), so both
    engines iterate bit-identically.

    100 TB story: the co-occurrence census is one position self-join on
    (doc, pos) + a vocabulary-bounded groupBy; every round is ONE edge
    equi-join + grouped fold on the vocabulary-sized node set,
    localCheckpointed (lineage truncation, the q232 recipe); top-15 is a
    TakeOrdered."""
    rounds, topk = 6, 15
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    toks = d.select(
        "doc_id", F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    a, b = toks.alias("a"), toks.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") - F.col("a.pos")).isin(1, 2)
            & (F.col("a.term") != F.col("b.term")),
        )
        .groupBy(F.col("a.term").alias("s1"), F.col("b.term").alias("s2"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = (
        co.select("s1", "s2", "w")
        .unionAll(co.select(F.col("s2").alias("s1"), F.col("s1").alias("s2"), "w"))
        .groupBy(F.col("s1").alias("src"), F.col("s2").alias("dst"))
        .agg(F.sum("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    wdeg = edges.groupBy("src").agg(F.sum("w").alias("wd")).localCheckpoint(eager=True)
    ranks = wdeg.select(F.col("src").alias("node"), F.lit(1.0).alias("r"))
    for _ in range(rounds):
        ranks = (
            edges.join(ranks, edges.src == ranks.node)
            .join(wdeg, "src")
            .groupBy(F.col("dst").alias("node2"))
            .agg(
                F.round(
                    F.lit(0.15)
                    + F.lit(0.85)
                    * F.sum(
                        F.round(
                            F.col("w") * F.col("r") / F.col("wd"), 12
                        ).cast("decimal(38,12)")
                    ).cast("double"),
                    12,
                ).alias("r2")
            )
            .select(F.col("node2").alias("node"), F.col("r2").alias("r"))
            .localCheckpoint(eager=True)
        )
    return (
        ranks.orderBy(F.col("r").desc(), F.asc("node"))
        .limit(topk)
        .select(F.col("node").alias("term"), F.round("r", 6).alias("textrank"))
    )


def _q350_hits_oracle(rounds: int = 4, top_hubs: int = 10) -> str:
    """Generated oracle for q350: per round, the raw hub/authority folds
    AND their maxima are MATERIALIZED (each raw frame is referenced
    twice: by its max and by its normalized successor — the k-core CTE
    lesson); folds and per-round quantization mirror the engine."""
    ctes = [
        """e AS MATERIALIZED (
      SELECT user_id AS u, event_type AS t, CAST(count(*) AS BIGINT) AS w
      FROM events GROUP BY 1, 2
    )""",
        "a0 AS MATERIALIZED (SELECT DISTINCT t, 1.0 AS a FROM e)",
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        ctes.append(
            f"""hr{k} AS MATERIALIZED (
      SELECT e.u, CAST(sum(CAST(round(e.w * a{p}.a, 12) AS DECIMAL(38,12))) AS DOUBLE) AS h
      FROM e JOIN a{p} USING (t) GROUP BY 1
    )"""
        )
        ctes.append(f"hm{k} AS MATERIALIZED (SELECT max(h) AS m FROM hr{k})")
        ctes.append(
            f"h{k} AS MATERIALIZED (SELECT u, round(h / (SELECT m FROM hm{k}), 12) AS h FROM hr{k})"
        )
        ctes.append(
            f"""ar{k} AS MATERIALIZED (
      SELECT e.t, CAST(sum(CAST(round(e.w * h{k}.h, 12) AS DECIMAL(38,12))) AS DOUBLE) AS a
      FROM e JOIN h{k} USING (u) GROUP BY 1
    )"""
        )
        ctes.append(f"am{k} AS MATERIALIZED (SELECT max(a) AS m FROM ar{k})")
        ctes.append(
            f"a{k} AS MATERIALIZED (SELECT t, round(a / (SELECT m FROM am{k}), 12) AS a FROM ar{k})"
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain}
    SELECT 'authority' AS role, t AS id, round(a, 6) AS score FROM a{rounds}
    UNION ALL
    SELECT 'hub', CAST(u AS VARCHAR), round(h, 6)
    FROM (SELECT u, h FROM h{rounds} ORDER BY h DESC, u ASC LIMIT {top_hubs})
    """


@query("q350_hits", oracle=_q350_hits_oracle())
def q350_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) on the user <-> event-
    type bipartite interaction graph (edge weight = interaction count):
    4 rounds of the mutual-reinforcement iteration with max-normalization
    each half-step — authority says which event types the heavy users
    concentrate on, hub says which users span the authoritative types
    (the bipartite complement of the unipartite centrality ladder:
    PageRank q232/q118, eigencentrality q293). Folds are 12-dp
    DECIMAL(38,12) of 12-dp-rounded terms with per-half-round
    re-quantization, so both engines iterate bit-identically.

    100 TB story: the edge frame is ONE map-side-combining (user, type)
    aggregate; each half-round is one edge equi-join + grouped fold +
    1-row max broadcast, localCheckpointed per round; hubs emit top-10
    by TakeOrdered, authorities are K = #types rows."""
    rounds, top_hubs = 4, 10
    ev = _t(spark, sf_dir, "events")
    e = ev.groupBy(F.col("user_id").alias("u"), F.col("event_type").alias("t")).agg(
        F.count(F.lit(1)).alias("w")
    ).localCheckpoint(eager=True)
    a_s = e.select("t").distinct().select("t", F.lit(1.0).alias("a"))

    def _fold(x):
        return F.sum(F.round(x, 12).cast("decimal(38,12)")).cast("double")

    h_s = None
    for _ in range(rounds):
        hr = (
            e.join(a_s, "t")
            .groupBy("u")
            .agg(_fold(F.col("w") * F.col("a")).alias("h"))
            .localCheckpoint(eager=True)
        )
        hm = hr.agg(F.max("h").alias("m"))
        h_s = hr.crossJoin(F.broadcast(hm)).select(
            "u", F.round(F.col("h") / F.col("m"), 12).alias("h")
        ).localCheckpoint(eager=True)
        ar = (
            e.join(h_s, "u")
            .groupBy("t")
            .agg(_fold(F.col("w") * F.col("h")).alias("a"))
            .localCheckpoint(eager=True)
        )
        am = ar.agg(F.max("a").alias("m"))
        a_s = ar.crossJoin(F.broadcast(am)).select(
            "t", F.round(F.col("a") / F.col("m"), 12).alias("a")
        ).localCheckpoint(eager=True)
    auth = a_s.select(
        F.lit("authority").alias("role"),
        F.col("t").alias("id"),
        F.round("a", 6).alias("score"),
    )
    hubs = (
        h_s.orderBy(F.col("h").desc(), F.asc("u"))
        .limit(top_hubs)
        .select(
            F.lit("hub").alias("role"),
            F.col("u").cast("string").alias("id"),
            F.round("h", 6).alias("score"),
        )
    )
    return auth.unionAll(hubs)


@query(
    "q352_ecod_outliers",
    oracle="""
    WITH flat AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS q
      FROM embeddings
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
    sup AS (SELECT dim, q, CAST(count(*) AS BIGINT) AS cnt FROM flat GROUP BY 1, 2),
    cum AS (
      SELECT dim, q, cnt,
             CAST(sum(cnt) OVER (PARTITION BY dim ORDER BY q) AS BIGINT) AS cle
      FROM sup
    ),
    scored AS (
      SELECT f.vec_id,
             -ln(least(c.cle * 1.0 / nn.n, (nn.n - c.cle + c.cnt) * 1.0 / nn.n)) AS t
      FROM flat f JOIN cum c ON c.dim = f.dim AND c.q = f.q CROSS JOIN nn
    ),
    agg AS (
      SELECT vec_id,
             CAST(round(sum(CAST(round(t, 12) AS DECIMAL(38,12))), 6) AS DOUBLE) AS score
      FROM scored GROUP BY vec_id
    )
    SELECT vec_id, score FROM agg ORDER BY score DESC, vec_id ASC LIMIT 10
    """,
)
def q352_ecod_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECOD-style unsupervised outlier scoring (Li et al. 2022,
    two-sided tail variant, disclosed): per dimension, the empirical
    CDF over the 1e-3-quantized value support; each vector's score is
    the sum over dimensions of -log(min(left tail, right tail)) — the
    parameter-free "is this point in ANY dimension's tail" detector that
    needs no covariance (q322's Mahalanobis cousin for non-elliptic
    data; disclosed kinship). Tails are exact integer ratios off the
    quantized support; the per-vector fold is 12-dp DECIMAL, so scores
    and the top-10 match digit-for-digit.

    100 TB story: ONE posexplode feeds a (dim, quantized-value) support
    aggregate (value-RANGE-bounded, ~2k cells per dim); cumulative
    tails are windows over that support partitioned BY DIM; scoring
    joins the flat view back on (dim, q) — corpus-linear, no sort of
    raw rows; top-10 is a TakeOrdered."""
    emb = _t(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim0", "xf")
    ).select(
        "vec_id",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("xf").cast("double") * 1000).cast("long").alias("q"),
    )
    nn = emb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    sup = flat.groupBy("dim", "q").agg(F.count(F.lit(1)).alias("cnt"))
    wc = Window.partitionBy("dim").orderBy("q")
    cum = sup.select(
        "dim", "q", "cnt", F.sum("cnt").over(wc).cast("long").alias("cle")
    ).localCheckpoint(eager=True)
    t = -F.log(
        F.least(
            F.col("cle") * 1.0 / F.col("n"),
            (F.col("n") - F.col("cle") + F.col("cnt")) * 1.0 / F.col("n"),
        )
    )
    agg = (
        flat.join(cum, ["dim", "q"])
        .crossJoin(F.broadcast(nn))
        .groupBy("vec_id")
        .agg(
            F.round(F.sum(F.round(t, 12).cast("decimal(38,12)")), 6)
            .cast("double")
            .alias("score")
        )
    )
    return agg.orderBy(F.col("score").desc(), F.asc("vec_id")).limit(10)


@query(
    "q354_spectral_moments",
    oracle="""
    WITH flat AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
      FROM embeddings
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
    s AS (SELECT i, CAST(sum(q) AS BIGINT) AS si FROM flat GROUP BY i),
    g AS (
      SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS gij
      FROM flat a JOIN flat b USING (vec_id) GROUP BY 1, 2
    ),
    c AS (
      SELECT g.i, g.j,
             (g.gij * 1.0 / nn.n - (sa.si * 1.0 * sb.si) / (nn.n * 1.0 * nn.n)) / 1.0e12 AS cij
      FROM g JOIN s sa ON sa.i = g.i JOIN s sb ON sb.i = g.j CROSS JOIN nn
    ),
    m AS (
      SELECT CAST(round(sum(CAST(round(CASE WHEN i = j THEN cij ELSE 0.0 END, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS tr,
             CAST(round(sum(CAST(round(cij * cij, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS fr,
             CAST(max(j) AS BIGINT) AS d
      FROM c
    )
    SELECT (SELECT n FROM nn) AS n_vectors, d AS n_dims,
           round(tr, 6) AS cov_trace,
           round(fr, 6) AS cov_frobenius_sq,
           round(tr / d, 6) AS eig_mean,
           round(fr / d - (tr / d) * (tr / d), 6) + 0.0 AS eig_var,
           round(tr * tr / fr, 6) AS participation_ratio
    FROM m
    """,
)
def q354_spectral_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact spectral moments of the embedding covariance WITHOUT an
    eigendecomposition: trace (= sum of eigenvalues), squared Frobenius
    norm (= sum of squared eigenvalues), and from them the eigenvalue
    mean/variance and the participation ratio tr^2/||C||_F^2 — the
    effective-rank number an embedding-health audit reads (PR near d =
    isotropic, PR near 1 = collapsed to one direction). The EXACT
    full-corpus complement of q316's sampled isotropy probe and q219's
    dominant direction (disclosed kinship): trace and Frobenius are
    polynomial in the covariance entries, so no iteration or sampling is
    needed. Covariance cells come from the integer-quantized Gram
    (floor(1e6 x), exact BIGINT sums — the q219 recipe, same disclosed
    BIGINT-range constraint); cell folds are 12-dp DECIMAL.

    100 TB story: ONE map-side-combining Gram aggregate (d^2 = 4096
    cells regardless of corpus size); every statistic after is a fold
    over the d^2 cell frame."""
    emb = _t(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("i0", "xf")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.floor(F.col("xf").cast("double") * 1000000).cast("long").alias("q"),
    ).localCheckpoint(eager=True)
    # the 1-row corpus count is referenced by every covariance cell AND
    # the final select — checkpoint so each reference reads the RDD, not
    # a fresh parquet count scan (oracle-determinism pitfall #6)
    nn = emb.agg(F.count(F.lit(1)).cast("long").alias("n")).localCheckpoint(eager=True)
    s = flat.groupBy("i").agg(F.sum("q").alias("si"))
    fa = flat.select("vec_id", "i", F.col("q").alias("qa"))
    fb = flat.select("vec_id", F.col("i").alias("j"), F.col("q").alias("qb"))
    g = fa.join(fb, "vec_id").groupBy("i", "j").agg(
        F.sum(F.col("qa") * F.col("qb")).alias("gij")
    )
    c = (
        g.join(F.broadcast(s.select(F.col("i"), F.col("si").alias("sa"))), "i")
        .join(
            F.broadcast(s.select(F.col("i").alias("j"), F.col("si").alias("sb"))), "j"
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "i",
            "j",
            (
                (
                    F.col("gij") * 1.0 / F.col("n")
                    - (F.col("sa") * 1.0 * F.col("sb")) / (F.col("n") * 1.0 * F.col("n"))
                )
                / F.lit(1.0e12)
            ).alias("cij"),
        )
    )
    def _fold12(x):
        return F.round(F.sum(F.round(x, 12).cast("decimal(38,12)")), 12).cast("double")
    m = c.agg(
        _fold12(F.when(F.col("i") == F.col("j"), F.col("cij")).otherwise(0.0)).alias("tr"),
        _fold12(F.col("cij") * F.col("cij")).alias("fr"),
        F.max("j").cast("long").alias("d"),
    )
    return m.crossJoin(F.broadcast(nn)).select(
        F.col("n").alias("n_vectors"),
        F.col("d").alias("n_dims"),
        F.round("tr", 6).alias("cov_trace"),
        F.round("fr", 6).alias("cov_frobenius_sq"),
        F.round(F.col("tr") / F.col("d"), 6).alias("eig_mean"),
        (
            F.round(
                F.col("fr") / F.col("d")
                - (F.col("tr") / F.col("d")) * (F.col("tr") / F.col("d")),
                6,
            )
            + F.lit(0.0)
        ).alias("eig_var"),
        F.round(F.col("tr") * F.col("tr") / F.col("fr"), 6).alias("participation_ratio"),
    )


@query(
    "q355_cuped",
    oracle="""
    WITH d AS (
      SELECT user_id, (epoch_ns(ts) // 1000000000) // 86400 AS day,
             CAST(round(CAST(value AS DECIMAL(18,4)) * 100, 0) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    lo AS (SELECT min(day) AS lo FROM d),
    u AS (
      SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
             CAST(coalesce(sum(CASE WHEN day < (SELECT lo FROM lo) + 15 THEN cents END), 0) AS BIGINT) AS x,
             CAST(coalesce(sum(CASE WHEN day >= (SELECT lo FROM lo) + 15 THEN cents END), 0) AS BIGINT) AS y
      FROM d GROUP BY 1, 2
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DECIMAL(38,0)) AS sx, CAST(sum(y) AS DECIMAL(38,0)) AS sy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
             CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
      FROM u
    ),
    th AS (
      SELECT n,
             CAST(sx AS DOUBLE) / n AS xbar,
             (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) AS theta,
             ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
              * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n))
             / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)) AS rho2
      FROM mom
    ),
    arms AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(y) AS DECIMAL(38,0)) AS say, CAST(sum(x) AS DECIMAL(38,0)) AS sax
      FROM u GROUP BY arm
    )
    SELECT a.arm, a.n_users,
           round(CAST(a.say AS DOUBLE) / a.n_users / 100.0, 6) AS raw_mean,
           round((CAST(a.say AS DOUBLE) / a.n_users
                  - t.theta * (CAST(a.sax AS DOUBLE) / a.n_users - t.xbar)) / 100.0, 6) + 0.0 AS adjusted_mean,
           round(t.theta, 6) + 0.0 AS theta,
           round(t.rho2, 6) AS variance_reduction
    FROM arms a CROSS JOIN th t
    """,
)
def q355_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al. 2013,
    controlled experiments Using Pre-Experiment Data): users' first-15-
    day spend is the pre-period covariate X, the remainder the outcome
    Y; theta = cov(X,Y)/var(X) is fit POOLED (the standard choice, so
    the adjustment cannot inject treatment signal), each arm reports its
    raw and CUPED-adjusted mean, and rho^2 is the variance fraction the
    adjustment removes — the fewer-samples-for-the-same-power tier of
    the experimentation ladder (q330 sizes the test, q331 checks the
    split, THIS shrinks the error bars; disclosed kinship). Per-user
    cents are exact integers; all moments are DECIMAL(38,0) sums, so
    theta and both means match digit-for-digit.

    100 TB story: one map-side-combining per-user aggregate (the only
    corpus-scale shuffle), then 1-row moment folds and a 2-row arm
    frame — the covariate join never re-scans the corpus."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = e.select(
        "user_id",
        F.expr("(ts div 1000000000) div 86400").alias("day"),
        F.round(_dec("value") * 100, 0).cast("long").alias("cents"),
    )
    lo = d.agg(F.min("day").alias("lo"))
    u = (
        d.crossJoin(F.broadcast(lo))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("day") < F.col("lo") + 15, F.col("cents"))), F.lit(0)
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("day") >= F.col("lo") + 15, F.col("cents"))),
                F.lit(0),
            ).alias("y"),
        )
        .select(
            "user_id", (F.col("user_id") % 2).cast("int").alias("arm"), "x", "y"
        )
        .localCheckpoint(eager=True)
    )
    mom = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    covn = F.col("sxy").cast("double") - sxd * syd / F.col("n")
    varxn = F.col("sxx").cast("double") - sxd * sxd / F.col("n")
    varyn = F.col("syy").cast("double") - syd * syd / F.col("n")
    th = mom.select(
        "n",
        (sxd / F.col("n")).alias("xbar"),
        (covn / varxn).alias("theta"),
        ((covn * covn) / (varxn * varyn)).alias("rho2"),
    )
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("y").cast("decimal(38,0)").alias("say"),
        F.sum("x").cast("decimal(38,0)").alias("sax"),
    )
    return arms.crossJoin(F.broadcast(th)).select(
        "arm",
        "n_users",
        F.round(F.col("say").cast("double") / F.col("n_users") / 100.0, 6).alias(
            "raw_mean"
        ),
        (
            F.round(
                (
                    F.col("say").cast("double") / F.col("n_users")
                    - F.col("theta")
                    * (F.col("sax").cast("double") / F.col("n_users") - F.col("xbar"))
                )
                / 100.0,
                6,
            )
            + F.lit(0.0)
        ).alias("adjusted_mean"),
        (F.round("theta", 6) + F.lit(0.0)).alias("theta"),
        F.round("rho2", 6).alias("variance_reduction"),
    )


@query(
    "q353_streaming_cms_drain",
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
def q353_streaming_cms_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING count-min sketch drained in the hash-checked gate —
    q141's depth-4 x width-256 CMS cells accumulated ACROSS micro-batches
    in the state store (a native streaming ``groupBy(seed, bucket)
    .agg(sum)``, complete mode): the corpus arrives as three
    doc-id-sliced micro-batches of per-(seed, bucket) pre-counts, the
    cell counts ADD across batches (the commutative-state family with
    q324's PSI drain — arrival order and batch boundaries provably
    cannot change the counters, which is the sketch's mergeability
    promise executed by a real state store), and the drained counters
    feed the IDENTICAL top-20 heavy-hitter estimate arithmetic —
    hash-matching q141's batch oracle digit-for-digit. Only nonzero
    cells are drained; every probe token hashes to cells it counted in.

    100 TB story: per-batch pre-aggregation bounds every micro-batch's
    state traffic to d x w = 1,024 cells per slice; state is at most
    1,024 cells, TTL-free; the probe join broadcasts 20 rows. One
    operator, two execution models, one answer."""
    from phoebe_spark.operators.dedup import md5_hash64
    from phoebe_spark.streaming import drain

    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    toks = d.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("tok"))
    # ONE tokenization pass (round-11 optimization): the per-(slice, tok)
    # pre-counts are materialized once and both the exact census and the
    # three staged micro-batch files derive from them — the former code
    # re-read and re-tokenized the corpus once for `exact` plus once per
    # staged slice (4 scans total, tokenize being the dominant cost).
    slice_counts = (
        toks.groupBy((F.col("doc_id") % 3).alias("sl"), "tok")
        .agg(F.count(F.lit(1)).alias("tn"))
        .localCheckpoint(eager=True)
    )
    exact = slice_counts.groupBy("tok").agg(F.sum("tn").alias("n"))
    probes = exact.orderBy(F.desc("n"), F.asc("tok")).limit(20)
    seeds = F.explode(F.array(*[F.lit(s) for s in range(4)])).alias("s")
    bucket = F.pmod(
        md5_hash64(F.concat(F.col("tok"), F.lit("|"), F.col("s").cast("string"))),
        F.lit(256),
    )

    with drain.scratch("q353_") as work:
        src_dir = f"{work}/src"
        drain.stage_slices(
            (
                slice_counts.filter(F.col("sl") == sl)
                .select("tok", "tn", seeds)
                .groupBy("s", bucket.cast("int").alias("bucket"))
                .agg(F.sum("tn").cast("long").alias("cnt"))
                for sl in range(3)
            ),
            src_dir,
        )

        out = drain.replay(spark, src_dir).groupBy("s", "bucket").agg(F.sum("cnt").alias("c"))
        counters = drain.run(out, work, output_mode="complete")
        est = (
            probes.select("tok", "n", seeds)
            .select("tok", "n", "s", bucket.cast("int").alias("bucket"))
            .join(counters, ["s", "bucket"])
            .groupBy("tok", "n")
            .agg(F.min("c").alias("cms_est"))
        )
        return est.select(
            "tok",
            F.col("n").alias("exact_n"),
            F.col("cms_est").cast("long").alias("cms_est"),
            (F.col("cms_est") - F.col("n")).cast("long").alias("overcount"),
        )


# Poisson(1) cumulative probabilities for k = 0..7 (literal, both engines)
_POIS1_CUM = (
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253,
)


def _pois1_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS1_CUM)
    )
    return f"(CASE {branches} ELSE 8 END)"


def _pois1_col(u: F.Column) -> F.Column:
    out = None
    for k, c in enumerate(_POIS1_CUM):
        cond = u < F.lit(c)
        out = F.when(cond, k) if out is None else out.when(cond, k)
    return out.otherwise(8)


_Q356_KEY_SQL = "'bs' || d.day || '#' || reps.b"


@query(
    "q356_bootstrap_ci",
    oracle=f"""
    WITH d AS (
      SELECT (epoch_ns(ts) // 1000000000) // 86400 AS day,
             CAST(round(sum(CAST(value AS DECIMAL(18,4))) * 100, 0) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    reps AS (SELECT unnest(generate_series(1, 200)) AS b),
    w AS (
      SELECT d.day, reps.b, d.cents / 100.0 / d.n AS m,
             {_pois1_sql(f"(({_MD5H_SQL.format(x=_Q356_KEY_SQL)}) % 1000000) / 1000000.0")} AS wt
      FROM d CROSS JOIN reps
    ),
    theta AS (
      SELECT b,
             CASE WHEN sum(wt) = 0 THEN NULL
                  ELSE CAST(round(sum(CAST(round(wt * m, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) / sum(wt)
             END AS th
      FROM w GROUP BY b
    ),
    arr AS (SELECT list(th ORDER BY th, b) AS ths, count(th) AS nb FROM theta WHERE th IS NOT NULL),
    pt AS (
      SELECT CAST(round(sum(CAST(round(cents / 100.0 / n, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) / count(*) AS point,
             CAST(count(*) AS BIGINT) AS n_days
      FROM d
    )
    SELECT pt.n_days, CAST(arr.nb AS BIGINT) AS n_replicates,
           round(pt.point, 6) AS point_est,
           round(arr.ths[CAST(ceil(0.025 * arr.nb) AS INT)], 6) AS ci_lo,
           round(arr.ths[CAST(ceil(0.975 * arr.nb) AS INT)], 6) AS ci_hi,
           round(sqrt(list_sum(list_transform(arr.ths, t -> (t - list_sum(arr.ths) / arr.nb) * (t - list_sum(arr.ths) / arr.nb))) / (arr.nb - 1)), 6) AS boot_se
    FROM pt CROSS JOIN arr
    """,
)
def q356_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap (Efron 1979; Poisson(1) weights
    are the standard streaming-friendly resampling) of the mean daily
    value: 200 replicates whose weights come from a CONTENT-HASH inverse
    CDF (md5 of day#replicate against the literal Poisson(1) cumulative
    table — no RNG, so retries, AQE replans, and both engines draw the
    IDENTICAL resamples), percentile 95% CI off the sorted replicate
    array and the bootstrap SE — the distribution-free interval
    complementing q339's exact median CI and q330's parametric power
    math (disclosed kinship). Replicate stats fold as 12-dp DECIMAL.

    100 TB story: the corpus collapses to the O(days) rollup once; the
    bootstrap grid is days x 200 (calendar-bounded, corpus-size-
    independent), and the CI is an array fold on one row — resampling
    never touches raw rows (the whole point of bootstrapping the
    SUFFICIENT ROLLUP, not the corpus)."""
    from phoebe_spark.operators.dedup import md5_hash64

    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = e.groupBy(F.expr("(ts div 1000000000) div 86400").alias("day")).agg(
        F.round(F.sum(_dec("value")) * 100, 0).cast("long").alias("cents"),
        F.count(F.lit(1)).alias("n"),
    ).localCheckpoint(eager=True)
    reps = spark.range(1, 201).select(F.col("id").alias("b"))
    u = (
        F.pmod(
            md5_hash64(
                F.concat(
                    F.lit("bs"),
                    F.col("day").cast("string"),
                    F.lit("#"),
                    F.col("b").cast("string"),
                )
            ),
            F.lit(1000000),
        )
        / 1000000.0
    )
    w = d.crossJoin(reps).select(
        "day",
        "b",
        (F.col("cents") / 100.0 / F.col("n")).alias("m"),
        _pois1_col(u).alias("wt"),
    )
    theta = w.groupBy("b").agg(
        F.when(F.sum("wt") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.sum(F.round(F.col("wt") * F.col("m"), 12).cast("decimal(38,12)")), 12
            ).cast("double")
            / F.sum("wt")
        )
        .alias("th")
    )
    arr = theta.filter(F.col("th").isNotNull()).agg(
        F.array_sort(F.collect_list(F.struct("th", "b"))).getField("th").alias("ths"),
        F.count("th").alias("nb"),
    )
    pt = d.agg(
        (
            F.round(
                F.sum(
                    F.round(F.col("cents") / 100.0 / F.col("n"), 12).cast(
                        "decimal(38,12)"
                    )
                ),
                12,
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("point"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    tsum = F.aggregate(F.col("ths"), F.lit(0.0), lambda a, v: a + v)
    tbar = tsum / F.col("nb")
    var = (
        F.aggregate(
            F.col("ths"), F.lit(0.0), lambda a, v: a + (v - F.col("tbar")) * (v - F.col("tbar"))
        )
        / (F.col("nb") - 1)
    )
    out = pt.crossJoin(F.broadcast(arr)).withColumn("tbar", tbar)
    return out.select(
        "n_days",
        F.col("nb").cast("long").alias("n_replicates"),
        F.round("point", 6).alias("point_est"),
        F.round(
            F.element_at(F.col("ths"), F.ceil(F.lit(0.025) * F.col("nb")).cast("int")),
            6,
        ).alias("ci_lo"),
        F.round(
            F.element_at(F.col("ths"), F.ceil(F.lit(0.975) * F.col("nb")).cast("int")),
            6,
        ).alias("ci_hi"),
        F.round(F.sqrt(var), 6).alias("boot_se"),
    )


# Gumbel method-of-moments literals: sqrt(6)/pi, Euler-Mascheroni, and
# -ln(-ln(1 - 1/T)) for T = 100 (precomputed so neither engine's ln at
# the return-level knee can diverge by an ulp)
_SQRT6_PI = 0.779696801233676
_EULER_GAMMA = 0.5772156649015329
_GUMBEL_K100 = 4.600149226776579


@query(
    "q357_gumbel_return_level",
    oracle=f"""
    WITH bm AS (
      SELECT event_type, (epoch_ns(ts) // 1000000000) // 86400 AS day,
             max(value) AS mx
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(round(sum(CAST(round(mx, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) / count(*) AS m,
             CAST(round(sum(CAST(round(mx * mx, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) / count(*) AS m2
      FROM bm GROUP BY 1
    ),
    g AS (
      SELECT event_type, n_blocks, m,
             sqrt(m2 - m * m) * {_SQRT6_PI} AS beta
      FROM st
    )
    SELECT event_type, n_blocks,
           round(m, 6) AS block_max_mean,
           round(beta, 6) AS gumbel_beta,
           round(m - {_EULER_GAMMA} * beta, 6) AS gumbel_mu,
           round(m - {_EULER_GAMMA} * beta + beta * {_GUMBEL_K100}, 6) AS return_level_100
    FROM g
    """,
)
def q357_gumbel_return_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value return levels (Gumbel 1958, block-maxima method of
    moments): per event type, daily block maxima -> Gumbel location/scale
    by moments (beta = s*sqrt(6)/pi, mu = m - gamma*beta, literal
    handbook constants identical in both engines) -> the 100-day return
    level mu + beta*(-ln(-ln(0.99))) — the "what's the worst value we
    should expect once per hundred days" number capacity planning reads
    off the tail, where mean/p95 thinking (q28) under-forecasts by
    construction (disclosed kinship with the quantile ladder). Moments
    fold as 12-dp DECIMAL over the O(days) block frame.

    100 TB story: block maxima are ONE map-side-combining (type, day)
    aggregate; the fit is closed-form on the O(types x days) frame — no
    iteration, no sort, no quantile pass."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bm = e.groupBy(
        "event_type", F.expr("(ts div 1000000000) div 86400").alias("day")
    ).agg(F.max("value").alias("mx"))
    def _fold12(x):
        return F.round(F.sum(F.round(x, 12).cast("decimal(38,12)")), 12).cast("double")
    st = bm.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        (_fold12(F.col("mx")) / F.count(F.lit(1))).alias("m"),
        (_fold12(F.col("mx") * F.col("mx")) / F.count(F.lit(1))).alias("m2"),
    )
    beta = F.sqrt(F.col("m2") - F.col("m") * F.col("m")) * F.lit(_SQRT6_PI)
    g = st.select("event_type", "n_blocks", "m", beta.alias("beta"))
    return g.select(
        "event_type",
        "n_blocks",
        F.round("m", 6).alias("block_max_mean"),
        F.round("beta", 6).alias("gumbel_beta"),
        F.round(F.col("m") - F.lit(_EULER_GAMMA) * F.col("beta"), 6).alias("gumbel_mu"),
        F.round(
            F.col("m") - F.lit(_EULER_GAMMA) * F.col("beta") + F.col("beta") * F.lit(_GUMBEL_K100),
            6,
        ).alias("return_level_100"),
    )


@query(
    "q359_mutual_information",
    oracle="""
    WITH s AS (
      SELECT event_type AS t, ((epoch_ns(ts) // 1000000000) // 86400) % 7 AS wd
      FROM events
    ),
    cell AS (SELECT t, wd, CAST(count(*) AS BIGINT) AS nij FROM s GROUP BY 1, 2),
    rowm AS (SELECT t, CAST(sum(nij) AS BIGINT) AS ni FROM cell GROUP BY 1),
    colm AS (SELECT wd, CAST(sum(nij) AS BIGINT) AS nj FROM cell GROUP BY 1),
    nn AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM cell),
    mi AS (
      SELECT CAST(round(sum(CAST(round((c.nij * 1.0 / nn.n) * ln((c.nij * 1.0 * nn.n) / (r.ni * 1.0 * m.nj)), 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS mi,
             CAST(count(*) AS BIGINT) AS k_cells
      FROM cell c JOIN rowm r USING (t) JOIN colm m USING (wd) CROSS JOIN nn
    ),
    hx AS (
      SELECT CAST(round(sum(CAST(round(-(ni * 1.0 / nn.n) * ln(ni * 1.0 / nn.n), 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS h,
             CAST(count(*) AS BIGINT) AS r
      FROM rowm CROSS JOIN nn
    ),
    hy AS (
      SELECT CAST(round(sum(CAST(round(-(nj * 1.0 / nn.n) * ln(nj * 1.0 / nn.n), 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM colm CROSS JOIN nn
    )
    SELECT nn.n, hx.r AS n_types, hy.c AS n_weekdays, mi.k_cells,
           round(mi.mi, 6) + 0.0 AS mi_nats,
           round(mi.mi + (mi.k_cells - hx.r - hy.c + 1) * 1.0 / (2.0 * nn.n), 6) + 0.0 AS mi_miller_madow,
           round(mi.mi / sqrt(hx.h * hy.h), 6) + 0.0 AS nmi
    FROM mi CROSS JOIN hx CROSS JOIN hy CROSS JOIN nn
    """,
)
def q359_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and weekday (epoch-day mod
    7 — engine-neutral, no calendar locale), with the Miller-Madow
    plug-in bias correction (Miller 1955: + (K - R - C + 1)/(2N) for K
    observed cells) and the sqrt-normalized NMI — the information-
    theoretic dependence number beside q314's chi-square/Cramer's V
    (disclosed kinship: chi-square weights squared deviations, MI
    weights log-likelihood ratios; both read the same contingency
    collapse). Cell terms fold as 12-dp DECIMAL over the R x C grid.

    100 TB story: ONE map-side-combining aggregate to the R x C = 35-
    cell contingency table; margins and every statistic are folds over
    that grid."""
    e = _t(spark, sf_dir, "events")
    s = e.select(
        F.col("event_type").alias("t"),
        (F.expr("(ts div 1000000000) div 86400") % 7).alias("wd"),
    )
    cell = s.groupBy("t", "wd").agg(F.count(F.lit(1)).alias("nij")).localCheckpoint(
        eager=True
    )
    rowm = cell.groupBy("t").agg(F.sum("nij").alias("ni"))
    colm = cell.groupBy("wd").agg(F.sum("nij").alias("nj"))
    nn = cell.agg(F.sum("nij").alias("n"))
    def _fold12(x):
        return F.round(F.sum(F.round(x, 12).cast("decimal(38,12)")), 12).cast("double")
    mi = (
        cell.join(F.broadcast(rowm), "t")
        .join(F.broadcast(colm), "wd")
        .crossJoin(F.broadcast(nn))
        .agg(
            _fold12(
                (F.col("nij") * 1.0 / F.col("n"))
                * F.log((F.col("nij") * 1.0 * F.col("n")) / (F.col("ni") * 1.0 * F.col("nj")))
            ).alias("mi"),
            F.count(F.lit(1)).cast("long").alias("k_cells"),
        )
    )
    hx = rowm.crossJoin(F.broadcast(nn)).agg(
        _fold12(-(F.col("ni") * 1.0 / F.col("n")) * F.log(F.col("ni") * 1.0 / F.col("n"))).alias("h"),
        F.count(F.lit(1)).cast("long").alias("r"),
    )
    hy = colm.crossJoin(F.broadcast(nn)).agg(
        _fold12(-(F.col("nj") * 1.0 / F.col("n")) * F.log(F.col("nj") * 1.0 / F.col("n"))).alias("h2"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("r").alias("n_types"),
            F.col("c").alias("n_weekdays"),
            "k_cells",
            (F.round("mi", 6) + F.lit(0.0)).alias("mi_nats"),
            (
                F.round(
                    F.col("mi")
                    + (F.col("k_cells") - F.col("r") - F.col("c") + 1)
                    * 1.0
                    / (F.lit(2.0) * F.col("n")),
                    6,
                )
                + F.lit(0.0)
            ).alias("mi_miller_madow"),
            (F.round(F.col("mi") / F.sqrt(F.col("h") * F.col("h2")), 6) + F.lit(0.0)).alias("nmi"),
        )
    )


def _q358_absorbing_oracle(K: int = 5, iters: int = 40) -> str:
    """Generated oracle for q358: the truncated Neumann series
    t = sum_k Q^k 1 unrolled as one CTE per round, carrying [v | t] as
    one 2(K-1)-list with the engine's left-associated inner products and
    12-dp per-round quantization."""
    kt = K - 1
    ctes = [
        "m0 AS (SELECT qarr, [" + ", ".join(["CAST(1.0 AS DOUBLE)"] * (2 * kt)) + "] AS a FROM qm)"
    ]
    for r in range(1, iters + 1):
        comps = []
        for i in range(1, kt + 1):
            chain = " + ".join(
                f"qarr[{(i - 1) * kt + j}] * a[{j}]" for j in range(1, kt + 1)
            )
            comps.append(f"round({chain}, 12)")
        for i in range(1, kt + 1):
            chain = " + ".join(
                f"qarr[{(i - 1) * kt + j}] * a[{j}]" for j in range(1, kt + 1)
            )
            comps.append(f"round(a[{kt + i}] + round({chain}, 12), 12)")
        ctes.append(
            f"m{r} AS (SELECT qarr, [" + ", ".join(comps) + f"] AS a FROM m{r - 1})"
        )
    chain_sql = ",\n    ".join(ctes)
    return f"""
    WITH seq AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_ns(ts), event_id) AS nxt
      FROM events
    ),
    tc AS (SELECT event_type AS src, nxt AS dst, CAST(count(*) AS BIGINT) AS c
           FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
    types AS (SELECT t, row_number() OVER (ORDER BY t) AS idx
              FROM (SELECT DISTINCT event_type AS t FROM events)),
    freq AS (SELECT event_type AS t, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
    ab AS (SELECT t FROM (SELECT f.t, row_number() OVER (ORDER BY f.cnt DESC, f.t ASC) AS rk
                          FROM freq f) WHERE rk = 1),
    tr AS (SELECT t, idx, row_number() OVER (ORDER BY idx) AS tidx
           FROM types WHERE t <> (SELECT t FROM ab)),
    grid AS (
      SELECT i.idx AS i, j.idx AS j, coalesce(tc.c, 0) AS c
      FROM types i CROSS JOIN types j
      LEFT JOIN tc ON tc.src = i.t AND tc.dst = j.t
    ),
    rowtot AS (SELECT i, sum(c) AS tot FROM grid GROUP BY 1),
    qcells AS (
      SELECT (ti.tidx - 1) * {kt} + tj.tidx AS pos, g.c * 1.0 / r.tot AS p
      FROM grid g
      JOIN tr ti ON ti.idx = g.i
      JOIN tr tj ON tj.idx = g.j
      JOIN rowtot r ON r.i = g.i
    ),
    qm AS (SELECT list(p ORDER BY pos) AS qarr FROM qcells),
    {chain_sql}
    SELECT tr.t AS event_type,
           CAST(tr.tidx AS INT) AS state_idx,
           (SELECT t FROM ab) AS absorbing_type,
           round(a[{kt} + tr.tidx], 6) AS expected_steps
    FROM m{iters} CROSS JOIN tr
    """


@query("q358_absorbing_markov", oracle=_q358_absorbing_oracle())
def q358_absorbing_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected steps to absorption in the per-user event-type Markov
    chain (Kemeny & Snell 1960): the most frequent event type becomes
    the absorbing state, Q is the transient 4x4 block of q317's
    transition matrix (disclosed kinship), and t = N*1 with
    N = sum Q^k is evaluated as a 40-term truncated Neumann series
    folded in ONE codegen `aggregate` over an 8-element [v | t] array —
    "how many more events does a user in state X generate before the
    dominant behavior swallows them", the behavioral-horizon number a
    lifecycle model reads. Each component is 12-dp-rounded per round
    (truncation bias disclosed; parity exact — the oracle replays the
    identical left-associated chains).

    100 TB story: ONE corpus-scale window builds transition pairs
    (q317's shape); the absorbing pick, Q extraction, and the 40-round
    series all run on K x K aggregates and single-row arrays."""
    e = _t(spark, sf_dir, "events")
    K, iters = 5, 40
    kt = K - 1
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    tc = seq.groupBy(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count(F.lit(1)).alias("c"))
    types = (
        e.select(F.col("event_type").alias("t"))
        .distinct()
        .select("t", F.row_number().over(Window.orderBy("t")).alias("idx"))
        .localCheckpoint(eager=True)
    )
    n_types = types.count()
    if n_types != K:
        raise ValueError(
            f"q358 assumes exactly K={K} event types; fixture has {n_types}"
        )
    freq = e.groupBy(F.col("event_type").alias("t")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # absorbing pick without a rank window: TakeOrdered(1) on the K-row
    # frequency frame; transient re-index without a window either —
    # tidx = idx - [idx > absorbing idx] (idx order is preserved)
    ab = (
        freq.join(types, freq.t == types.t)
        .orderBy(F.col("cnt").desc(), F.asc(freq.t))
        .limit(1)
        .select(types.t.alias("abt"), F.col("idx").alias("abidx"))
        .localCheckpoint(eager=True)
    )
    tr = (
        types.crossJoin(F.broadcast(ab))
        .filter(F.col("t") != F.col("abt"))
        .select(
            "t",
            "idx",
            (
                F.col("idx")
                - F.when(F.col("idx") > F.col("abidx"), 1).otherwise(0)
            ).alias("tidx"),
        )
        .localCheckpoint(eager=True)
    )
    grid = (
        types.select(F.col("t").alias("src_t"), F.col("idx").alias("i"))
        .crossJoin(types.select(F.col("t").alias("dst_t"), F.col("idx").alias("j")))
        .join(
            tc,
            (F.col("src_t") == F.col("src")) & (F.col("dst_t") == F.col("dst")),
            "left",
        )
        .select("i", "j", F.coalesce("c", F.lit(0)).alias("c"))
        .localCheckpoint(eager=True)
    )
    rowtot = grid.groupBy("i").agg(F.sum("c").alias("tot"))
    ti = tr.select(F.col("idx").alias("i"), F.col("tidx").alias("ti"))
    tj = tr.select(F.col("idx").alias("j"), F.col("tidx").alias("tj"))
    qcells = (
        grid.join(F.broadcast(ti), "i")
        .join(F.broadcast(tj), "j")
        .join(F.broadcast(rowtot), "i")
        .select(
            ((F.col("ti") - 1) * kt + F.col("tj")).alias("pos"),
            (F.col("c") * 1.0 / F.col("tot")).alias("p"),
        )
    )
    qm = qcells.agg(
        F.array_sort(F.collect_list(F.struct("pos", "p"))).getField("p").alias("qarr")
    )

    def _v(acc, i: int):
        expr = F.element_at(F.col("qarr"), (i - 1) * kt + 1) * F.element_at(acc, 1)
        for j in range(2, kt + 1):
            expr = expr + F.element_at(F.col("qarr"), (i - 1) * kt + j) * F.element_at(
                acc, j
            )
        return F.round(expr, 12)

    def _step(acc, _):
        comps = [_v(acc, i) for i in range(1, kt + 1)]
        comps += [
            F.round(F.element_at(acc, kt + i) + _v(acc, i), 12)
            for i in range(1, kt + 1)
        ]
        return F.array(*comps)

    a = F.aggregate(
        F.sequence(F.lit(1), F.lit(iters)),
        F.array(*[F.lit(1.0)] * (2 * kt)),
        _step,
    )
    res = qm.select(a.alias("a"))
    return (
        res.crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(ab))
        .select(
            F.col("t").alias("event_type"),
            F.col("tidx").cast("int").alias("state_idx"),
            F.col("abt").alias("absorbing_type"),
            F.round(F.element_at(F.col("a"), F.lit(kt) + F.col("tidx")), 6).alias(
                "expected_steps"
            ),
        )
    )


@query(
    "q360_neyman_allocation",
    oracle="""
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS nh,
             CAST(sum(n_chars) AS BIGINT) AS sc,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS sc2
      FROM documents GROUP BY source
    ),
    v AS (
      SELECT source, nh,
             sqrt(sc2 * 1.0 / nh - (sc * 1.0 / nh) * (sc * 1.0 / nh)) AS sd,
             nh * sqrt(sc2 * 1.0 / nh - (sc * 1.0 / nh) * (sc * 1.0 / nh)) AS wgt
      FROM s
    ),
    tw AS (SELECT sum(wgt) AS w, CAST(sum(nh) AS BIGINT) AS n FROM v),
    ney AS (
      SELECT source, nh, sd, CAST(floor(5000 * wgt / tw.w) AS BIGINT) AS base,
             5000 * wgt / tw.w - floor(5000 * wgt / tw.w) AS rem
      FROM v CROSS JOIN tw
    ),
    neyr AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rk,
             5000 - sum(base) OVER () AS leftover
      FROM ney
    ),
    prop AS (
      SELECT source, (5000 * nh) // tw.n AS pbase, (5000 * nh) % tw.n AS prem
      FROM v CROSS JOIN tw
    ),
    propr AS (
      SELECT *, row_number() OVER (ORDER BY prem DESC, source ASC) AS prk,
             5000 - sum(pbase) OVER () AS pleft
      FROM prop
    )
    SELECT n.source, n.nh AS n_docs, round(n.sd, 6) AS sd_chars,
           CAST(p.pbase + CASE WHEN p.prk <= p.pleft THEN 1 ELSE 0 END AS BIGINT) AS alloc_proportional,
           CAST(n.base + CASE WHEN n.rk <= n.leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_neyman
    FROM neyr n JOIN propr p USING (source)
    """,
)
def q360_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation (Neyman 1934): a
    5,000-doc labeling budget split across sources proportional to
    N_h * S_h (stratum size times n_chars standard deviation — sample
    hard strata more), integerized by the exact largest-remainder method
    and reported beside plain proportional allocation — the sampling-
    design tier of the allocation family (q231 apportions eval seats,
    q227 waterfills token budgets; disclosed kinship). Moments are exact
    BIGINT sums; both remainder ranks tie-break (remainder DESC, source
    ASC), so the integer allocations match exactly.

    100 TB story: ONE map-side-combining per-source aggregate; both
    allocations run on the O(sources) frame (the rank windows are over
    ~20 rows — the audited aggregated-support exception)."""
    d = _t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum("n_chars").alias("sc"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("sc2"),
    )
    sd = F.sqrt(
        F.col("sc2") * 1.0 / F.col("nh")
        - (F.col("sc") * 1.0 / F.col("nh")) * (F.col("sc") * 1.0 / F.col("nh"))
    )
    v = s.select("source", "nh", sd.alias("sd"), (F.col("nh") * sd).alias("wgt")
    ).localCheckpoint(eager=True)
    tw = v.agg(F.sum("wgt").alias("w"), F.sum("nh").cast("long").alias("n"))
    ney = v.crossJoin(F.broadcast(tw)).select(
        "source",
        "nh",
        "sd",
        F.floor(F.lit(5000) * F.col("wgt") / F.col("w")).cast("long").alias("base"),
        (
            F.lit(5000) * F.col("wgt") / F.col("w")
            - F.floor(F.lit(5000) * F.col("wgt") / F.col("w"))
        ).alias("rem"),
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    neyr = ney.select(
        "*",
        F.row_number().over(Window.orderBy(F.col("rem").desc(), F.asc("source"))).alias("rk"),
        (F.lit(5000) - F.sum("base").over(wall)).alias("leftover"),
    )
    prop = v.crossJoin(F.broadcast(tw)).select(
        "source",
        F.expr("(5000 * nh) div n").alias("pbase"),
        F.expr("(5000 * nh) % n").alias("prem"),
    )
    propr = prop.select(
        "*",
        F.row_number().over(Window.orderBy(F.col("prem").desc(), F.asc("source"))).alias("prk"),
        (F.lit(5000) - F.sum("pbase").over(wall)).alias("pleft"),
    )
    return neyr.join(propr, "source").select(
        "source",
        F.col("nh").alias("n_docs"),
        F.round("sd", 6).alias("sd_chars"),
        (F.col("pbase") + F.when(F.col("prk") <= F.col("pleft"), 1).otherwise(0))
        .cast("long")
        .alias("alloc_proportional"),
        (F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
        .cast("long")
        .alias("alloc_neyman"),
    )


@query(
    "q362_group_sequential",
    oracle="""
    WITH d AS (
      SELECT (epoch_ns(ts) // 1000000000) // 86400 AS day,
             CAST(user_id % 2 AS INT) AS arm,
             CASE WHEN value > 150 THEN 1 ELSE 0 END AS conv
      FROM events WHERE value IS NOT NULL
    ),
    lo AS (SELECT min(day) AS lo FROM d),
    looks AS (SELECT unnest(generate_series(1, 5)) AS look),
    cum AS (
      SELECT l.look,
             CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n0,
             CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n1,
             CAST(sum(conv) FILTER (WHERE arm = 0) AS BIGINT) AS c0,
             CAST(sum(conv) FILTER (WHERE arm = 1) AS BIGINT) AS c1
      FROM d CROSS JOIN looks l CROSS JOIN lo
      WHERE d.day < lo.lo + l.look * 6
      GROUP BY l.look
    ),
    z AS (
      SELECT look, n0, n1,
             (c1 * 1.0 / n1 - c0 * 1.0 / n0)
             / sqrt(((c0 + c1) * 1.0 / (n0 + n1)) * (1.0 - (c0 + c1) * 1.0 / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)) AS zs
      FROM cum
    ),
    fc AS (SELECT min(CASE WHEN abs(zs) > 2.413 THEN look END) AS stop_look FROM z)
    SELECT z.look AS look, z.n0 + z.n1 AS n_cum,
           round(z.zs, 6) + 0.0 AS z,
           CAST(2.413 AS DOUBLE) AS pocock_bound,
           CAST(CASE WHEN abs(z.zs) > 2.413 THEN 1 ELSE 0 END AS INT) AS crossed,
           CAST(fc.stop_look AS INT) AS stopped_at_look
    FROM z CROSS JOIN fc
    """,
)
def q362_group_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential experiment monitoring with the Pocock boundary
    (Pocock 1977: constant +-2.413 for K=5 looks at overall alpha=0.05,
    literal handbook constant): the two-proportion z-statistic (q342's
    formula; disclosed kinship) recomputed on CUMULATIVE data at five
    equally-spaced calendar looks, each compared to the boundary, plus
    the first crossing look — the peek-safely protocol between q303's
    fully-sequential SPRT and q330's fixed-horizon test (disclosed).
    Counts are exact integers per look, so every z and the stopping
    decision match digit-for-digit.

    100 TB story: ONE corpus scan against the broadcast 5-row look grid
    collapses to 5 cumulative count rows (map-side combine); the
    boundary logic is a 5-row fold."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = e.select(
        F.expr("(ts div 1000000000) div 86400").alias("day"),
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.when(F.col("value") > 150, 1).otherwise(0).alias("conv"),
    )
    lo = d.agg(F.min("day").alias("lo"))
    looks = spark.range(1, 6).select(F.col("id").cast("int").alias("look"))
    cum = (
        d.crossJoin(F.broadcast(looks))
        .crossJoin(F.broadcast(lo))
        .filter(F.col("day") < F.col("lo") + F.col("look") * 6)
        .groupBy("look")
        .agg(
            F.count(F.when(F.col("arm") == 0, 1)).alias("n0"),
            F.count(F.when(F.col("arm") == 1, 1)).alias("n1"),
            F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias("c0"),
            F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias("c1"),
        )
    )
    ph = (F.col("c0") + F.col("c1")) * 1.0 / (F.col("n0") + F.col("n1"))
    zs = (F.col("c1") * 1.0 / F.col("n1") - F.col("c0") * 1.0 / F.col("n0")) / F.sqrt(
        ph * (F.lit(1.0) - ph) * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
    )
    z = cum.select("look", "n0", "n1", zs.alias("zs")).localCheckpoint(eager=True)
    fc = z.agg(
        F.min(F.when(F.abs("zs") > 2.413, F.col("look"))).alias("stop_look")
    )
    return z.crossJoin(F.broadcast(fc)).select(
        "look",
        (F.col("n0") + F.col("n1")).cast("long").alias("n_cum"),
        (F.round("zs", 6) + F.lit(0.0)).alias("z"),
        F.lit(2.413).alias("pocock_bound"),
        F.when(F.abs("zs") > 2.413, 1).otherwise(0).cast("int").alias("crossed"),
        F.col("stop_look").cast("int").alias("stopped_at_look"),
    )


def _q361_gesd_oracle(rounds: int = 3) -> str:
    """Generated oracle for q361: each ESD round as one CTE computing the
    masked mean/sd, the deviation list (removed slots pinned to -1.0),
    the max statistic, and the first-position argmax — the identical
    expression set the engine's chained selects evaluate."""
    ctes = [
        """arr AS (
      SELECT list(cents / 100.0 / n ORDER BY day) AS x,
             list(day ORDER BY day) AS days,
             CAST(count(*) AS BIGINT) AS n
      FROM (SELECT (epoch_ns(ts) // 1000000000) // 86400 AS day,
                   CAST(round(sum(CAST(value AS DECIMAL(18,4))) * 100, 0) AS BIGINT) AS cents,
                   CAST(count(*) AS BIGINT) AS n
            FROM events WHERE value IS NOT NULL GROUP BY 1)
    )"""
    ]
    prev = "arr"
    for r in range(1, rounds + 1):
        mask = " OR ".join(f"i = pk{j}" for j in range(1, r)) or "FALSE"
        ctes.append(f"""g{r}a AS (
      SELECT *,
        list_sum(list_transform(generate_series(1, CAST(n AS INT)),
                 i -> CASE WHEN {mask} THEN 0.0 ELSE x[i] END)) / (n - {r - 1}) AS mu{r}
      FROM {prev}
    )""")
        ctes.append(f"""g{r}b AS (
      SELECT *,
        sqrt(list_sum(list_transform(generate_series(1, CAST(n AS INT)),
             i -> CASE WHEN {mask} THEN 0.0 ELSE (x[i] - mu{r}) * (x[i] - mu{r}) END)) / (n - {r - 1})) AS sd{r}
      FROM g{r}a
    )""")
        ctes.append(f"""g{r}c AS (
      SELECT *,
        list_transform(generate_series(1, CAST(n AS INT)),
                       i -> CASE WHEN {mask} THEN -1.0 ELSE abs(x[i] - mu{r}) / sd{r} END) AS dv{r}
      FROM g{r}b
    )""")
        ctes.append(f"""g{r} AS (
      SELECT *, list_max(dv{r}) AS mx{r}, list_position(dv{r}, list_max(dv{r})) AS pk{r}
      FROM g{r}c
    )""")
        prev = f"g{r}"
    chain = ",\n    ".join(ctes)
    unions = "\n    UNION ALL ".join(
        f"SELECT {r} AS round, CAST(days[pk{r}] AS BIGINT) AS day_removed, "
        f"round(mx{r}, 6) AS r_stat, CAST(n - {r} AS BIGINT) AS n_remaining FROM g{rounds}"
        for r in range(1, rounds + 1)
    )
    return f"""
    WITH {chain}
    SELECT CAST(round AS INT) AS round, day_removed, r_stat, n_remaining FROM (
    {unions})
    """


@query("q361_gesd_outliers", oracle=_q361_gesd_oracle())
def q361_gesd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD outlier rounds (Rosner 1983) on the daily-mean
    series: three iterations of compute-masked-mean/sd, flag the maximal
    studentized deviation, remove it, recompute — the iterative
    dilution-proof cousin of the one-shot robust gates (q323 MAD z,
    q322 Mahalanobis; disclosed kinship): ESD's whole point is that an
    outlier can no longer hide by inflating the sd that judges the next
    one. Test statistics are emitted per round (lambda critical values
    depend on n and alpha tables, so the DECISION is the caller's;
    disclosed). All rounds run as identical chained expressions over the
    SAME day-ordered array in both engines — first-position argmax ties
    break identically.

    100 TB story: the corpus collapses to the O(days) rollup once;
    every round is an array fold on one row — iteration cost is
    calendar-bounded, corpus-size-independent."""
    rounds = 3
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = e.groupBy(F.expr("(ts div 1000000000) div 86400").alias("day")).agg(
        F.round(F.sum(_dec("value")) * 100, 0).cast("long").alias("cents"),
        F.count(F.lit(1)).alias("n"),
    )
    row = d.agg(
        F.array_sort(
            F.collect_list(F.struct("day", (F.col("cents") / 100.0 / F.col("n")).alias("v")))
        ).getField("v").alias("x"),
        F.array_sort(F.collect_list("day")).alias("days"),
        F.count(F.lit(1)).alias("n"),
    ).localCheckpoint(eager=True)
    cur = row
    for r in range(1, rounds + 1):
        def _mask(i, r=r):
            cond = F.lit(False)
            for j in range(1, r):
                cond = cond | (i == F.col(f"pk{j}"))
            return cond

        seq = F.sequence(F.lit(1), F.col("n").cast("int"))
        mu = (
            F.aggregate(
                seq,
                F.lit(0.0),
                lambda a, i: a
                + F.when(_mask(i), F.lit(0.0)).otherwise(F.element_at(F.col("x"), i)),
            )
            / (F.col("n") - F.lit(r - 1))
        )
        cur = cur.select("*", mu.alias(f"mu{r}"))
        sd = F.sqrt(
            F.aggregate(
                seq,
                F.lit(0.0),
                lambda a, i: a
                + F.when(_mask(i), F.lit(0.0)).otherwise(
                    (F.element_at(F.col("x"), i) - F.col(f"mu{r}"))
                    * (F.element_at(F.col("x"), i) - F.col(f"mu{r}"))
                ),
            )
            / (F.col("n") - F.lit(r - 1))
        )
        cur = cur.select("*", sd.alias(f"sd{r}"))
        dv = F.transform(
            seq,
            lambda i: F.when(_mask(i), F.lit(-1.0)).otherwise(
                F.abs(F.element_at(F.col("x"), i) - F.col(f"mu{r}")) / F.col(f"sd{r}")
            ),
        )
        cur = cur.select("*", dv.alias(f"dv{r}"))
        cur = cur.select(
            "*",
            F.array_max(F.col(f"dv{r}")).alias(f"mx{r}"),
            F.array_position(F.col(f"dv{r}"), F.array_max(F.col(f"dv{r}"))).alias(
                f"pk{r}"
            ),
        )
    out = cur.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("round"),
                        F.element_at(F.col("days"), F.col(f"pk{r}").cast("int"))
                        .cast("long")
                        .alias("day_removed"),
                        F.round(F.col(f"mx{r}"), 6).alias("r_stat"),
                        (F.col("n") - r).cast("long").alias("n_remaining"),
                    )
                    for r in range(1, rounds + 1)
                ]
            )
        ).alias("s")
    )
    return out.select("s.round", "s.day_removed", "s.r_stat", "s.n_remaining")


@query(
    "q363_kruskal_wallis",
    oracle="""
    WITH s AS (
      SELECT event_type, value AS v FROM events WHERE value IS NOT NULL
    ),
    cell AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
    sup AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM cell GROUP BY v),
    cum AS (
      SELECT v, t,
             CAST(coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bef
      FROM sup
    ),
    g AS (
      SELECT cell.event_type, CAST(sum(cell.c) AS BIGINT) AS ng,
             CAST(sum(cell.c * (2 * cum.bef + cum.t + 1)) AS BIGINT) AS sdr
      FROM cell JOIN cum USING (v) GROUP BY 1
    ),
    nn AS (SELECT CAST(sum(ng) AS BIGINT) AS n FROM g),
    h AS (
      SELECT CAST(round(sum(CAST(round(ng * (sdr * 1.0 / (2 * ng) - (nn.n + 1) / 2.0) * (sdr * 1.0 / (2 * ng) - (nn.n + 1) / 2.0), 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS ssq,
             CAST(count(*) AS BIGINT) AS k
      FROM g CROSS JOIN nn
    ),
    tie AS (
      SELECT CAST(sum(t * t * t - t) AS BIGINT) AS t3 FROM sup
    )
    SELECT nn.n, h.k AS k_groups,
           round(12.0 / (nn.n * (nn.n + 1.0)) * h.ssq, 6) AS h_stat,
           round((12.0 / (nn.n * (nn.n + 1.0)) * h.ssq)
                 / (1.0 - tie.t3 * 1.0 / (nn.n * 1.0 * nn.n * nn.n - nn.n)), 6) AS h_tie_corrected,
           CAST(9.487729 AS DOUBLE) AS crit_95,
           CAST(CASE WHEN (12.0 / (nn.n * (nn.n + 1.0)) * h.ssq)
                          / (1.0 - tie.t3 * 1.0 / (nn.n * 1.0 * nn.n * nn.n - nn.n)) > 9.487729
                     THEN 1 ELSE 0 END AS INT) AS reject
    FROM h CROSS JOIN nn CROSS JOIN tie
    """,
)
def q363_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank test (Kruskal & Wallis 1952) for a value-
    distribution difference across ALL event types at once — the
    k-group generalization of q297's two-sample Mann-Whitney (disclosed
    kinship): pooled average ranks carried as INTEGER doubled-ranks off
    the distinct-value support (the q216/q297 trick, zero float ranks),
    the tie-corrected H against the literal chi-square(k-1) 95% critical
    value. Every sum is an exact integer until the final 12-dp fold.

    100 TB story: the corpus collapses to the (type, value) cell frame
    once; ranks come from a cumulative window over the VALUE support
    only; H is a k-row fold."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cell = e.groupBy("event_type", F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=True)
    sup = cell.groupBy("v").agg(F.sum("c").alias("t"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = sup.select(
        "v", "t", F.coalesce(F.sum("t").over(wv), F.lit(0)).cast("long").alias("bef")
    )
    g = (
        cell.join(cum, "v")
        .groupBy("event_type")
        .agg(
            F.sum("c").alias("ng"),
            F.sum(F.col("c") * (2 * F.col("bef") + F.col("t") + 1)).alias("sdr"),
        )
    )
    nn = g.agg(F.sum("ng").cast("long").alias("n"))
    rbar_dev = F.col("sdr") * 1.0 / (2 * F.col("ng")) - (F.col("n") + 1) / F.lit(2.0)
    h = g.crossJoin(F.broadcast(nn)).agg(
        F.round(
            F.sum(F.round(F.col("ng") * rbar_dev * rbar_dev, 12).cast("decimal(38,12)")),
            12,
        ).cast("double").alias("ssq"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    tie = sup.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast("long").alias("t3")
    )
    hs = F.lit(12.0) / (F.col("n") * (F.col("n") + 1.0)) * F.col("ssq")
    hc = hs / (
        F.lit(1.0)
        - F.col("t3") * 1.0 / (F.col("n") * 1.0 * F.col("n") * F.col("n") - F.col("n"))
    )
    return (
        h.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(tie))
        .select(
            F.col("n"),
            F.col("k").alias("k_groups"),
            F.round(hs, 6).alias("h_stat"),
            F.round(hc, 6).alias("h_tie_corrected"),
            F.lit(9.487729).alias("crit_95"),
            F.when(hc > 9.487729, 1).otherwise(0).cast("int").alias("reject"),
        )
    )


@query(
    "q364_brown_forsythe",
    oracle="""
    WITH s AS (
      SELECT event_type, value AS v FROM events WHERE value IS NOT NULL
    ),
    cell AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
    cum AS (
      SELECT event_type, v, c,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT) AS cm,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS ng
      FROM cell
    ),
    med AS (
      SELECT event_type, min(v) AS md, min(ng) AS ng
      FROM cum WHERE cm >= (ng + 1) // 2 GROUP BY event_type
    ),
    z AS (
      SELECT cell.event_type, med.ng,
             CAST(round(sum(CAST(round(cell.c * abs(cell.v - med.md), 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS sz,
             CAST(round(sum(CAST(round(cell.c * abs(cell.v - med.md) * abs(cell.v - med.md), 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS sz2
      FROM cell JOIN med USING (event_type) GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
             CAST(round(sum(CAST(round(sz, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS szt
      FROM z
    ),
    f AS (
      SELECT
        CAST(round(sum(CAST(round(ng * (sz / ng - tot.szt / tot.n) * (sz / ng - tot.szt / tot.n), 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS ssb,
        CAST(round(sum(CAST(round(sz2 - sz * sz / ng, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS ssw
      FROM z CROSS JOIN tot
    )
    SELECT tot.n, tot.k AS k_groups,
           round((tot.n - tot.k) * 1.0 / (tot.k - 1) * f.ssb / f.ssw, 6) AS f_stat,
           CAST(2.371902 AS DOUBLE) AS crit_95_asymptotic,
           CAST(CASE WHEN (tot.n - tot.k) * 1.0 / (tot.k - 1) * f.ssb / f.ssw > 2.371902
                     THEN 1 ELSE 0 END AS INT) AS reject
    FROM f CROSS JOIN tot
    """,
)
def q364_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test (Brown & Forsythe 1974:
    Levene's test with the MEDIAN center, robust to heavy tails): per
    type, absolute deviations from the group lower-median (the q323
    convention; disclosed), then the one-way ANOVA F on those deviations
    against the literal asymptotic F(k-1, inf) critical value — the
    equal-spread check that should precede any pooled-variance test
    (q281 Welch exists precisely for when this rejects; disclosed
    kinship). Deviation sums fold per (type, value) SUPPORT cell as
    12-dp DECIMAL — no corpus-ordered float sums anywhere.

    100 TB story: one collapse to (type, value) cells; medians off
    per-type cumulative support windows; every F ingredient is a fold
    over cells or the k-row frame."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cell = e.groupBy("event_type", F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=True)
    wc = Window.partitionBy("event_type").orderBy("v")
    wp = Window.partitionBy("event_type")
    cum = cell.select(
        "event_type",
        "v",
        "c",
        F.sum("c").over(wc).cast("long").alias("cm"),
        F.sum("c").over(wp).cast("long").alias("ng"),
    )
    med = (
        cum.filter(F.col("cm") >= F.expr("(ng + 1) div 2"))
        .groupBy("event_type")
        .agg(F.min("v").alias("md"), F.min("ng").alias("ng"))
    )
    def _fold12(x):
        return F.round(F.sum(F.round(x, 12).cast("decimal(38,12)")), 12).cast("double")
    az = F.abs(F.col("v") - F.col("md"))
    z = (
        cell.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "ng")
        .agg(
            _fold12(F.col("c") * az).alias("sz"),
            _fold12(F.col("c") * az * az).alias("sz2"),
        )
    ).localCheckpoint(eager=True)
    tot = z.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        _fold12(F.col("sz")).alias("szt"),
    )
    dev = F.col("sz") / F.col("ng") - F.col("szt") / F.col("n")
    f = z.crossJoin(F.broadcast(tot)).agg(
        _fold12(F.col("ng") * dev * dev).alias("ssb"),
        _fold12(F.col("sz2") - F.col("sz") * F.col("sz") / F.col("ng")).alias("ssw"),
    )
    fs = (F.col("n") - F.col("k")) * 1.0 / (F.col("k") - 1) * F.col("ssb") / F.col("ssw")
    return f.crossJoin(F.broadcast(tot)).select(
        "n",
        F.col("k").alias("k_groups"),
        F.round(fs, 6).alias("f_stat"),
        F.lit(2.371902).alias("crit_95_asymptotic"),
        F.when(fs > 2.371902, 1).otherwise(0).cast("int").alias("reject"),
    )


@query(
    "q365_anova_eta",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(round(CAST(value AS DECIMAL(18,4)) * 100, 0) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(cents) AS BIGINT) AS sc,
             CAST(sum(cents * cents) AS BIGINT) AS sc2
      FROM s GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(sc) AS BIGINT) AS sct, CAST(sum(sc2) AS BIGINT) AS sc2t
      FROM g
    ),
    ss AS (
      SELECT
        CAST(round(sum(CAST(round(ng * (sc * 1.0 / ng - tot.sct * 1.0 / tot.n) * (sc * 1.0 / ng - tot.sct * 1.0 / tot.n) / 10000.0, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS ssb
      FROM g CROSS JOIN tot
    )
    SELECT tot.n, tot.k AS k_groups,
           round(ss.ssb, 6) AS ss_between,
           round((tot.sc2t - tot.sct * 1.0 * tot.sct / tot.n) / 10000.0 - ss.ssb, 6) AS ss_within,
           round((tot.n - tot.k) * 1.0 / (tot.k - 1) * ss.ssb
                 / ((tot.sc2t - tot.sct * 1.0 * tot.sct / tot.n) / 10000.0 - ss.ssb), 6) AS f_stat,
           round(ss.ssb / ((tot.sc2t - tot.sct * 1.0 * tot.sct / tot.n) / 10000.0), 6) AS eta_sq,
           CAST(2.371902 AS DOUBLE) AS crit_95_asymptotic,
           CAST(CASE WHEN (tot.n - tot.k) * 1.0 / (tot.k - 1) * ss.ssb
                          / ((tot.sc2t - tot.sct * 1.0 * tot.sct / tot.n) / 10000.0 - ss.ssb) > 2.371902
                     THEN 1 ELSE 0 END AS INT) AS reject
    FROM ss CROSS JOIN tot
    """,
)
def q365_anova_eta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across event types with the eta-squared effect size
    (Fisher 1925; eta^2 = SSB/SST — the "is it significant AND does it
    matter" pair): all sums of squares from exact integer CENTS moments
    (sum, sum of squares per group — one aggregate), F against the
    literal asymptotic F(k-1, inf) critical value. The mean-comparison
    sibling of q364's spread test and q281's two-group Welch (disclosed
    kinship; ANOVA assumes the homogeneity q364 checks). SSB folds over
    the k-row frame as 12-dp DECIMAL; SST is closed-form from the total
    integer moments.

    100 TB story: ONE map-side-combining aggregate to k rows carrying
    integer moments; everything else is k-row arithmetic."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.select(
        "event_type", F.round(_dec("value") * 100, 0).cast("long").alias("cents")
    )
    g = s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("cents").alias("sc"),
        F.sum(F.col("cents") * F.col("cents")).alias("sc2"),
    )
    tot = g.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("sc").cast("long").alias("sct"),
        F.sum("sc2").cast("long").alias("sc2t"),
    )
    dev = F.col("sc") * 1.0 / F.col("ng") - F.col("sct") * 1.0 / F.col("n")
    ss = g.crossJoin(F.broadcast(tot)).agg(
        F.round(
            F.sum(
                F.round(F.col("ng") * dev * dev / F.lit(10000.0), 12).cast(
                    "decimal(38,12)"
                )
            ),
            12,
        ).cast("double").alias("ssb")
    )
    sst = (
        F.col("sc2t") - F.col("sct") * 1.0 * F.col("sct") / F.col("n")
    ) / F.lit(10000.0)
    fs = (
        (F.col("n") - F.col("k"))
        * 1.0
        / (F.col("k") - 1)
        * F.col("ssb")
        / (sst - F.col("ssb"))
    )
    return ss.crossJoin(F.broadcast(tot)).select(
        "n",
        F.col("k").alias("k_groups"),
        F.round("ssb", 6).alias("ss_between"),
        F.round(sst - F.col("ssb"), 6).alias("ss_within"),
        F.round(fs, 6).alias("f_stat"),
        F.round(F.col("ssb") / sst, 6).alias("eta_sq"),
        F.lit(2.371902).alias("crit_95_asymptotic"),
        F.when(fs > 2.371902, 1).otherwise(0).cast("int").alias("reject"),
    )


@query(
    "q366_mcnemar",
    oracle=f"""
    WITH g AS (
      SELECT source,
             CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS ga,
             CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) >= 40 THEN 1 ELSE 0 END AS gb
      FROM documents WHERE trim(text) <> ''
    ),
    s AS (
      SELECT source,
             CAST(sum(CASE WHEN ga = 1 AND gb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN ga = 0 AND gb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(count(*) AS BIGINT) AS n
      FROM g GROUP BY source
    )
    SELECT source, n, b AS only_gate_a, c AS only_gate_b,
           CASE WHEN b + c = 0 THEN 0.0
                ELSE round((abs(b - c) - 1.0) * (abs(b - c) - 1.0) / (b + c), 6)
           END AS mcnemar_stat,
           CASE WHEN b + c = 0 THEN 1.0
                ELSE round({_p2_sql(f"sqrt((abs(b - c) - 1.0) * (abs(b - c) - 1.0) / (b + c)) * {_INV_SQRT2}")}, 6) + 0.0
           END AS p_value
    FROM s
    """,
)
def q366_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test (McNemar 1947, continuity-corrected) on the
    two quality gates of q346 (disclosed kinship): kappa asks whether
    the gates AGREE; McNemar asks whether they disagree SYMMETRICALLY —
    a significant result means one gate is systematically stricter, the
    signal that re-thresholding (not averaging) is the fix. Only the
    discordant counts enter; the chi-square(1) p-value reuses the A&S
    erfc polynomial; degenerate b+c = 0 sources emit (0, 1.0) by the
    same CASE both engines.

    100 TB story: both gates and the discordant cells are ONE map-side
    per-source aggregate; the test is per-source row arithmetic."""
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    ga = F.when(F.col("n_chars") >= 200, 1).otherwise(0)
    gb = F.when(F.size(text.tokens(F.col("text"))) >= 40, 1).otherwise(0)
    s = d.select("source", ga.alias("ga"), gb.alias("gb")).groupBy("source").agg(
        F.sum(F.when((F.col("ga") == 1) & (F.col("gb") == 0), 1).otherwise(0)).alias("b"),
        F.sum(F.when((F.col("ga") == 0) & (F.col("gb") == 1), 1).otherwise(0)).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    stat = (
        (F.abs(F.col("b") - F.col("c")) - 1.0)
        * (F.abs(F.col("b") - F.col("c")) - 1.0)
        / (F.col("b") + F.col("c"))
    )
    return s.select(
        "source",
        F.col("n").cast("long").alias("n"),
        F.col("b").cast("long").alias("only_gate_a"),
        F.col("c").cast("long").alias("only_gate_b"),
        F.when(F.col("b") + F.col("c") == 0, F.lit(0.0))
        .otherwise(F.round(stat, 6))
        .alias("mcnemar_stat"),
        F.when(F.col("b") + F.col("c") == 0, F.lit(1.0))
        .otherwise(F.round(_p2_col(F.sqrt(stat) * F.lit(_INV_SQRT2)), 6) + F.lit(0.0))
        .alias("p_value"),
    )


@query(
    "q367_runs_test",
    oracle=f"""
    WITH d AS (
      SELECT (epoch_ns(ts) // 1000000000) // 86400 AS day,
             CAST(round(sum(CAST(value AS DECIMAL(18,4))) * 100, 0) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    m AS (
      SELECT day, cents / 100.0 / n AS v FROM d
    ),
    med AS (
      SELECT x[CAST((nn + 1) // 2 AS INT)] AS md
      FROM (SELECT list(v ORDER BY v) AS x, count(*) AS nn FROM m)
    ),
    kept AS (
      SELECT day, CASE WHEN v > md THEN 1 ELSE 0 END AS sgn
      FROM m CROSS JOIN med WHERE v <> md
    ),
    lagged AS (
      SELECT sgn, lag(sgn) OVER (ORDER BY day) AS prev FROM kept
    ),
    runs AS (
      SELECT CAST(count(*) AS BIGINT) AS nk,
             CAST(sum(sgn) AS BIGINT) AS n1,
             CAST(count(*) - sum(sgn) AS BIGINT) AS n2,
             CAST(1 + sum(CASE WHEN sgn <> prev THEN 1 ELSE 0 END) AS BIGINT) AS r
      FROM lagged
    ),
    z AS (
      SELECT nk, n1, n2, r,
             2.0 * n1 * n2 / (n1 + n2) + 1.0 AS er,
             (r - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((n1 + n2) * 1.0 * (n1 + n2) * (n1 + n2 - 1))) AS zs
      FROM runs
    )
    SELECT nk AS n_kept, n1 AS n_above, n2 AS n_below, r AS n_runs,
           round(er, 6) AS expected_runs,
           round(zs, 6) + 0.0 AS z,
           round({_p2_sql(f"abs(zs) * {_INV_SQRT2}")}, 6) + 0.0 AS p_value
    FROM z
    """,
)
def q367_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test (Wald & Wolfowitz 1940) for randomness
    of the daily-mean series around its median: code each day above/
    below the lower-median (exact-median days excluded, the standard
    convention), count sign runs, and compare to the exact run-count
    moments — too FEW runs means trending/sticky days (q311's
    Mann-Kendall cousin from the sign side; disclosed kinship), too
    MANY means oscillation. The normal p-value reuses the A&S erfc
    polynomial.

    100 TB story: the corpus collapses to the O(days) rollup once; the
    run count is one lag over the day-ordered rollup (the audited
    aggregated-support exception) and the rest is 1-row arithmetic."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = e.groupBy(F.expr("(ts div 1000000000) div 86400").alias("day")).agg(
        F.round(F.sum(_dec("value")) * 100, 0).cast("long").alias("cents"),
        F.count(F.lit(1)).alias("n"),
    ).localCheckpoint(eager=True)
    m = d.select("day", (F.col("cents") / 100.0 / F.col("n")).alias("v"))
    med = m.agg(
        F.element_at(
            F.array_sort(F.collect_list("v")),
            F.expr("cast((count(1) + 1) div 2 as int)"),
        ).alias("md")
    )
    kept = m.crossJoin(F.broadcast(med)).filter(F.col("v") != F.col("md")).select(
        "day", F.when(F.col("v") > F.col("md"), 1).otherwise(0).alias("sgn")
    )
    wl = Window.orderBy("day")
    runs = kept.select(
        "sgn", F.lag("sgn").over(wl).alias("prev")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.sum("sgn").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("sgn")).cast("long").alias("n2"),
        (
            1
            + F.sum(
                F.when(F.col("sgn") != F.col("prev"), 1).otherwise(0)
            )
        ).cast("long").alias("r"),
    )
    er = 2.0 * F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2")) + 1.0
    zs = (F.col("r") - er) / F.sqrt(
        2.0
        * F.col("n1")
        * F.col("n2")
        * (2.0 * F.col("n1") * F.col("n2") - F.col("n1") - F.col("n2"))
        / (
            (F.col("n1") + F.col("n2"))
            * 1.0
            * (F.col("n1") + F.col("n2"))
            * (F.col("n1") + F.col("n2") - 1)
        )
    )
    return runs.select(
        F.col("nk").alias("n_kept"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.col("r").alias("n_runs"),
        F.round(er, 6).alias("expected_runs"),
        (F.round(zs, 6) + F.lit(0.0)).alias("z"),
        (F.round(_p2_col(F.abs(zs) * F.lit(_INV_SQRT2)), 6) + F.lit(0.0)).alias(
            "p_value"
        ),
    )


@query(
    "q368_durbin_watson",
    oracle="""
    WITH d AS (
      SELECT (epoch_ns(ts) // 1000000000) // 86400 AS day,
             CAST(round(sum(CAST(value AS DECIMAL(18,4))) * 100, 0) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    arr AS (SELECT list(cents / 100.0 / n ORDER BY day) AS x, CAST(count(*) AS BIGINT) AS n FROM d),
    fit AS (
      SELECT x, n,
             list_sum(x) / n AS xb,
             (n + 1) / 2.0 AS tb,
             list_sum(list_transform(generate_series(1, CAST(n AS INT)),
                      t -> (t - (n + 1) / 2.0) * (x[t] - list_sum(x) / n)))
             / list_sum(list_transform(generate_series(1, CAST(n AS INT)),
                      t -> (t - (n + 1) / 2.0) * (t - (n + 1) / 2.0))) AS b
      FROM arr
    ),
    res AS (
      SELECT n,
             list_transform(generate_series(1, CAST(n AS INT)),
                            t -> x[t] - (xb - b * tb) - b * t) AS e
      FROM fit
    )
    SELECT n AS n_days,
           round(list_sum(list_transform(generate_series(2, CAST(n AS INT)),
                          t -> (e[t] - e[t-1]) * (e[t] - e[t-1])))
                 / list_sum(list_transform(e, v -> v * v)), 6) AS dw_stat,
           round(1.0 - (list_sum(list_transform(generate_series(2, CAST(n AS INT)),
                          t -> (e[t] - e[t-1]) * (e[t] - e[t-1])))
                 / list_sum(list_transform(e, v -> v * v))) / 2.0, 6) + 0.0 AS rho1_approx
    FROM res
    """,
)
def q368_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson autocorrelation-of-residuals statistic (Durbin &
    Watson 1950) on the daily-mean series after removing the OLS linear
    trend: DW near 2 means the trend explains the serial structure, DW
    near 0 means the residuals still trend together (the regression-
    residual complement of q351's raw-series Ljung-Box and q17's OLS
    slope; disclosed kinship — bounds tables are n-dependent, so the
    decision is the caller's, disclosed like q361). Fit and statistic
    are identical index-ordered array folds in both engines.

    100 TB story: the corpus collapses to the O(days) rollup once; the
    OLS fit, residuals, and DW are array folds on one row."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = e.groupBy(F.expr("(ts div 1000000000) div 86400").alias("day")).agg(
        F.round(F.sum(_dec("value")) * 100, 0).cast("long").alias("cents"),
        F.count(F.lit(1)).alias("n"),
    )
    arr = d.agg(
        F.array_sort(
            F.collect_list(F.struct("day", (F.col("cents") / 100.0 / F.col("n")).alias("v")))
        ).getField("v").alias("x"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).localCheckpoint(eager=True)
    seqn = F.sequence(F.lit(1), F.col("n").cast("int"))
    xsum = F.aggregate(F.col("x"), F.lit(0.0), lambda a, v: a + v)
    xb = xsum / F.col("n")
    tb = (F.col("n") + 1) / F.lit(2.0)
    num = F.aggregate(
        seqn, F.lit(0.0), lambda a, t: a + (t - tb) * (F.element_at(F.col("x"), t) - xb)
    )
    den = F.aggregate(seqn, F.lit(0.0), lambda a, t: a + (t - tb) * (t - tb))
    fit = arr.select("x", "n", xb.alias("xb"), tb.alias("tb"), (num / den).alias("b"))
    ecol = F.transform(
        seqn,
        lambda t: F.element_at(F.col("x"), t)
        - (F.col("xb") - F.col("b") * F.col("tb"))
        - F.col("b") * t,
    )
    res = fit.select("n", ecol.alias("e"))
    dnum = F.aggregate(
        F.sequence(F.lit(2), F.col("n").cast("int")),
        F.lit(0.0),
        lambda a, t: a
        + (F.element_at(F.col("e"), t) - F.element_at(F.col("e"), t - 1))
        * (F.element_at(F.col("e"), t) - F.element_at(F.col("e"), t - 1)),
    )
    dden = F.aggregate(F.col("e"), F.lit(0.0), lambda a, v: a + v * v)
    dw = dnum / dden
    return res.select(
        F.col("n").alias("n_days"),
        F.round(dw, 6).alias("dw_stat"),
        (F.round(F.lit(1.0) - dw / F.lit(2.0), 6) + F.lit(0.0)).alias("rho1_approx"),
    )


@query(
    "q369_quantile_treatment_effect",
    oracle="""
    WITH s AS (
      SELECT CAST(user_id % 2 AS INT) AS arm, value AS v
      FROM events WHERE value IS NOT NULL
    ),
    sup AS (SELECT arm, v, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
    cum AS (
      SELECT arm, v, c,
             CAST(sum(c) OVER (PARTITION BY arm ORDER BY v) AS BIGINT) AS cm,
             CAST(sum(c) OVER (PARTITION BY arm) AS BIGINT) AS na
      FROM sup
    ),
    ps AS (SELECT unnest([25, 50, 75]) AS p),
    q AS (
      SELECT ps.p, cum.arm, min(cum.v) AS qv
      FROM ps JOIN cum ON cum.cm >= (cum.na * ps.p + 99) // 100
      GROUP BY 1, 2
    )
    SELECT a.p AS percentile,
           round(a.qv, 6) AS q_control,
           round(b.qv, 6) AS q_treatment,
           round(b.qv - a.qv, 6) + 0.0 AS qte
    FROM q a JOIN q b ON a.p = b.p AND a.arm = 0 AND b.arm = 1
    """,
)
def q369_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects (Doksum 1974): the p25/p50/p75 of each
    arm's value distribution as EXACT order statistics (ceil(p*n) ranks
    off per-arm cumulative supports — no interpolation to diverge
    between engines, the q339 convention) and their differences — where
    the mean-effect ladder (q330/q355) says "how much on average", QTE
    says WHERE in the distribution the treatment moved mass (a zero mean
    effect can hide +tail/-head shifts; disclosed kinship with q343's
    Wasserstein, which integrates exactly these gaps).

    100 TB story: one collapse to per-arm (value, count) supports;
    quantiles read off cumulative windows over the support partitioned
    by arm; the effect frame is 3 rows."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    sup = e.groupBy(
        (F.col("user_id") % 2).cast("int").alias("arm"), F.col("value").alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))
    wc = Window.partitionBy("arm").orderBy("v")
    wp = Window.partitionBy("arm")
    cum = sup.select(
        "arm",
        "v",
        F.sum("c").over(wc).cast("long").alias("cm"),
        F.sum("c").over(wp).cast("long").alias("na"),
    ).localCheckpoint(eager=True)
    ps = spark.range(1).select(
        F.explode(F.array(F.lit(25), F.lit(50), F.lit(75))).alias("p")
    )
    q = (
        ps.join(
            cum,
            F.col("cm") >= F.expr("(na * p + 99) div 100"),
        )
        .groupBy("p", "arm")
        .agg(F.min("v").alias("qv"))
    )
    a = q.filter(F.col("arm") == 0).select(F.col("p").alias("pa"), F.col("qv").alias("q0"))
    b = q.filter(F.col("arm") == 1).select(F.col("p").alias("pb"), F.col("qv").alias("q1"))
    return (
        a.join(b, a.pa == b.pb)
        .select(
            F.col("pa").cast("int").alias("percentile"),
            F.round("q0", 6).alias("q_control"),
            F.round("q1", 6).alias("q_treatment"),
            (F.round(F.col("q1") - F.col("q0"), 6) + F.lit(0.0)).alias("qte"),
        )
    )


@query(
    "q370_shard_balance_audit",
    oracle=f"""
    WITH a AS (
      SELECT {_MD5H_SQL.format(x="'sh' || doc_id")} % 16 AS shard, source
      FROM documents
    ),
    cell AS (SELECT shard, source, CAST(count(*) AS BIGINT) AS o FROM a GROUP BY 1, 2),
    rm AS (SELECT shard, CAST(sum(o) AS BIGINT) AS rs FROM cell GROUP BY 1),
    cm AS (SELECT source, CAST(sum(o) AS BIGINT) AS cs FROM cell GROUP BY 1),
    nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cell),
    chi AS (
      SELECT CAST(round(sum(CAST(round((cell.o - rm.rs * 1.0 * cm.cs / nn.n) * (cell.o - rm.rs * 1.0 * cm.cs / nn.n) / (rm.rs * 1.0 * cm.cs / nn.n), 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS x2,
             CAST(count(*) AS BIGINT) AS cells,
             max(abs(cell.o - rm.rs * 1.0 * cm.cs / nn.n) / (rm.rs * 1.0 * cm.cs / nn.n)) AS max_rel_dev
      FROM cell JOIN rm USING (shard) JOIN cm USING (source) CROSS JOIN nn
    ),
    sz AS (
      SELECT CAST(max(rs) AS BIGINT) AS mx, CAST(min(rs) AS BIGINT) AS mn,
             CAST(count(*) AS BIGINT) AS k
      FROM rm
    )
    SELECT nn.n, sz.k AS n_shards, chi.cells,
           round(chi.x2, 6) AS chi_sq,
           round(chi.max_rel_dev, 6) AS max_cell_rel_dev,
           sz.mx AS max_shard_rows, sz.mn AS min_shard_rows,
           round(sz.mx * 1.0 / sz.mn, 6) AS shard_skew_ratio
    FROM chi CROSS JOIN nn CROSS JOIN sz
    """,
)
def q370_shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard mix audit: assign every document to one of 16
    shards by the oracle-portable content hash (q147's deterministic
    shard layout; disclosed kinship) and test whether SOURCES are well
    mixed across shards — the chi-square independence statistic over
    the shard x source grid (q314's machinery pointed at the shuffle;
    disclosed) plus the worst cell deviation and the shard-size skew
    ratio. A dataloader's "global shuffle" is only as good as this
    table: a hot cell means one shard over-serves one source and
    per-step gradients see correlated batches.

    100 TB story: the shard assignment is a pure column expression in
    the scan; ONE map-side-combining aggregate to the 16 x sources
    grid; every statistic is a fold over that grid."""
    from phoebe_spark.operators.dedup import md5_hash64

    d = _t(spark, sf_dir, "documents")
    a = d.select(
        F.pmod(md5_hash64(F.concat(F.lit("sh"), F.col("doc_id").cast("string"))), F.lit(16)).alias("shard"),
        "source",
    )
    cell = a.groupBy("shard", "source").agg(F.count(F.lit(1)).alias("o")).localCheckpoint(
        eager=True
    )
    rm = cell.groupBy("shard").agg(F.sum("o").alias("rs"))
    cm = cell.groupBy("source").agg(F.sum("o").alias("cs"))
    nn = cell.agg(F.sum("o").alias("n"))
    eexp = F.col("rs") * 1.0 * F.col("cs") / F.col("n")
    chi = (
        cell.join(F.broadcast(rm), "shard")
        .join(F.broadcast(cm), "source")
        .crossJoin(F.broadcast(nn))
        .agg(
            F.round(
                F.sum(
                    F.round(
                        (F.col("o") - eexp) * (F.col("o") - eexp) / eexp, 12
                    ).cast("decimal(38,12)")
                ),
                12,
            ).cast("double").alias("x2"),
            F.count(F.lit(1)).cast("long").alias("cells"),
            F.max(F.abs(F.col("o") - eexp) / eexp).alias("max_rel_dev"),
        )
    )
    sz = rm.agg(
        F.max("rs").cast("long").alias("mx"),
        F.min("rs").cast("long").alias("mn"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    return (
        chi.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(sz))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("k").alias("n_shards"),
            "cells",
            F.round("x2", 6).alias("chi_sq"),
            F.round("max_rel_dev", 6).alias("max_cell_rel_dev"),
            F.col("mx").alias("max_shard_rows"),
            F.col("mn").alias("min_shard_rows"),
            F.round(F.col("mx") * 1.0 / F.col("mn"), 6).alias("shard_skew_ratio"),
        )
    )


def _fold12(x) -> F.Column:
    """Order-independent small-scalar sum: each term 12-dp-rounded into
    DECIMAL(38,12) before the fold, result back to DOUBLE (the q364
    convention, lifted to module scope for the round-9 test block)."""
    return F.round(F.sum(F.round(x, 12).cast("decimal(38,12)")), 12).cast("double")


_FOLD12_SQL = "CAST(round(sum(CAST(round({t}, 12) AS DECIMAL(38,12))), 12) AS DOUBLE)"


@query(
    "q371_friedman",
    oracle="""
    WITH b AS (
      SELECT user_id, event_type,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS m
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    d AS (
      SELECT a.user_id, a.event_type,
             CAST(2 * sum(CASE WHEN o.m < a.m THEN 1 ELSE 0 END)
                  + sum(CASE WHEN o.m = a.m THEN 1 ELSE 0 END) + 1 AS BIGINT) AS dr
      FROM b a JOIN b o USING (user_id) GROUP BY 1, 2
    ),
    cols AS (
      SELECT event_type, CAST(sum(dr) AS BIGINT) AS dj FROM d GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n,
             CAST(count(DISTINCT event_type) AS BIGINT) AS k,
             CAST(sum(dr * dr) AS BIGINT) AS sumd2
      FROM d
    ),
    num AS (
      SELECT CAST(sum((dj - tot.n * (tot.k + 1)) * (dj - tot.n * (tot.k + 1))) AS BIGINT) AS ssq
      FROM cols CROSS JOIN tot
    )
    SELECT tot.n AS n_blocks, tot.k AS k_treatments,
           round((tot.k - 1) * num.ssq * 1.0
                 / (tot.sumd2 - tot.n * tot.k * (tot.k + 1) * (tot.k + 1)), 6) AS friedman_t1,
           round((tot.k - 1) * num.ssq * 1.0
                 / (tot.sumd2 - tot.n * tot.k * (tot.k + 1) * (tot.k + 1))
                 / (tot.n * (tot.k - 1)), 6) AS kendalls_w,
           CAST(9.487729 AS DOUBLE) AS crit_95,
           CAST(CASE WHEN (tot.k - 1) * num.ssq * 1.0
                          / (tot.sumd2 - tot.n * tot.k * (tot.k + 1) * (tot.k + 1))
                          > 9.487729 THEN 1 ELSE 0 END AS INT) AS reject
    FROM tot CROSS JOIN num
    """,
)
def q371_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test (Friedman 1937, tie-corrected per Conover 1999)
    for a treatment effect across the k=5 event types with USERS as
    blocks: each user's per-type mean value is ranked WITHIN the user
    (mid-ranks for ties, carried as integer doubled-ranks — the
    q297/q363 convention), then the tie-robust statistic
    T1 = (k-1)*sum_j (D_j - n(k+1))^2 / (sum d^2 - n*k*(k+1)^2) in
    doubled units is an EXACT integer ratio until the final division;
    Kendall's W = T1/(n(k-1)) reports effect size. Blocks are complete
    by construction (every user has every type; the mean of an absent
    cell would be undefined, so k is asserted). The per-user ranking is
    a k x k self-join on user_id — each block is exactly k rows, so the
    join is O(n*k^2) and partition-local after one hash on user_id.

    100 TB story: one shuffle to (user, type) means, one user-keyed
    k^2 self-join, then everything folds to the k-row column frame.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    k_types = e.select("event_type").distinct().count()
    if k_types != 5:
        raise ValueError(
            f"q371 bakes the chi-square(k-1) critical value for k=5 "
            f"treatments; fixture has {k_types}"
        )
    b = (
        e.groupBy("user_id", "event_type")
        .agg(
            (F.sum(_dec("value")).cast("double") / F.count(F.lit(1))).alias("m")
        )
        .localCheckpoint(eager=True)
    )
    o = b.select(
        F.col("user_id"), F.col("m").alias("om")
    )
    d = (
        b.join(o, "user_id")
        .groupBy("user_id", "event_type")
        .agg(
            (
                2 * F.sum(F.when(F.col("om") < F.col("m"), 1).otherwise(0))
                + F.sum(F.when(F.col("om") == F.col("m"), 1).otherwise(0))
                + 1
            )
            .cast("long")
            .alias("dr")
        )
        .localCheckpoint(eager=True)
    )
    cols = d.groupBy("event_type").agg(F.sum("dr").cast("long").alias("dj"))
    tot = d.agg(
        F.countDistinct("user_id").cast("long").alias("n"),
        F.countDistinct("event_type").cast("long").alias("k"),
        F.sum(F.col("dr") * F.col("dr")).cast("long").alias("sumd2"),
    )
    num = cols.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            (F.col("dj") - F.col("n") * (F.col("k") + 1))
            * (F.col("dj") - F.col("n") * (F.col("k") + 1))
        )
        .cast("long")
        .alias("ssq")
    )
    t1 = (
        (F.col("k") - 1)
        * F.col("ssq")
        * 1.0
        / (
            F.col("sumd2")
            - F.col("n") * F.col("k") * (F.col("k") + 1) * (F.col("k") + 1)
        )
    )
    return tot.crossJoin(F.broadcast(num)).select(
        F.col("n").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        F.round(t1, 6).alias("friedman_t1"),
        F.round(t1 / (F.col("n") * (F.col("k") - 1)), 6).alias("kendalls_w"),
        F.lit(9.487729).alias("crit_95"),
        F.when(t1 > 9.487729, 1).otherwise(0).cast("int").alias("reject"),
    )


@query(
    "q372_cochran_q",
    oracle="""
    WITH x AS (
      SELECT user_id, event_type,
             CAST(max(CASE WHEN value > 200 THEN 1 ELSE 0 END) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    cols AS (SELECT event_type, CAST(sum(x) AS BIGINT) AS cj FROM x GROUP BY 1),
    rows_ AS (SELECT user_id, CAST(sum(x) AS BIGINT) AS ri FROM x GROUP BY 1),
    tot AS (
      SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k,
             CAST(count(DISTINCT user_id) AS BIGINT) AS b,
             CAST(sum(x) AS BIGINT) AS n
      FROM x
    ),
    cs AS (SELECT CAST(sum(cj * cj) AS BIGINT) AS sc2 FROM cols),
    rs AS (SELECT CAST(sum(ri) AS BIGINT) AS sr,
                  CAST(sum(ri * ri) AS BIGINT) AS sr2 FROM rows_)
    SELECT tot.b AS n_blocks, tot.k AS k_treatments, tot.n AS n_successes,
           round((tot.k - 1) * (tot.k * cs.sc2 - tot.n * tot.n) * 1.0
                 / (tot.k * rs.sr - rs.sr2), 6) AS cochran_q,
           CAST(9.487729 AS DOUBLE) AS crit_95,
           CAST(CASE WHEN (tot.k - 1) * (tot.k * cs.sc2 - tot.n * tot.n) * 1.0
                          / (tot.k * rs.sr - rs.sr2) > 9.487729
                     THEN 1 ELSE 0 END AS INT) AS reject
    FROM tot CROSS JOIN cs CROSS JOIN rs
    """,
)
def q372_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test (Cochran 1950) — the binary-outcome analogue of
    q371's Friedman (disclosed kinship): did the user trip the
    value>200 alert for treatment j? (one 0/1 cell per user x type,
    ~20%% ones at every SF), then
    Q = (k-1)(k*sum C_j^2 - N^2) / (k*sum R_i - sum R_i^2), an EXACT
    integer ratio (all-0 and all-1 blocks contribute nothing to either
    side, so no block filtering is needed — the classic invariance).
    Against the chi-square(k-1) 95%% critical value.

    100 TB story: the corpus collapses once to the (user, type) 0/1
    cell frame; column totals, row totals, and N are three folds over
    it; the statistic is scalar arithmetic on a 1-row frame."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    x = (
        e.groupBy("user_id", "event_type")
        .agg(
            F.max(F.when(F.col("value") > 200, 1).otherwise(0))
            .cast("long")
            .alias("x")
        )
        .localCheckpoint(eager=True)
    )
    cols = x.groupBy("event_type").agg(F.sum("x").cast("long").alias("cj"))
    rows_ = x.groupBy("user_id").agg(F.sum("x").cast("long").alias("ri"))
    tot = x.agg(
        F.countDistinct("event_type").cast("long").alias("k"),
        F.countDistinct("user_id").cast("long").alias("b"),
        F.sum("x").cast("long").alias("n"),
    )
    k_types = x.select("event_type").distinct().count()
    if k_types != 5:
        raise ValueError(
            f"q372 bakes the chi-square(k-1) critical value for k=5 "
            f"treatments; fixture has {k_types}"
        )
    cs = cols.agg(F.sum(F.col("cj") * F.col("cj")).cast("long").alias("sc2"))
    rs = rows_.agg(
        F.sum("ri").cast("long").alias("sr"),
        F.sum(F.col("ri") * F.col("ri")).cast("long").alias("sr2"),
    )
    q = (
        (F.col("k") - 1)
        * (F.col("k") * F.col("sc2") - F.col("n") * F.col("n"))
        * 1.0
        / (F.col("k") * F.col("sr") - F.col("sr2"))
    )
    return (
        tot.crossJoin(F.broadcast(cs))
        .crossJoin(F.broadcast(rs))
        .select(
            F.col("b").alias("n_blocks"),
            F.col("k").alias("k_treatments"),
            F.col("n").alias("n_successes"),
            F.round(q, 6).alias("cochran_q"),
            F.lit(9.487729).alias("crit_95"),
            F.when(q > 9.487729, 1).otherwise(0).cast("int").alias("reject"),
        )
    )


@query(
    "q373_jonckheere",
    oracle="""
    WITH cell AS (
      SELECT event_type AS t, value AS v, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    allv AS (SELECT DISTINCT v FROM cell),
    types AS (SELECT DISTINCT t FROM cell),
    w AS (
      SELECT types.t, allv.v, CAST(coalesce(cell.c, 0) AS BIGINT) AS c0,
             CAST(coalesce(sum(coalesce(cell.c, 0)) OVER (
               PARTITION BY types.t ORDER BY allv.v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bef
      FROM types CROSS JOIN allv
      LEFT JOIN cell ON cell.t = types.t AND cell.v = allv.v
    ),
    jt AS (
      SELECT CAST(sum(b.c * (2 * a.bef + a.c0)) AS BIGINT) AS jt2
      FROM w a JOIN cell b ON a.v = b.v AND a.t < b.t
    ),
    g AS (SELECT t, CAST(sum(c) AS BIGINT) AS ng FROM cell GROUP BY 1),
    tot AS (
      SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(ng * ng) AS BIGINT) AS sn2,
             CAST(sum(ng * ng * (2 * ng + 3)) AS BIGINT) AS sn23
      FROM g
    )
    SELECT tot.n, tot.k AS k_groups,
           jt.jt2 / 2.0 AS jt_stat,
           round((jt.jt2 / 2.0 - (tot.n * tot.n - tot.sn2) / 4.0)
                 / sqrt((tot.n * tot.n * (2 * tot.n + 3) - tot.sn23) / 72.0), 6) AS z,
           CAST(1.959964 AS DOUBLE) AS crit_95,
           CAST(CASE WHEN abs((jt.jt2 / 2.0 - (tot.n * tot.n - tot.sn2) / 4.0)
                              / sqrt((tot.n * tot.n * (2 * tot.n + 3) - tot.sn23) / 72.0))
                          > 1.959964 THEN 1 ELSE 0 END AS INT) AS reject
    FROM jt CROSS JOIN tot
    """,
)
def q373_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra trend test (Jonckheere 1954) for an ORDERED
    alternative across the event types (dose order = lexicographic type
    order, disclosed): JT = sum over ordered group pairs (i<j) of the
    Mann-Whitney count #{x in G_i < y in G_j} (+ half-ties). Computed
    without any data-pair join: per-type counts are densified over the
    merged VALUE support, a per-type cumulative window gives
    "elements of group i strictly below v", and doubled-JT
    2U = sum_v c_j(v) * (2*bef_i(v) + c_i(v)) folds as an EXACT integer
    over the (support x ordered-type-pair) frame. The z-score uses the
    standard no-tie normal approximation (Var = [N^2(2N+3) -
    sum n_i^2(2n_i+3)]/72, disclosed — ties deflate Var slightly, so
    the reported z is conservative).

    100 TB story: one collapse to (type, value) cells; the densified
    support frame is k x |support| (k=5); the pair fold joins support
    rows to nonzero cells only — no corpus-size self-join anywhere."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cell = (
        e.groupBy(F.col("event_type").alias("t"), F.col("value").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    allv = cell.select("v").distinct()
    types = cell.select("t").distinct()
    wv = (
        Window.partitionBy("t")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w = (
        types.crossJoin(allv)
        .join(cell, ["t", "v"], "left")
        .select(
            "t",
            "v",
            F.coalesce("c", F.lit(0)).cast("long").alias("c0"),
        )
        .select(
            "t",
            "v",
            "c0",
            F.coalesce(F.sum("c0").over(wv), F.lit(0)).cast("long").alias("bef"),
        )
    )
    b = cell.select(
        F.col("t").alias("bt"), F.col("v").alias("bv"), F.col("c").alias("bc")
    )
    jt = (
        w.join(b, (F.col("v") == F.col("bv")) & (F.col("t") < F.col("bt")))
        .agg(
            F.sum(F.col("bc") * (2 * F.col("bef") + F.col("c0")))
            .cast("long")
            .alias("jt2")
        )
    )
    g = cell.groupBy("t").agg(F.sum("c").cast("long").alias("ng"))
    tot = g.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("ng") * F.col("ng")).cast("long").alias("sn2"),
        F.sum(F.col("ng") * F.col("ng") * (2 * F.col("ng") + 3))
        .cast("long")
        .alias("sn23"),
    )
    mean = (F.col("n") * F.col("n") - F.col("sn2")) / 4.0
    var = (
        F.col("n") * F.col("n") * (2 * F.col("n") + 3) - F.col("sn23")
    ) / 72.0
    z = (F.col("jt2") / 2.0 - mean) / F.sqrt(var)
    return jt.crossJoin(F.broadcast(tot)).select(
        "n",
        F.col("k").alias("k_groups"),
        (F.col("jt2") / 2.0).alias("jt_stat"),
        F.round(z, 6).alias("z"),
        F.lit(1.959964).alias("crit_95"),
        F.when(F.abs(z) > 1.959964, 1).otherwise(0).cast("int").alias("reject"),
    )


@query(
    "q374_welch_anova",
    oracle=f"""
    WITH cell AS (
      SELECT event_type AS t, value AS v, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    g AS (
      SELECT t, CAST(sum(c) AS BIGINT) AS ng,
             {_FOLD12_SQL.format(t="c * v")} AS s1,
             {_FOLD12_SQL.format(t="c * v * v")} AS s2
      FROM cell GROUP BY 1
    ),
    gw AS (
      SELECT t, ng, s1 / ng AS m,
             ng / ((s2 - s1 * s1 / ng) / (ng - 1)) AS w
      FROM g
    ),
    t1 AS (
      SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
             {_FOLD12_SQL.format(t="w")} AS bigw
      FROM gw
    ),
    t2 AS (
      SELECT {_FOLD12_SQL.format(t="w * m")} AS swm FROM gw
    ),
    t3 AS (
      SELECT
        {_FOLD12_SQL.format(t="w * (m - t2.swm / t1.bigw) * (m - t2.swm / t1.bigw)")} AS a_num,
        {_FOLD12_SQL.format(t="(1 - w / t1.bigw) * (1 - w / t1.bigw) / (ng - 1)")} AS h
      FROM gw CROSS JOIN t1 CROSS JOIN t2
    )
    SELECT t1.n, t1.k AS k_groups,
           round((t3.a_num / (t1.k - 1))
                 / (1 + 2.0 * (t1.k - 2) / (t1.k * t1.k - 1) * t3.h), 6) AS f_stat,
           round((t1.k * t1.k - 1) / (3.0 * t3.h), 6) AS df2,
           CAST(2.371902 AS DOUBLE) AS crit_95_asymptotic,
           CAST(CASE WHEN (t3.a_num / (t1.k - 1))
                          / (1 + 2.0 * (t1.k - 2) / (t1.k * t1.k - 1) * t3.h)
                          > 2.371902 THEN 1 ELSE 0 END AS INT) AS reject
    FROM t1 CROSS JOIN t3
    """,
)
def q374_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA (Welch 1951) across the
    event types — the k-group generalization of q281's Welch t-test and
    the companion q364's Brown-Forsythe points at when it rejects
    (disclosed kinships): groups are weighted by w_g = n_g/s_g^2, the
    statistic F* = [sum w(m - mw)^2/(k-1)] / [1 + 2(k-2)/(k^2-1) * H]
    with H = sum (1-w/W)^2/(n_g-1), and the Welch-Satterthwaite df2 =
    (k^2-1)/(3H) is reported beside it. Group moments fold off the
    (type, value) support cells as 12-dp DECIMAL (q364 convention);
    every cross-group sum is a _fold12 over the k-row frame, so no
    float sum anywhere depends on partition order.

    100 TB story: one collapse to (type, value) cells, then three
    scalar stages over the k-row group frame — broadcast-only."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cell = e.groupBy(F.col("event_type").alias("t"), F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    g = (
        cell.groupBy("t")
        .agg(
            F.sum("c").cast("long").alias("ng"),
            _fold12(F.col("c") * F.col("v")).alias("s1"),
            _fold12(F.col("c") * F.col("v") * F.col("v")).alias("s2"),
        )
        .localCheckpoint(eager=True)
    )
    gw = g.select(
        "t",
        "ng",
        (F.col("s1") / F.col("ng")).alias("m"),
        (
            F.col("ng")
            / ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("ng")) / (F.col("ng") - 1))
        ).alias("w"),
    )
    t1 = gw.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        _fold12(F.col("w")).alias("bigw"),
    )
    t2 = gw.agg(_fold12(F.col("w") * F.col("m")).alias("swm"))
    mw = F.col("swm") / F.col("bigw")
    t3 = (
        gw.crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .agg(
            _fold12(F.col("w") * (F.col("m") - mw) * (F.col("m") - mw)).alias("a_num"),
            _fold12(
                (1 - F.col("w") / F.col("bigw"))
                * (1 - F.col("w") / F.col("bigw"))
                / (F.col("ng") - 1)
            ).alias("h"),
        )
    )
    fstat = (F.col("a_num") / (F.col("k") - 1)) / (
        1 + 2.0 * (F.col("k") - 2) / (F.col("k") * F.col("k") - 1) * F.col("h")
    )
    return t1.crossJoin(F.broadcast(t3)).select(
        "n",
        F.col("k").alias("k_groups"),
        F.round(fstat, 6).alias("f_stat"),
        F.round((F.col("k") * F.col("k") - 1) / (3.0 * F.col("h")), 6).alias("df2"),
        F.lit(2.371902).alias("crit_95_asymptotic"),
        F.when(fstat > 2.371902, 1).otherwise(0).cast("int").alias("reject"),
    )


@query(
    "q375_energy_distance",
    oracle=f"""
    WITH cell AS (
      SELECT value AS v,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cx,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cy
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(cx) AS BIGINT) AS n, CAST(sum(cy) AS BIGINT) AS m FROM cell),
    cum AS (
      SELECT v,
             CAST(sum(cx) OVER (ORDER BY v) AS BIGINT) AS ax,
             CAST(sum(cy) OVER (ORDER BY v) AS BIGINT) AS ay,
             lead(v) OVER (ORDER BY v) AS nv
      FROM cell
    ),
    terms AS (
      SELECT
        {_FOLD12_SQL.format(t="(ax * 1.0 / tot.n - ay * 1.0 / tot.m) * (ax * 1.0 / tot.n - ay * 1.0 / tot.m) * (nv - v)")} AS i_fg2,
        {_FOLD12_SQL.format(t="(ax * 1.0 / tot.n * (1 - ay * 1.0 / tot.m) + ay * 1.0 / tot.m * (1 - ax * 1.0 / tot.n)) * (nv - v)")} AS e_xy
      FROM cum CROSS JOIN tot WHERE nv IS NOT NULL
    )
    SELECT tot.n, tot.m,
           round(2 * terms.i_fg2, 6) AS energy_d2,
           round(tot.n * 1.0 * tot.m / (tot.n + tot.m) * 2 * terms.i_fg2, 6) AS e_stat,
           round(terms.e_xy, 6) AS mean_abs_xy
    FROM terms CROSS JOIN tot
    """,
)
def q375_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy distance (Szekely & Rizzo 2004) between the two A/B arms'
    value distributions, via the 1-D identity D^2 = 2*Int (F-G)^2 dt —
    the unweighted cousin of q319's Cramer-von-Mises integral
    (disclosed kinship): per-value arm counts over the merged support,
    inclusive cumulative CDFs, and the step-function integral folds as
    12-dp decimal terms over (support gap) intervals. E|X-Y| =
    Int [F(1-G)+G(1-F)] dt is reported beside the test statistic
    T = nm/(n+m) * D^2 (permutation calibration out of scope,
    disclosed).

    100 TB story: one collapse to value-support cells, one cumulative
    window over the support only, one fold — no pairwise anything."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cell = e.groupBy(F.col("value").alias("v")).agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("cx"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("cy"),
    ).localCheckpoint(eager=True)
    tot = cell.agg(
        F.sum("cx").cast("long").alias("n"), F.sum("cy").cast("long").alias("m")
    )
    # re-aggregate above the checkpoint so the support window's input is
    # provably bounded (the q363 shape; the checkpoint severs lineage and
    # would otherwise read as an unbounded single-partition sort)
    sup = cell.groupBy("v").agg(
        F.sum("cx").cast("long").alias("cx"), F.sum("cy").cast("long").alias("cy")
    )
    wv = Window.orderBy("v")
    cum = sup.select(
        "v",
        F.sum("cx").over(wv).cast("long").alias("ax"),
        F.sum("cy").over(wv).cast("long").alias("ay"),
        F.lead("v").over(wv).alias("nv"),
    ).filter(F.col("nv").isNotNull())
    fx = F.col("ax") * 1.0 / F.col("n")
    gy = F.col("ay") * 1.0 / F.col("m")
    gap = F.col("nv") - F.col("v")
    terms = cum.crossJoin(F.broadcast(tot)).agg(
        _fold12((fx - gy) * (fx - gy) * gap).alias("i_fg2"),
        _fold12((fx * (1 - gy) + gy * (1 - fx)) * gap).alias("e_xy"),
    )
    return terms.crossJoin(F.broadcast(tot)).select(
        "n",
        "m",
        F.round(2 * F.col("i_fg2"), 6).alias("energy_d2"),
        F.round(
            F.col("n") * 1.0 * F.col("m") / (F.col("n") + F.col("m"))
            * 2
            * F.col("i_fg2"),
            6,
        ).alias("e_stat"),
        F.round(F.col("e_xy"), 6).alias("mean_abs_xy"),
    )


# Fixed random-Fourier-feature bank for q376: 32 draws of
# w ~ N(0, 1/sigma) (sigma = 100 value units, i.e. RBF gamma = 1/(2*sigma^2))
# and b ~ U(0, 2*pi), generated once with numpy default_rng(376) and frozen
# as literals so BOTH engines evaluate the identical feature map.
_RFF_WB = [
    (0.009170228092207619, 0.5514488529454852),
    (-0.007440633952159879, 5.549951568744184),
    (0.010086869542029347, 4.036193857397617),
    (0.011471679959548724, 3.7756939637924614),
    (0.019154912148984835, 2.1906186849128),
    (0.0027812819856261966, 2.7400183770625284),
    (-0.0048043855278945505, 0.39600079598711097),
    (0.02325268054132326, 1.5454722686976166),
    (0.011085604965675396, 3.5206153232232262),
    (0.002778429809050202, 5.2042358018862185),
    (-0.007433401861085119, 2.2532469746345583),
    (0.000373192715776018, 4.7153637017564805),
    (0.0035051938314857593, 5.392464413257003),
    (0.0013241412147906642, 6.225039590092807),
    (0.010946290230361255, 3.227741524421002),
    (-0.006437662332938956, 5.632628923177364),
    (-0.03104197493854104, 0.9103829045278589),
    (-0.015813509760635548, 0.568979914637983),
    (-0.010424039645440437, 2.200844049452493),
    (-0.010743370439853626, 1.0020399228492205),
    (0.0092768482096014, 3.7541579454515785),
    (-0.0081380786148041, 1.4869870410297044),
    (-0.00494043920240498, 3.843352874489872),
    (-0.015896143105308277, 1.8924313388318552),
    (-0.011869023623488325, 4.331250858079489),
    (0.011629711108194902, 2.185671410472351),
    (0.005880476558409362, 4.8069160027819455),
    (0.009150303103946577, 6.005093597062329),
    (0.005232266105075641, 4.851975370715261),
    (0.012013940614240584, 4.438539308425235),
    (0.002490223088798611, 6.208856341020906),
    (-0.003962914645619646, 3.708503891467048),
]


def _q376_oracle() -> str:
    rows = ", ".join(
        f"({d}, CAST({w!r} AS DOUBLE), CAST({b!r} AS DOUBLE))"
        for d, (w, b) in enumerate(_RFF_WB)
    )
    nd = len(_RFF_WB)
    return f"""
    WITH cell AS (
      SELECT CAST(user_id % 2 AS INT) AS arm, value AS v,
             CAST(count(*) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    feat(d, w, b) AS (VALUES {rows}),
    tot AS (SELECT arm, CAST(sum(c) AS BIGINT) AS n FROM cell GROUP BY 1),
    zm AS (
      SELECT cell.arm, feat.d,
             {_FOLD12_SQL.format(t="cell.c * cos(feat.w * cell.v + feat.b)")} / min(tot.n) AS z
      FROM cell CROSS JOIN feat JOIN tot USING (arm)
      GROUP BY 1, 2
    ),
    dd AS (
      SELECT a.d, a.z AS zx, byy.z AS zy
      FROM zm a JOIN zm byy ON a.d = byy.d AND a.arm = 0 AND byy.arm = 1
    ),
    mmd AS (
      SELECT {_FOLD12_SQL.format(t="2.0 / {nd} * (zx - zy) * (zx - zy)")} AS mmd2
      FROM dd
    )
    SELECT (SELECT n FROM tot WHERE arm = 0) AS n,
           (SELECT n FROM tot WHERE arm = 1) AS m,
           CAST({nd} AS INT) AS n_features,
           round(mmd.mmd2, 6) AS mmd2,
           round(sqrt(CASE WHEN mmd.mmd2 > 0 THEN mmd.mmd2 ELSE 0 END), 6) AS mmd
    FROM mmd
    """.replace("{nd}", str(nd))


@query("q376_mmd_rff", oracle=_q376_oracle())
def q376_mmd_rff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel two-sample MMD between the A/B arms' value distributions,
    linearized with random Fourier features (Rahimi & Recht 2007;
    Gretton et al. 2012 for the MMD): the RBF kernel's feature map is
    approximated by 32 frozen (w, b) draws (literals shared by both
    engines), so MMD^2 = ||mean_X z - mean_Y z||^2 needs only PER-ARM
    PER-FEATURE means — the O(n^2) kernel double sum becomes one linear
    pass. Means fold cell-count-weighted cos terms as 12-dp decimal
    (also absorbing any last-ulp libm cos() disagreement between
    engines); the 32-row difference fold is decimal too.

    100 TB story: one collapse to (arm, value) cells, a 32-wide
    explode over CELLS (support-sized, not corpus-sized), two folds.
    The feature bank is a literal — nothing is broadcast but 64 rows."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    nd = len(_RFF_WB)
    cell = e.groupBy(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.col("value").alias("v"),
    ).agg(F.count(F.lit(1)).alias("c"))
    feat = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"), F.lit(w).alias("w"), F.lit(b).alias("b")
            )
            for d, (w, b) in enumerate(_RFF_WB)
        ]
    )
    tot = cell.groupBy("arm").agg(F.sum("c").cast("long").alias("n"))
    zm = (
        cell.select("arm", "v", "c", F.explode(feat).alias("f"))
        .join(F.broadcast(tot), "arm")
        .groupBy("arm", F.col("f.d").alias("d"))
        .agg(
            (
                _fold12(
                    F.col("c")
                    * F.cos(F.col("f.w") * F.col("v") + F.col("f.b"))
                )
                / F.min("n")
            ).alias("z")
        )
    )
    zx = zm.filter(F.col("arm") == 0).select("d", F.col("z").alias("zx"))
    zy = zm.filter(F.col("arm") == 1).select("d", F.col("z").alias("zy"))
    mmd = zx.join(zy, "d").agg(
        _fold12(2.0 / nd * (F.col("zx") - F.col("zy")) * (F.col("zx") - F.col("zy"))).alias(
            "mmd2"
        )
    )
    nx = tot.filter(F.col("arm") == 0).select(F.col("n"))
    ny = tot.filter(F.col("arm") == 1).select(F.col("n").alias("m"))
    return (
        mmd.crossJoin(F.broadcast(nx))
        .crossJoin(F.broadcast(ny))
        .select(
            "n",
            "m",
            F.lit(nd).cast("int").alias("n_features"),
            F.round("mmd2", 6).alias("mmd2"),
            F.round(
                F.sqrt(F.when(F.col("mmd2") > 0, F.col("mmd2")).otherwise(0.0)), 6
            ).alias("mmd"),
        )
    )


@query(
    "q377_hellinger_tv",
    oracle=f"""
    WITH s AS (
      SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bkt
      FROM events WHERE value IS NOT NULL
    ),
    cnt AS (SELECT event_type, bkt, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
    types AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS ng FROM cnt GROUP BY 1),
    pool AS (SELECT bkt, CAST(sum(c) AS BIGINT) AS cq FROM cnt GROUP BY 1),
    nn AS (SELECT CAST(sum(cq) AS BIGINT) AS n FROM pool),
    grid AS (
      SELECT types.event_type, types.ng, pool.bkt, pool.cq, nn.n,
             CAST(coalesce(cnt.c, 0) AS BIGINT) AS cp
      FROM types CROSS JOIN pool CROSS JOIN nn
      LEFT JOIN cnt ON cnt.event_type = types.event_type AND cnt.bkt = pool.bkt
    ),
    m AS (
      SELECT event_type, min(ng) AS ng,
             {_FOLD12_SQL.format(t="(sqrt(cp * 1.0 / ng) - sqrt(cq * 1.0 / n)) * (sqrt(cp * 1.0 / ng) - sqrt(cq * 1.0 / n))")} AS h2,
             {_FOLD12_SQL.format(t="abs(cp * 1.0 / ng - cq * 1.0 / n)")} AS l1,
             {_FOLD12_SQL.format(t="sqrt(cp * 1.0 / ng * cq * 1.0 / n)")} AS bc
      FROM grid GROUP BY event_type
    )
    SELECT event_type, ng AS n_events,
           round(sqrt(h2 / 2.0), 6) AS hellinger,
           round(l1 / 2.0, 6) AS total_variation,
           round(bc, 6) AS bhattacharyya_coef
    FROM m ORDER BY event_type
    """,
)
def q377_hellinger_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distribution-distance panel against the pooled corpus:
    Hellinger distance, total-variation distance, and the Bhattacharyya
    coefficient of each event type's binned value distribution (25-unit
    equal-width bins) vs the all-types pool — the bounded-metric
    companions of q312's JSD and q318's PSI (disclosed kinship; TV is
    the L1/2 bound, Hellinger the sqrt-space metric, BC = 1 - H^2).
    The (type x bin) grid is densified so zero-mass bins contribute
    their full |p-q| and (sqrt p - sqrt q)^2 terms; sqrt is IEEE-exact
    in both engines and every fold is 12-dp decimal.

    100 TB story: one collapse to (type, bin) counts (bins are bounded
    by the value range, types by the schema); the densified grid is
    k x bins — broadcast-sized at any corpus scale."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cnt = e.groupBy(
        "event_type", F.floor(F.col("value") / 25.0).cast("long").alias("bkt")
    ).agg(F.count(F.lit(1)).alias("c")).localCheckpoint(eager=True)
    types = cnt.groupBy("event_type").agg(F.sum("c").cast("long").alias("ng"))
    pool = cnt.groupBy("bkt").agg(F.sum("c").cast("long").alias("cq"))
    nn = pool.agg(F.sum("cq").cast("long").alias("n"))
    grid = (
        types.crossJoin(F.broadcast(pool))
        .crossJoin(F.broadcast(nn))
        .join(cnt, ["event_type", "bkt"], "left")
        .select(
            "event_type",
            "ng",
            "cq",
            "n",
            F.coalesce("c", F.lit(0)).cast("long").alias("cp"),
        )
    )
    p = F.col("cp") * 1.0 / F.col("ng")
    q = F.col("cq") * 1.0 / F.col("n")
    m = grid.groupBy("event_type").agg(
        F.min("ng").alias("ng"),
        _fold12((F.sqrt(p) - F.sqrt(q)) * (F.sqrt(p) - F.sqrt(q))).alias("h2"),
        _fold12(F.abs(p - q)).alias("l1"),
        _fold12(F.sqrt(p * q)).alias("bc"),
    )
    return m.select(
        "event_type",
        F.col("ng").alias("n_events"),
        F.round(F.sqrt(F.col("h2") / 2.0), 6).alias("hellinger"),
        F.round(F.col("l1") / 2.0, 6).alias("total_variation"),
        F.round(F.col("bc"), 6).alias("bhattacharyya_coef"),
    ).orderBy("event_type")


@query(
    "q378_cliffs_delta",
    oracle="""
    WITH cell AS (
      SELECT value AS v,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cx,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cy
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    cum AS (
      SELECT v, cx, cy,
             CAST(coalesce(sum(cy) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS ybef
      FROM cell
    ),
    u AS (
      SELECT CAST(sum(cx * (2 * ybef + cy)) AS BIGINT) AS u2,
             CAST(sum(cx) AS BIGINT) AS n, CAST(sum(cy) AS BIGINT) AS m
      FROM cum
    )
    SELECT n, m,
           round((u.u2 - n * 1.0 * m) / (n * 1.0 * m), 6) AS cliffs_delta,
           CASE WHEN abs((u.u2 - n * 1.0 * m) / (n * 1.0 * m)) < 0.147 THEN 'negligible'
                WHEN abs((u.u2 - n * 1.0 * m) / (n * 1.0 * m)) < 0.33 THEN 'small'
                WHEN abs((u.u2 - n * 1.0 * m) / (n * 1.0 * m)) < 0.474 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM u
    """,
)
def q378_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta ordinal effect size (Cliff 1993) between the A/B
    arms — the EFFECT-SIZE companion to q297's Mann-Whitney decision
    (disclosed kinship; delta equals the rank-biserial correlation):
    delta = (#{x>y} - #{x<y}) / nm, computed tie-exactly from the
    doubled-U identity 2U = sum_v cx(v)*(2*Ybelow(v) + cy(v)) over the
    merged value support, so delta = (2U - nm)/nm is an EXACT integer
    ratio. Magnitude banded per Romano et al. 2006 literal thresholds.

    100 TB story: one collapse to value-support cells, one cumulative
    window over the support, one integer fold — no pair join."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cell = e.groupBy(F.col("value").alias("v")).agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("cx"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("cy"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = cell.select(
        "v",
        "cx",
        "cy",
        F.coalesce(F.sum("cy").over(wv), F.lit(0)).cast("long").alias("ybef"),
    )
    u = cum.agg(
        F.sum(F.col("cx") * (2 * F.col("ybef") + F.col("cy")))
        .cast("long")
        .alias("u2"),
        F.sum("cx").cast("long").alias("n"),
        F.sum("cy").cast("long").alias("m"),
    )
    delta = (F.col("u2") - F.col("n") * 1.0 * F.col("m")) / (
        F.col("n") * 1.0 * F.col("m")
    )
    return u.select(
        "n",
        "m",
        F.round(delta, 6).alias("cliffs_delta"),
        F.when(F.abs(delta) < 0.147, "negligible")
        .when(F.abs(delta) < 0.33, "small")
        .when(F.abs(delta) < 0.474, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


@query(
    "q379_hhi_concentration",
    oracle=f"""
    WITH rev AS (
      SELECT s.s_nationkey, l.l_suppkey,
             CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS r
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    ),
    nat AS (
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(round(sum(CAST(round(r, 2) AS DECIMAL(18,2))), 2) AS DOUBLE) AS tot,
             {_FOLD12_SQL.format(t="r * r")} AS sr2
      FROM rev GROUP BY 1
    )
    SELECT n.n_name AS nation, nat.n_suppliers,
           round(nat.tot, 2) AS nation_revenue,
           round(nat.sr2 / (nat.tot * nat.tot), 6) AS hhi,
           round(nat.tot * nat.tot / nat.sr2, 6) AS effective_n,
           CASE WHEN nat.sr2 / (nat.tot * nat.tot) < 0.15 THEN 'unconcentrated'
                WHEN nat.sr2 / (nat.tot * nat.tot) < 0.25 THEN 'moderate'
                ELSE 'high' END AS doj_band
    FROM nat JOIN nation n ON n.n_nationkey = nat.s_nationkey
    ORDER BY nation
    """,
)
def q379_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index per nation:
    each supplier's share of its nation's lineitem revenue, HHI =
    sum(share^2) on the 0-1 scale with the DOJ/FTC merger-guideline
    bands (0.15 / 0.25 literals) and the equivalent-competitors count
    1/HHI — the market-structure companion to q163's share table and
    q245's Gini skew (disclosed kinship). Supplier revenue is the
    standard DECIMAL(18,4) money fold; sum(r^2) folds as 12-dp decimal
    so no float sum depends on partition order; HHI = sr2/tot^2 avoids
    computing shares row-by-row (algebraically identical, one pass).

    100 TB story: one join pruned to (suppkey, nationkey), one
    collapse to per-supplier revenue, one collapse to the 25-nation
    frame."""
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice", "l_discount")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(_dim(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.round(F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))), 2)
            .cast("double")
            .alias("r")
        )
    )
    nat = rev.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.round(F.sum(F.round(F.col("r"), 2).cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("tot"),
        _fold12(F.col("r") * F.col("r")).alias("sr2"),
    )
    hhi = F.col("sr2") / (F.col("tot") * F.col("tot"))
    return (
        nat.join(F.broadcast(n), nat.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            "n_suppliers",
            F.round("tot", 2).alias("nation_revenue"),
            F.round(hhi, 6).alias("hhi"),
            F.round(F.col("tot") * F.col("tot") / F.col("sr2"), 6).alias("effective_n"),
            F.when(hhi < 0.15, "unconcentrated")
            .when(hhi < 0.25, "moderate")
            .otherwise("high")
            .alias("doj_band"),
        )
        .orderBy("nation")
    )


@query(
    "q380_theil_decomposition",
    oracle=f"""
    WITH y AS (
      SELECT c.c_nationkey AS g, o.o_custkey,
             CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(round(sum(CAST(round(y, 2) AS DECIMAL(18,2))), 2) AS DOUBLE) AS ytot
      FROM y
    ),
    tt AS (
      SELECT {_FOLD12_SQL.format(t="y / (tot.ytot / tot.n) * ln(y / (tot.ytot / tot.n))")} / min(tot.n) AS t_total
      FROM y CROSS JOIN tot
    ),
    grp AS (
      SELECT g, CAST(count(*) AS BIGINT) AS ng,
             CAST(round(sum(CAST(round(y, 2) AS DECIMAL(18,2))), 2) AS DOUBLE) AS yg,
             {_FOLD12_SQL.format(t="y * ln(y)")} AS syly
      FROM y GROUP BY 1
    ),
    tw AS (
      SELECT
        {_FOLD12_SQL.format(t="yg / tot.ytot * (syly / yg - ln(yg / ng))")} AS t_within,
        {_FOLD12_SQL.format(t="yg / tot.ytot * ln((yg / tot.ytot) / (ng * 1.0 / tot.n))")} AS t_between
      FROM grp CROSS JOIN tot
    )
    SELECT tot.n AS n_customers,
           round(tt.t_total, 6) AS theil_total,
           round(tw.t_between, 6) AS theil_between,
           round(tw.t_within, 6) AS theil_within,
           round(abs(tt.t_total - tw.t_between - tw.t_within), 6) AS decomposition_gap
    FROM tt CROSS JOIN tw CROSS JOIN tot
    """,
)
def q380_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality index of per-customer order revenue with the
    exact between/within-nation decomposition (Theil 1967): T_total =
    (1/n) sum (y/mu) ln(y/mu), T_between over nation revenue shares vs
    population shares, T_within = sum (Y_g/Y) T_g — reported with the
    decomposition gap |T - T_b - T_w| as a built-in self-check (zero up
    to the rounding policy). Per-customer y is the DECIMAL money fold;
    every ln-bearing term is 12-dp-rounded before its decimal fold (the
    libm-skew policy, as q376). T_within is folded via the identity
    (Y_g/Y)*T_g = (Y_g/Y)*[sum y ln y / Y_g - ln(mu_g)] so each group
    needs only (n_g, Y_g, sum y ln y) — one pass over customers.

    100 TB story: one join pruned to (custkey, nationkey), one
    collapse to per-customer revenue, then 25-row nation folds."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    y = (
        o.join(_dim(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("g"), "o_custkey")
        .agg(
            F.round(F.sum(_dec("o_totalprice")), 2).cast("double").alias("y")
        )
        .localCheckpoint(eager=True)
    )
    tot = y.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum(F.round(F.col("y"), 2).cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("ytot"),
    )
    mu = F.col("ytot") / F.col("n")
    tt = y.crossJoin(F.broadcast(tot)).agg(
        (_fold12(F.col("y") / mu * F.log(F.col("y") / mu)) / F.min("n")).alias(
            "t_total"
        )
    )
    grp = y.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.round(F.sum(F.round(F.col("y"), 2).cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("yg"),
        _fold12(F.col("y") * F.log("y")).alias("syly"),
    )
    tw = grp.crossJoin(F.broadcast(tot)).agg(
        _fold12(
            F.col("yg")
            / F.col("ytot")
            * (F.col("syly") / F.col("yg") - F.log(F.col("yg") / F.col("ng")))
        ).alias("t_within"),
        _fold12(
            F.col("yg")
            / F.col("ytot")
            * F.log(
                (F.col("yg") / F.col("ytot")) / (F.col("ng") * 1.0 / F.col("n"))
            )
        ).alias("t_between"),
    )
    return (
        tt.crossJoin(F.broadcast(tw))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n").alias("n_customers"),
            F.round("t_total", 6).alias("theil_total"),
            F.round("t_between", 6).alias("theil_between"),
            F.round("t_within", 6).alias("theil_within"),
            F.round(
                F.abs(F.col("t_total") - F.col("t_between") - F.col("t_within")), 6
            ).alias("decomposition_gap"),
        )
    )


@query(
    "q381_atkinson_index",
    oracle=f"""
    WITH y AS (
      SELECT o_custkey,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS y
      FROM orders GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(round(sum(CAST(round(y, 2) AS DECIMAL(18,2))), 2) AS DOUBLE) AS ytot,
             {_FOLD12_SQL.format(t="sqrt(y)")} AS ssq,
             {_FOLD12_SQL.format(t="1.0 / y")} AS sinv
      FROM y
    )
    SELECT n AS n_customers,
           round(ytot / n, 2) AS mean_revenue,
           round(1 - (ssq / n) * (ssq / n) / (ytot / n), 6) AS atkinson_eps05,
           round(1 - (n / sinv) / (ytot / n), 6) AS atkinson_eps2
    FROM m
    """,
)
def q381_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality indices of per-customer order revenue at two
    inequality-aversion settings (Atkinson 1970): eps=0.5 (A = 1 -
    [(1/n) sum sqrt(y)]^2 / mu, the square of the mean-sqrt) and eps=2
    (A = 1 - harmonic_mean/mu) — the welfare-grounded companions to
    q380's Theil and q256's Lorenz curve (disclosed kinship; each A is
    the fraction of total revenue society could forgo under equal
    distribution at that aversion). sqrt is IEEE-exact; 1/y exact-ish
    and both fold as 12-dp decimal; y is the standard money fold.

    100 TB story: one collapse to per-customer revenue, one 1-row
    moment fold."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    y = o.groupBy("o_custkey").agg(
        F.round(F.sum(_dec("o_totalprice")), 2).cast("double").alias("y")
    )
    m = y.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum(F.round(F.col("y"), 2).cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("ytot"),
        _fold12(F.sqrt("y")).alias("ssq"),
        _fold12(1.0 / F.col("y")).alias("sinv"),
    )
    mu = F.col("ytot") / F.col("n")
    return m.select(
        F.col("n").alias("n_customers"),
        F.round(mu, 2).alias("mean_revenue"),
        F.round(
            1 - (F.col("ssq") / F.col("n")) * (F.col("ssq") / F.col("n")) / mu, 6
        ).alias("atkinson_eps05"),
        F.round(1 - (F.col("n") / F.col("sinv")) / mu, 6).alias("atkinson_eps2"),
    )


@query(
    "q382_hurst_rs",
    oracle=f"""
    WITH h AS (
      SELECT epoch_ns(ts) // 3600000000000 AS hr,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    ser AS (SELECT x, row_number() OVER (ORDER BY hr) AS pos FROM h),
    sz(s) AS (VALUES (16), (32), (64), (128)),
    seg AS (
      SELECT sz.s, (ser.pos - 1) // sz.s AS widx, ser.pos, ser.x
      FROM ser CROSS JOIN sz
    ),
    wm AS (
      SELECT s, widx, CAST(count(*) AS BIGINT) AS cnt,
             {_FOLD12_SQL.format(t="x")} AS s1,
             {_FOLD12_SQL.format(t="x * x")} AS s2
      FROM seg GROUP BY 1, 2 HAVING count(*) = min(s)
    ),
    cumdev AS (
      SELECT seg.s, seg.widx,
             sum(seg.x - wm.s1 / wm.cnt) OVER (
               PARTITION BY seg.s, seg.widx ORDER BY seg.pos) AS z
      FROM seg JOIN wm ON wm.s = seg.s AND wm.widx = seg.widx
    ),
    rw AS (
      SELECT s, widx, max(z) - min(z) AS r FROM cumdev GROUP BY 1, 2
    ),
    rsw AS (
      SELECT rw.s, rw.widx,
             rw.r / sqrt((wm.s2 - wm.s1 * wm.s1 / wm.cnt) / wm.cnt) AS rs
      FROM rw JOIN wm ON wm.s = rw.s AND wm.widx = rw.widx
      WHERE (wm.s2 - wm.s1 * wm.s1 / wm.cnt) > 0
    ),
    ms AS (
      SELECT s, CAST(count(*) AS BIGINT) AS nw,
             {_FOLD12_SQL.format(t="rs")} / count(*) AS mean_rs
      FROM rsw GROUP BY 1
    ),
    reg AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             {_FOLD12_SQL.format(t="ln(s)")} AS sa,
             {_FOLD12_SQL.format(t="ln(mean_rs)")} AS sb,
             {_FOLD12_SQL.format(t="ln(s) * ln(mean_rs)")} AS sab,
             {_FOLD12_SQL.format(t="ln(s) * ln(s)")} AS sa2
      FROM ms
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_hours FROM ser)
    SELECT n.n_hours,
           round((reg.sab - reg.sa * reg.sb / reg.k)
                 / (reg.sa2 - reg.sa * reg.sa / reg.k), 6) AS hurst,
           round((SELECT mean_rs FROM ms WHERE s = 16), 6) AS mean_rs_16,
           round((SELECT mean_rs FROM ms WHERE s = 32), 6) AS mean_rs_32,
           round((SELECT mean_rs FROM ms WHERE s = 64), 6) AS mean_rs_64,
           round((SELECT mean_rs FROM ms WHERE s = 128), 6) AS mean_rs_128
    FROM reg CROSS JOIN n
    """,
)
def q382_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the hourly mean-value series by classical
    rescaled-range analysis (Hurst 1951; Mandelbrot & Wallis 1969):
    the positional series is cut into complete windows of 16/32/64/128
    points; per window the range of cumulative mean-deviations over the
    population std gives R/S; ln(mean R/S) regressed on ln(window size)
    is H (0.5 = random walk, the literal reference). Window moments are
    12-dp decimal folds; the cumulative deviation is a RUNNING window
    sum, identical left-to-right in both engines; the 4-point
    log-regression folds 12-dp terms.

    100 TB story: the corpus collapses once to the hourly frame
    (time-bounded, not corpus-sized); the 4-way size explode and all
    windows run on that aggregate."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    h = e.groupBy(F.expr("ts div 3600000000000").alias("hr")).agg(
        (F.sum(_dec("value")).cast("double") / F.count(F.lit(1))).alias("x")
    )
    ser = h.select(
        "x", F.row_number().over(Window.orderBy("hr")).alias("pos")
    ).localCheckpoint(eager=True)
    sz = spark.range(0).sparkSession.createDataFrame(
        [(16,), (32,), (64,), (128,)], "s int"
    )
    seg = ser.crossJoin(F.broadcast(sz)).select(
        "s", F.expr("(pos - 1) div s").alias("widx"), "pos", "x"
    )
    wm = (
        seg.groupBy("s", "widx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            _fold12(F.col("x")).alias("s1"),
            _fold12(F.col("x") * F.col("x")).alias("s2"),
        )
        .filter(F.col("cnt") == F.col("s"))
    )
    wz = Window.partitionBy("s", "widx").orderBy("pos")
    cumdev = seg.join(wm, ["s", "widx"]).select(
        "s",
        "widx",
        F.sum(F.col("x") - F.col("s1") / F.col("cnt")).over(wz).alias("z"),
    )
    rw = cumdev.groupBy("s", "widx").agg((F.max("z") - F.min("z")).alias("r"))
    svar = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("cnt")) / F.col("cnt")
    rsw = (
        rw.join(wm, ["s", "widx"])
        .filter((F.col("s2") - F.col("s1") * F.col("s1") / F.col("cnt")) > 0)
        .select("s", "widx", (F.col("r") / F.sqrt(svar)).alias("rs"))
    )
    ms = rsw.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("nw"),
        (_fold12(F.col("rs")) / F.count(F.lit(1))).alias("mean_rs"),
    ).localCheckpoint(eager=True)
    la = F.log(F.col("s"))
    lb = F.log(F.col("mean_rs"))
    reg = ms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        _fold12(la).alias("sa"),
        _fold12(lb).alias("sb"),
        _fold12(la * lb).alias("sab"),
        _fold12(la * la).alias("sa2"),
    )
    n = ser.agg(F.count(F.lit(1)).cast("long").alias("n_hours"))
    pick = lambda s: F.sum(F.when(F.col("s") == s, F.col("mean_rs")))  # noqa: E731
    wide = ms.agg(
        pick(16).alias("m16"),
        pick(32).alias("m32"),
        pick(64).alias("m64"),
        pick(128).alias("m128"),
    )
    hurst = (F.col("sab") - F.col("sa") * F.col("sb") / F.col("k")) / (
        F.col("sa2") - F.col("sa") * F.col("sa") / F.col("k")
    )
    return (
        reg.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(wide))
        .select(
            "n_hours",
            F.round(hurst, 6).alias("hurst"),
            F.round("m16", 6).alias("mean_rs_16"),
            F.round("m32", 6).alias("mean_rs_32"),
            F.round("m64", 6).alias("mean_rs_64"),
            F.round("m128", 6).alias("mean_rs_128"),
        )
    )


@query(
    "q383_variance_ratio",
    oracle=f"""
    WITH h AS (
      SELECT epoch_ns(ts) // 3600000000000 AS hr,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    ser AS (SELECT x, row_number() OVER (ORDER BY hr) AS pos FROM h),
    r AS (
      SELECT pos - 1 AS rpos,
             round(ln(x / lag(x) OVER (ORDER BY pos)), 12) AS r
      FROM ser QUALIFY lag(x) OVER (ORDER BY pos) IS NOT NULL
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n, {_FOLD12_SQL.format(t="r")} AS sr
      FROM r
    ),
    v1 AS (
      SELECT {_FOLD12_SQL.format(t="(r - mom.sr / mom.n) * (r - mom.sr / mom.n)")}
             / (min(mom.n) - 1) AS v
      FROM r CROSS JOIN mom
    ),
    qs(q) AS (VALUES (2), (4), (8)),
    rq AS (
      SELECT qs.q, r.rpos,
             sum(r.r) OVER (PARTITION BY qs.q ORDER BY r.rpos
                            ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS dummy2,
             sum(r.r) OVER (PARTITION BY qs.q ORDER BY r.rpos
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS dummy4,
             sum(r.r) OVER (PARTITION BY qs.q ORDER BY r.rpos
                            ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS dummy8,
             count(*) OVER (PARTITION BY qs.q ORDER BY r.rpos
                            ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS w8,
             count(*) OVER (PARTITION BY qs.q ORDER BY r.rpos
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS w4,
             count(*) OVER (PARTITION BY qs.q ORDER BY r.rpos
                            ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS w2
      FROM r CROSS JOIN qs
    ),
    rqv AS (
      SELECT q, rpos,
             CASE q WHEN 2 THEN dummy2 WHEN 4 THEN dummy4 ELSE dummy8 END AS s,
             CASE q WHEN 2 THEN w2 WHEN 4 THEN w4 ELSE w8 END AS w
      FROM rq
    ),
    vq AS (
      SELECT q, CAST(count(*) AS BIGINT) AS nq,
             {_FOLD12_SQL.format(t="(s - q * mom.sr / mom.n) * (s - q * mom.sr / mom.n)")}
             / (count(*) - 1) AS v
      FROM rqv CROSS JOIN mom WHERE w = q GROUP BY q
    )
    SELECT vq.q, mom.n AS n_returns,
           round(vq.v / (vq.q * v1.v), 6) AS variance_ratio,
           round((vq.v / (vq.q * v1.v) - 1)
                 / sqrt(2.0 * (2 * vq.q - 1) * (vq.q - 1) / (3.0 * vq.q * mom.n)), 6) AS z,
           CAST(CASE WHEN abs((vq.v / (vq.q * v1.v) - 1)
                 / sqrt(2.0 * (2 * vq.q - 1) * (vq.q - 1) / (3.0 * vq.q * mom.n)))
                 > 1.959964 THEN 1 ELSE 0 END AS INT) AS reject
    FROM vq CROSS JOIN mom CROSS JOIN v1
    ORDER BY q
    """,
)
def q383_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test (Lo & MacKinlay 1988,
    overlapping homoskedastic form, disclosed) on hourly log-returns of
    the mean-value series: VR(q) = Var[q-period return]/(q Var[1-period])
    should be 1 under a random walk; VR<1 flags mean reversion, VR>1
    momentum. Returns are 12-dp-rounded at materialization (libm ln
    policy); q-period sums are RUNNING window sums (identical
    left-to-right in both engines); both variances fold 12-dp terms
    around the full-series mean. The asymptotic z uses the standard
    2(2q-1)(q-1)/(3qn) variance.

    100 TB story: everything after the one collapse to the hourly
    frame is window work on a time-bounded aggregate."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    h = e.groupBy(F.expr("ts div 3600000000000").alias("hr")).agg(
        (F.sum(_dec("value")).cast("double") / F.count(F.lit(1))).alias("x")
    )
    wp = Window.orderBy("pos")
    ser = h.select("x", F.row_number().over(Window.orderBy("hr")).alias("pos"))
    r = (
        ser.select(
            (F.col("pos") - 1).alias("rpos"),
            F.round(F.log(F.col("x") / F.lag("x").over(wp)), 12).alias("r"),
        )
        .filter(F.col("r").isNotNull())
        .localCheckpoint(eager=True)
    )
    mom = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"), _fold12(F.col("r")).alias("sr")
    )
    mu = F.col("sr") / F.col("n")
    v1 = r.crossJoin(F.broadcast(mom)).agg(
        (_fold12((F.col("r") - mu) * (F.col("r") - mu)) / (F.min("n") - 1)).alias("v")
    )
    qs = spark.createDataFrame([(2,), (4,), (8,)], "q int")
    wr = lambda k: Window.partitionBy("q").orderBy("rpos").rowsBetween(-(k - 1), 0)  # noqa: E731
    rq = r.crossJoin(F.broadcast(qs)).select(
        "q",
        "rpos",
        F.when(F.col("q") == 2, F.sum("r").over(wr(2)))
        .when(F.col("q") == 4, F.sum("r").over(wr(4)))
        .otherwise(F.sum("r").over(wr(8)))
        .alias("s"),
        F.when(F.col("q") == 2, F.count(F.lit(1)).over(wr(2)))
        .when(F.col("q") == 4, F.count(F.lit(1)).over(wr(4)))
        .otherwise(F.count(F.lit(1)).over(wr(8)))
        .alias("w"),
    )
    vq = (
        rq.filter(F.col("w") == F.col("q"))
        .crossJoin(F.broadcast(mom))
        .groupBy("q")
        .agg(
            (
                _fold12(
                    (F.col("s") - F.col("q") * mu) * (F.col("s") - F.col("q") * mu)
                )
                / (F.count(F.lit(1)) - 1)
            ).alias("v")
        )
    )
    vr = F.col("v") / (F.col("q") * F.col("vv"))
    zden = F.sqrt(
        2.0 * (2 * F.col("q") - 1) * (F.col("q") - 1) / (3.0 * F.col("q") * F.col("n"))
    )
    z = (vr - 1) / zden
    return (
        vq.crossJoin(F.broadcast(mom))
        .crossJoin(F.broadcast(v1.select(F.col("v").alias("vv"))))
        .select(
            "q",
            F.col("n").alias("n_returns"),
            F.round(vr, 6).alias("variance_ratio"),
            F.round(z, 6).alias("z"),
            F.when(F.abs(z) > 1.959964, 1).otherwise(0).cast("int").alias("reject"),
        )
        .orderBy("q")
    )


@query(
    "q384_theta_forecast",
    oracle=f"""
    WITH d AS (
      SELECT (epoch_ns(ts) // 1000000000) // 86400 AS day,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    ser AS (SELECT y, row_number() OVER (ORDER BY day) AS pos FROM d),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM ser),
    tr AS (SELECT ser.pos, ser.y, nn.nd - 7 AS nt FROM ser CROSS JOIN nn WHERE ser.pos <= nn.nd - 7),
    reg AS (
      SELECT CAST(count(*) AS BIGINT) AS n, min(nt) AS nt,
             {_FOLD12_SQL.format(t="pos * 1.0")} AS sa,
             {_FOLD12_SQL.format(t="y")} AS sb,
             {_FOLD12_SQL.format(t="pos * y")} AS sab,
             {_FOLD12_SQL.format(t="pos * 1.0 * pos")} AS sa2
      FROM tr
    ),
    ses AS (
      SELECT {_FOLD12_SQL.format(
          t="y * CASE WHEN pos = 1 THEN power(0.5, nt - 1) ELSE power(0.5, nt - pos + 1) END")} AS l
      FROM tr
    ),
    fc AS (
      SELECT ser.pos - reg.nt AS h, ser.y AS actual,
             ses.l + ((reg.sab - reg.sa * reg.sb / reg.n)
                      / (reg.sa2 - reg.sa * reg.sa / reg.n)) / 2.0 * (ser.pos - reg.nt) AS fcst
      FROM ser CROSS JOIN reg CROSS JOIN ses WHERE ser.pos > reg.nt
    )
    SELECT CAST(h AS BIGINT) AS h, round(actual, 6) AS actual,
           round(fcst, 6) AS forecast,
           round(abs(fcst - actual) / actual, 6) AS ape,
           round(2 * abs(fcst - actual) / (abs(fcst) + abs(actual)), 6) AS smape_term
    FROM fc ORDER BY h
    """,
)
def q384_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast (Assimakopoulos & Nikolopoulos 2000, via
    the Hyndman & Billah 2003 equivalence: SES plus half the OLS trend
    as drift) backtested on the daily mean-value series with a 7-day
    holdout — the classical companion to q270's seasonal backtest and
    q273's Holt (disclosed kinship). SES (alpha = 0.5) is evaluated in
    CLOSED form as a weighted sum with exactly-representable powers of
    two, so no recursion crosses engines; the trend is the standard
    fold-based OLS slope; per-horizon APE and sMAPE terms are reported.

    100 TB story: one collapse to the daily frame; everything else is
    scalar folds over a 30-row aggregate."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = e.groupBy(F.expr("(ts div 1000000000) div 86400").alias("day")).agg(
        (F.sum(_dec("value")).cast("double") / F.count(F.lit(1))).alias("y")
    )
    ser = d.select(
        "y", F.row_number().over(Window.orderBy("day")).alias("pos")
    ).localCheckpoint(eager=True)
    nn = ser.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    tr = (
        ser.crossJoin(F.broadcast(nn))
        .filter(F.col("pos") <= F.col("nd") - 7)
        .select("pos", "y", (F.col("nd") - 7).alias("nt"))
    )
    reg = tr.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("nt").alias("nt"),
        _fold12(F.col("pos") * 1.0).alias("sa"),
        _fold12(F.col("y")).alias("sb"),
        _fold12(F.col("pos") * F.col("y")).alias("sab"),
        _fold12(F.col("pos") * 1.0 * F.col("pos")).alias("sa2"),
    )
    w = F.when(
        F.col("pos") == 1, F.pow(F.lit(0.5), F.col("nt") - 1)
    ).otherwise(F.pow(F.lit(0.5), F.col("nt") - F.col("pos") + 1))
    ses = tr.agg(_fold12(F.col("y") * w).alias("l"))
    slope = (F.col("sab") - F.col("sa") * F.col("sb") / F.col("n")) / (
        F.col("sa2") - F.col("sa") * F.col("sa") / F.col("n")
    )
    fcst = F.col("l") + slope / 2.0 * (F.col("pos") - F.col("nt"))
    return (
        ser.crossJoin(F.broadcast(reg))
        .crossJoin(F.broadcast(ses))
        .filter(F.col("pos") > F.col("nt"))
        .select(
            (F.col("pos") - F.col("nt")).cast("long").alias("h"),
            F.round("y", 6).alias("actual"),
            F.round(fcst, 6).alias("forecast"),
            F.round(F.abs(fcst - F.col("y")) / F.col("y"), 6).alias("ape"),
            F.round(
                2 * F.abs(fcst - F.col("y")) / (F.abs(fcst) + F.abs(F.col("y"))), 6
            ).alias("smape_term"),
        )
        .orderBy("h")
    )


@query(
    "q385_sample_entropy",
    oracle="""
    WITH h AS (
      SELECT epoch_ns(ts) // 3600000000000 AS hr,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    ser AS (SELECT x, row_number() OVER (ORDER BY hr) AS pos FROM h),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(round(sum(CAST(round(x, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS s1,
             CAST(round(sum(CAST(round(x * x, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS s2
      FROM ser
    ),
    rr AS (SELECT 0.2 * sqrt((s2 - s1 * s1 / n) / n) AS r, n FROM mom),
    t AS (
      SELECT ser.pos AS i, ser.x AS x1,
             lead(ser.x, 1) OVER (ORDER BY ser.pos) AS x2,
             lead(ser.x, 2) OVER (ORDER BY ser.pos) AS x3,
             CAST(floor(ser.x / rr.r) AS BIGINT) AS bk
      FROM ser CROSS JOIN rr
    ),
    tl AS (SELECT * FROM t WHERE x2 IS NOT NULL),
    ex AS (
      SELECT tl.i, tl.x1, tl.x2, tl.x3, tl.bk + ofs.o AS bk
      FROM tl CROSS JOIN (SELECT unnest([-1, 0, 1]) AS o) ofs
    ),
    pairs AS (
      SELECT a.x1 AS a1, a.x2 AS a2, a.x3 AS a3,
             b.x1 AS b1, b.x2 AS b2, b.x3 AS b3
      FROM ex a JOIN tl b ON a.bk = b.bk AND a.i < b.i
      CROSS JOIN rr
      WHERE abs(a.x1 - b.x1) <= rr.r AND abs(a.x2 - b.x2) <= rr.r
    ),
    cnt AS (
      SELECT CAST(count(*) AS BIGINT) AS b_count,
             CAST(sum(CASE WHEN a3 IS NOT NULL AND b3 IS NOT NULL
                                AND abs(a3 - b3) <= rr.r THEN 1 ELSE 0 END) AS BIGINT) AS a_count
      FROM pairs CROSS JOIN rr
    )
    SELECT rr.n AS n_hours, round(rr.r, 6) AS tolerance_r,
           cnt.b_count, cnt.a_count,
           CASE WHEN cnt.a_count > 0 AND cnt.b_count > 0
                THEN round(ln(cnt.b_count * 1.0 / cnt.a_count), 6) END AS sampen_m2
    FROM cnt CROSS JOIN rr
    """,
)
def q385_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy SampEn(m=2, r=0.2*sigma) of the hourly mean-value
    series (Richman & Moorman 2000) — the regularity/complexity score
    used to gate synthetic-vs-organic telemetry. Template pairs are
    found WITHOUT an all-pairs join: templates bucket on their first
    coordinate at width r, each probe explodes into the 3 adjacent
    buckets (any Chebyshev-match must share one — the q241 band-join
    contract, disclosed), then the exact |dx1|,|dx2| <= r filter; A/B
    counts are integers and SampEn = ln(B/A) (null when A = 0,
    disclosed). Positions are gap-skipping positional indices
    (documented; the series has missing hours at tiny SFs).

    100 TB story: the corpus collapses once to the time-bounded hourly
    frame; the band join is support-bucketed with bounded candidate
    fan-out — no quadratic stage touches corpus-sized data."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    h = e.groupBy(F.expr("ts div 3600000000000").alias("hr")).agg(
        (F.sum(_dec("value")).cast("double") / F.count(F.lit(1))).alias("x")
    )
    ser = h.select(
        "x", F.row_number().over(Window.orderBy("hr")).alias("pos")
    ).localCheckpoint(eager=True)
    mom = ser.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _fold12(F.col("x")).alias("s1"),
        _fold12(F.col("x") * F.col("x")).alias("s2"),
    )
    rr = mom.select(
        (0.2 * F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / F.col("n"))).alias("r"),
        "n",
    )
    wp = Window.orderBy("pos")
    t = ser.crossJoin(F.broadcast(rr)).select(
        F.col("pos").alias("i"),
        F.col("x").alias("x1"),
        F.lead("x", 1).over(wp).alias("x2"),
        F.lead("x", 2).over(wp).alias("x3"),
        F.floor(F.col("x") / F.col("r")).cast("long").alias("bk"),
    )
    tl = t.filter(F.col("x2").isNotNull()).localCheckpoint(eager=True)
    ex = tl.select(
        "i", "x1", "x2", "x3", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("o"), "bk"
    ).select("i", "x1", "x2", "x3", (F.col("bk") + F.col("o")).alias("bk"))
    b = tl.select(
        F.col("i").alias("j"),
        F.col("x1").alias("b1"),
        F.col("x2").alias("b2"),
        F.col("x3").alias("b3"),
        F.col("bk").alias("bbk"),
    )
    pairs = (
        ex.join(b, (F.col("bk") == F.col("bbk")) & (F.col("i") < F.col("j")))
        .crossJoin(F.broadcast(rr.select("r")))
        .filter(
            (F.abs(F.col("x1") - F.col("b1")) <= F.col("r"))
            & (F.abs(F.col("x2") - F.col("b2")) <= F.col("r"))
        )
    )
    cnt = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("b_count"),
        F.sum(
            F.when(
                F.col("x3").isNotNull()
                & F.col("b3").isNotNull()
                & (F.abs(F.col("x3") - F.col("b3")) <= F.col("r")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("a_count"),
    )
    return cnt.crossJoin(F.broadcast(rr)).select(
        F.col("n").alias("n_hours"),
        F.round("r", 6).alias("tolerance_r"),
        "b_count",
        "a_count",
        F.when(
            (F.col("a_count") > 0) & (F.col("b_count") > 0),
            F.round(F.log(F.col("b_count") * 1.0 / F.col("a_count")), 6),
        ).alias("sampen_m2"),
    )


@query(
    "q386_average_precision",
    oracle="""
    WITH s AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) * 10
               + CAST(round(l_tax * 100) AS BIGINT) AS s,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    g AS (
      SELECT s, CAST(count(*) AS BIGINT) AS n_s, CAST(sum(y) AS BIGINT) AS p_s
      FROM s GROUP BY 1
    ),
    c AS (
      SELECT s, n_s, p_s,
             CAST(sum(n_s) OVER (ORDER BY s DESC) AS BIGINT) AS cn,
             CAST(sum(p_s) OVER (ORDER BY s DESC) AS BIGINT) AS cp
      FROM g
    ),
    tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n, CAST(sum(p_s) AS BIGINT) AS p FROM g),
    ap AS (
      SELECT CAST(round(sum(CAST(round(p_s * 1.0 / tot.p * (cp * 1.0 / cn), 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS ap
      FROM c CROSS JOIN tot
    )
    SELECT tot.n, tot.p AS n_pos,
           round(tot.p * 1.0 / tot.n, 6) AS prevalence,
           round(ap.ap, 6) AS average_precision,
           round(ap.ap / (tot.p * 1.0 / tot.n), 6) AS lift_over_random
    FROM ap CROSS JOIN tot
    """,
)
def q386_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (PR-AUC, step-wise tie-grouped form — the
    sklearn convention where a whole tie group enters at its combined
    precision) on q279's score/label pair (disclosed kinship: same
    discretised discount/tax score, same returned-flag label; AP is
    the PR-space companion of that ROC-AUC): descending-score
    cumulative TP and totals over the score SUPPORT give
    AP = sum_g (dRecall_g * Precision_g) as a 12-dp decimal fold;
    lift over the prevalence baseline is reported beside it.

    100 TB story: one map-side-combining groupBy(score), one window
    over the ~100-value score vocabulary, one fold."""
    li = _t(spark, sf_dir, "lineitem").select(
        (
            F.round(F.col("l_discount") * 100).cast("long") * 10
            + F.round(F.col("l_tax") * 100).cast("long")
        ).alias("s"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    g = li.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("y").cast("long").alias("p_s"),
    ).localCheckpoint(eager=True)
    wd = Window.orderBy(F.col("s").desc())
    # re-aggregate above the checkpoint (q363 shape) so the support
    # window's input is provably bounded for the plan guard
    gs = g.groupBy("s").agg(
        F.sum("n_s").cast("long").alias("n_s"), F.sum("p_s").cast("long").alias("p_s")
    )
    c = gs.select(
        "s",
        "n_s",
        "p_s",
        F.sum("n_s").over(wd).cast("long").alias("cn"),
        F.sum("p_s").over(wd).cast("long").alias("cp"),
    )
    tot = g.agg(
        F.sum("n_s").cast("long").alias("n"), F.sum("p_s").cast("long").alias("p")
    )
    ap = c.crossJoin(F.broadcast(tot)).agg(
        _fold12(
            F.col("p_s") * 1.0 / F.col("p") * (F.col("cp") * 1.0 / F.col("cn"))
        ).alias("ap")
    )
    return ap.crossJoin(F.broadcast(tot)).select(
        "n",
        F.col("p").alias("n_pos"),
        F.round(F.col("p") * 1.0 / F.col("n"), 6).alias("prevalence"),
        F.round("ap", 6).alias("average_precision"),
        F.round(F.col("ap") / (F.col("p") * 1.0 / F.col("n")), 6).alias(
            "lift_over_random"
        ),
    )


@query(
    "q387_mcc_sweep",
    oracle="""
    WITH s AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) * 10
               + CAST(round(l_tax * 100) AS BIGINT) AS s,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    th(t) AS (VALUES (10), (20), (30), (40), (50), (60), (70), (80), (90), (100)),
    cm AS (
      SELECT th.t,
             CAST(sum(CASE WHEN s.s >= th.t AND s.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN s.s >= th.t AND s.y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN s.s < th.t AND s.y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
             CAST(sum(CASE WHEN s.s < th.t AND s.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM s CROSS JOIN th GROUP BY 1
    )
    SELECT t AS threshold, tp, fp, tn, fn,
           round((tp * 1.0 * tn - fp * 1.0 * fn)
                 / sqrt((tp + fp) * 1.0 * (tp + fn) * ((tn + fp) * 1.0 * (tn + fn))), 6) AS mcc,
           round((tp * 1.0 / (tp + fn) + tn * 1.0 / (tn + fp)) / 2, 6) AS balanced_accuracy,
           round(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1
    FROM cm ORDER BY t
    """,
)
def q387_mcc_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation, balanced accuracy and F1 swept over ten
    literal decision thresholds on q279's score/label pair (disclosed
    kinship) — the threshold-CHOICE companion to q279 (rank quality)
    and q386 (PR quality): confusion cells are EXACT integer conditional
    counts per threshold; MCC's four-factor denominator is evaluated as
    paired double products (each count < 2^53, so the only rounding is
    the final sqrt, identical in both engines).

    100 TB story: one pass with ten conditional aggregates — the sweep
    never re-scans; thresholds are literals, the result is 10 rows."""
    li = _t(spark, sf_dir, "lineitem").select(
        (
            F.round(F.col("l_discount") * 100).cast("long") * 10
            + F.round(F.col("l_tax") * 100).cast("long")
        ).alias("s"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    th = spark.createDataFrame([(t,) for t in range(10, 101, 10)], "t int")
    cm = (
        li.crossJoin(F.broadcast(th))
        .groupBy("t")
        .agg(
            F.sum(F.when((F.col("s") >= F.col("t")) & (F.col("y") == 1), 1).otherwise(0)).cast("long").alias("tp"),
            F.sum(F.when((F.col("s") >= F.col("t")) & (F.col("y") == 0), 1).otherwise(0)).cast("long").alias("fp"),
            F.sum(F.when((F.col("s") < F.col("t")) & (F.col("y") == 0), 1).otherwise(0)).cast("long").alias("tn"),
            F.sum(F.when((F.col("s") < F.col("t")) & (F.col("y") == 1), 1).otherwise(0)).cast("long").alias("fn"),
        )
    )
    mcc = (F.col("tp") * 1.0 * F.col("tn") - F.col("fp") * 1.0 * F.col("fn")) / F.sqrt(
        (F.col("tp") + F.col("fp"))
        * 1.0
        * (F.col("tp") + F.col("fn"))
        * ((F.col("tn") + F.col("fp")) * 1.0 * (F.col("tn") + F.col("fn")))
    )
    return cm.select(
        F.col("t").alias("threshold"),
        "tp",
        "fp",
        "tn",
        "fn",
        F.round(mcc, 6).alias("mcc"),
        F.round(
            (
                F.col("tp") * 1.0 / (F.col("tp") + F.col("fn"))
                + F.col("tn") * 1.0 / (F.col("tn") + F.col("fp"))
            )
            / 2,
            6,
        ).alias("balanced_accuracy"),
        F.round(
            2.0 * F.col("tp") / (2.0 * F.col("tp") + F.col("fp") + F.col("fn")), 6
        ).alias("f1"),
    ).orderBy("threshold")


@query(
    "q388_good_turing",
    oracle=f"""
    WITH tok AS (
      SELECT {_TOKS_SQL} AS ts FROM documents
      WHERE trim(text) <> '' AND len({_TOKS_SQL}) >= 3
    ),
    tri AS (
      SELECT ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS w
      FROM tok CROSS JOIN unnest(generate_series(1, len(ts) - 2)) AS t(i)
    ),
    tf AS (SELECT w, CAST(count(*) AS BIGINT) AS r FROM tri GROUP BY 1),
    nr AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM tf GROUP BY 1),
    tot AS (
      SELECT CAST(sum(r * n_r) AS BIGINT) AS n_tokens,
             CAST(sum(n_r) AS BIGINT) AS vocab
      FROM nr
    ),
    rs(r) AS (VALUES (1), (2), (3), (4), (5)),
    gt AS (
      SELECT rs.r, coalesce(a.n_r, 0) AS n_r, coalesce(b.n_r, 0) AS n_r_plus1
      FROM rs LEFT JOIN nr a ON a.r = rs.r LEFT JOIN nr b ON b.r = rs.r + 1
    )
    SELECT gt.r, gt.n_r, gt.n_r_plus1,
           CASE WHEN gt.n_r > 0
                THEN round((gt.r + 1) * gt.n_r_plus1 * 1.0 / gt.n_r, 6) END AS r_star,
           round(coalesce((SELECT n_r FROM nr WHERE r = 1), 0) * 1.0 / tot.n_tokens, 6) AS p0_unseen,
           tot.n_tokens, tot.vocab
    FROM gt CROSS JOIN tot ORDER BY gt.r
    """,
)
def q388_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency re-estimation over the corpus vocabulary
    (Good 1953): the frequency-of-frequencies table N_r gives the
    missing (unseen-type) probability mass p0 = N_1/N and the smoothed
    counts r* = (r+1) N_{r+1}/N_r for r = 1..5 — the LM-smoothing
    companion to q338's Chao1 richness and q329's Kneser-Ney (disclosed
    kinship; Chao1 estimates how MANY types are unseen, Good-Turing how
    much MASS they carry). Everything is an exact integer until the
    final ratios; types are token TRIGRAMS (unigrams are vacuous on this
    bounded synthetic vocabulary, disclosed; the shingle convention
    follows q13/q79).

    100 TB story: token explode -> term-frequency groupBy (map-side
    combining) -> the N_r table is at most max-frequency rows; the
    r = 1..5 report joins a 5-row literal frame against it."""
    d = _t(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    toks = text.tokens(F.col("text"))
    # zip_with over slices, NOT transform + element_at: the lambda form
    # re-evaluates the regex split per element (O(len^2) per doc; this
    # one change took the entry 10.4 s -> ~2 s at sf0.1)
    tri = text.adjacent_trigrams(toks)
    tf = (
        d.filter(F.size(toks) >= 3)
        .select(F.explode(tri).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    nr = tf.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("n_r")).localCheckpoint(
        eager=True
    )
    tot = nr.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n_tokens"),
        F.sum("n_r").cast("long").alias("vocab"),
    )
    n1 = nr.filter(F.col("r") == 1).agg(
        F.coalesce(F.sum("n_r"), F.lit(0)).cast("long").alias("n1")
    )
    rs = spark.createDataFrame([(r,) for r in range(1, 6)], "r int")
    a = nr.select(F.col("r").cast("int").alias("r"), F.col("n_r"))
    b = nr.select((F.col("r") - 1).cast("int").alias("r"), F.col("n_r").alias("n_r_plus1"))
    gt = (
        rs.join(a, "r", "left")
        .join(b, "r", "left")
        .select(
            "r",
            F.coalesce("n_r", F.lit(0)).cast("long").alias("n_r"),
            F.coalesce("n_r_plus1", F.lit(0)).cast("long").alias("n_r_plus1"),
        )
    )
    return (
        gt.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n1))
        .select(
            "r",
            "n_r",
            "n_r_plus1",
            F.when(
                F.col("n_r") > 0,
                F.round(
                    (F.col("r") + 1) * F.col("n_r_plus1") * 1.0 / F.col("n_r"), 6
                ),
            ).alias("r_star"),
            F.round(F.col("n1") * 1.0 / F.col("n_tokens"), 6).alias("p0_unseen"),
            "n_tokens",
            "vocab",
        )
        .orderBy("r")
    )


@query(
    "q389_hosmer_lemeshow",
    oracle=f"""
    WITH s AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) * 10
               + CAST(round(l_tax * 100) AS BIGINT) AS s,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    g AS (
      SELECT s, CAST(count(*) AS BIGINT) AS n_s, CAST(sum(y) AS BIGINT) AS p_s
      FROM s GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM g),
    c AS (
      SELECT s, n_s, p_s,
             CAST(coalesce(sum(n_s) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bef
      FROM g
    ),
    binned AS (
      SELECT CAST(c.bef * 10 // tot.n AS BIGINT) AS bin,
             CAST(sum(c.n_s) AS BIGINT) AS nb,
             CAST(sum(c.p_s) AS BIGINT) AS ob,
             {_FOLD12_SQL.format(t="c.n_s * (c.s / 109.0)")} AS eb
      FROM c CROSS JOIN tot GROUP BY 1
    ),
    hl AS (
      SELECT CAST(count(*) AS BIGINT) AS n_bins,
             {_FOLD12_SQL.format(
                 t="(ob - eb) * (ob - eb) / eb + ((nb - ob) - (nb - eb)) * ((nb - ob) - (nb - eb)) / (nb - eb)")} AS stat
      FROM binned
    )
    SELECT tot.n, hl.n_bins, round(hl.stat, 6) AS hl_stat,
           CAST(15.507313 AS DOUBLE) AS crit_95_df8,
           CAST(CASE WHEN hl.stat > 15.507313 THEN 1 ELSE 0 END AS INT) AS reject
    FROM hl CROSS JOIN tot
    """,
)
def q389_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-calibration test (Hosmer & Lemeshow
    1980) on the q279 score treated as a probability (p = s/109, the
    score's max — a deliberately mis-calibrated model so the test has
    something to reject; disclosed): score-support cells are cut into
    10 equal-count bins by CUMULATIVE-count decile (ties never split a
    cell — the support-decile convention of q82/q117), observed
    positives vs expected sum-of-p per bin, chi-square against the
    literal df=8 95%% critical value. The q280 calibration table bins
    the same way; this is its decision-statistic companion (disclosed).

    100 TB story: one groupBy(score), one support window, a 10-row
    fold."""
    li = _t(spark, sf_dir, "lineitem").select(
        (
            F.round(F.col("l_discount") * 100).cast("long") * 10
            + F.round(F.col("l_tax") * 100).cast("long")
        ).alias("s"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    g = li.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("y").cast("long").alias("p_s"),
    ).localCheckpoint(eager=True)
    tot = g.agg(F.sum("n_s").cast("long").alias("n"))
    wb = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    # re-aggregate above the checkpoint (q363 shape) for the plan guard
    gs = g.groupBy("s").agg(
        F.sum("n_s").cast("long").alias("n_s"), F.sum("p_s").cast("long").alias("p_s")
    )
    c = gs.select(
        "s",
        "n_s",
        "p_s",
        F.coalesce(F.sum("n_s").over(wb), F.lit(0)).cast("long").alias("bef"),
    )
    binned = (
        c.crossJoin(F.broadcast(tot))
        .groupBy(F.expr("bef * 10 div n").cast("long").alias("bin"))
        .agg(
            F.sum("n_s").cast("long").alias("nb"),
            F.sum("p_s").cast("long").alias("ob"),
            _fold12(F.col("n_s") * (F.col("s") / 109.0)).alias("eb"),
        )
    )
    term = (F.col("ob") - F.col("eb")) * (F.col("ob") - F.col("eb")) / F.col("eb") + (
        (F.col("nb") - F.col("ob")) - (F.col("nb") - F.col("eb"))
    ) * ((F.col("nb") - F.col("ob")) - (F.col("nb") - F.col("eb"))) / (
        F.col("nb") - F.col("eb")
    )
    hl = binned.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"), _fold12(term).alias("stat")
    )
    return hl.crossJoin(F.broadcast(tot)).select(
        "n",
        "n_bins",
        F.round("stat", 6).alias("hl_stat"),
        F.lit(15.507313).alias("crit_95_df8"),
        F.when(F.col("stat") > 15.507313, 1).otherwise(0).cast("int").alias("reject"),
    )


@query(
    "q390_dp_laplace_audit",
    oracle=f"""
    WITH c AS (
      SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS true_count
      FROM customer cu JOIN nation n ON n.n_nationkey = cu.c_nationkey
      GROUP BY 1
    ),
    u AS (
      SELECT nation, true_count,
             (({_MD5H_SQL.format(x="nation || ':dp390'")} % 1000000000000) + 0.5)
               / 1000000000000.0 - 0.5 AS u
      FROM c
    )
    SELECT nation, true_count,
           round(true_count
                 - sign(u) * ln(1 - 2 * abs(u)) / 1.0, 6) AS noisy_count,
           round(abs(sign(u) * ln(1 - 2 * abs(u)) / 1.0), 6) AS abs_noise,
           CAST(1.0 AS DOUBLE) AS epsilon
    FROM u ORDER BY nation
    """,
)
def q390_dp_laplace_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy utility audit of the Laplace mechanism on
    per-nation customer counts (Dwork et al. 2006): a count query has
    sensitivity 1, so Lap(1/epsilon) noise at epsilon = 1 gives
    1-DP; noise is drawn by inverse-CDF from a DETERMINISTIC salted-md5
    uniform (the q55/q65 hash-randomness convention, disclosed — this
    is the calibration/utility harness, not a production release: true
    counts are shown BESIDE the noisy ones precisely to audit the
    noise scale). u is shifted by half a quantum so |u| < 0.5 exactly
    and ln(1-2|u|) never sees 0.

    100 TB story: one grouped count to the 25-nation frame; the
    mechanism is per-row scalar arithmetic on it."""
    cu = _t(spark, sf_dir, "customer").select("c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    from phoebe_spark.operators.dedup import md5_hash64

    c = (
        cu.join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).cast("long").alias("true_count"))
    )
    u = (
        (
            F.pmod(md5_hash64(F.concat(F.col("nation"), F.lit(":dp390"))), F.lit(1000000000000))
            + 0.5
        )
        / 1000000000000.0
        - 0.5
    )
    noise = -F.signum(u) * F.log(1 - 2 * F.abs(u)) / 1.0
    return c.select(
        "nation",
        "true_count",
        F.round(F.col("true_count") + noise, 6).alias("noisy_count"),
        F.round(F.abs(noise), 6).alias("abs_noise"),
        F.lit(1.0).alias("epsilon"),
    ).orderBy("nation")


@query(
    "q392_excess_supplier",
    oracle="""
    WITH shipped AS (
      SELECT l.l_suppkey, l.l_partkey,
             CAST(sum(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_type LIKE '%PROMO%'
        AND l.l_shipdate >= DATE '1996-01-01'
      GROUP BY 1, 2
    ),
    avgp AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_supp,
             CAST(round(sum(CAST(round(qty, 2) AS DECIMAL(18,2))), 2) AS DOUBLE)
               / count(*) AS avg_qty
      FROM shipped GROUP BY 1
    ),
    excess AS (
      SELECT s.l_suppkey, CAST(count(*) AS BIGINT) AS n_excess_parts,
             CAST(round(sum(CAST(round(s.qty - 1.5 * a.avg_qty, 6) AS DECIMAL(38,6))), 6) AS DOUBLE) AS excess_qty
      FROM shipped s JOIN avgp a USING (l_partkey)
      WHERE a.n_supp >= 2 AND s.qty > 1.5 * a.avg_qty
      GROUP BY 1
    )
    SELECT su.s_name AS supplier, n.n_name AS nation,
           e.n_excess_parts, round(e.excess_qty, 6) AS excess_qty
    FROM excess e
    JOIN supplier su ON su.s_suppkey = e.l_suppkey
    JOIN nation n ON n.n_nationkey = su.s_nationkey
    ORDER BY e.n_excess_parts DESC, supplier
    LIMIT 15
    """,
)
def q392_excess_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped excess-stock probe, restated without partsupp
    (reference has no partsupp fixture): suppliers who shipped MORE
    than 1.5x the cross-supplier average quantity of recent PROMO-type
    parts — the nested-aggregate semi-join shape (per-(supplier, part)
    rollup, correlated against the per-part average, then the
    supplier-level rollup of qualifying parts). Quantity sums are the
    DECIMAL money-fold policy; the per-part average divides an exact
    decimal by an integer count; the excess margin folds at 6 dp.

    100 TB story: the part filter prunes the scan before the first
    shuffle; both rollups share the (partkey) key so AQE can pipeline
    them; the final name join broadcasts supplier/nation dims. Top-15
    is TakeOrdered, never a global sort."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_quantity", "l_shipdate"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    shipped = (
        li.filter(F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        .join(
            _dim(p.filter(F.col("p_type").like("%PROMO%"))),
            li.l_partkey == p.p_partkey,
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("qty"))
        .localCheckpoint(eager=True)
    )
    avgp = shipped.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_supp"),
        (
            F.round(F.sum(F.round(F.col("qty"), 2).cast("decimal(18,2)")), 2)
            .cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty"),
    )
    excess = (
        shipped.join(avgp, "l_partkey")
        .filter((F.col("n_supp") >= 2) & (F.col("qty") > 1.5 * F.col("avg_qty")))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_excess_parts"),
            F.round(
                F.sum(
                    F.round(F.col("qty") - 1.5 * F.col("avg_qty"), 6).cast(
                        "decimal(38,6)"
                    )
                ),
                6,
            )
            .cast("double")
            .alias("excess_qty"),
        )
    )
    return (
        excess.join(F.broadcast(su), excess.l_suppkey == su.s_suppkey)
        .join(F.broadcast(n), su.s_nationkey == n.n_nationkey)
        .select(
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("nation"),
            "n_excess_parts",
            F.round("excess_qty", 6).alias("excess_qty"),
        )
        .orderBy(F.desc("n_excess_parts"), F.asc("supplier"))
        .limit(15)
    )


@query(
    "q393_assortativity",
    oracle=f"""
    WITH {_COGRAPH_SQL},
    edges AS (SELECT s1 AS src, s2 AS dst FROM co
              UNION ALL SELECT s2, s1 FROM co),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1),
    ed AS (
      SELECT da.d AS j, db.d AS k
      FROM co JOIN deg da ON da.node = co.s1 JOIN deg db ON db.node = co.s2
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(j * k) AS BIGINT) AS sjk,
             CAST(sum(j + k) AS BIGINT) AS sjpk,
             CAST(sum(j * j + k * k) AS BIGINT) AS sj2k2
      FROM ed
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
    SELECT nn.n_nodes, s.m AS n_edges,
           round((s.sjk * 1.0 / s.m - (s.sjpk / (2.0 * s.m)) * (s.sjpk / (2.0 * s.m)))
                 / (s.sj2k2 / (2.0 * s.m) - (s.sjpk / (2.0 * s.m)) * (s.sjpk / (2.0 * s.m))), 6)
             AS assortativity,
           CASE WHEN (s.sjk * 1.0 / s.m - (s.sjpk / (2.0 * s.m)) * (s.sjpk / (2.0 * s.m)))
                     / (s.sj2k2 / (2.0 * s.m) - (s.sjpk / (2.0 * s.m)) * (s.sjpk / (2.0 * s.m))) > 0.1
                THEN 'assortative'
                WHEN (s.sjk * 1.0 / s.m - (s.sjpk / (2.0 * s.m)) * (s.sjpk / (2.0 * s.m)))
                     / (s.sj2k2 / (2.0 * s.m) - (s.sjpk / (2.0 * s.m)) * (s.sjpk / (2.0 * s.m))) < -0.1
                THEN 'disassortative' ELSE 'neutral' END AS regime
    FROM s CROSS JOIN nn
    """,
)
def q393_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-assortativity coefficient (Newman 2002) of the canonical
    part co-occurrence graph (q233/q294's edge set, disclosed): the
    Pearson correlation of endpoint degrees over edges, computed from
    the EXACT integer edge sums sum(jk), sum(j+k), sum(j^2+k^2) with
    each canonical edge counted once — r > 0 means hub parts co-occur
    with hubs (rich-club), r < 0 hub-leaf structure. Only the final
    three divisions are floating point.

    100 TB story: degrees are one grouped count on the symmetrized
    edges; the endpoint-degree join is two hash joins on node id; the
    statistic is a 1-row integer fold."""
    co = _cograph_edges(spark, sf_dir).localCheckpoint(eager=True)
    edges = co.select(F.col("s1").alias("node")).unionAll(
        co.select(F.col("s2").alias("node"))
    )
    deg = edges.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("d"))
    ed = (
        co.join(deg.select(F.col("node").alias("s1"), F.col("d").alias("j")), "s1")
        .join(deg.select(F.col("node").alias("s2"), F.col("d").alias("k")), "s2")
        .select("j", "k")
    )
    s = ed.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.col("j") * F.col("k")).cast("long").alias("sjk"),
        F.sum(F.col("j") + F.col("k")).cast("long").alias("sjpk"),
        F.sum(F.col("j") * F.col("j") + F.col("k") * F.col("k"))
        .cast("long")
        .alias("sj2k2"),
    )
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    mu = F.col("sjpk") / (2.0 * F.col("m"))
    r = (F.col("sjk") * 1.0 / F.col("m") - mu * mu) / (
        F.col("sj2k2") / (2.0 * F.col("m")) - mu * mu
    )
    return s.crossJoin(F.broadcast(nn)).select(
        "n_nodes",
        F.col("m").alias("n_edges"),
        F.round(r, 6).alias("assortativity"),
        F.when(r > 0.1, "assortative")
        .when(r < -0.1, "disassortative")
        .otherwise("neutral")
        .alias("regime"),
    )


@query(
    "q391_streaming_bottomk_drain",
    oracle=f"""
    WITH h AS (
      SELECT event_type, event_id,
             {_MD5H_SQL.format(x="'bk391:' || event_id")} AS h
      FROM events
    ),
    r AS (
      SELECT event_type, event_id, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS rnk
      FROM h
    )
    SELECT event_type, CAST(rnk AS BIGINT) AS rank, event_id, h
    FROM r WHERE rnk <= 20 ORDER BY event_type, rank
    """,
)
def q391_streaming_bottomk_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING deterministic bottom-k sample drained in the
    hash-checked gate: each event's salted md5 hash enters a per-type
    bottom-20 reservoir (:func:`stateful.streaming_bottom_k`) carried in
    a real state store across three event-id-sliced micro-batches. The
    state is COMMUTATIVE (bottom-k of a union = bottom-k of per-batch
    bottom-ks), so each micro-batch is PRE-REDUCED to its own per-type
    bottom-20 before it ever reaches the operator — per-batch state
    traffic is bounded at k rows per key no matter the batch size. The
    drained sample hash-matches the batch oracle's per-type 20 smallest
    hashes digit-for-digit — the distributed-sampling primitive behind
    q65/q154 executed by Structured Streaming.

    100 TB story: the reservoir is O(k * keys) state, TTL-free; the
    pre-reduction is a keyed window on each micro-batch slice."""
    from phoebe_spark.operators.dedup import md5_hash64
    from phoebe_spark.streaming import drain
    from phoebe_spark.streaming.stateful import streaming_bottom_k

    e = _t(spark, sf_dir, "events").select("event_type", "event_id")
    hashed = e.select(
        "event_type",
        "event_id",
        md5_hash64(F.concat(F.lit("bk391:"), F.col("event_id").cast("string"))).alias(
            "h"
        ),
    )
    wk = Window.partitionBy("event_type").orderBy("h", "event_id")

    with drain.scratch("q391_") as work:
        src_dir = f"{work}/src"
        drain.stage_slices(
            (
                hashed.filter(F.col("event_id") % 3 == r)
                .withColumn("rnk", F.row_number().over(wk))
                .filter(F.col("rnk") <= 20)
                .select(
                    F.col("event_type").alias("key"),
                    F.col("h"),
                    F.col("event_id").alias("id"),
                )
                for r in range(3)
            ),
            src_dir,
        )

        out = streaming_bottom_k(
            drain.replay(spark, src_dir), k=20, key_col="key", hash_col="h", id_col="id"
        )
        final = drain.latest(drain.run(out, work, output_mode="update"), order="n_seen").select(
            "key", F.arrays_zip("hs", "ids").alias("z")
        )
        return (
            final.select("key", F.posexplode("z").alias("pos", "pair"))
            .select(
                F.col("key").alias("event_type"),
                (F.col("pos") + 1).cast("long").alias("rank"),
                F.col("pair.ids").alias("event_id"),
                F.col("pair.hs").alias("h"),
            )
            .orderBy("event_type", "rank")
        )


@query(
    "q394_forecast_scoreboard",
    oracle=f"""
    WITH d AS (
      SELECT (epoch_ns(ts) // 1000000000) // 86400 AS day,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    ser AS (SELECT y, row_number() OVER (ORDER BY day) AS pos FROM d),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM ser),
    tr AS (SELECT ser.pos, ser.y, nn.nd - 7 AS nt FROM ser CROSS JOIN nn WHERE ser.pos <= nn.nd - 7),
    reg AS (
      SELECT CAST(count(*) AS BIGINT) AS n, min(nt) AS nt,
             {_FOLD12_SQL.format(t="pos * 1.0")} AS sa,
             {_FOLD12_SQL.format(t="y")} AS sb,
             {_FOLD12_SQL.format(t="pos * y")} AS sab,
             {_FOLD12_SQL.format(t="pos * 1.0 * pos")} AS sa2,
             {_FOLD12_SQL.format(
                 t="y * CASE WHEN pos = 1 THEN power(0.5, nt - 1) ELSE power(0.5, nt - pos + 1) END")} AS ses,
             min(CASE WHEN pos = 1 THEN y END) AS y1,
             min(CASE WHEN pos = nt THEN y END) AS ylast
      FROM tr
    ),
    sc AS (
      SELECT {_FOLD12_SQL.format(t="abs(a.y - b.y)")} / (min(a.nt) - 7) AS scale
      FROM tr a JOIN tr b ON b.pos = a.pos - 7
    ),
    sn AS (
      SELECT tr.pos - tr.nt + 7 AS h, tr.y AS ysn FROM tr WHERE tr.pos > tr.nt - 7
    ),
    f AS (
      SELECT ser.pos - reg.nt AS h, ser.y AS a, sn.ysn,
             reg.ylast AS f_naive,
             reg.ylast + (ser.pos - reg.nt) * (reg.ylast - reg.y1) / (reg.nt - 1) AS f_drift,
             reg.ses + ((reg.sab - reg.sa * reg.sb / reg.n)
                        / (reg.sa2 - reg.sa * reg.sa / reg.n)) / 2.0
                       * (ser.pos - reg.nt) AS f_theta
      FROM ser CROSS JOIN reg JOIN sn ON sn.h = ser.pos - reg.nt
      WHERE ser.pos > reg.nt
    ),
    m AS (
      SELECT 'naive' AS method, f_naive AS fc, a FROM f
      UNION ALL SELECT 'snaive7', ysn, a FROM f
      UNION ALL SELECT 'drift', f_drift, a FROM f
      UNION ALL SELECT 'theta', f_theta, a FROM f
    )
    SELECT m.method,
           round({_FOLD12_SQL.format(t="2 * abs(fc - a) / (abs(fc) + abs(a))")} / 7, 6) AS smape,
           round({_FOLD12_SQL.format(t="abs(fc - a)")} / 7 / min(sc.scale), 6) AS mase,
           round(sqrt({_FOLD12_SQL.format(t="(fc - a) * (fc - a)")} / 7), 6) AS rmse
    FROM m CROSS JOIN sc GROUP BY m.method ORDER BY m.method
    """,
)
def q394_forecast_scoreboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-method scoreboard on the daily series with a 7-day
    holdout: naive (last value), seasonal-naive s=7, drift
    (last + h*(last-first)/(n-1)) and the q384 theta method (disclosed
    kinship) scored side-by-side on sMAPE, MASE (scaled by the
    in-sample seasonal-naive error — Hyndman & Koehler 2006) and RMSE —
    the model-selection audit that q270's seasonal backtest feeds. All
    forecasts are closed-form scalars off the train folds; every metric
    is a 12-dp decimal fold over the 7 holdout points.

    100 TB story: one collapse to the daily frame; four methods share
    ONE scan and one scalar stage; the scoreboard is a 4-row fold."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = e.groupBy(F.expr("(ts div 1000000000) div 86400").alias("day")).agg(
        (F.sum(_dec("value")).cast("double") / F.count(F.lit(1))).alias("y")
    )
    ser = d.select(
        "y", F.row_number().over(Window.orderBy("day")).alias("pos")
    ).localCheckpoint(eager=True)
    nn = ser.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    tr = (
        ser.crossJoin(F.broadcast(nn))
        .filter(F.col("pos") <= F.col("nd") - 7)
        .select("pos", "y", (F.col("nd") - 7).alias("nt"))
        .localCheckpoint(eager=True)
    )
    w = F.when(
        F.col("pos") == 1, F.pow(F.lit(0.5), F.col("nt") - 1)
    ).otherwise(F.pow(F.lit(0.5), F.col("nt") - F.col("pos") + 1))
    reg = tr.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("nt").alias("nt"),
        _fold12(F.col("pos") * 1.0).alias("sa"),
        _fold12(F.col("y")).alias("sb"),
        _fold12(F.col("pos") * F.col("y")).alias("sab"),
        _fold12(F.col("pos") * 1.0 * F.col("pos")).alias("sa2"),
        _fold12(F.col("y") * w).alias("ses"),
        F.min(F.when(F.col("pos") == 1, F.col("y"))).alias("y1"),
        F.min(F.when(F.col("pos") == F.col("nt"), F.col("y"))).alias("ylast"),
    )
    b7 = tr.select((F.col("pos") + 7).alias("pos"), F.col("y").alias("yb"))
    sc = tr.join(b7, "pos").agg(
        (_fold12(F.abs(F.col("y") - F.col("yb"))) / (F.min("nt") - 7)).alias("scale")
    )
    sn = tr.filter(F.col("pos") > F.col("nt") - 7).select(
        (F.col("pos") - F.col("nt") + 7).alias("h"), F.col("y").alias("ysn")
    )
    slope = (F.col("sab") - F.col("sa") * F.col("sb") / F.col("n")) / (
        F.col("sa2") - F.col("sa") * F.col("sa") / F.col("n")
    )
    f = (
        ser.crossJoin(F.broadcast(reg))
        .filter(F.col("pos") > F.col("nt"))
        .select(
            (F.col("pos") - F.col("nt")).alias("h"),
            F.col("y").alias("a"),
            F.col("ylast").alias("f_naive"),
            (
                F.col("ylast")
                + (F.col("pos") - F.col("nt"))
                * (F.col("ylast") - F.col("y1"))
                / (F.col("nt") - 1)
            ).alias("f_drift"),
            (F.col("ses") + slope / 2.0 * (F.col("pos") - F.col("nt"))).alias(
                "f_theta"
            ),
        )
        .join(F.broadcast(sn), "h")
    )
    m = f.select(
        F.expr(
            "stack(4, 'naive', f_naive, 'snaive7', ysn, 'drift', f_drift, "
            "'theta', f_theta) AS (method, fc)"
        ),
        "a",
    )
    return (
        m.crossJoin(F.broadcast(sc))
        .groupBy("method")
        .agg(
            F.round(
                _fold12(2 * F.abs(F.col("fc") - F.col("a")) / (F.abs("fc") + F.abs("a")))
                / 7,
                6,
            ).alias("smape"),
            F.round(
                _fold12(F.abs(F.col("fc") - F.col("a"))) / 7 / F.min("scale"), 6
            ).alias("mase"),
            F.round(
                F.sqrt(
                    _fold12((F.col("fc") - F.col("a")) * (F.col("fc") - F.col("a")))
                    / 7
                ),
                6,
            ).alias("rmse"),
        )
        .orderBy("method")
    )


@query(
    "q395_tukey_hsd",
    oracle=f"""
    WITH cell AS (
      SELECT event_type AS t, value AS v, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    g AS (
      SELECT t, CAST(sum(c) AS BIGINT) AS ng,
             {_FOLD12_SQL.format(t="c * v")} AS s1,
             {_FOLD12_SQL.format(t="c * v * v")} AS s2
      FROM cell GROUP BY 1
    ),
    msw AS (
      SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
             {_FOLD12_SQL.format(t="s2 - s1 * s1 / ng")} AS ssw
      FROM g
    )
    SELECT a.t AS type_a, b.t AS type_b,
           round(a.s1 / a.ng - b.s1 / b.ng, 6) AS mean_diff,
           round(abs(a.s1 / a.ng - b.s1 / b.ng)
                 / sqrt(msw.ssw / (msw.n - msw.k) / 2 * (1.0 / a.ng + 1.0 / b.ng)), 6) AS q_stat,
           CAST(3.858 AS DOUBLE) AS crit_q_95,
           CAST(CASE WHEN abs(a.s1 / a.ng - b.s1 / b.ng)
                          / sqrt(msw.ssw / (msw.n - msw.k) / 2 * (1.0 / a.ng + 1.0 / b.ng))
                          > 3.858 THEN 1 ELSE 0 END AS INT) AS reject
    FROM g a JOIN g b ON a.t < b.t CROSS JOIN msw
    ORDER BY type_a, type_b
    """,
)
def q395_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-Kramer HSD post-hoc pairwise comparisons (Tukey 1949;
    Kramer 1956 for unequal n) across the event types — the
    WHICH-pairs-differ closure after q365's ANOVA / q374's Welch flag
    THAT something differs (disclosed kinship): studentized-range
    statistic q = |m_i - m_j| / sqrt(MSW/2 (1/n_i + 1/n_j)) for all 10
    pairs against the literal q(0.05, k=5, df=inf) = 3.858 critical
    value. Group moments are the q364/q374 support-cell decimal folds;
    MSW folds per-group corrected sums once.

    100 TB story: one collapse to (type, value) cells; the pair frame
    is k(k-1)/2 rows of scalar arithmetic."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cell = e.groupBy(F.col("event_type").alias("t"), F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    g = (
        cell.groupBy("t")
        .agg(
            F.sum("c").cast("long").alias("ng"),
            _fold12(F.col("c") * F.col("v")).alias("s1"),
            _fold12(F.col("c") * F.col("v") * F.col("v")).alias("s2"),
        )
        .localCheckpoint(eager=True)
    )
    msw = g.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        _fold12(F.col("s2") - F.col("s1") * F.col("s1") / F.col("ng")).alias("ssw"),
    )
    a = g.select(
        F.col("t").alias("type_a"), F.col("ng").alias("na"), F.col("s1").alias("sa")
    )
    b = g.select(
        F.col("t").alias("type_b"), F.col("ng").alias("nb"), F.col("s1").alias("sb")
    )
    diff = F.col("sa") / F.col("na") - F.col("sb") / F.col("nb")
    qs = F.abs(diff) / F.sqrt(
        F.col("ssw")
        / (F.col("n") - F.col("k"))
        / 2
        * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    )
    return (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .crossJoin(F.broadcast(msw))
        .select(
            "type_a",
            "type_b",
            F.round(diff, 6).alias("mean_diff"),
            F.round(qs, 6).alias("q_stat"),
            F.lit(3.858).alias("crit_q_95"),
            F.when(qs > 3.858, 1).otherwise(0).cast("int").alias("reject"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q396_dunning_g2",
    oracle=r"""
    WITH t AS (
      SELECT regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents WHERE trim(text) <> ''),
    bi AS (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bg
      FROM t WHERE len(toks) >= 2),
    bcnt AS (SELECT bg, CAST(count(*) AS BIGINT) AS k11 FROM bi GROUP BY bg),
    m1 AS (SELECT split_part(bg, ' ', 1) AS w, CAST(sum(k11) AS BIGINT) AS r1 FROM bcnt GROUP BY 1),
    m2 AS (SELECT split_part(bg, ' ', 2) AS w, CAST(sum(k11) AS BIGINT) AS c1 FROM bcnt GROUP BY 1),
    tot AS (SELECT CAST(sum(k11) AS BIGINT) AS n FROM bcnt),
    g2 AS (
      SELECT b.bg, b.k11, m1.r1, m2.c1, tot.n,
             b.k11 AS a, m1.r1 - b.k11 AS bb,
             m2.c1 - b.k11 AS cc, tot.n - m1.r1 - m2.c1 + b.k11 AS dd
      FROM bcnt b
      JOIN m1 ON m1.w = split_part(b.bg, ' ', 1)
      JOIN m2 ON m2.w = split_part(b.bg, ' ', 2)
      CROSS JOIN tot WHERE b.k11 >= 20
    ),
    scored AS (
      SELECT bg, k11,
             round(2 * (
               (CASE WHEN a > 0 THEN a * ln(a * 1.0 * n / (r1 * 1.0 * c1)) ELSE 0 END)
               + (CASE WHEN bb > 0 THEN bb * ln(bb * 1.0 * n / (r1 * 1.0 * (n - c1))) ELSE 0 END)
               + (CASE WHEN cc > 0 THEN cc * ln(cc * 1.0 * n / ((n - r1) * 1.0 * c1)) ELSE 0 END)
               + (CASE WHEN dd > 0 THEN dd * ln(dd * 1.0 * n / ((n - r1) * 1.0 * (n - c1))) ELSE 0 END)
             ), 6) AS g2
      FROM g2
    )
    SELECT bg, k11 AS c_ab, g2 FROM (
      SELECT bg, k11, g2, row_number() OVER (ORDER BY g2 DESC, bg ASC) AS rn
      FROM scored)
    WHERE rn <= 20
    """,
)
def q396_dunning_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by Dunning's log-likelihood ratio
    (Dunning 1993) — the small-count-safe companion to q115's PMI
    ranking (disclosed kinship; PMI overweights rare pairs, G2 is the
    likelihood-ratio test of the 2x2 bigram contingency): margins come
    from the bigram table itself (c(a,*), c(*,b), N), all four cells
    are exact integers, and G2 = 2*sum k ln(k/E) evaluates as one fixed
    scalar expression per row (zero cells contribute zero by the
    standard convention). Min count 20, ties break on the bigram.

    100 TB story: one bigram explode into a map-side-combining count;
    margins are two grouped folds OVER THE COUNT FRAME (vocab-sized,
    not corpus-sized); top-20 is TakeOrdered."""
    d = _t(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    toks = text.tokens(F.col("text"))
    # zip_with over slices (text.adjacent_bigrams), not the O(len^2)
    # transform + element_at lambda — same fix as q388/q146
    bi = text.adjacent_bigrams(toks, distinct=False)
    bcnt = (
        d.filter(F.size(toks) >= 2)
        .select(F.explode(bi).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("k11"))
        .localCheckpoint(eager=True)
    )
    w1 = F.split(F.col("bg"), " ").getItem(0)
    w2 = F.split(F.col("bg"), " ").getItem(1)
    m1 = bcnt.groupBy(w1.alias("w")).agg(F.sum("k11").cast("long").alias("r1"))
    m2 = bcnt.groupBy(w2.alias("w")).agg(F.sum("k11").cast("long").alias("c1"))
    tot = bcnt.agg(F.sum("k11").cast("long").alias("n"))
    g = (
        bcnt.filter(F.col("k11") >= 20)
        .join(m1, w1 == m1.w)
        .drop("w")
        .join(m2, w2 == m2.w)
        .drop("w")
        .crossJoin(F.broadcast(tot))
        .select(
            "bg",
            "k11",
            F.col("k11").alias("a"),
            (F.col("r1") - F.col("k11")).alias("bb"),
            (F.col("c1") - F.col("k11")).alias("cc"),
            (F.col("n") - F.col("r1") - F.col("c1") + F.col("k11")).alias("dd"),
            "r1",
            "c1",
            "n",
        )
    )

    def _term(k, row, col):
        return F.when(
            k > 0, k * F.log(k * 1.0 * F.col("n") / (row * 1.0 * col))
        ).otherwise(0.0)

    g2 = 2 * (
        _term(F.col("a"), F.col("r1"), F.col("c1"))
        + _term(F.col("bb"), F.col("r1"), F.col("n") - F.col("c1"))
        + _term(F.col("cc"), F.col("n") - F.col("r1"), F.col("c1"))
        + _term(F.col("dd"), F.col("n") - F.col("r1"), F.col("n") - F.col("c1"))
    )
    scored = g.select("bg", F.col("k11").alias("c_ab"), F.round(g2, 6).alias("g2"))
    return scored.orderBy(F.desc("g2"), F.asc("bg")).limit(20)


@query(
    "q397_cluster_validity",
    oracle=f"""
    WITH pts AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
      FROM embeddings
    ),
    flat AS (
      SELECT label, unnest(generate_series(1, len(x))) AS dim,
             unnest(x) AS v
      FROM pts
    ),
    cm AS (
      SELECT label, dim,
             {_FOLD12_SQL.format(t="v")} / count(*) AS m
      FROM flat GROUP BY 1, 2
    ),
    cent AS (
      SELECT label, list(m ORDER BY dim) AS c FROM cm GROUP BY 1
    ),
    gm AS (
      SELECT dim, {_FOLD12_SQL.format(t="v")} / count(*) AS m
      FROM flat GROUP BY 1
    ),
    gc AS (SELECT list(m ORDER BY dim) AS g FROM gm),
    dists AS (
      SELECT pts.vec_id, pts.label AS own, cent.label AS cl,
             sqrt(list_sum(list_transform(generate_series(1, len(pts.x)),
                  i -> (pts.x[i] - cent.c[i]) * (pts.x[i] - cent.c[i])))) AS d
      FROM pts CROSS JOIN cent
    ),
    ab AS (
      SELECT vec_id, own,
             min(CASE WHEN cl = own THEN d END) AS a,
             min(CASE WHEN cl <> own THEN d END) AS b
      FROM dists GROUP BY 1, 2
    ),
    sil AS (
      SELECT {_FOLD12_SQL.format(t="(b - a) / greatest(a, b)")} / count(*) AS s,
             CAST(count(*) AS BIGINT) AS n,
             {_FOLD12_SQL.format(t="a * a")} AS w
      FROM ab
    ),
    gl AS (
      SELECT ab.own AS label, CAST(count(*) AS BIGINT) AS nl,
             {_FOLD12_SQL.format(t="ab.a")} / count(*) AS sl
      FROM ab GROUP BY 1
    ),
    bsum AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             {_FOLD12_SQL.format(
                 t="gl.nl * list_sum(list_transform(generate_series(1, len(cent.c)), i -> (cent.c[i] - gc.g[i]) * (cent.c[i] - gc.g[i])))")} AS b
      FROM gl JOIN cent ON cent.label = gl.label CROSS JOIN gc
    ),
    cd AS (
      SELECT a.label AS la, b.label AS lb,
             (ga.sl + gb.sl)
               / sqrt(list_sum(list_transform(generate_series(1, len(a.c)),
                      i -> (a.c[i] - b.c[i]) * (a.c[i] - b.c[i])))) AS r
      FROM cent a JOIN cent b ON a.label <> b.label
      JOIN gl ga ON ga.label = a.label JOIN gl gb ON gb.label = b.label
    ),
    db AS (
      SELECT {_FOLD12_SQL.format(t="mr")} / count(*) AS db FROM (
        SELECT la, max(r) AS mr FROM cd GROUP BY 1)
    )
    SELECT sil.n, bsum.k,
           round((bsum.b / (bsum.k - 1)) / (sil.w / (sil.n - bsum.k)), 6) AS calinski_harabasz,
           round(db.db, 6) AS davies_bouldin,
           round(sil.s, 6) AS simplified_silhouette
    FROM sil CROSS JOIN bsum CROSS JOIN db
    """,
)
def q397_cluster_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-validity panel for the embedding labels: Calinski-
    Harabasz variance ratio (1974), Davies-Bouldin index (1979) and the
    centroid-based SIMPLIFIED silhouette (Hruschka et al. 2004,
    disclosed — the O(n*k) form; the classical silhouette's O(n^2)
    pairwise distances are exactly what a 100 TB pipeline cannot do) —
    the assignment-quality audit behind q120's purity and q187's
    k-means (disclosed kinship). Centroids are per-(label, dim) decimal
    folds; every point-to-centroid distance is one array fold over the
    64 dims; CH and DB reduce over the k-row label frame.

    100 TB story: centroids collapse the corpus once (O(k x dims)
    partials per task); the distance stage is a k-row broadcast against
    one linear scan; nothing quadratic in points anywhere."""
    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("x"),
    )
    flat = pts.select(
        "label", F.posexplode("x").alias("dim0", "v")
    ).select("label", (F.col("dim0") + 1).alias("dim"), "v")
    cm = flat.groupBy("label", "dim").agg(
        (_fold12(F.col("v")) / F.count(F.lit(1))).alias("m")
    )
    cent = cm.groupBy("label").agg(
        F.array_sort(F.collect_list(F.struct("dim", "m"))).getField("m").alias("c")
    )
    gm = flat.groupBy("dim").agg((_fold12(F.col("v")) / F.count(F.lit(1))).alias("m"))
    gc = gm.agg(
        F.array_sort(F.collect_list(F.struct("dim", "m"))).getField("m").alias("g")
    )
    sqdist = lambda u, w: F.aggregate(  # noqa: E731
        F.zip_with(u, w, lambda p, q: (p - q) * (p - q)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    dists = pts.crossJoin(F.broadcast(cent.select(F.col("label").alias("cl"), "c"))).select(
        "vec_id",
        F.col("label").alias("own"),
        "cl",
        F.sqrt(sqdist(F.col("x"), F.col("c"))).alias("d"),
    )
    ab = dists.groupBy("vec_id", "own").agg(
        F.min(F.when(F.col("cl") == F.col("own"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("cl") != F.col("own"), F.col("d"))).alias("b"),
    ).localCheckpoint(eager=True)
    sil = ab.agg(
        (
            _fold12((F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b")))
            / F.count(F.lit(1))
        ).alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
        _fold12(F.col("a") * F.col("a")).alias("w"),
    )
    gl = ab.groupBy(F.col("own").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("nl"),
        (_fold12(F.col("a")) / F.count(F.lit(1))).alias("sl"),
    ).localCheckpoint(eager=True)
    bsum = (
        gl.join(cent, "label")
        .crossJoin(F.broadcast(gc))
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            _fold12(F.col("nl") * sqdist(F.col("c"), F.col("g"))).alias("b"),
        )
    )
    ca = cent.select(F.col("label").alias("la"), F.col("c").alias("cca"))
    cb = cent.select(F.col("label").alias("lb"), F.col("c").alias("ccb"))
    ga = gl.select(F.col("label").alias("la"), F.col("sl").alias("sla"))
    gb = gl.select(F.col("label").alias("lb"), F.col("sl").alias("slb"))
    cd = (
        ca.join(cb, F.col("la") != F.col("lb"))
        .join(F.broadcast(ga), "la")
        .join(F.broadcast(gb), "lb")
        .select(
            "la",
            (
                (F.col("sla") + F.col("slb"))
                / F.sqrt(sqdist(F.col("cca"), F.col("ccb")))
            ).alias("r"),
        )
    )
    db = cd.groupBy("la").agg(F.max("r").alias("mr")).agg(
        (_fold12(F.col("mr")) / F.count(F.lit(1))).alias("db")
    )
    return (
        sil.crossJoin(F.broadcast(bsum))
        .crossJoin(F.broadcast(db))
        .select(
            "n",
            "k",
            F.round(
                (F.col("b") / (F.col("k") - 1)) / (F.col("w") / (F.col("n") - F.col("k"))),
                6,
            ).alias("calinski_harabasz"),
            F.round("db", 6).alias("davies_bouldin"),
            F.round("s", 6).alias("simplified_silhouette"),
        )
    )


@query(
    "q398_nearest_centroid_eval",
    oracle=f"""
    WITH pts AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
      FROM embeddings
    ),
    flat AS (
      SELECT label, unnest(generate_series(1, len(x))) AS dim, unnest(x) AS v
      FROM pts
    ),
    cm AS (
      SELECT label, dim, {_FOLD12_SQL.format(t="v")} / count(*) AS m
      FROM flat GROUP BY 1, 2
    ),
    cent AS (SELECT label AS cl, list(m ORDER BY dim) AS c FROM cm GROUP BY 1),
    dists AS (
      SELECT pts.vec_id, pts.label AS own, cent.cl,
             sqrt(list_sum(list_transform(generate_series(1, len(pts.x)),
                  i -> (pts.x[i] - cent.c[i]) * (pts.x[i] - cent.c[i])))) AS d
      FROM pts CROSS JOIN cent
    ),
    pred AS (
      SELECT vec_id, own, cl AS pred
      FROM dists QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) = 1
    ),
    own_n AS (SELECT own, CAST(count(*) AS BIGINT) AS n_own FROM pred GROUP BY 1)
    SELECT p.own AS true_label, p.pred AS predicted_label,
           CAST(count(*) AS BIGINT) AS n,
           round(count(*) * 1.0 / min(o.n_own), 6) AS share_of_true,
           CAST(CASE WHEN p.own = p.pred THEN 1 ELSE 0 END AS INT) AS is_correct
    FROM pred p JOIN own_n o ON o.own = p.own
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q398_nearest_centroid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classifier evaluated against the
    embedding labels as a confusion table — the CLASSIFIER-quality
    companion to q397's geometric validity panel (disclosed kinship;
    same decimal-fold centroids, same O(n*k) distance stage): each
    vector is assigned to its closest label centroid (ties break on
    label), and per-(true, predicted) cells report count and the share
    of the true class — the label-confusability audit behind
    semantic-dedup label gating (q120 purity's model-based cousin).

    100 TB story: centroids collapse the corpus once; the argmin is a
    per-vector k-row reduce after a broadcast join; the confusion
    table is at most k^2 rows."""
    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("x"),
    )
    flat = pts.select("label", F.posexplode("x").alias("dim0", "v")).select(
        "label", (F.col("dim0") + 1).alias("dim"), "v"
    )
    cm = flat.groupBy("label", "dim").agg(
        (_fold12(F.col("v")) / F.count(F.lit(1))).alias("m")
    )
    cent = cm.groupBy(F.col("label").alias("cl")).agg(
        F.array_sort(F.collect_list(F.struct("dim", "m"))).getField("m").alias("c")
    )
    sqd = F.aggregate(
        F.zip_with(F.col("x"), F.col("c"), lambda p, q: (p - q) * (p - q)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    dists = pts.crossJoin(F.broadcast(cent)).select(
        "vec_id", F.col("label").alias("own"), "cl", F.sqrt(sqd).alias("d")
    )
    wv = Window.partitionBy("vec_id").orderBy("d", "cl")
    pred = (
        dists.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vec_id", "own", F.col("cl").alias("pred"))
        .localCheckpoint(eager=True)
    )
    own_n = pred.groupBy("own").agg(F.count(F.lit(1)).cast("long").alias("n_own"))
    return (
        pred.join(F.broadcast(own_n), "own")
        .groupBy(
            F.col("own").alias("true_label"), F.col("pred").alias("predicted_label")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.count(F.lit(1)) * 1.0 / F.min("n_own"), 6).alias(
                "share_of_true"
            ),
            F.max(
                F.when(F.col("own") == F.col("pred"), 1).otherwise(0)
            ).cast("int").alias("is_correct"),
        )
        .orderBy("true_label", "predicted_label")
    )


@query(
    "q399_degree_powerlaw",
    oracle=f"""
    WITH {_COGRAPH_SQL},
    edges AS (SELECT s1 AS node FROM co UNION ALL SELECT s2 FROM co),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1),
    tail AS (SELECT d FROM deg WHERE d >= 2),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             {_FOLD12_SQL.format(t="ln(d / 1.5)")} AS slnd
      FROM tail
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           m.n AS n_tail, CAST(2 AS BIGINT) AS d_min,
           round(1 + m.n / m.slnd, 6) AS alpha_mle,
           round((m.n / m.slnd) / sqrt(m.n), 6) AS alpha_se
    FROM m
    """,
)
def q399_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete power-law exponent of the co-purchase graph's degree
    distribution by the Clauset-Shalizi-Newman MLE (2009, the
    d_min - 1/2 continuous approximation, disclosed):
    alpha = 1 + n / sum ln(d_i/(d_min - 0.5)) over the d >= 2 tail,
    with the standard error (alpha-1)/sqrt(n) — the graph-side cousin
    of q333's Hill index on values and q87's Zipf slope on tokens
    (disclosed kinship; all three estimate tail heaviness, this one on
    the q233/q294 edge set). ln terms fold as 12-dp decimal.

    100 TB story: degrees are one grouped count over symmetrized
    edges; the MLE is a single fold over the tail frame."""
    co = _cograph_edges(spark, sf_dir)
    edges = co.select(F.col("s1").alias("node")).unionAll(
        co.select(F.col("s2").alias("node"))
    )
    deg = edges.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    ).localCheckpoint(eager=True)
    tail = deg.filter(F.col("d") >= 2)
    m = tail.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _fold12(F.log(F.col("d") / 1.5)).alias("slnd"),
    )
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return m.crossJoin(F.broadcast(nn)).select(
        "n_nodes",
        F.col("n").alias("n_tail"),
        F.lit(2).cast("long").alias("d_min"),
        F.round(1 + F.col("n") / F.col("slnd"), 6).alias("alpha_mle"),
        F.round((F.col("n") / F.col("slnd")) / F.sqrt(F.col("n")), 6).alias(
            "alpha_se"
        ),
    )


@query(
    "q400_retention_decay",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, (epoch_ns(ts) // 1000000000) // 86400 AS day
      FROM events
    ),
    first_d AS (SELECT user_id, min(day) AS f FROM ud GROUP BY 1),
    span AS (SELECT max(day) AS mx FROM ud),
    num AS (
      SELECT ud.day - fd.f AS k, CAST(count(*) AS BIGINT) AS active
      FROM ud JOIN first_d fd USING (user_id)
      WHERE ud.day - fd.f BETWEEN 1 AND 14 GROUP BY 1
    ),
    den AS (
      SELECT ks.k, CAST(count(*) AS BIGINT) AS at_risk
      FROM first_d fd CROSS JOIN span
      CROSS JOIN (SELECT unnest(generate_series(1, 14)) AS k) ks
      WHERE fd.f + ks.k <= span.mx GROUP BY 1
    ),
    r AS (
      SELECT den.k, coalesce(num.active, 0) AS active, den.at_risk,
             round(ln(coalesce(num.active, 0) * 1.0 / den.at_risk), 12) AS lr
      FROM den LEFT JOIN num ON num.k = den.k
      WHERE coalesce(num.active, 0) > 0
    ),
    reg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             {_FOLD12_SQL.format(t="k * 1.0")} AS sa,
             {_FOLD12_SQL.format(t="lr")} AS sb,
             {_FOLD12_SQL.format(t="k * lr")} AS sab,
             {_FOLD12_SQL.format(t="k * 1.0 * k")} AS sa2
      FROM r
    )
    SELECT reg.n AS n_points,
           round((reg.sab - reg.sa * reg.sb / reg.n)
                 / (reg.sa2 - reg.sa * reg.sa / reg.n), 6) AS daily_decay_rate,
           round(exp(reg.sb / reg.n - (reg.sab - reg.sa * reg.sb / reg.n)
                 / (reg.sa2 - reg.sa * reg.sa / reg.n) * reg.sa / reg.n), 6) AS day0_retention,
           round(-0.6931471805599453
                 / ((reg.sab - reg.sa * reg.sb / reg.n)
                    / (reg.sa2 - reg.sa * reg.sa / reg.n)), 6) AS half_life_days
    FROM reg
    """,
)
def q400_retention_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential retention-decay fit over the pooled cohort curve:
    day-k retention r_k = (users active exactly k days after first
    seen) / (users whose cohort is at least k days old), k = 1..14,
    then ln(r_k) regressed on k — the decay-RATE model behind q95's
    raw cohort table (disclosed kinship), reported as the daily decay
    rate, the extrapolated day-0 intercept and the half-life
    -ln 2 / b. ln terms are 12-dp-rounded at materialization; the OLS
    is the standard fold regression.

    100 TB story: the corpus collapses once to distinct (user, day);
    first-seen is one grouped min; numerator and at-risk denominator
    are grouped counts over 14 literal lags; the fit is a 14-row
    fold."""
    e = _t(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.expr("(ts div 1000000000) div 86400").alias("day")
    ).distinct().localCheckpoint(eager=True)
    fd = ud.groupBy("user_id").agg(F.min("day").alias("f"))
    span = ud.agg(F.max("day").alias("mx"))
    num = (
        ud.join(fd, "user_id")
        .select((F.col("day") - F.col("f")).alias("k"))
        .filter((F.col("k") >= 1) & (F.col("k") <= 14))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("active"))
    )
    ks = spark.createDataFrame([(k,) for k in range(1, 15)], "k long")
    den = (
        fd.crossJoin(F.broadcast(span))
        .crossJoin(F.broadcast(ks))
        .filter(F.col("f") + F.col("k") <= F.col("mx"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("at_risk"))
    )
    r = (
        den.join(num, "k", "left")
        .select(
            "k",
            F.coalesce("active", F.lit(0)).alias("active"),
            "at_risk",
            F.round(
                F.log(F.coalesce("active", F.lit(0)) * 1.0 / F.col("at_risk")), 12
            ).alias("lr"),
        )
        .filter(F.col("active") > 0)
    )
    reg = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _fold12(F.col("k") * 1.0).alias("sa"),
        _fold12(F.col("lr")).alias("sb"),
        _fold12(F.col("k") * F.col("lr")).alias("sab"),
        _fold12(F.col("k") * 1.0 * F.col("k")).alias("sa2"),
    )
    b = (F.col("sab") - F.col("sa") * F.col("sb") / F.col("n")) / (
        F.col("sa2") - F.col("sa") * F.col("sa") / F.col("n")
    )
    return reg.select(
        F.col("n").alias("n_points"),
        F.round(b, 6).alias("daily_decay_rate"),
        F.round(
            F.exp(F.col("sb") / F.col("n") - b * F.col("sa") / F.col("n")), 6
        ).alias("day0_retention"),
        F.round(-F.lit(0.6931471805599453) / b, 6).alias("half_life_days"),
    )
