"""Query registry block 451+ (round 11): time-series diagnostics
(cross-correlation, turning-point randomness, forecastability strength,
Breusch-Pagan heteroscedasticity, Page trend), information dynamics
(Markov entropy rate), Bayesian A/B (two-proportion posterior),
variance homogeneity (Bartlett), inequality (Palma/Hoover), extremes
(Gumbel block maxima), paired nonparametrics (sign + Wilcoxon
signed-rank), and regression influence (Cook's distance); extended in
round 11b (q471-q495) with forensic/effect audits (Benford, MAD
robust-z, rank instability), association measures (Kendall tau-b,
Goodman-Kruskal lambda, Theil's U, winsorized Pearson), reliability
and design (Cronbach alpha, ICC, Kish design effect), robust trends
and breaks (exact Theil-Sen, best-changepoint SSE search), rank tests
(Mood's median, Ansari-Bradley, Kuiper), graph/spatial (Geary's C,
edge Jaccard), text diversity (Flesch-Kincaid, Yule's K, Hill
numbers), economics (Oaxaca mix/rate, Fisher ideal index), count
models (negative-binomial MoM) and the streaming Croston/SBA drain (cross-batch keyed state, q326's batch fold kin) — each with the exact-fold
determinism policy from ``_core`` (integer/DECIMAL corpus sums, 12-dp
per-iteration rounding, identical literal chains on both engines)."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from phoebe_spark.operators import layout

from ._core import _dim, _t, query
from .q201_250 import _COGRAPH_SQL, _cograph_edges
from .q401_450 import _phi_col, _phi_sql


def _fold12(x):
    """Order-free 12-dp DECIMAL fold (the registry determinism policy)."""
    return F.round(F.sum(F.round(x, 12).cast("decimal(38,12)")), 12).cast("double")


_FOLD12_SQL = (
    "CAST(round(sum(CAST(round({x}, 12) AS DECIMAL(38,12))), 12) AS DOUBLE)"
)

_CCF_LAGS = list(range(-7, 8))
_CCF_LAGS_SQL = ", ".join(f"({l})" for l in _CCF_LAGS)


@query(
    "q451_cross_correlation",
    oracle=f"""
    WITH lags(lag) AS (VALUES {_CCF_LAGS_SQL}),
    od AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    ld AS (
      SELECT datediff('day', DATE '1970-01-01', l_shipdate) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM lineitem GROUP BY 1
    ),
    j AS (
      SELECT lg.lag, od.x, ld.y
      FROM lags lg
      JOIN od ON TRUE
      JOIN ld ON ld.d = od.d + lg.lag
    ),
    m AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM j GROUP BY 1
    ),
    r AS (
      SELECT lag, n,
             CAST(CAST(n AS DECIMAL(19,0)) * CAST(sxy AS DECIMAL(19,0))
                  - CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS DOUBLE)
               / sqrt(CAST(CAST(n AS DECIMAL(19,0)) * CAST(sxx AS DECIMAL(19,0))
                           - CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0)) AS DOUBLE)
                      * CAST(CAST(n AS DECIMAL(19,0)) * CAST(syy AS DECIMAL(19,0))
                             - CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS DOUBLE))
               AS ccf
      FROM m
    )
    SELECT lag, n AS n_days,
           round(ccf, 6) + 0.0 AS ccf,
           CASE WHEN abs(ccf) = max(abs(ccf)) OVER () THEN 1 ELSE 0 END AS is_best
    FROM r
    """,
)
def q451_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the daily ORDER-ARRIVAL count
    and the daily LINE-SHIPMENT count at lags -7..+7 days: the
    lead-lag screen that measures how many days demand takes to turn
    into shipments (positive best lag = shipments trail orders), run
    before any join of the two series into one forecasting feature
    (m1/q443 kinship disclosed). Each lag's Pearson r comes from exact
    BIGINT moment folds over the aligned day pairs (the overlap set
    shifts with the lag, so n varies per lag — disclosed); all
    n*S - S*S combinations run in DECIMAL(38,0) and convert to DOUBLE
    once, identical chains both engines.

    100 TB story: two corpus scans collapse to O(days) rollups; the
    lag fan-out is a BROADCAST 15-row literal frame; each lag's moment
    fold is one grouped aggregate over the day-pair frame — no window
    on corpus-rate data; the best-lag flag runs on the 15-row lag frame
    (allowlisted)."""
    od = (
        _t(spark, sf_dir, "orders")
        .select(F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    ld = (
        _t(spark, sf_dir, "lineitem")
        .select(F.datediff("l_shipdate", F.lit("1970-01-01")).cast("long").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    lags = spark.createDataFrame([(l,) for l in _CCF_LAGS], "lag INT")
    j = (
        od.crossJoin(F.broadcast(lags))
        .join(
            ld.select(F.col("d").alias("dy"), "y"),
            F.col("dy") == F.col("d") + F.col("lag"),
        )
    )
    m = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )

    def _d19(c):
        return F.col(c).cast("decimal(19,0)")

    nsxy = (_d19("n") * _d19("sxy") - _d19("sx") * _d19("sy")).cast("double")
    nsxx = (_d19("n") * _d19("sxx") - _d19("sx") * _d19("sx")).cast("double")
    nsyy = (_d19("n") * _d19("syy") - _d19("sy") * _d19("sy")).cast("double")
    r = m.select("lag", "n", (nsxy / F.sqrt(nsxx * nsyy)).alias("ccf"))
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return r.select(
        "lag",
        F.col("n").alias("n_days"),
        (F.round("ccf", 6) + F.lit(0.0)).alias("ccf"),
        F.when(F.abs("ccf") == F.max(F.abs("ccf")).over(wall), 1)
        .otherwise(0)
        .alias("is_best"),
    )


@query(
    "q452_turning_points",
    oracle=f"""
    WITH o AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d
      FROM orders
    ),
    days AS (SELECT d, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1),
    tri AS (
      SELECT y,
             lag(y) OVER (ORDER BY d) AS yp,
             lead(y) OVER (ORDER BY d) AS yn
      FROM days
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) + 2 AS n,
             CAST(sum(CASE WHEN (y - yp) * (yn - y) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp
      FROM tri WHERE yp IS NOT NULL AND yn IS NOT NULL
    ),
    z AS (
      SELECT n, tp,
             2.0 * (n - 2) / 3.0 AS e_tp,
             (CAST(tp AS DOUBLE) - 2.0 * (n - 2) / 3.0)
               / sqrt((16.0 * n - 29.0) / 90.0) AS zstat
      FROM t
    )
    SELECT n AS n_days, tp AS n_turning,
           round(e_tp, 6) AS expected_turning,
           round(zstat, 6) + 0.0 AS z,
           round(2.0 * (1.0 - {_phi_sql("abs(zstat)")}), 6) AS p_value,
           CASE WHEN 2.0 * (1.0 - {_phi_sql("abs(zstat)")}) < 0.05
                THEN 'structured' ELSE 'random' END AS verdict
    FROM z
    """,
)
def q452_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point test of randomness (Kendall; Brockwell & Davis
    §1.6) on the daily order-count series: count the strict local
    extrema (points where (y_t - y_{t-1})(y_{t+1} - y_t) < 0 — tied
    neighbours contribute no turning point, disclosed) and compare
    against the i.i.d. expectation 2(n-2)/3 with variance (16n-29)/90.
    Too FEW turning points means positive autocorrelation (trends),
    too MANY means negative autocorrelation (overdifferencing) — the
    five-line randomness screen that complements q367's runs test
    (sign-based) and q443's ACF (moment-based), disclosed kinship.
    Interior triples come from one lag+lead pass over the day rollup;
    Phi runs the shared erfc Horner chain.

    100 TB story: one corpus scan to the O(days) rollup; lag/lead run
    over that bounded frame (allowlisted); the census is one fold."""
    o = _t(spark, sf_dir, "orders").select(
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d")
    )
    days = o.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("y"))
    wd = Window.orderBy("d")
    tri = days.select(
        "y",
        F.lag("y").over(wd).alias("yp"),
        F.lead("y").over(wd).alias("yn"),
    ).filter(F.col("yp").isNotNull() & F.col("yn").isNotNull())
    t = tri.agg(
        (F.count(F.lit(1)) + 2).cast("long").alias("n"),
        F.sum(
            F.when((F.col("y") - F.col("yp")) * (F.col("yn") - F.col("y")) < 0, 1)
            .otherwise(0)
        ).cast("long").alias("tp"),
    )
    e_tp = 2.0 * (F.col("n") - 2) / 3.0
    z = (F.col("tp").cast("double") - e_tp) / F.sqrt(
        (16.0 * F.col("n") - 29.0) / 90.0
    )
    zc = t.select("n", "tp", e_tp.alias("e_tp"), z.alias("zstat"))
    p = 2.0 * (1.0 - _phi_col(F.abs(F.col("zstat"))))
    return zc.select(
        F.col("n").alias("n_days"),
        F.col("tp").alias("n_turning"),
        F.round("e_tp", 6).alias("expected_turning"),
        (F.round("zstat", 6) + F.lit(0.0)).alias("z"),
        F.round(p, 6).alias("p_value"),
        F.when(p < 0.05, "structured").otherwise("random").alias("verdict"),
    )


@query(
    "q453_markov_entropy_rate",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    tc AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
    ),
    rt AS (
      SELECT src, CAST(sum(c) AS BIGINT) AS rc FROM tc GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM tc),
    hr AS (
      SELECT {_FOLD12_SQL.format(x="-(CAST(tc.c AS DOUBLE) / tot.nn) * log2(CAST(tc.c AS DOUBLE) / rt.rc)")} AS h_rate
      FROM tc JOIN rt USING (src) CROSS JOIN tot
    ),
    hm AS (
      SELECT {_FOLD12_SQL.format(x="-(CAST(rt.rc AS DOUBLE) / tot.nn) * log2(CAST(rt.rc AS DOUBLE) / tot.nn)")} AS h_src,
             CAST(count(*) AS BIGINT) AS k
      FROM rt CROSS JOIN tot
    )
    SELECT tot.nn AS n_transitions,
           hm.k AS n_states,
           round(hr.h_rate, 6) AS entropy_rate_bits,
           round(hm.h_src, 6) AS marginal_entropy_bits,
           round(hm.h_src - hr.h_rate, 6) AS predictability_gain_bits,
           round(hr.h_rate / log2(CAST(hm.k AS DOUBLE)), 6) AS entropy_efficiency
    FROM tot CROSS JOIN hr CROSS JOIN hm
    """,
)
def q453_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain (Shannon;
    Cover & Thomas ch. 4): H = -sum_ij (n_ij/N) log2(n_ij / n_i.) over
    the empirical transition counts — bits of surprise per step GIVEN
    the previous state — reported against the marginal (order-0)
    entropy of the source states; the difference is the PREDICTABILITY
    GAIN one step of memory buys, and efficiency normalizes by log2(K)
    over the observed K states. The screen that says whether q317's
    chain (disclosed kinship: identical transition build) carries any
    sequential signal worth a sequence model, or user behavior is
    i.i.d. and a bag-of-events suffices. Transition weights use the
    EMPIRICAL stationary estimate n_i./N (disclosed; exact for the
    observed window). Entropy terms fold at 12-dp DECIMAL so cell
    order cannot move the sums.

    100 TB story: ONE corpus-scale window (user, time) builds
    transition pairs; everything after runs on the K x K count grid —
    the entropy folds touch <= K^2 = 25 rows."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    tc = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).cast("long").alias("c"))
    rt = tc.groupBy("src").agg(F.sum("c").cast("long").alias("rc"))
    tot = tc.agg(F.sum("c").cast("long").alias("nn"))
    hr = (
        tc.join(rt, "src")
        .crossJoin(F.broadcast(tot))
        .agg(
            _fold12(
                -(F.col("c").cast("double") / F.col("nn"))
                * F.log2(F.col("c").cast("double") / F.col("rc"))
            ).alias("h_rate")
        )
    )
    hm = rt.crossJoin(F.broadcast(tot)).agg(
        _fold12(
            -(F.col("rc").cast("double") / F.col("nn"))
            * F.log2(F.col("rc").cast("double") / F.col("nn"))
        ).alias("h_src"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    return (
        tot.crossJoin(F.broadcast(hr))
        .crossJoin(F.broadcast(hm))
        .select(
            F.col("nn").alias("n_transitions"),
            F.col("k").alias("n_states"),
            F.round("h_rate", 6).alias("entropy_rate_bits"),
            F.round("h_src", 6).alias("marginal_entropy_bits"),
            F.round(F.col("h_src") - F.col("h_rate"), 6).alias(
                "predictability_gain_bits"
            ),
            F.round(
                F.col("h_rate") / F.log2(F.col("k").cast("double")), 6
            ).alias("entropy_efficiency"),
        )
    )


@query(
    "q454_bayes_two_proportion",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS arm,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS hit
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    m AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(hit) AS BIGINT) AS k
      FROM s GROUP BY 1
    ),
    w AS (
      SELECT
        CAST(max(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n1,
        CAST(max(CASE WHEN arm = 1 THEN k END) AS BIGINT) AS k1,
        CAST(max(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n0,
        CAST(max(CASE WHEN arm = 0 THEN k END) AS BIGINT) AS k0
      FROM m
    ),
    post AS (
      SELECT n1, k1, n0, k0,
             (k1 + 1.0) / (n1 + 2.0) AS m1,
             (k0 + 1.0) / (n0 + 2.0) AS m0,
             (k1 + 1.0) * (n1 - k1 + 1.0)
               / ((n1 + 2.0) * (n1 + 2.0) * (n1 + 3.0)) AS v1,
             (k0 + 1.0) * (n0 - k0 + 1.0)
               / ((n0 + 2.0) * (n0 + 2.0) * (n0 + 3.0)) AS v0
      FROM w
    ),
    z AS (
      SELECT n1, n0, m1, m0, v1, v0,
             (m1 - m0) / sqrt(v1 + v0) AS zstat
      FROM post
    )
    SELECT n1 AS n_building, n0 AS n_other,
           round(m1, 6) AS post_rate_building,
           round(m0, 6) AS post_rate_other,
           round({phi_z}, 6) AS prob_building_higher,
           round(m1 - m0 - 1.96 * sqrt(v1 + v0), 6) + 0.0 AS lift_ci_low,
           round(m1 - m0 + 1.96 * sqrt(v1 + v0), 6) + 0.0 AS lift_ci_high,
           CASE WHEN {phi_z} > 0.975 OR {phi_z} < 0.025
                THEN 'decided' ELSE 'undecided' END AS verdict
    FROM z
    """.replace("{phi_z}", _phi_sql("zstat")),
)
def q454_bayes_two_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian two-proportion comparison (Beta-Binomial with uniform
    Beta(1,1) priors) of the URGENT-priority rate between
    BUILDING-segment customers and the rest (the q438 fixture,
    disclosed kinship): each arm's posterior is Beta(k+1, n-k+1) with
    mean (k+1)/(n+2) and variance ab/((a+b)^2(a+b+1)); the posterior
    probability P(rate_B > rate_other) and the 95% credible interval
    of the lift use the NORMAL approximation of the Beta difference
    (disclosed — exact only as n grows; at corpus scale the skew
    correction is below rounding). The Bayesian twin of a frequentist
    two-proportion z-test: it answers "how sure are we B is higher"
    directly instead of a p-value. Counts are exact BIGINTs from one
    grouped aggregate; Phi runs the shared erfc Horner chain.

    100 TB story: ONE map-side-combining aggregate to two (n, k) rows;
    everything after is closed-form arithmetic on one row."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("arm"),
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("hit"),
    )
    m = (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("hit").cast("long").alias("k"),
        )
    )
    w = m.agg(
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("k"))).alias("k1"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("k"))).alias("k0"),
    )
    m1 = (F.col("k1") + 1.0) / (F.col("n1") + 2.0)
    m0 = (F.col("k0") + 1.0) / (F.col("n0") + 2.0)
    v1 = (F.col("k1") + 1.0) * (F.col("n1") - F.col("k1") + 1.0) / (
        (F.col("n1") + 2.0) * (F.col("n1") + 2.0) * (F.col("n1") + 3.0)
    )
    v0 = (F.col("k0") + 1.0) * (F.col("n0") - F.col("k0") + 1.0) / (
        (F.col("n0") + 2.0) * (F.col("n0") + 2.0) * (F.col("n0") + 3.0)
    )
    z = w.select(
        "n1", "n0",
        m1.alias("m1"), m0.alias("m0"), v1.alias("v1"), v0.alias("v0"),
        ((m1 - m0) / F.sqrt(v1 + v0)).alias("zstat"),
    )
    phi = _phi_col(F.col("zstat"))
    return z.select(
        F.col("n1").alias("n_building"),
        F.col("n0").alias("n_other"),
        F.round("m1", 6).alias("post_rate_building"),
        F.round("m0", 6).alias("post_rate_other"),
        F.round(phi, 6).alias("prob_building_higher"),
        (F.round(F.col("m1") - F.col("m0") - 1.96 * F.sqrt(F.col("v1") + F.col("v0")), 6) + F.lit(0.0)).alias("lift_ci_low"),
        (F.round(F.col("m1") - F.col("m0") + 1.96 * F.sqrt(F.col("v1") + F.col("v0")), 6) + F.lit(0.0)).alias("lift_ci_high"),
        F.when((phi > 0.975) | (phi < 0.025), "decided")
        .otherwise("undecided")
        .alias("verdict"),
    )


@query(
    "q455_bartlett_variances",
    oracle="""
    WITH s AS (
      SELECT l_returnflag AS flag, CAST(round(l_quantity) AS BIGINT) AS v
      FROM lineitem
    ),
    m AS (
      SELECT flag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS s1,
             CAST(sum(v * v) AS BIGINT) AS s2
      FROM s GROUP BY 1
    ),
    vv AS (
      SELECT flag, n,
             CAST(CAST(n AS DECIMAL(19,0)) * CAST(s2 AS DECIMAL(19,0))
                  - CAST(s1 AS DECIMAL(19,0)) * CAST(s1 AS DECIMAL(19,0)) AS DOUBLE)
               / (CAST(n AS DOUBLE) * (n - 1.0)) AS var_i
      FROM m
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nn,
             CAST(round(sum(CAST(round((n - 1.0) * var_i, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS ssw,
             CAST(round(sum(CAST(round((n - 1.0) * ln(var_i), 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS slnv,
             CAST(round(sum(CAST(round(1.0 / (n - 1.0), 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS sinv
      FROM vv
    ),
    t AS (
      SELECT k, nn,
             ((nn - k) * ln(ssw / (nn - k)) - slnv)
               / (1.0 + (sinv - 1.0 / (nn - k)) / (3.0 * (k - 1.0))) AS tstat
      FROM agg
    )
    SELECT nn AS n_total, k AS n_groups,
           round(tstat, 6) + 0.0 AS bartlett_t,
           round(exp(-tstat / 2.0), 6) AS p_value,
           CASE WHEN exp(-tstat / 2.0) < 0.05
                THEN 'heteroscedastic' ELSE 'homoscedastic' END AS verdict
    FROM t
    """,
)
def q455_bartlett_variances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for homogeneity of variances (Bartlett 1937) of
    line quantity across the three return flags: T = ((N-k) ln(Sp^2)
    - sum (n_i-1) ln(S_i^2)) / C with the standard small-sample
    correction C — the PARAMETRIC sibling of q431's Brown-Forsythe
    (disclosed kinship: BF is robust to non-normality, Bartlett is
    more powerful when q423's normality read holds), the gate before
    pooling variances in any q438-style effect size. With k = 3 the
    null is chi-square(2), whose survival function is EXACTLY
    exp(-T/2) — no quantile approximation at all. Group variances come
    from exact BIGINT moments; the 3-row folds run at 12-dp DECIMAL.

    100 TB story: ONE map-side-combining aggregate to k = 3 moment
    rows; everything after is arithmetic on a 3-row frame."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round("l_quantity").cast("long").alias("v"),
    )
    m = li.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s1"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("s2"),
    )

    def _d19(c):
        return F.col(c).cast("decimal(19,0)")

    vv = m.select(
        "flag",
        "n",
        (
            (_d19("n") * _d19("s2") - _d19("s1") * _d19("s1")).cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1.0))
        ).alias("var_i"),
    )
    agg = vv.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        _fold12((F.col("n") - 1.0) * F.col("var_i")).alias("ssw"),
        _fold12((F.col("n") - 1.0) * F.log("var_i")).alias("slnv"),
        _fold12(1.0 / (F.col("n") - 1.0)).alias("sinv"),
    )
    tstat = (
        (F.col("nn") - F.col("k")) * F.log(F.col("ssw") / (F.col("nn") - F.col("k")))
        - F.col("slnv")
    ) / (
        1.0
        + (F.col("sinv") - 1.0 / (F.col("nn") - F.col("k")))
        / (3.0 * (F.col("k") - 1.0))
    )
    t = agg.select("k", "nn", tstat.alias("tstat"))
    p = F.exp(-F.col("tstat") / 2.0)
    return t.select(
        F.col("nn").alias("n_total"),
        F.col("k").alias("n_groups"),
        (F.round("tstat", 6) + F.lit(0.0)).alias("bartlett_t"),
        F.round(p, 6).alias("p_value"),
        F.when(p < 0.05, "heteroscedastic").otherwise("homoscedastic").alias("verdict"),
    )


@query(
    "q456_palma_hoover",
    oracle="""
    WITH c AS (
      SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS v FROM customer
    ),
    grid AS (
      SELECT v, CAST(count(*) AS BIGINT) AS c FROM c GROUP BY 1
    ),
    cum AS (
      SELECT v, c,
             CAST(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc,
             CAST(sum(c) OVER () AS BIGINT) AS n,
             CAST(sum(CAST(v AS DECIMAL(19,0)) * c) OVER () AS DECIMAL(38,0)) AS s
      FROM grid
    ),
    marks AS (
      SELECT v, c, cc, n, s,
             (4 * n) // 10 AS k40,
             (9 * n) // 10 AS k90,
             CAST(s AS DOUBLE) / n AS mean_c
      FROM cum
    ),
    amounts AS (
      SELECT max(n) AS n, max(s) AS s, max(k40) AS k40,
             CAST(sum(CASE WHEN cc <= k40 THEN CAST(v AS DECIMAL(19,0)) * c
                           WHEN cc - c < k40 THEN CAST(v AS DECIMAL(19,0)) * (k40 - (cc - c))
                           ELSE 0 END) AS DECIMAL(38,0)) AS a40,
             CAST(sum(CASE WHEN cc <= k90 THEN CAST(v AS DECIMAL(19,0)) * c
                           WHEN cc - c < k90 THEN CAST(v AS DECIMAL(19,0)) * (k90 - (cc - c))
                           ELSE 0 END) AS DECIMAL(38,0)) AS a90,
             CAST(round(sum(CAST(round(c * abs(v - mean_c), 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS sad
      FROM marks
    )
    SELECT n AS n_customers,
           round(CAST(a40 AS DOUBLE) / CAST(s AS DOUBLE), 6) AS bottom40_share,
           round(CAST(s - a90 AS DOUBLE) / CAST(s AS DOUBLE), 6) AS top10_share,
           round(CAST(s - a90 AS DOUBLE) / CAST(a40 AS DOUBLE), 6) AS palma_ratio,
           round(sad / (2.0 * CAST(s AS DOUBLE)), 6) AS hoover_index
    FROM amounts
    """,
)
def q456_palma_hoover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Palma ratio and Hoover (Robin Hood) index of customer account
    balances — the inequality measures that complement q410's Gini
    and the Theil/Atkinson family (disclosed kinship): Palma = share
    of the top 10% over the share of the bottom 40% (the middle 50%
    is famously stable, so Palma isolates the tails Gini blurs);
    Hoover = half the mean absolute deviation from the mean over the
    total — the fraction of all balance that would have to move to
    equalize. Boundary customers at the 40%/90% rank marks are split
    FRACTIONALLY by count within the boundary value (exact integer
    arithmetic on the value support — no interpolation floats,
    disclosed); negative balances participate as-is (shares are of
    the NET total, disclosed). The absolute-deviation fold runs at
    12-dp DECIMAL.

    100 TB story: ONE map-side-combining aggregate to the cent-value
    support (range-bounded, the q82 shape); cumulative windows and
    the boundary split run over that support (allowlisted)."""
    c = _t(spark, sf_dir, "customer").select(
        F.round(F.col("c_acctbal") * 100).cast("long").alias("v")
    )
    grid = c.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = grid.select(
        "v",
        "c",
        F.sum("c").over(wc).cast("long").alias("cc"),
        F.sum("c").over(wall).cast("long").alias("n"),
        F.sum(F.col("v").cast("decimal(19,0)") * F.col("c")).over(wall)
        .cast("decimal(38,0)").alias("s"),
    )
    marks = cum.select(
        "v", "c", "cc", "n", "s",
        F.expr("(4 * n) div 10").alias("k40"),
        F.expr("(9 * n) div 10").alias("k90"),
        (F.col("s").cast("double") / F.col("n")).alias("mean_c"),
    )

    def _amount(kcol):
        v19 = F.col("v").cast("decimal(19,0)")
        return F.sum(
            F.when(F.col("cc") <= F.col(kcol), v19 * F.col("c"))
            .when(F.col("cc") - F.col("c") < F.col(kcol), v19 * (F.col(kcol) - (F.col("cc") - F.col("c"))))
            .otherwise(F.lit(0).cast("decimal(19,0)"))
        ).cast("decimal(38,0)")

    amounts = marks.agg(
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        _amount("k40").alias("a40"),
        _amount("k90").alias("a90"),
        _fold12(F.col("c") * F.abs(F.col("v") - F.col("mean_c"))).alias("sad"),
    )
    sD = F.col("s").cast("double")
    top = (F.col("s") - F.col("a90")).cast("double")
    return amounts.select(
        F.col("n").alias("n_customers"),
        F.round(F.col("a40").cast("double") / sD, 6).alias("bottom40_share"),
        F.round(top / sD, 6).alias("top10_share"),
        F.round(top / F.col("a40").cast("double"), 6).alias("palma_ratio"),
        F.round(F.col("sad") / (2.0 * sD), 6).alias("hoover_index"),
    )


# Gumbel constants quantized once in Python, embedded in BOTH engines
# (neither engine's libm ln/sqrt chain is trusted across engines for
# literal-argument constants).
_G_SQRT6_PI = 0.779696801233676   # sqrt(6)/pi
_G_EULER = 0.5772156649015329    # Euler-Mascheroni gamma
_G_RL12 = 2.441716398881459    # -ln(-ln(1 - 1/12))
_G_RL120 = 4.783310535761862    # -ln(-ln(1 - 1/120))


@query(
    "q457_gumbel_block_maxima",
    oracle="""
    WITH o AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
             CAST(round(o_totalprice * 100) AS BIGINT) AS yc
      FROM orders
    ),
    days AS (
      SELECT d, CAST(sum(yc) AS BIGINT) AS y FROM o GROUP BY 1
    ),
    blocks AS (
      SELECT d // 30 AS b, CAST(max(y) AS BIGINT) AS mx
      FROM days GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(mx AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s1,
             CAST(sum(CAST(mx AS DECIMAL(19,0)) * CAST(mx AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s2
      FROM blocks
    ),
    fit AS (
      SELECT n,
             CAST(s1 AS DOUBLE) / n AS mean_c,
             sqrt(CAST(CAST(n AS DECIMAL(19,0)) * s2 - s1 * s1 AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (n - 1.0))) * {s6pi} AS beta_c
      FROM m
    )
    SELECT n AS n_blocks,
           round((mean_c - {eul} * beta_c) / 100.0, 2) AS gumbel_mu,
           round(beta_c / 100.0, 2) AS gumbel_beta,
           round((mean_c - {eul} * beta_c + beta_c * {rl12}) / 100.0, 2) AS return_level_1yr,
           round((mean_c - {eul} * beta_c + beta_c * {rl120}) / 100.0, 2) AS return_level_10yr
    FROM fit
    """.replace("{s6pi}", repr(_G_SQRT6_PI)).replace("{eul}", repr(_G_EULER))
       .replace("{rl12}", repr(_G_RL12)).replace("{rl120}", repr(_G_RL120)),
)
def q457_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit on 30-day block maxima of daily order
    revenue (Gumbel 1958; the method-of-moments fit: beta =
    sd * sqrt(6)/pi, mu = mean - gamma*beta) with 1-year (T = 12
    blocks) and 10-year (T = 120) RETURN LEVELS mu - beta *
    ln(-ln(1 - 1/T)) — the capacity-planning question "what daily
    revenue peak should we provision for once a decade" that no mean
    or quantile of the raw series answers (q448's outlier test flags
    the past; this extrapolates the tail law). Fixed 30-day blocks
    from the epoch-day index avoid calendar-month parsing differences
    (disclosed). All four transcendental constants (sqrt(6)/pi,
    Euler's gamma, the two return-level logs) are quantized once in
    Python and embedded as IDENTICAL literals in both engines; block
    maxima moments are exact DECIMAL.

    100 TB story: one corpus scan to the O(days) rollup, one grouped
    max to the O(blocks) frame, ONE moment fold; closed form after."""
    o = _t(spark, sf_dir, "orders").select(
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("yc"),
    )
    days = o.groupBy("d").agg(F.sum("yc").cast("long").alias("y"))
    blocks = days.groupBy(F.expr("d div 30").alias("b")).agg(
        F.max("y").cast("long").alias("mx")
    )

    def _d19(c):
        return F.col(c).cast("decimal(19,0)")

    m = blocks.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(_d19("mx")).cast("decimal(38,0)").alias("s1"),
        F.sum(_d19("mx") * _d19("mx")).cast("decimal(38,0)").alias("s2"),
    )
    mean_c = F.col("s1").cast("double") / F.col("n")
    beta_c = (
        F.sqrt(
            (_d19("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1.0))
        )
        * _G_SQRT6_PI
    )
    fit = m.select("n", mean_c.alias("mean_c"), beta_c.alias("beta_c"))
    mu = F.col("mean_c") - _G_EULER * F.col("beta_c")
    return fit.select(
        F.col("n").alias("n_blocks"),
        F.round(mu / 100.0, 2).alias("gumbel_mu"),
        F.round(F.col("beta_c") / 100.0, 2).alias("gumbel_beta"),
        F.round((mu + F.col("beta_c") * _G_RL12) / 100.0, 2).alias("return_level_1yr"),
        F.round((mu + F.col("beta_c") * _G_RL120) / 100.0, 2).alias("return_level_10yr"),
    )


@query(
    "q458_sign_wilcoxon",
    oracle="""
    WITH s AS (
      SELECT CAST(n_chars AS BIGINT)
             - 5 * CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS d
      FROM documents WHERE trim(text) <> ''
    ),
    nz AS (SELECT d, abs(d) AS ad FROM s WHERE d <> 0),
    grid AS (
      SELECT ad, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cpos
      FROM nz GROUP BY 1
    ),
    cum AS (
      SELECT ad, c, cpos,
             CAST(sum(c) OVER (ORDER BY ad
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM grid
    ),
    w AS (
      SELECT max(n) AS n,
             CAST(sum(cpos) AS BIGINT) AS npos,
             CAST(round(sum(CAST(round(cpos * ((cc - c) + (c + 1.0) / 2.0), 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS wplus,
             CAST(sum(CAST(c AS DECIMAL(19,0)) * (c - 1) * (c + 1)) AS DECIMAL(38,0)) AS ties
      FROM cum
    ),
    z AS (
      SELECT n, npos, wplus,
             (2.0 * npos - n) / sqrt(CAST(n AS DOUBLE)) AS z_sign,
             (wplus - CAST(n AS DOUBLE) * (n + 1.0) / 4.0)
               / sqrt(CAST(n AS DOUBLE) * (n + 1.0) * (2.0 * n + 1.0) / 24.0
                      - CAST(ties AS DOUBLE) / 48.0) AS z_wil
      FROM w
    )
    SELECT n AS n_nonzero, npos AS n_positive,
           round(z_sign, 6) + 0.0 AS sign_z,
           round(2.0 * (1.0 - {phi_s}), 6) AS sign_p,
           round(wplus, 6) AS w_plus,
           round(z_wil, 6) + 0.0 AS wilcoxon_z,
           round(2.0 * (1.0 - {phi_w}), 6) AS wilcoxon_p,
           CASE WHEN 2.0 * (1.0 - {phi_w}) < 0.05
                THEN 'shifted' ELSE 'centered' END AS verdict
    FROM z
    """.replace("{phi_s}", _phi_sql("abs(z_sign)"))
       .replace("{phi_w}", _phi_sql("abs(z_wil)")),
)
def q458_sign_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test and Wilcoxon signed-rank test (Wilcoxon 1945)
    of whether document character count exceeds 5x the whitespace
    token count (the "5 chars per token" rule of thumb every token
    budget is priced with — a systematic shift means the cheap proxy
    under- or over-bills the corpus; q427's agreement audit is the
    continuous twin, disclosed kinship). Zero differences drop
    (standard, disclosed). The signed-rank W+ never ranks raw rows:
    differences collapse by |d| VALUE, midranks come from exact
    cumulative counts over that support ((cc - c) + (c+1)/2 — exact
    half-integers folded at 12-dp DECIMAL), and the normal
    approximation carries the standard tie correction
    sum(t^3 - t)/48 in exact DECIMAL. Phi runs the shared erfc chain.

    100 TB story: one corpus scan to the |d| value support
    (char-length-domain-bounded); the cum window runs over that
    support (allowlisted); W+ and the tie term are one fold."""
    from phoebe_spark.operators import text as text_ops

    d0 = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    nz = d0.select(
        (
            F.col("n_chars").cast("long")
            - 5 * F.size(text_ops.tokens(F.col("text"))).cast("long")
        ).alias("d")
    ).filter(F.col("d") != 0)
    grid = nz.groupBy(F.abs("d").alias("ad")).agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("long").alias("cpos"),
    )
    cum = grid.select(
        "ad",
        "c",
        "cpos",
        F.sum("c").over(
            Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long").alias("cc"),
        F.sum("c").over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).cast("long").alias("n"),
    )
    w = cum.agg(
        F.max("n").alias("n"),
        F.sum("cpos").cast("long").alias("npos"),
        _fold12(
            F.col("cpos") * ((F.col("cc") - F.col("c")) + (F.col("c") + 1.0) / 2.0)
        ).alias("wplus"),
        F.sum(
            F.col("c").cast("decimal(19,0)") * (F.col("c") - 1) * (F.col("c") + 1)
        ).cast("decimal(38,0)").alias("ties"),
    )
    z_sign = (2.0 * F.col("npos") - F.col("n")) / F.sqrt(F.col("n").cast("double"))
    z_wil = (
        F.col("wplus") - F.col("n").cast("double") * (F.col("n") + 1.0) / 4.0
    ) / F.sqrt(
        F.col("n").cast("double") * (F.col("n") + 1.0) * (2.0 * F.col("n") + 1.0) / 24.0
        - F.col("ties").cast("double") / 48.0
    )
    z = w.select(
        "n", "npos", "wplus", z_sign.alias("z_sign"), z_wil.alias("z_wil")
    )
    p_s = 2.0 * (1.0 - _phi_col(F.abs(F.col("z_sign"))))
    p_w = 2.0 * (1.0 - _phi_col(F.abs(F.col("z_wil"))))
    return z.select(
        F.col("n").alias("n_nonzero"),
        F.col("npos").alias("n_positive"),
        (F.round("z_sign", 6) + F.lit(0.0)).alias("sign_z"),
        F.round(p_s, 6).alias("sign_p"),
        F.round("wplus", 6).alias("w_plus"),
        (F.round("z_wil", 6) + F.lit(0.0)).alias("wilcoxon_z"),
        F.round(p_w, 6).alias("wilcoxon_p"),
        F.when(p_w < 0.05, "shifted").otherwise("centered").alias("verdict"),
    )


@query(
    "q459_cooks_distance",
    oracle="""
    WITH o AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d
      FROM orders
    ),
    days AS (SELECT d, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(d) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(d AS DECIMAL(19,0)) * d) AS DECIMAL(38,0)) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS syy,
             CAST(sum(CAST(d AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS sxy
      FROM days
    ),
    c AS (
      SELECT n,
             CAST(sx AS DOUBLE) / n AS xbar,
             CAST(CAST(n AS DECIMAL(19,0)) * sxx - CAST(sx AS DECIMAL(19,0)) * sx AS DOUBLE) / n AS ssx,
             CAST(CAST(n AS DECIMAL(19,0)) * sxy - CAST(sx AS DECIMAL(19,0)) * sy AS DOUBLE)
               / CAST(CAST(n AS DECIMAL(19,0)) * sxx - CAST(sx AS DECIMAL(19,0)) * sx AS DOUBLE) AS b,
             (CAST(CAST(n AS DECIMAL(19,0)) * syy - CAST(sy AS DECIMAL(19,0)) * sy AS DOUBLE)
              - CAST(CAST(n AS DECIMAL(19,0)) * sxy - CAST(sx AS DECIMAL(19,0)) * sy AS DOUBLE)
                * CAST(CAST(n AS DECIMAL(19,0)) * sxy - CAST(sx AS DECIMAL(19,0)) * sy AS DOUBLE)
                / CAST(CAST(n AS DECIMAL(19,0)) * sxx - CAST(sx AS DECIMAL(19,0)) * sx AS DOUBLE))
               / (CAST(n AS DOUBLE) * (n - 2.0)) AS s2,
             (CAST(sy AS DOUBLE)
              - CAST(CAST(n AS DECIMAL(19,0)) * sxy - CAST(sx AS DECIMAL(19,0)) * sy AS DOUBLE)
                / CAST(CAST(n AS DECIMAL(19,0)) * sxx - CAST(sx AS DECIMAL(19,0)) * sx AS DOUBLE)
                * sx) / n AS a
      FROM m
    ),
    dd AS (
      SELECT days.d, days.y, c.n,
             (days.y - c.a - c.b * days.d) AS e,
             1.0 / c.n + (days.d - c.xbar) * (days.d - c.xbar) / c.ssx AS h,
             c.s2
      FROM days CROSS JOIN c
    ),
    cook AS (
      SELECT d, y, n,
             e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)) AS cd
      FROM dd
    )
    SELECT max(n) AS n_days,
           CAST(sum(CASE WHEN cd > 4.0 / n THEN 1 ELSE 0 END) AS BIGINT) AS n_influential,
           round(max(cd), 6) AS max_cooks_d,
           arg_max(d, cd) AS top_day,
           CASE WHEN max(cd) > 1.0 THEN 'dominating_point' ELSE 'stable_fit' END AS verdict
    FROM cook
    """,
)
def q459_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance influence census (Cook 1977) for the simple
    regression of daily order count on the day index: D_i = e_i^2 h_i
    / (2 s^2 (1 - h_i)^2) with the closed-form leverage h_i = 1/n +
    (x_i - xbar)^2 / Sxx — the regression-diagnostics companion to
    q413's VIF and q432's trend read (disclosed kinship): it answers
    "is the fitted trend REAL or one weird day's doing" by counting
    days over the 4/n rule-of-thumb threshold and flagging any point
    with D > 1 (both literals disclosed). Everything derives from ONE
    exact DECIMAL moment row (slope, intercept, s^2, leverage) —
    per-day D is closed-form arithmetic against that broadcast row;
    the census is one aggregate with max_by for the worst day.

    100 TB story: one corpus scan to the O(days) rollup, one moment
    fold, one broadcast; no window, no sort, no second pass."""
    o = _t(spark, sf_dir, "orders").select(
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d")
    )
    days = (
        o.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("y"))
        .localCheckpoint(eager=True)
    )

    def _d19(c):
        return F.col(c).cast("decimal(19,0)")

    m = days.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(_d19("d") * F.col("d")).cast("decimal(38,0)").alias("sxx"),
        F.sum(_d19("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(_d19("d") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    nsxx = (_d19("n") * F.col("sxx") - _d19("sx") * F.col("sx")).cast("double")
    nsxy = (_d19("n") * F.col("sxy") - _d19("sx") * F.col("sy")).cast("double")
    nsyy = (_d19("n") * F.col("syy") - _d19("sy") * F.col("sy")).cast("double")
    b = nsxy / nsxx
    c = m.select(
        "n",
        (F.col("sx").cast("double") / F.col("n")).alias("xbar"),
        (nsxx / F.col("n")).alias("ssx"),
        b.alias("b"),
        ((nsyy - nsxy * nsxy / nsxx) / (F.col("n").cast("double") * (F.col("n") - 2.0))).alias("s2"),
        ((F.col("sy").cast("double") - b * F.col("sx")) / F.col("n")).alias("a"),
    )
    dd = days.crossJoin(F.broadcast(c)).select(
        "d",
        "y",
        "n",
        (F.col("y") - F.col("a") - F.col("b") * F.col("d")).alias("e"),
        (
            1.0 / F.col("n")
            + (F.col("d") - F.col("xbar")) * (F.col("d") - F.col("xbar")) / F.col("ssx")
        ).alias("h"),
        "s2",
    )
    cook = dd.select(
        "d",
        "n",
        (
            F.col("e") * F.col("e") * F.col("h")
            / (2.0 * F.col("s2") * (1.0 - F.col("h")) * (1.0 - F.col("h")))
        ).alias("cd"),
    )
    return cook.agg(
        F.max("n").alias("n_days"),
        F.sum(F.when(F.col("cd") > 4.0 / F.col("n"), 1).otherwise(0))
        .cast("long")
        .alias("n_influential"),
        F.round(F.max("cd"), 6).alias("max_cooks_d"),
        F.expr("max_by(d, cd)").alias("top_day"),
        F.when(F.max("cd") > 1.0, "dominating_point")
        .otherwise("stable_fit")
        .alias("verdict"),
    )


@query(
    "q460_forecastability",
    oracle="""
    WITH o AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d
      FROM orders
    ),
    days AS (SELECT d, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1),
    tr AS (
      SELECT d, y, d % 7 AS dow,
             CASE WHEN count(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) = 7
                  THEN CAST(sum(y) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE) / 7.0
             END AS trend
      FROM days
    ),
    det AS (
      SELECT dow, y - trend AS dt FROM tr WHERE trend IS NOT NULL
    ),
    seas AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS n_dow,
             CAST(round(sum(CAST(round(dt, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS s_dt
      FROM det GROUP BY 1
    ),
    smean AS (
      SELECT dow, s_dt / n_dow AS s_raw,
             CAST(round(sum(CAST(round(s_dt / n_dow, 12) AS DECIMAL(38,12))) OVER (), 12) AS DOUBLE) / 7.0 AS s_center
      FROM seas
    ),
    sadj AS (SELECT dow, s_raw - s_center AS seasonal FROM smean),
    comp AS (
      SELECT t.y - t.trend - a.seasonal AS r,
             t.y - t.trend AS sr,
             t.y - a.seasonal AS tr2
      FROM tr t JOIN sadj a ON a.dow = t.dow
      WHERE t.trend IS NOT NULL
    ),
    v AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(round(sum(CAST(round(r, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS s_r,
             CAST(round(sum(CAST(round(r * r, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS s_rr,
             CAST(round(sum(CAST(round(sr, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS s_s,
             CAST(round(sum(CAST(round(sr * sr, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS s_ss,
             CAST(round(sum(CAST(round(tr2, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS s_t,
             CAST(round(sum(CAST(round(tr2 * tr2, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS s_tt
      FROM comp
    ),
    f AS (
      SELECT n,
             (s_rr / n - (s_r / n) * (s_r / n)) AS var_r,
             (s_ss / n - (s_s / n) * (s_s / n)) AS var_sr,
             (s_tt / n - (s_t / n) * (s_t / n)) AS var_tr
      FROM v
    )
    SELECT n AS n_days,
           round(greatest(0.0, 1.0 - var_r / var_sr), 6) AS seasonal_strength,
           round(greatest(0.0, 1.0 - var_r / var_tr), 6) AS trend_strength,
           CASE WHEN greatest(0.0, 1.0 - var_r / var_sr) >= 0.6
                 AND greatest(0.0, 1.0 - var_r / var_sr)
                     >= greatest(0.0, 1.0 - var_r / var_tr) THEN 'seasonal'
                WHEN greatest(0.0, 1.0 - var_r / var_tr) >= 0.6 THEN 'trending'
                ELSE 'noisy' END AS verdict
    FROM f
    """,
)
def q460_forecastability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal and trend STRENGTH of the daily order-count series
    (Wang, Smith & Hyndman 2006; the STL-features measures behind
    every "is this series worth a seasonal model" triage): F_seasonal
    = max(0, 1 - Var(remainder)/Var(detrended)) and F_trend = max(0,
    1 - Var(remainder)/Var(deseasonalized)), computed on the SAME
    classical decomposition q444 reports (identical trend = centered
    7-day MA over full windows, identical recentered day-of-week
    seasonal — disclosed kinship), with the 0.6 triage threshold
    disclosed. Near-zero strengths say the m1 forecaster should see
    differenced noise; high seasonal strength says the weekly cadence
    carries signal. All component folds run at 12-dp DECIMAL;
    variances are population form E[x^2] - E[x]^2 (disclosed).

    100 TB story: one corpus scan to the O(days) rollup; the moving
    average and the strength folds run over that bounded frame
    (allowlisted, the q444 shape); seasonal arithmetic is 7 rows."""
    o = _t(spark, sf_dir, "orders").select(
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d")
    )
    days = o.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("y"))
    wma = Window.orderBy("d").rowsBetween(-3, 3)
    tr = days.select(
        "d",
        "y",
        (F.col("d") % 7).alias("dow"),
        F.when(
            F.count(F.lit(1)).over(wma) == 7,
            F.sum("y").over(wma).cast("double") / 7.0,
        ).alias("trend"),
    ).localCheckpoint(eager=True)
    det = tr.filter(F.col("trend").isNotNull()).select(
        "dow", (F.col("y") - F.col("trend")).alias("dt")
    )
    seas = det.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_dow"),
        _fold12(F.col("dt")).alias("s_dt"),
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    s_raw = F.col("s_dt") / F.col("n_dow")
    s_center = (
        F.round(
            F.sum(F.round(s_raw, 12).cast("decimal(38,12)")).over(wall), 12
        ).cast("double")
        / 7.0
    )
    sadj = seas.select("dow", (s_raw - s_center).alias("seasonal"))
    comp = (
        tr.filter(F.col("trend").isNotNull())
        .join(F.broadcast(sadj), "dow")
        .select(
            (F.col("y") - F.col("trend") - F.col("seasonal")).alias("r"),
            (F.col("y") - F.col("trend")).alias("sr"),
            (F.col("y") - F.col("seasonal")).alias("tr2"),
        )
    )
    v = comp.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _fold12(F.col("r")).alias("s_r"),
        _fold12(F.col("r") * F.col("r")).alias("s_rr"),
        _fold12(F.col("sr")).alias("s_s"),
        _fold12(F.col("sr") * F.col("sr")).alias("s_ss"),
        _fold12(F.col("tr2")).alias("s_t"),
        _fold12(F.col("tr2") * F.col("tr2")).alias("s_tt"),
    )
    var_r = F.col("s_rr") / F.col("n") - (F.col("s_r") / F.col("n")) * (F.col("s_r") / F.col("n"))
    var_sr = F.col("s_ss") / F.col("n") - (F.col("s_s") / F.col("n")) * (F.col("s_s") / F.col("n"))
    var_tr = F.col("s_tt") / F.col("n") - (F.col("s_t") / F.col("n")) * (F.col("s_t") / F.col("n"))
    f = v.select(
        "n",
        F.greatest(F.lit(0.0), 1.0 - var_r / var_sr).alias("fs"),
        F.greatest(F.lit(0.0), 1.0 - var_r / var_tr).alias("ft"),
    )
    return f.select(
        F.col("n").alias("n_days"),
        F.round("fs", 6).alias("seasonal_strength"),
        F.round("ft", 6).alias("trend_strength"),
        F.when((F.col("fs") >= 0.6) & (F.col("fs") >= F.col("ft")), "seasonal")
        .when(F.col("ft") >= 0.6, "trending")
        .otherwise("noisy")
        .alias("verdict"),
    )


@query(
    "q461_breusch_pagan",
    oracle="""
    WITH o AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d
      FROM orders
    ),
    days0 AS (SELECT d, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1),
    b0 AS (SELECT min(d) AS dmin FROM days0),
    days AS (
      SELECT d - b0.dmin AS x, y FROM days0 CROSS JOIN b0
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS sxx,
             CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS sxy
      FROM days
    ),
    c AS (
      SELECT n, sx, sxx,
             CAST(CAST(n AS DECIMAL(19,0)) * sxy - CAST(sx AS DECIMAL(19,0)) * sy AS DOUBLE)
               / CAST(CAST(n AS DECIMAL(19,0)) * sxx - CAST(sx AS DECIMAL(19,0)) * sx AS DOUBLE) AS b,
             (CAST(sy AS DOUBLE)
              - CAST(CAST(n AS DECIMAL(19,0)) * sxy - CAST(sx AS DECIMAL(19,0)) * sy AS DOUBLE)
                / CAST(CAST(n AS DECIMAL(19,0)) * sxx - CAST(sx AS DECIMAL(19,0)) * sx AS DOUBLE)
                * sx) / n AS a
      FROM m
    ),
    g AS (
      SELECT days.x,
             (days.y - c.a - c.b * days.x) * (days.y - c.a - c.b * days.x) AS gg,
             c.n, c.sx, c.sxx
      FROM days CROSS JOIN c
    ),
    f AS (
      SELECT max(n) AS n, max(sx) AS sx, max(sxx) AS sxx,
             CAST(round(sum(CAST(round(gg, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS sg,
             CAST(round(sum(CAST(round(gg * x, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS sgx,
             CAST(round(sum(CAST(round(gg * gg, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS sgg
      FROM g
    ),
    lm AS (
      SELECT n,
             CAST(n AS DOUBLE)
               * ((n * sgx - sg * sx) * (n * sgx - sg * sx))
               / ((CAST(CAST(n AS DECIMAL(19,0)) * sxx - CAST(sx AS DECIMAL(19,0)) * sx AS DOUBLE))
                  * (n * sgg - sg * sg)) AS lm_stat
      FROM f
    )
    SELECT n AS n_days,
           round(lm_stat, 6) AS lm_stat,
           round(2.0 * (1.0 - {phi}), 6) AS p_value,
           CASE WHEN 2.0 * (1.0 - {phi}) < 0.05
                THEN 'heteroscedastic' ELSE 'homoscedastic' END AS verdict
    FROM lm
    """.replace("{phi}", _phi_sql("sqrt(lm_stat)")),
)
def q461_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroscedasticity test (Breusch & Pagan 1979;
    the Koenker studentized LM form n*R^2, disclosed) on the daily
    order-count trend regression: do squared residuals grow with the
    day index? A significant LM means q459's s^2 and every OLS
    standard error on this series (q432's t included, disclosed
    kinship) is mis-stated and needs robust errors. Two exact stages:
    the trend fit comes from exact DECIMAL moments (x re-based to
    d - min(d) so fourth-order products stay in range, disclosed);
    squared residuals g are closed-form doubles against that broadcast
    row, and the auxiliary regression's moments (sum g, sum g*x,
    sum g^2) fold at 12-dp DECIMAL so day order cannot move them.
    With one regressor the null is chi-square(1), whose survival
    function is EXACTLY 2(1 - Phi(sqrt(LM))) on the shared erfc chain.

    100 TB story: one corpus scan to the O(days) rollup, two moment
    folds over it, one broadcast 1-row join between them — no window,
    no sort."""
    o = _t(spark, sf_dir, "orders").select(
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d")
    )
    days0 = (
        o.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("y"))
        .localCheckpoint(eager=True)
    )
    b0 = days0.agg(F.min("d").alias("dmin"))
    days = days0.crossJoin(F.broadcast(b0)).select(
        (F.col("d") - F.col("dmin")).alias("x"), "y"
    )

    def _d19(c):
        return F.col(c).cast("decimal(19,0)")

    m = days.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(_d19("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(_d19("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    nsxx = (_d19("n") * F.col("sxx") - _d19("sx") * F.col("sx")).cast("double")
    nsxy = (_d19("n") * F.col("sxy") - _d19("sx") * F.col("sy")).cast("double")
    b = nsxy / nsxx
    c = m.select(
        "n", "sx", "sxx",
        b.alias("b"),
        ((F.col("sy").cast("double") - b * F.col("sx")) / F.col("n")).alias("a"),
    )
    g = days.crossJoin(F.broadcast(c)).select(
        "x",
        (
            (F.col("y") - F.col("a") - F.col("b") * F.col("x"))
            * (F.col("y") - F.col("a") - F.col("b") * F.col("x"))
        ).alias("gg"),
        "n", "sx", "sxx",
    )
    f = g.agg(
        F.max("n").alias("n"),
        F.max("sx").alias("sx"),
        F.max("sxx").alias("sxx"),
        _fold12(F.col("gg")).alias("sg"),
        _fold12(F.col("gg") * F.col("x")).alias("sgx"),
        _fold12(F.col("gg") * F.col("gg")).alias("sgg"),
    )
    nsxx2 = (_d19("n") * F.col("sxx") - _d19("sx") * F.col("sx")).cast("double")
    lm_stat = (
        F.col("n").cast("double")
        * (
            (F.col("n") * F.col("sgx") - F.col("sg") * F.col("sx"))
            * (F.col("n") * F.col("sgx") - F.col("sg") * F.col("sx"))
        )
        / (nsxx2 * (F.col("n") * F.col("sgg") - F.col("sg") * F.col("sg")))
    )
    lm = f.select("n", lm_stat.alias("lm_stat"))
    p = 2.0 * (1.0 - _phi_col(F.sqrt(F.col("lm_stat"))))
    return lm.select(
        F.col("n").alias("n_days"),
        F.round("lm_stat", 6).alias("lm_stat"),
        F.round(p, 6).alias("p_value"),
        F.when(p < 0.05, "heteroscedastic").otherwise("homoscedastic").alias("verdict"),
    )


@query(
    "q462_page_trend",
    oracle="""
    WITH o AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d
      FROM orders
    ),
    days AS (SELECT d, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1),
    wk AS (
      SELECT d // 7 AS w, d % 7 AS j, y,
             CAST(count(*) OVER (PARTITION BY d // 7) AS BIGINT) AS wdays
      FROM days
    ),
    full_wk AS (SELECT w, j, y FROM wk WHERE wdays = 7),
    rk AS (
      SELECT w, j,
             rank() OVER (PARTITION BY w ORDER BY y) AS r,
             CAST(count(*) OVER (PARTITION BY w, y) AS BIGINT) AS ct
      FROM full_wk
    ),
    mr AS (
      SELECT j, CAST(round(sum(CAST(round(r + (ct - 1.0) / 2.0, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS rj
      FROM rk GROUP BY 1
    ),
    l AS (
      SELECT CAST(round(sum(CAST(round((j + 1.0) * rj, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS lstat
      FROM mr
    ),
    mm AS (
      SELECT CAST(count(DISTINCT w) AS BIGINT) AS m FROM full_wk
    ),
    z AS (
      SELECT mm.m, l.lstat,
             (l.lstat - mm.m * 7.0 * 64.0 / 4.0)
               / sqrt(mm.m * 49.0 * 8.0 * 48.0 / 144.0) AS zstat
      FROM l CROSS JOIN mm
    )
    SELECT m AS n_weeks,
           round(lstat, 6) AS l_stat,
           round(zstat, 6) + 0.0 AS z,
           round(2.0 * (1.0 - {phi}), 6) AS p_value,
           CASE WHEN 2.0 * (1.0 - {phi}) < 0.05
                THEN 'weekday_trend' ELSE 'no_weekday_trend' END AS verdict
    FROM z
    """.replace("{phi}", _phi_sql("abs(zstat)")),
)
def q462_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test for ordered alternatives (Page 1963) on the
    weekly block design: within each FULL epoch week (7 observed days,
    partial weeks drop — disclosed), rank the 7 daily order counts and
    test whether ranks trend MONOTONICALLY across the weekday index —
    the ordered-alternative upgrade of a Friedman test (disclosed
    kinship: Friedman asks "any weekday difference", Page asks
    "ordered by weekday position"), L = sum_j (j+1) * R_j with the
    normal approximation E[L] = mk(k+1)^2/4, Var = mk^2(k+1)(k^2-1)/144
    (k = 7; ties get midranks, which conservatively shrink the
    variance — disclosed). Midranks come from rank() + (t-1)/2 inside
    each week partition (exact half-integers, folded at 12-dp
    DECIMAL); Phi runs the shared erfc chain.

    100 TB story: one corpus scan to the O(days) rollup; ranks are a
    window PARTITIONED by week (7-row partitions); L folds over 7
    weekday rows."""
    o = _t(spark, sf_dir, "orders").select(
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d")
    )
    days = o.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("y"))
    wk = days.select(
        F.expr("d div 7").alias("w"),
        (F.col("d") % 7).alias("j"),
        "y",
        F.count(F.lit(1)).over(Window.partitionBy(F.expr("d div 7"))).cast("long").alias("wdays"),
    )
    full_wk = wk.filter(F.col("wdays") == 7).select("w", "j", "y")
    rk = full_wk.select(
        "w",
        "j",
        F.rank().over(Window.partitionBy("w").orderBy("y")).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("w", "y")).cast("long").alias("ct"),
    )
    mr = rk.groupBy("j").agg(
        _fold12(F.col("r") + (F.col("ct") - 1.0) / 2.0).alias("rj"),
    )
    l = mr.agg(
        _fold12((F.col("j") + 1.0) * F.col("rj")).alias("lstat"),
    )
    mm = full_wk.agg(F.countDistinct("w").cast("long").alias("m"))
    z = l.crossJoin(F.broadcast(mm)).select(
        "m",
        "lstat",
        (
            (F.col("lstat") - F.col("m") * 7.0 * 64.0 / 4.0)
            / F.sqrt(F.col("m") * 49.0 * 8.0 * 48.0 / 144.0)
        ).alias("zstat"),
    )
    p = 2.0 * (1.0 - _phi_col(F.abs(F.col("zstat"))))
    return z.select(
        F.col("m").alias("n_weeks"),
        F.round("lstat", 6).alias("l_stat"),
        (F.round("zstat", 6) + F.lit(0.0)).alias("z"),
        F.round(p, 6).alias("p_value"),
        F.when(p < 0.05, "weekday_trend").otherwise("no_weekday_trend").alias("verdict"),
    )


@query(
    "q463_mantel_haenszel",
    oracle="""
    WITH s AS (
      SELECT c.c_nationkey AS nat,
             CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS e,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS h
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    cells AS (
      SELECT nat,
             CAST(sum(e * h) AS BIGINT) AS a,
             CAST(sum(e * (1 - h)) AS BIGINT) AS b,
             CAST(sum((1 - e) * h) AS BIGINT) AS c,
             CAST(sum((1 - e) * (1 - h)) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM s GROUP BY 1
    ),
    ok AS (SELECT * FROM cells WHERE a + b > 0 AND c + d > 0 AND n > 1),
    f AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(round(sum(CAST(round(CAST(a AS DOUBLE) * d / n, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS sad,
             CAST(round(sum(CAST(round(CAST(b AS DOUBLE) * c / n, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS sbc,
             CAST(round(sum(CAST(round(CAST(a AS DOUBLE) - CAST(a + b AS DOUBLE) * (a + c) / n, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS dev,
             CAST(round(sum(CAST(round(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)
                                       / (CAST(n AS DOUBLE) * n * (n - 1.0)), 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS vr
      FROM ok
    ),
    t AS (
      SELECT k, sad / sbc AS mh_or, dev * dev / vr AS cmh
      FROM f
    )
    SELECT k AS n_strata,
           round(mh_or, 6) AS mh_odds_ratio,
           round(cmh, 6) AS cmh_chi2,
           round(2.0 * (1.0 - {phi}), 6) AS p_value,
           CASE WHEN 2.0 * (1.0 - {phi}) < 0.05
                THEN 'associated' ELSE 'independent' END AS verdict
    FROM t
    """.replace("{phi}", _phi_sql("sqrt(cmh)")),
)
def q463_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio + Cochran-Mantel-Haenszel test
    (Mantel & Haenszel 1959) of segment -> urgency association
    STRATIFIED by customer nation: OR_MH = sum(a_i d_i / n_i) /
    sum(b_i c_i / n_i) with the CMH chi-square(1) from per-stratum
    hypergeometric means and variances — the confounder-adjusted
    upgrade of q434's crude 2x2 (disclosed kinship: if nations differ
    in both segment mix and urgency base rate, the crude ratio is
    Simpson-biased; MH pools the within-stratum evidence). Degenerate
    strata (an empty margin or n <= 1) drop fail-safe (disclosed,
    counted via n_strata). The chi-square(1) survival is EXACTLY
    2(1 - Phi(sqrt(X))); per-stratum terms fold at 12-dp DECIMAL.

    100 TB story: ONE map-side-combining aggregate to the 25-nation
    cell grid; everything after runs on that bounded frame."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").alias("nat"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("e"),
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("h"),
    )
    cells = (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("nat")
        .agg(
            F.sum(F.col("e") * F.col("h")).cast("long").alias("a"),
            F.sum(F.col("e") * (1 - F.col("h"))).cast("long").alias("b"),
            F.sum((1 - F.col("e")) * F.col("h")).cast("long").alias("c"),
            F.sum((1 - F.col("e")) * (1 - F.col("h"))).cast("long").alias("d"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    ok = cells.filter(
        (F.col("a") + F.col("b") > 0) & (F.col("c") + F.col("d") > 0) & (F.col("n") > 1)
    )
    nD = F.col("n").cast("double")
    f = ok.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        _fold12(F.col("a").cast("double") * F.col("d") / F.col("n")).alias("sad"),
        _fold12(F.col("b").cast("double") * F.col("c") / F.col("n")).alias("sbc"),
        _fold12(
            F.col("a").cast("double")
            - (F.col("a") + F.col("b")).cast("double") * (F.col("a") + F.col("c")) / F.col("n")
        ).alias("dev"),
        _fold12(
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
            / (nD * nD * (nD - 1.0))
        ).alias("vr"),
    )
    t = f.select(
        "k",
        (F.col("sad") / F.col("sbc")).alias("mh_or"),
        (F.col("dev") * F.col("dev") / F.col("vr")).alias("cmh"),
    )
    p = 2.0 * (1.0 - _phi_col(F.sqrt(F.col("cmh"))))
    return t.select(
        F.col("k").alias("n_strata"),
        F.round("mh_or", 6).alias("mh_odds_ratio"),
        F.round("cmh", 6).alias("cmh_chi2"),
        F.round(p, 6).alias("p_value"),
        F.when(p < 0.05, "associated").otherwise("independent").alias("verdict"),
    )


@query(
    "q464_seasonal_mann_kendall",
    oracle="""
    WITH o AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d
      FROM orders
    ),
    days AS (
      SELECT d, d % 7 AS j, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.j,
             CAST(sum(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS sj
      FROM days a JOIN days b ON b.j = a.j AND b.d > a.d
      GROUP BY 1
    ),
    nj AS (
      SELECT j, CAST(count(*) AS BIGINT) AS n FROM days GROUP BY 1
    ),
    ties AS (
      SELECT j, CAST(sum(CAST(t AS DECIMAL(19,0)) * (t - 1) * (2 * t + 5)) AS DECIMAL(38,0)) AS tt
      FROM (SELECT j, y, CAST(count(*) AS BIGINT) AS t FROM days GROUP BY 1, 2)
      GROUP BY 1
    ),
    vj AS (
      SELECT nj.j, p.sj,
             (CAST(nj.n AS DOUBLE) * (nj.n - 1.0) * (2.0 * nj.n + 5.0)
              - CAST(t.tt AS DOUBLE)) / 18.0 AS var_j
      FROM nj JOIN pairs p ON p.j = nj.j JOIN ties t ON t.j = nj.j
    ),
    tot AS (
      SELECT CAST(sum(sj) AS BIGINT) AS s,
             CAST(round(sum(CAST(round(var_j, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS v
      FROM vj
    ),
    z AS (
      SELECT s, v,
             CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(v)
                  WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(v)
                  ELSE 0.0 END AS zstat
      FROM tot
    )
    SELECT s AS sk_stat,
           round(v, 6) AS variance,
           round(zstat, 6) + 0.0 AS z,
           round(2.0 * (1.0 - {phi}), 6) AS p_value,
           CASE WHEN 2.0 * (1.0 - {phi}) < 0.05
                THEN (CASE WHEN s > 0 THEN 'increasing' ELSE 'decreasing' END)
                ELSE 'no_trend' END AS verdict
    FROM z
    """.replace("{phi}", _phi_sql("abs(zstat)")),
)
def q464_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall trend test (Hirsch & Slack 1984) on daily
    order counts with WEEKDAY seasons: the MK sign statistic runs
    separately within each day-of-week series (so the weekly cadence
    q444 measures can never masquerade as trend — the failure mode of
    a plain MK on seasonal data, disclosed kinship), then S = sum S_j
    and Var = sum Var_j with the standard tie correction
    sum t(t-1)(2t+5) per season and the +/-1 continuity correction.
    Pair enumeration is a within-weekday self-join of the day rollup —
    O(sum n_j^2) pairs, calendar-bounded and SF-INDEPENDENT — folded
    immediately to 7 sign sums; tie terms come from exact (weekday,
    value) counts in DECIMAL.

    100 TB story: one corpus scan to the O(days) rollup; the pair join
    runs on that bounded frame (constant in corpus size); everything
    after is a 7-row fold."""
    o = _t(spark, sf_dir, "orders").select(
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d")
    )
    days = (
        o.groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .select("d", (F.col("d") % 7).alias("j"), "y")
        .localCheckpoint(eager=True)
    )
    a = days.select(F.col("j").alias("ja"), F.col("d").alias("da"), F.col("y").alias("ya"))
    b = days.select(F.col("j").alias("jb"), F.col("d").alias("db"), F.col("y").alias("yb"))
    pairs = (
        a.join(b, (F.col("jb") == F.col("ja")) & (F.col("db") > F.col("da")))
        .groupBy(F.col("ja").alias("j"))
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            ).cast("long").alias("sj")
        )
    )
    nj = days.groupBy("j").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        days.groupBy("j", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("j")
        .agg(
            F.sum(
                F.col("t").cast("decimal(19,0)") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).cast("decimal(38,0)").alias("tt")
        )
    )
    vj = nj.join(pairs, "j").join(ties, "j").select(
        "j",
        "sj",
        (
            (
                F.col("n").cast("double") * (F.col("n") - 1.0) * (2.0 * F.col("n") + 5.0)
                - F.col("tt").cast("double")
            )
            / 18.0
        ).alias("var_j"),
    )
    tot = vj.agg(
        F.sum("sj").cast("long").alias("s"),
        _fold12(F.col("var_j")).alias("v"),
    )
    z = tot.select(
        "s",
        "v",
        F.when(F.col("s") > 0, (F.col("s").cast("double") - 1.0) / F.sqrt("v"))
        .when(F.col("s") < 0, (F.col("s").cast("double") + 1.0) / F.sqrt("v"))
        .otherwise(0.0)
        .alias("zstat"),
    )
    p = 2.0 * (1.0 - _phi_col(F.abs(F.col("zstat"))))
    return z.select(
        F.col("s").alias("sk_stat"),
        F.round("v", 6).alias("variance"),
        (F.round("zstat", 6) + F.lit(0.0)).alias("z"),
        F.round(p, 6).alias("p_value"),
        F.when(
            p < 0.05,
            F.when(F.col("s") > 0, "increasing").otherwise("decreasing"),
        )
        .otherwise("no_trend")
        .alias("verdict"),
    )


@query(
    "q465_partial_correlation",
    oracle="""
    WITH od AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    ld AS (
      SELECT datediff('day', DATE '1970-01-01', l_shipdate) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM lineitem GROUP BY 1
    ),
    j AS (SELECT od.d AS z, od.x, ld.y FROM od JOIN ld ON ld.d = od.d),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(z) AS BIGINT) AS sz,
             CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS syy,
             CAST(sum(CAST(z AS DECIMAL(19,0)) * z) AS DECIMAL(38,0)) AS szz,
             CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS sxy,
             CAST(sum(CAST(x AS DECIMAL(19,0)) * z) AS DECIMAL(38,0)) AS sxz,
             CAST(sum(CAST(y AS DECIMAL(19,0)) * z) AS DECIMAL(38,0)) AS syz
      FROM j
    ),
    r AS (
      SELECT n,
             CAST(CAST(n AS DECIMAL(19,0)) * sxy - CAST(sx AS DECIMAL(19,0)) * sy AS DOUBLE)
               / sqrt(CAST(CAST(n AS DECIMAL(19,0)) * sxx - CAST(sx AS DECIMAL(19,0)) * sx AS DOUBLE)
                      * CAST(CAST(n AS DECIMAL(19,0)) * syy - CAST(sy AS DECIMAL(19,0)) * sy AS DOUBLE)) AS rxy,
             CAST(CAST(n AS DECIMAL(19,0)) * sxz - CAST(sx AS DECIMAL(19,0)) * sz AS DOUBLE)
               / sqrt(CAST(CAST(n AS DECIMAL(19,0)) * sxx - CAST(sx AS DECIMAL(19,0)) * sx AS DOUBLE)
                      * CAST(CAST(n AS DECIMAL(19,0)) * szz - CAST(sz AS DECIMAL(19,0)) * sz AS DOUBLE)) AS rxz,
             CAST(CAST(n AS DECIMAL(19,0)) * syz - CAST(sy AS DECIMAL(19,0)) * sz AS DOUBLE)
               / sqrt(CAST(CAST(n AS DECIMAL(19,0)) * syy - CAST(sy AS DECIMAL(19,0)) * sy AS DOUBLE)
                      * CAST(CAST(n AS DECIMAL(19,0)) * szz - CAST(sz AS DECIMAL(19,0)) * sz AS DOUBLE)) AS ryz
      FROM m
    ),
    pc AS (
      SELECT n, rxy, rxz, ryz,
             (rxy - rxz * ryz) / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) AS rp
      FROM r
    ),
    tt AS (
      SELECT n, rxy, rp,
             rp * sqrt((n - 3.0) / (1.0 - rp * rp)) AS tstat
      FROM pc
    )
    SELECT n AS n_days,
           round(rxy, 6) + 0.0 AS r_raw,
           round(rp, 6) + 0.0 AS r_partial,
           round(tstat, 6) + 0.0 AS t_stat,
           CASE WHEN abs(tstat) > 1.96 THEN 'correlated_beyond_trend'
                ELSE 'trend_explains_it' END AS verdict
    FROM tt
    """,
)
def q465_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of daily order arrivals and daily line
    shipments CONTROLLING for the day index (Fisher; the recipe
    r_xy.z = (r_xy - r_xz r_yz)/sqrt((1-r_xz^2)(1-r_yz^2))): both
    series trend with time, so their raw correlation (q451's lag-0 CCF,
    disclosed kinship) is partly spurious — partialling out the
    calendar says how much co-movement REMAINS day-to-day. The
    large-sample t = r sqrt((n-3)/(1-r^2)) against 1.96 is disclosed.
    All three pairwise correlations derive from ONE exact DECIMAL
    moment row over the joined day frame — no windows, no second pass.

    100 TB story: two corpus scans collapse to O(days) rollups; one
    day-key join; ONE moment fold; closed form on one row."""
    od = (
        _t(spark, sf_dir, "orders")
        .select(F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    ld = (
        _t(spark, sf_dir, "lineitem")
        .select(F.datediff("l_shipdate", F.lit("1970-01-01")).cast("long").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    j = od.join(ld, "d").select(F.col("d").alias("z"), "x", "y")

    def _d19(c):
        return F.col(c).cast("decimal(19,0)")

    m = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(_d19("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(_d19("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(_d19("z") * F.col("z")).cast("decimal(38,0)").alias("szz"),
        F.sum(_d19("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(_d19("x") * F.col("z")).cast("decimal(38,0)").alias("sxz"),
        F.sum(_d19("y") * F.col("z")).cast("decimal(38,0)").alias("syz"),
    )

    def _corr(sab, sa, sb, saa, sbb):
        num = (_d19("n") * F.col(sab) - _d19(sa) * F.col(sb)).cast("double")
        da = (_d19("n") * F.col(saa) - _d19(sa) * F.col(sa)).cast("double")
        db = (_d19("n") * F.col(sbb) - _d19(sb) * F.col(sb)).cast("double")
        return num / F.sqrt(da * db)

    r = m.select(
        "n",
        _corr("sxy", "sx", "sy", "sxx", "syy").alias("rxy"),
        _corr("sxz", "sx", "sz", "sxx", "szz").alias("rxz"),
        _corr("syz", "sy", "sz", "syy", "szz").alias("ryz"),
    )
    rp = (F.col("rxy") - F.col("rxz") * F.col("ryz")) / F.sqrt(
        (1.0 - F.col("rxz") * F.col("rxz")) * (1.0 - F.col("ryz") * F.col("ryz"))
    )
    pc = r.select("n", "rxy", rp.alias("rp"))
    tstat = F.col("rp") * F.sqrt((F.col("n") - 3.0) / (1.0 - F.col("rp") * F.col("rp")))
    tt = pc.select("n", "rxy", "rp", tstat.alias("tstat"))
    return tt.select(
        F.col("n").alias("n_days"),
        (F.round("rxy", 6) + F.lit(0.0)).alias("r_raw"),
        (F.round("rp", 6) + F.lit(0.0)).alias("r_partial"),
        (F.round("tstat", 6) + F.lit(0.0)).alias("t_stat"),
        F.when(F.abs("tstat") > 1.96, "correlated_beyond_trend")
        .otherwise("trend_explains_it")
        .alias("verdict"),
    )


@query(
    "q466_granger_causality",
    oracle="""
    WITH od AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    ld AS (
      SELECT datediff('day', DATE '1970-01-01', l_shipdate) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM lineitem GROUP BY 1
    ),
    j AS (SELECT od.d, od.x, ld.y FROM od JOIN ld ON ld.d = od.d),
    ser AS (
      SELECT y,
             lag(y) OVER (ORDER BY d) AS l1,
             lag(x) OVER (ORDER BY d) AS l2
      FROM j
    ),
    t AS (SELECT y, l1, l2 FROM ser WHERE l1 IS NOT NULL AND l2 IS NOT NULL),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy, CAST(sum(l1) AS BIGINT) AS s1,
             CAST(sum(l2) AS BIGINT) AS s2,
             CAST(sum(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS syy,
             CAST(sum(CAST(l1 AS DECIMAL(19,0)) * l1) AS DECIMAL(38,0)) AS s11,
             CAST(sum(CAST(l2 AS DECIMAL(19,0)) * l2) AS DECIMAL(38,0)) AS s22,
             CAST(sum(CAST(y AS DECIMAL(19,0)) * l1) AS DECIMAL(38,0)) AS sy1,
             CAST(sum(CAST(y AS DECIMAL(19,0)) * l2) AS DECIMAL(38,0)) AS sy2,
             CAST(sum(CAST(l1 AS DECIMAL(19,0)) * l2) AS DECIMAL(38,0)) AS s12
      FROM m_src
    ),
    c AS (
      SELECT n,
             CAST(CAST(n AS DECIMAL(19,0)) * syy - CAST(sy AS DECIMAL(19,0)) * sy AS DOUBLE) AS cyy,
             CAST(CAST(n AS DECIMAL(19,0)) * s11 - CAST(s1 AS DECIMAL(19,0)) * s1 AS DOUBLE) AS c11,
             CAST(CAST(n AS DECIMAL(19,0)) * s22 - CAST(s2 AS DECIMAL(19,0)) * s2 AS DOUBLE) AS c22,
             CAST(CAST(n AS DECIMAL(19,0)) * sy1 - CAST(sy AS DECIMAL(19,0)) * s1 AS DOUBLE) AS cy1,
             CAST(CAST(n AS DECIMAL(19,0)) * sy2 - CAST(sy AS DECIMAL(19,0)) * s2 AS DOUBLE) AS cy2,
             CAST(CAST(n AS DECIMAL(19,0)) * s12 - CAST(s1 AS DECIMAL(19,0)) * s2 AS DOUBLE) AS c12
      FROM m
    ),
    fit AS (
      SELECT n,
             cyy - (c11 * cy2 * cy2 - 2.0 * c12 * cy1 * cy2 + c22 * cy1 * cy1)
                   / (c11 * c22 - c12 * c12) AS sse_full,
             cyy - cy1 * cy1 / c11 AS sse_restr
      FROM c
    ),
    fstat AS (
      SELECT n,
             (sse_restr - sse_full) / (sse_full / (n - 3.0)) AS f
      FROM fit
    )
    SELECT n AS n_days,
           round(f, 6) AS f_stat,
           round(2.0 * (1.0 - {phi}), 6) AS p_value,
           CASE WHEN 2.0 * (1.0 - {phi}) < 0.05
                THEN 'orders_help_predict' ELSE 'no_incremental_signal' END AS verdict
    FROM fstat
    """.replace("FROM m_src", "FROM t").replace("{phi}", _phi_sql("sqrt(f)")),
)
def q466_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-lag Granger causality test (Granger 1969): does YESTERDAY'S
    order count improve the prediction of today's shipment count beyond
    yesterday's shipment count alone? F = (SSE_restricted - SSE_full) /
    (SSE_full / (n-3)) comparing y_t ~ [1, y_{t-1}] against y_t ~
    [1, y_{t-1}, x_{t-1}], with the 2-regressor OLS solved in CLOSED
    FORM from centered DECIMAL cross-moments (the 2x2 normal equations
    inverted symbolically — no iteration, no matrix library). The
    directional upgrade of q451's symmetric CCF (disclosed kinship);
    the large-sample chi-square(1) p-value 2(1 - Phi(sqrt(F))) is
    disclosed (F(1, n-3) -> chi2(1) at this n). The lag pass is one
    window over the O(days) rollup (allowlisted).

    100 TB story: two corpus scans collapse to O(days) rollups; one
    day-key join, one lag window over the bounded day frame, ONE
    moment fold; closed form on one row."""
    od = (
        _t(spark, sf_dir, "orders")
        .select(F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    ld = (
        _t(spark, sf_dir, "lineitem")
        .select(F.datediff("l_shipdate", F.lit("1970-01-01")).cast("long").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    j = od.join(ld, "d").select("d", "x", "y")
    wd = Window.orderBy("d")
    t = j.select(
        "y",
        F.lag("y").over(wd).alias("l1"),
        F.lag("x").over(wd).alias("l2"),
    ).filter(F.col("l1").isNotNull() & F.col("l2").isNotNull())

    def _d19(c):
        return F.col(c).cast("decimal(19,0)")

    m = t.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("l1").cast("long").alias("s1"),
        F.sum("l2").cast("long").alias("s2"),
        F.sum(_d19("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(_d19("l1") * F.col("l1")).cast("decimal(38,0)").alias("s11"),
        F.sum(_d19("l2") * F.col("l2")).cast("decimal(38,0)").alias("s22"),
        F.sum(_d19("y") * F.col("l1")).cast("decimal(38,0)").alias("sy1"),
        F.sum(_d19("y") * F.col("l2")).cast("decimal(38,0)").alias("sy2"),
        F.sum(_d19("l1") * F.col("l2")).cast("decimal(38,0)").alias("s12"),
    )

    def _c(sab, sa, sb):
        return (_d19("n") * F.col(sab) - _d19(sa) * F.col(sb)).cast("double")

    c = m.select(
        "n",
        _c("syy", "sy", "sy").alias("cyy"),
        _c("s11", "s1", "s1").alias("c11"),
        _c("s22", "s2", "s2").alias("c22"),
        _c("sy1", "sy", "s1").alias("cy1"),
        _c("sy2", "sy", "s2").alias("cy2"),
        _c("s12", "s1", "s2").alias("c12"),
    )
    sse_full = F.col("cyy") - (
        F.col("c11") * F.col("cy2") * F.col("cy2")
        - 2.0 * F.col("c12") * F.col("cy1") * F.col("cy2")
        + F.col("c22") * F.col("cy1") * F.col("cy1")
    ) / (F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12"))
    sse_restr = F.col("cyy") - F.col("cy1") * F.col("cy1") / F.col("c11")
    fit = c.select("n", sse_full.alias("sse_full"), sse_restr.alias("sse_restr"))
    fstat = fit.select(
        "n",
        (
            (F.col("sse_restr") - F.col("sse_full"))
            / (F.col("sse_full") / (F.col("n") - 3.0))
        ).alias("f"),
    )
    p = 2.0 * (1.0 - _phi_col(F.sqrt(F.col("f"))))
    return fstat.select(
        F.col("n").alias("n_days"),
        F.round("f", 6).alias("f_stat"),
        F.round(p, 6).alias("p_value"),
        F.when(p < 0.05, "orders_help_predict")
        .otherwise("no_incremental_signal")
        .alias("verdict"),
    )


@query(
    "q467_diagnostic_suite",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END AS pred,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS truth
      FROM orders
    ),
    m AS (
      SELECT CAST(sum(pred * truth) AS BIGINT) AS tp,
             CAST(sum(pred * (1 - truth)) AS BIGINT) AS fp,
             CAST(sum((1 - pred) * truth) AS BIGINT) AS fn,
             CAST(sum((1 - pred) * (1 - truth)) AS BIGINT) AS tn
      FROM s
    ),
    r AS (
      SELECT tp, fp, fn, tn,
             CAST(tp AS DOUBLE) / (tp + fn) AS sens,
             CAST(tn AS DOUBLE) / (tn + fp) AS spec
      FROM m
    )
    SELECT tp + fp + fn + tn AS n_orders,
           round(sens, 6) AS sensitivity,
           round(spec, 6) AS specificity,
           round(sens + spec - 1.0, 6) + 0.0 AS youden_j,
           round(sens / (1.0 - spec), 6) AS lr_positive,
           round((1.0 - sens) / spec, 6) AS lr_negative,
           round((CAST(tp AS DOUBLE) * tn) / (CAST(fp AS DOUBLE) * fn), 6) AS diagnostic_or
    FROM r
    """,
)
def q467_diagnostic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic-test suite (sensitivity, specificity, Youden's J,
    likelihood ratios, diagnostic odds ratio; Youden 1950) for the
    cheap screen "totalprice > 200000" (literal disclosed) against the
    urgent-priority label: the 2x2 confusion summary every triage rule
    should publish BEFORE being deployed as a filter — J near 0 means
    the rule is no better than chance at any prevalence, and the
    likelihood ratios are prevalence-free (unlike q389's calibration
    or q386's ranking metrics — disclosed kinship: those grade scores,
    this grades a FIXED decision rule). Counts are exact BIGINTs from
    ONE aggregate; every derived measure is closed-form on one row.

    100 TB story: ONE map-side-combining aggregate to a single 2x2
    row; no join, no window, no second pass."""
    s = _t(spark, sf_dir, "orders").select(
        F.when(F.col("o_totalprice") > 200000, 1).otherwise(0).alias("pred"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("truth"),
    )
    m = s.agg(
        F.sum(F.col("pred") * F.col("truth")).cast("long").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("truth"))).cast("long").alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("truth")).cast("long").alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("truth"))).cast("long").alias("tn"),
    )
    sens = F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))
    spec = F.col("tn").cast("double") / (F.col("tn") + F.col("fp"))
    r = m.select("tp", "fp", "fn", "tn", sens.alias("sens"), spec.alias("spec"))
    return r.select(
        (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")).alias("n_orders"),
        F.round("sens", 6).alias("sensitivity"),
        F.round("spec", 6).alias("specificity"),
        (F.round(F.col("sens") + F.col("spec") - 1.0, 6) + F.lit(0.0)).alias("youden_j"),
        F.round(F.col("sens") / (1.0 - F.col("spec")), 6).alias("lr_positive"),
        F.round((1.0 - F.col("sens")) / F.col("spec"), 6).alias("lr_negative"),
        F.round(
            (F.col("tp").cast("double") * F.col("tn"))
            / (F.col("fp").cast("double") * F.col("fn")),
            6,
        ).alias("diagnostic_or"),
    )


@query(
    "q468_tukey_fences",
    oracle="""
    WITH s AS (
      SELECT l_returnflag AS flag, CAST(round(l_quantity) AS BIGINT) AS v
      FROM lineitem
    ),
    grid AS (
      SELECT flag, v, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2
    ),
    cum AS (
      SELECT flag, v, c,
             CAST(sum(c) OVER (PARTITION BY flag ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc,
             CAST(sum(c) OVER (PARTITION BY flag) AS BIGINT) AS n
      FROM grid
    ),
    q AS (
      SELECT flag, max(n) AS n,
             CAST(sum(CASE WHEN cc - c < (n + 3) // 4 AND (n + 3) // 4 <= cc THEN v END) AS BIGINT) AS q1,
             CAST(sum(CASE WHEN cc - c < (n + 1) // 2 AND (n + 1) // 2 <= cc THEN v END) AS BIGINT) AS med,
             CAST(sum(CASE WHEN cc - c < (3 * n + 1) // 4 AND (3 * n + 1) // 4 <= cc THEN v END) AS BIGINT) AS q3
      FROM cum GROUP BY 1
    ),
    f AS (
      SELECT flag, n, q1, med, q3,
             CAST(q1 - 1.5 * (q3 - q1) AS DOUBLE) AS lo,
             CAST(q3 + 1.5 * (q3 - q1) AS DOUBLE) AS hi
      FROM q
    )
    SELECT f.flag, f.n AS n_lines, f.q1, f.med, f.q3,
           round(f.lo, 6) AS fence_low,
           round(f.hi, 6) AS fence_high,
           CAST(coalesce(sum(CASE WHEN g.v < f.lo OR g.v > f.hi THEN g.c END), 0) AS BIGINT) AS n_outliers
    FROM f JOIN grid g ON g.flag = f.flag
    GROUP BY 1, 2, 3, 4, 5, 6, 7
    """,
)
def q468_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot five-number summary + 1.5*IQR fence outlier census
    of line quantity per return flag (Tukey 1977): nearest-rank
    quartiles at ranks ceil(n/4), ceil(n/2), ceil(3n/4) (disclosed —
    NO interpolation, so every statistic is an exact integer from the
    bounded 1..50 value support), fences at Q1/Q3 -/+ 1.5 IQR, and the
    exact count of lines beyond them — the distribution-free outlier
    census that complements q448's normal-theory Grubbs (disclosed
    kinship: Grubbs assumes normality; fences assume nothing). The
    census re-reads only the (flag, value) GRID, never corpus rows.

    100 TB story: ONE map-side-combining aggregate to the <= 150-row
    grid; quartile lookup and the census both run on that frame
    (cum windows PARTITIONED by flag)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round("l_quantity").cast("long").alias("v"),
    )
    grid = (
        li.groupBy("flag", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    wcum = Window.partitionBy("flag").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.select(
        "flag",
        "v",
        "c",
        F.sum("c").over(wcum).cast("long").alias("cc"),
        F.sum("c").over(Window.partitionBy("flag")).cast("long").alias("n"),
    )

    def _at(rank_expr):
        rk = F.expr(rank_expr)
        return F.sum(
            F.when((F.col("cc") - F.col("c") < rk) & (rk <= F.col("cc")), F.col("v"))
        ).cast("long")

    q = cum.groupBy("flag").agg(
        F.max("n").alias("n"),
        _at("(n + 3) div 4").alias("q1"),
        _at("(n + 1) div 2").alias("med"),
        _at("(3 * n + 1) div 4").alias("q3"),
    )
    f = q.select(
        "flag", "n", "q1", "med", "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    cens = (
        f.join(grid.select(F.col("flag").alias("gflag"), "v", "c"),
               F.col("gflag") == F.col("flag"))
        .groupBy("flag", "n", "q1", "med", "q3", "lo", "hi")
        .agg(
            F.coalesce(
                F.sum(
                    F.when((F.col("v") < F.col("lo")) | (F.col("v") > F.col("hi")), F.col("c"))
                ),
                F.lit(0),
            ).cast("long").alias("n_outliers")
        )
    )
    return cens.select(
        "flag",
        F.col("n").alias("n_lines"),
        "q1",
        "med",
        "q3",
        F.round("lo", 6).alias("fence_low"),
        F.round("hi", 6).alias("fence_high"),
        "n_outliers",
    )


@query(
    "q469_delta_method_ratio",
    oracle="""
    WITH cust AS (
      SELECT c.c_mktsegment AS seg, o.o_custkey AS ck,
             CAST(count(*) AS BIGINT) AS y,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    m AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS syy,
             CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS sxy
      FROM cust GROUP BY 1
    ),
    r AS (
      SELECT seg, n,
             CAST(sx AS DOUBLE) / sy AS ratio,
             CAST(sy AS DOUBLE) / n AS ybar,
             (CAST(CAST(n AS DECIMAL(19,0)) * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1.0))
              - 2.0 * (CAST(sx AS DOUBLE) / sy)
                * CAST(CAST(n AS DECIMAL(19,0)) * sxy - sx * CAST(sy AS DECIMAL(19,0)) AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1.0))
              + (CAST(sx AS DOUBLE) / sy) * (CAST(sx AS DOUBLE) / sy)
                * CAST(CAST(n AS DECIMAL(19,0)) * syy - CAST(sy AS DECIMAL(19,0)) * sy AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1.0))
             ) AS var_lin
      FROM m
    ),
    ci AS (
      SELECT seg, n, ratio, ybar,
             sqrt(var_lin / n) / ybar AS se
      FROM r
    )
    SELECT seg AS segment, n AS n_customers,
           round(ratio / 100.0, 6) AS revenue_per_order,
           round(se / 100.0, 6) AS se_delta,
           round((ratio - 1.96 * se) / 100.0, 6) AS ci_low,
           round((ratio + 1.96 * se) / 100.0, 6) AS ci_high
    FROM ci
    """,
)
def q469_delta_method_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method confidence interval for the RATIO metric "revenue
    per order" per market segment with CUSTOMER as the randomization
    unit (Deng et al. 2017's ratio-metric recipe; the linearization
    var(x/y) ~ (var_x - 2r cov_xy + r^2 var_y) / (n ybar^2)): orders
    from one customer are correlated, so a naive per-order CI is too
    narrow — the delta method aggregates to per-customer (revenue,
    order-count) totals FIRST and treats those as the i.i.d. units,
    the analytic twin of q447's delete-one jackknife (disclosed
    kinship — jackknife resamples, delta linearizes; they agree to
    O(1/n)). All moments are exact DECIMAL from cents.

    100 TB story: one grouped aggregate to per-customer totals (the
    corpus-rate pass), ONE moment fold per segment; closed form on 5
    rows."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    cust = (
        _t(spark, sf_dir, "orders")
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("seg", "o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("y"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("x"),
        )
    )

    def _d19(c_):
        return F.col(c_).cast("decimal(19,0)")

    m = cust.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(_d19("x")).cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(_d19("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(_d19("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(_d19("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    nn = F.col("n").cast("double") * (F.col("n") - 1.0)
    ratio = F.col("sx").cast("double") / F.col("sy")
    var_x = (_d19("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double") / nn
    cov = (_d19("n") * F.col("sxy") - F.col("sx") * _d19("sy")).cast("double") / nn
    var_y = (_d19("n") * F.col("syy") - _d19("sy") * F.col("sy")).cast("double") / nn
    r = m.select(
        "seg",
        "n",
        ratio.alias("ratio"),
        (F.col("sy").cast("double") / F.col("n")).alias("ybar"),
        (var_x - 2.0 * ratio * cov + ratio * ratio * var_y).alias("var_lin"),
    )
    se = F.sqrt(F.col("var_lin") / F.col("n")) / F.col("ybar")
    ci = r.select("seg", "n", "ratio", se.alias("se"))
    return ci.select(
        F.col("seg").alias("segment"),
        F.col("n").alias("n_customers"),
        F.round(F.col("ratio") / 100.0, 6).alias("revenue_per_order"),
        F.round(F.col("se") / 100.0, 6).alias("se_delta"),
        F.round((F.col("ratio") - 1.96 * F.col("se")) / 100.0, 6).alias("ci_low"),
        F.round((F.col("ratio") + 1.96 * F.col("se")) / 100.0, 6).alias("ci_high"),
    )


@query(
    "q470_mde_power_audit",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS arm,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS yc
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    m AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(yc AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s1,
             CAST(sum(CAST(yc AS DECIMAL(19,0)) * CAST(yc AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s2
      FROM s GROUP BY 1
    ),
    w AS (
      SELECT
        CAST(max(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n1,
        CAST(max(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n0,
        max(CASE WHEN arm = 1 THEN s1 END) AS s11,
        max(CASE WHEN arm = 0 THEN s1 END) AS s10,
        max(CASE WHEN arm = 1 THEN s2 END) AS s21,
        max(CASE WHEN arm = 0 THEN s2 END) AS s20
      FROM m
    ),
    c AS (
      SELECT n1, n0,
             CAST(s10 AS DOUBLE) / n0 AS m0,
             (CAST(s11 AS DOUBLE) / n1 - CAST(s10 AS DOUBLE) / n0) AS diff,
             sqrt((CAST(CAST(n1 AS DECIMAL(19,0)) * s21 - s11 * s11 AS DOUBLE) / CAST(n1 AS DOUBLE)
                   + CAST(CAST(n0 AS DECIMAL(19,0)) * s20 - s10 * s10 AS DOUBLE) / CAST(n0 AS DOUBLE))
                  / (n1 + n0 - 2.0)) AS sd_pool
      FROM w
    ),
    mde AS (
      SELECT n1, n0, m0, diff, sd_pool,
             2.8016176021 * sd_pool * sqrt(1.0 / n1 + 1.0 / n0) AS mde_abs
      FROM c
    )
    SELECT n1 AS n_building, n0 AS n_other,
           round(mde_abs / 100.0, 6) AS mde_dollars,
           round(mde_abs / m0, 6) AS mde_relative,
           round(diff / 100.0, 6) + 0.0 AS observed_diff_dollars,
           round(abs(diff) / mde_abs, 6) AS observed_over_mde,
           CASE WHEN abs(diff) >= mde_abs THEN 'detectable'
                ELSE 'underpowered_for_observed' END AS verdict
    FROM mde
    """,
)
def q470_mde_power_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect / power audit (the standard two-sample
    design formula MDE = (z_{alpha/2} + z_{power}) * sd_pooled *
    sqrt(1/n1 + 1/n0) at alpha = 0.05 two-sided, power = 80% — the
    combined literal 1.959963985 + 0.8416212336 = 2.8016176021 is
    quantized once and embedded in BOTH engines) for the q438 BUILDING
    vs rest order-value design (disclosed kinship: q438 reports the
    observed effect size, this reports what the design COULD detect;
    shipping an experiment whose observed diff is far under its MDE
    is the classic underpowered-readout mistake). Pooled sd comes from
    exact DECIMAL moments.

    100 TB story: ONE map-side-combining aggregate to two moment rows;
    closed form on one row — no join beyond the dim, no window."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("arm"),
    )
    s = (
        _t(spark, sf_dir, "orders")
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select("arm", F.round(F.col("o_totalprice") * 100).cast("long").alias("yc"))
    )

    def _d19(c_):
        return F.col(c_).cast("decimal(19,0)")

    m = s.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(_d19("yc")).cast("decimal(38,0)").alias("s1"),
        F.sum(_d19("yc") * _d19("yc")).cast("decimal(38,0)").alias("s2"),
    )
    w = m.agg(
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("s1"))).alias("s11"),
        F.max(F.when(F.col("arm") == 0, F.col("s1"))).alias("s10"),
        F.max(F.when(F.col("arm") == 1, F.col("s2"))).alias("s21"),
        F.max(F.when(F.col("arm") == 0, F.col("s2"))).alias("s20"),
    )
    m0 = F.col("s10").cast("double") / F.col("n0")
    diff = F.col("s11").cast("double") / F.col("n1") - m0
    sd_pool = F.sqrt(
        (
            (_d19("n1") * F.col("s21") - F.col("s11") * F.col("s11")).cast("double")
            / F.col("n1").cast("double")
            + (_d19("n0") * F.col("s20") - F.col("s10") * F.col("s10")).cast("double")
            / F.col("n0").cast("double")
        )
        / (F.col("n1") + F.col("n0") - 2.0)
    )
    cc = w.select(
        "n1", "n0", m0.alias("m0"), diff.alias("diff"), sd_pool.alias("sd_pool")
    )
    mde_abs = 2.8016176021 * F.col("sd_pool") * F.sqrt(
        1.0 / F.col("n1") + 1.0 / F.col("n0")
    )
    mde = cc.select("n1", "n0", "m0", "diff", mde_abs.alias("mde_abs"))
    return mde.select(
        F.col("n1").alias("n_building"),
        F.col("n0").alias("n_other"),
        F.round(F.col("mde_abs") / 100.0, 6).alias("mde_dollars"),
        F.round(F.col("mde_abs") / F.col("m0"), 6).alias("mde_relative"),
        (F.round(F.col("diff") / 100.0, 6) + F.lit(0.0)).alias("observed_diff_dollars"),
        F.round(F.abs("diff") / F.col("mde_abs"), 6).alias("observed_over_mde"),
        F.when(F.abs("diff") >= F.col("mde_abs"), "detectable")
        .otherwise("underpowered_for_observed")
        .alias("verdict"),
    )


# Benford expected first-digit shares log10(1 + 1/d), quantized ONCE in
# Python (12 dp) and embedded as literals in BOTH engines (the literal-table
# idiom — neither engine's libm runs on non-literal args).
_BENFORD = [(d, round(math.log10(1.0 + 1.0 / d), 12)) for d in range(1, 10)]
_BENFORD_SQL = ", ".join(f"({d}, {p:.12f})" for d, p in _BENFORD)


@query(
    "q471_benford_audit",
    oracle=f"""
    WITH ben(digit, exp_p) AS (VALUES {_BENFORD_SQL}),
    fd AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INTEGER) AS digit,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM fd),
    j AS (
      SELECT b.digit, COALESCE(fd.n, 0) AS n,
             CAST(b.exp_p AS DOUBLE) AS exp_p,
             CAST(COALESCE(fd.n, 0) AS DOUBLE) / (SELECT nn FROM tot) AS obs_p
      FROM ben b LEFT JOIN fd ON fd.digit = b.digit
    ),
    s AS (
      SELECT
        {_FOLD12_SQL.format(x="(SELECT nn FROM tot) * ((obs_p - exp_p) * (obs_p - exp_p)) / exp_p")} AS chi2,
        {_FOLD12_SQL.format(x="abs(obs_p - exp_p) / 9.0")} AS mad
      FROM j
    )
    SELECT j.digit, j.n,
           round(j.obs_p, 6) AS obs_share,
           round(j.exp_p, 6) AS benford_share,
           round(abs(j.obs_p - j.exp_p), 6) AS abs_dev,
           round((SELECT chi2 FROM s), 6) AS chi2_stat,
           round((SELECT mad FROM s), 6) AS mad,
           CASE WHEN (SELECT chi2 FROM s) > 15.507313055865
                THEN 'deviates' ELSE 'conforms' END AS verdict
    FROM j
    """,
)
def q471_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals (Newcomb 1881 /
    Benford 1938; the standard forensic-accounting screen for fabricated
    or truncated monetary data): observed first-significant-digit shares
    of o_totalprice vs the log10(1+1/d) expectation, with the Pearson
    chi-square statistic (8 df, 95% critical value 15.507 embedded as a
    shared literal) and the mean absolute deviation (Nigrini's MAD).
    The nine expected shares are quantized once in Python and embedded
    as a literal table in BOTH engines — no libm log10 on either side.
    First digit comes from the decimal-string head of floor(total), an
    identical string op in both engines (totalprice is always >= 1).

    100 TB story: ONE map-side-combining aggregate collapses the corpus
    to <= 9 digit rows; everything after runs on the broadcast 9-row
    frame (literal join, two scalar folds) — no window, no second scan."""
    ben = spark.createDataFrame(_BENFORD, "digit INT, exp_p DOUBLE")
    fd = (
        _t(spark, sf_dir, "orders")
        .select(
            F.substring(
                F.floor("o_totalprice").cast("long").cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # checkpointed: the total, the chi-square fold and the final
        # select all replay this 9-row frame, not the orders scan
        .localCheckpoint(eager=True)
    )
    tot = fd.agg(F.sum("n").cast("long").alias("nn"))
    j = (
        ben.join(F.broadcast(fd), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            "exp_p",
            (F.coalesce("n", F.lit(0)).cast("double") / F.col("nn")).alias(
                "obs_p"
            ),
            "nn",
        )
    )
    dev = F.col("obs_p") - F.col("exp_p")
    s = j.agg(
        _fold12(F.col("nn") * (dev * dev) / F.col("exp_p")).alias("chi2"),
        _fold12(F.abs(dev) / 9.0).alias("mad"),
    )
    return (
        j.crossJoin(F.broadcast(s))
        .select(
            "digit",
            "n",
            F.round("obs_p", 6).alias("obs_share"),
            F.round("exp_p", 6).alias("benford_share"),
            F.round(F.abs(dev), 6).alias("abs_dev"),
            F.round("chi2", 6).alias("chi2_stat"),
            F.round("mad", 6).alias("mad"),
            F.when(F.col("chi2") > 15.507313055865, "deviates")
            .otherwise("conforms")
            .alias("verdict"),
        )
    )


@query(
    "q472_kendall_tau_b",
    oracle="""
    WITH cells AS (
      SELECT CAST(l_quantity AS BIGINT) AS q, l_linenumber AS l,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    pairs AS (
      SELECT
        CAST(sum(CASE WHEN a.l < b.l
                      THEN CAST(a.c AS DECIMAL(19,0)) * CAST(b.c AS DECIMAL(19,0))
                      ELSE 0 END) AS DECIMAL(38,0)) AS nc,
        CAST(sum(CASE WHEN a.l > b.l
                      THEN CAST(a.c AS DECIMAL(19,0)) * CAST(b.c AS DECIMAL(19,0))
                      ELSE 0 END) AS DECIMAL(38,0)) AS nd
      FROM cells a JOIN cells b ON a.q < b.q
    ),
    margx AS (SELECT q, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY 1),
    margy AS (SELECT l, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY 1),
    tx AS (SELECT CAST(sum(CAST(t AS DECIMAL(19,0)) * CAST(t - 1 AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS v FROM margx),
    ty AS (SELECT CAST(sum(CAST(t AS DECIMAL(19,0)) * CAST(t - 1 AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS v FROM margy),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
    f AS (
      SELECT (SELECT n FROM tot) AS n,
             CAST((SELECT nc FROM pairs) AS DOUBLE) AS nc,
             CAST((SELECT nd FROM pairs) AS DOUBLE) AS nd,
             CAST(CAST((SELECT n FROM tot) AS DECIMAL(19,0))
                  * CAST((SELECT n FROM tot) - 1 AS DECIMAL(19,0)) AS DOUBLE)
               / 2.0 AS n0,
             CAST((SELECT v FROM tx) AS DOUBLE) / 2.0 AS n1,
             CAST((SELECT v FROM ty) AS DOUBLE) / 2.0 AS n2
    )
    SELECT n, nc AS concordant, nd AS discordant,
           round((nc - nd) / sqrt((n0 - n1) * (n0 - n2)), 6) AS tau_b,
           round((nc - nd) / n0, 6) AS tau_a
    FROM f
    """,
)
def q472_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b rank correlation (Kendall 1945 tie correction)
    between line quantity (1..50 support) and line number (1..7
    support), computed EXACTLY from the <= 350-cell joint support
    histogram: concordant/discordant pair counts are sums of count
    products over strictly-x-ordered cell pairs (a 350x350 support
    cross — SF-invariant), tie corrections come from the two marginal
    histograms, and every count product runs in DECIMAL(38,0); the only
    divisions are the final tau ratios. Distinct from q440 (Kendall's W
    concordance across m rankings) and q465 (Mann-Kendall trend vs
    time): this is the tie-corrected pairwise association of two
    bounded-support columns.

    100 TB story: ONE aggregate collapses the corpus to the 350-cell
    joint histogram; the quadratic pair enumeration runs on that
    SF-invariant support (broadcast nested-loop over 350 rows), never
    on corpus rows; marginals and totals are rollups of the same
    checkpointed cells frame (one scan total)."""
    cells = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_quantity").cast("long").alias("q"),
            F.col("l_linenumber").cast("int").alias("l"),
        )
        .groupBy("q", "l")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )

    def _d19(c):
        return F.col(c).cast("decimal(19,0)")

    a = cells.alias("a")
    b = cells.alias("b")
    prod = F.col("a.c").cast("decimal(19,0)") * F.col("b.c").cast("decimal(19,0)")
    pairs = (
        a.join(F.broadcast(b), F.col("a.q") < F.col("b.q"))
        .agg(
            F.sum(F.when(F.col("a.l") < F.col("b.l"), prod).otherwise(F.lit(0)))
            .cast("decimal(38,0)")
            .alias("nc"),
            F.sum(F.when(F.col("a.l") > F.col("b.l"), prod).otherwise(F.lit(0)))
            .cast("decimal(38,0)")
            .alias("nd"),
        )
    )
    tx = (
        cells.groupBy("q")
        .agg(F.sum("c").cast("long").alias("t"))
        .agg(
            F.sum(_d19("t") * (F.col("t") - 1).cast("decimal(19,0)"))
            .cast("decimal(38,0)")
            .alias("vx")
        )
    )
    ty = (
        cells.groupBy("l")
        .agg(F.sum("c").cast("long").alias("t"))
        .agg(
            F.sum(_d19("t") * (F.col("t") - 1).cast("decimal(19,0)"))
            .cast("decimal(38,0)")
            .alias("vy")
        )
    )
    tot = cells.agg(F.sum("c").cast("long").alias("n"))
    f = (
        tot.crossJoin(F.broadcast(pairs))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            "n",
            F.col("nc").cast("double").alias("nc"),
            F.col("nd").cast("double").alias("nd"),
            (
                (_d19("n") * (F.col("n") - 1).cast("decimal(19,0)")).cast("double")
                / 2.0
            ).alias("n0"),
            (F.col("vx").cast("double") / 2.0).alias("n1"),
            (F.col("vy").cast("double") / 2.0).alias("n2"),
        )
    )
    return f.select(
        "n",
        F.col("nc").alias("concordant"),
        F.col("nd").alias("discordant"),
        F.round(
            (F.col("nc") - F.col("nd"))
            / F.sqrt((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n2"))),
            6,
        ).alias("tau_b"),
        F.round((F.col("nc") - F.col("nd")) / F.col("n0"), 6).alias("tau_a"),
    )


@query(
    "q473_cronbach_alpha",
    oracle="""
    WITH items AS (
      SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x1,
             CAST(count(*) AS BIGINT) AS x2,
             CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS x3
      FROM lineitem GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s1,
             CAST(sum(CAST(x1 AS DECIMAL(19,0)) * CAST(x1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS q1,
             CAST(sum(CAST(x2 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s2,
             CAST(sum(CAST(x2 AS DECIMAL(19,0)) * CAST(x2 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS q2,
             CAST(sum(CAST(x3 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s3,
             CAST(sum(CAST(x3 AS DECIMAL(19,0)) * CAST(x3 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS q3,
             CAST(sum(CAST(x1 + x2 + x3 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS st,
             CAST(sum(CAST(x1 + x2 + x3 AS DECIMAL(19,0))
                      * CAST(x1 + x2 + x3 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS qt
      FROM items
    ),
    f AS (
      SELECT n,
             CAST(CAST(n AS DECIMAL(19,0)) * q1 - s1 * s1 AS DOUBLE) AS a1,
             CAST(CAST(n AS DECIMAL(19,0)) * q2 - s2 * s2 AS DOUBLE) AS a2,
             CAST(CAST(n AS DECIMAL(19,0)) * q3 - s3 * s3 AS DOUBLE) AS a3,
             CAST(CAST(n AS DECIMAL(19,0)) * qt - st * st AS DOUBLE) AS at
      FROM m
    )
    SELECT n AS n_orders, 3 AS k_items,
           round(a1 / (CAST(n AS DOUBLE) * (n - 1)), 6) AS var_qty,
           round(a2 / (CAST(n AS DOUBLE) * (n - 1)), 6) AS var_lines,
           round(a3 / (CAST(n AS DOUBLE) * (n - 1)), 6) AS var_disc,
           round(at / (CAST(n AS DOUBLE) * (n - 1)), 6) AS var_total,
           round(1.5 * (1.0 - (a1 + a2 + a3) / at), 6) AS alpha
    FROM f
    """,
)
def q473_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha internal-consistency coefficient (Cronbach
    1951) treating each order as a "respondent" scored on k=3 integer
    items (total quantity, line count, summed discount cents):
    alpha = k/(k-1) * (1 - sum(var_item)/var_total). The exactness
    trick: every sample variance shares the 1/(n(n-1)) factor, so
    alpha reduces to 1.5*(1 - (A1+A2+A3)/At) where Ai = n*Sum(x^2) -
    (Sum x)^2 are EXACT DECIMAL(38,0) integers — the only floats are
    the final reported ratios. The per-item variances are also
    reported (same A terms over n(n-1)).

    100 TB story: one groupBy(orderkey) shuffle builds the item
    vectors, then ONE map-side-combining moment aggregate collapses
    them to 9 integers; alpha is scalar arithmetic on one row — no
    window, no join, no second scan."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("x1"),
        F.count(F.lit(1)).cast("long").alias("x2"),
        F.sum(F.round(F.col("l_discount") * 100).cast("long"))
        .cast("long")
        .alias("x3"),
    )

    def _d19c(col):
        return col.cast("decimal(19,0)")

    t = F.col("x1") + F.col("x2") + F.col("x3")
    m = items.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(_d19c(F.col("x1"))).cast("decimal(38,0)").alias("s1"),
        F.sum(_d19c(F.col("x1")) * _d19c(F.col("x1"))).cast("decimal(38,0)").alias("q1"),
        F.sum(_d19c(F.col("x2"))).cast("decimal(38,0)").alias("s2"),
        F.sum(_d19c(F.col("x2")) * _d19c(F.col("x2"))).cast("decimal(38,0)").alias("q2"),
        F.sum(_d19c(F.col("x3"))).cast("decimal(38,0)").alias("s3"),
        F.sum(_d19c(F.col("x3")) * _d19c(F.col("x3"))).cast("decimal(38,0)").alias("q3"),
        F.sum(_d19c(t)).cast("decimal(38,0)").alias("st"),
        F.sum(_d19c(t) * _d19c(t)).cast("decimal(38,0)").alias("qt"),
    )
    nD = F.col("n").cast("decimal(19,0)")
    f = m.select(
        "n",
        (nD * F.col("q1") - F.col("s1") * F.col("s1")).cast("double").alias("a1"),
        (nD * F.col("q2") - F.col("s2") * F.col("s2")).cast("double").alias("a2"),
        (nD * F.col("q3") - F.col("s3") * F.col("s3")).cast("double").alias("a3"),
        (nD * F.col("qt") - F.col("st") * F.col("st")).cast("double").alias("at"),
    )
    nn1 = F.col("n").cast("double") * (F.col("n") - 1)
    return f.select(
        F.col("n").alias("n_orders"),
        F.lit(3).alias("k_items"),
        F.round(F.col("a1") / nn1, 6).alias("var_qty"),
        F.round(F.col("a2") / nn1, 6).alias("var_lines"),
        F.round(F.col("a3") / nn1, 6).alias("var_disc"),
        F.round(F.col("at") / nn1, 6).alias("var_total"),
        F.round(
            1.5 * (1.0 - (F.col("a1") + F.col("a2") + F.col("a3")) / F.col("at")), 6
        ).alias("alpha"),
    )


@query(
    "q474_icc_supplier",
    oracle="""
    WITH g AS (
      SELECT l_suppkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
             CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2
      FROM lineitem GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(CAST(s1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS ts1,
             CAST(sum(CAST(s2 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS ts2,
             CAST(sum(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sn2,
             CAST(round(sum(CAST(round(
               CAST(CAST(s1 AS DECIMAL(19,0)) * CAST(s1 AS DECIMAL(19,0)) AS DOUBLE) / n,
             12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS w
      FROM g
    ),
    f AS (
      SELECT k, nn,
             (CAST(ts2 AS DOUBLE) - w) AS ssw,
             (w - CAST(ts1 * ts1 AS DOUBLE) / nn) AS ssb,
             (CAST(nn AS DOUBLE) - CAST(sn2 AS DOUBLE) / nn) / (k - 1) AS n0
      FROM m
    ),
    r AS (
      SELECT k, nn, n0,
             ssb / (k - 1) AS msb,
             ssw / (nn - k) AS msw
      FROM f
    )
    SELECT k AS k_suppliers, nn AS n_lines,
           round(msb, 6) AS msb, round(msw, 6) AS msw,
           round(n0, 6) AS n0_mean_group_size,
           round(msb / msw, 6) AS f_stat,
           round((msb - msw) / (msb + (n0 - 1.0) * msw), 6) AS icc1,
           CASE WHEN msb > msw THEN 'supplier_effect' ELSE 'none' END AS verdict
    FROM r
    """,
)
def q474_icc_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraclass correlation ICC(1,1) (one-way random-effects ANOVA,
    Shrout & Fleiss 1979) of line quantity grouped by supplier: how
    much of quantity variance is BETWEEN suppliers? SSW/SSB come from
    per-group integer moments (n_g, S1_g, S2_g); the only non-integer
    group term, S1_g^2/n_g, is rounded to 12 dp and folded through the
    registry's order-free DECIMAL(38,12) sum in BOTH engines. The
    unbalanced-design mean group size n0 = (N - sum n_g^2 / N)/(k-1)
    uses the exact integer sum of squared group sizes. Outputs MSB,
    MSW, the ANOVA F ratio, and ICC(1,1) = (MSB-MSW)/(MSB+(n0-1)MSW).

    100 TB story: one groupBy(suppkey) shuffle to O(suppliers) moment
    rows, then ONE map-side-combining fold to a single row; closed-form
    scalar arithmetic after — no window, no join."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", F.col("l_quantity").cast("long").alias("qy")
    )
    g = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qy").cast("long").alias("s1"),
        F.sum(F.col("qy") * F.col("qy")).cast("long").alias("s2"),
    )

    def _d19c(col):
        return col.cast("decimal(19,0)")

    m = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum(_d19c(F.col("s1"))).cast("decimal(38,0)").alias("ts1"),
        F.sum(_d19c(F.col("s2"))).cast("decimal(38,0)").alias("ts2"),
        F.sum(_d19c(F.col("n")) * _d19c(F.col("n")))
        .cast("decimal(38,0)")
        .alias("sn2"),
        _fold12(
            (_d19c(F.col("s1")) * _d19c(F.col("s1"))).cast("double") / F.col("n")
        ).alias("w"),
    )
    f = m.select(
        "k",
        "nn",
        (F.col("ts2").cast("double") - F.col("w")).alias("ssw"),
        (
            F.col("w")
            - (F.col("ts1") * F.col("ts1")).cast("double") / F.col("nn")
        ).alias("ssb"),
        (
            (F.col("nn").cast("double") - F.col("sn2").cast("double") / F.col("nn"))
            / (F.col("k") - 1)
        ).alias("n0"),
    )
    r = f.select(
        "k",
        "nn",
        "n0",
        (F.col("ssb") / (F.col("k") - 1)).alias("msb"),
        (F.col("ssw") / (F.col("nn") - F.col("k"))).alias("msw"),
    )
    return r.select(
        F.col("k").alias("k_suppliers"),
        F.col("nn").alias("n_lines"),
        F.round("msb", 6).alias("msb"),
        F.round("msw", 6).alias("msw"),
        F.round("n0", 6).alias("n0_mean_group_size"),
        F.round(F.col("msb") / F.col("msw"), 6).alias("f_stat"),
        F.round(
            (F.col("msb") - F.col("msw"))
            / (F.col("msb") + (F.col("n0") - 1.0) * F.col("msw")),
            6,
        ).alias("icc1"),
        F.when(F.col("msb") > F.col("msw"), "supplier_effect")
        .otherwise("none")
        .alias("verdict"),
    )


@query(
    "q475_theil_sen",
    oracle="""
    WITH od AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT round(CAST(b.y - a.y AS DOUBLE) / (b.d - a.d), 12) AS slope
      FROM od a JOIN od b ON a.d < b.d
    ),
    ranked AS (
      SELECT slope, row_number() OVER (ORDER BY slope) AS r,
             count(*) OVER () AS m
      FROM pairs
    ),
    sen AS (
      SELECT round(avg(slope), 6) AS sen_slope, max(m) AS n_pairs
      FROM ranked WHERE r = (m + 1) // 2 OR r = (m + 2) // 2
    ),
    resid AS (
      SELECT round(od.y - (SELECT sen_slope FROM sen) * od.d, 12) AS b0
      FROM od
    ),
    ranked2 AS (
      SELECT b0, row_number() OVER (ORDER BY b0) AS r, count(*) OVER () AS m
      FROM resid
    ),
    icept AS (
      SELECT round(avg(b0), 6) AS intercept, max(m) AS n_days
      FROM ranked2 WHERE r = (m + 1) // 2 OR r = (m + 2) // 2
    )
    SELECT (SELECT n_days FROM icept) AS n_days,
           (SELECT n_pairs FROM sen) AS n_pairs,
           (SELECT sen_slope FROM sen) AS sen_slope,
           (SELECT intercept FROM icept) AS intercept,
           CASE WHEN (SELECT sen_slope FROM sen) > 0 THEN 'rising'
                WHEN (SELECT sen_slope FROM sen) < 0 THEN 'falling'
                ELSE 'flat' END AS trend
    """,
)
def q475_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator (Theil 1950 / Sen 1968) of the
    daily order-arrival series: the median of all pairwise slopes
    (y_j - y_i)/(d_j - d_i) over day pairs, plus the median-residual
    intercept — the breakdown-resistant alternative to the q17 OLS
    slope (disclosed kinship; Mann-Kendall q465 tests the SIGN pattern,
    this estimates the magnitude; q86 is the strided per-event-type
    variant on the minutely series — this one is EXACT all-pairs on the
    calendar-bounded day rollup, with the median-residual intercept). Medians use the covering-ranks idiom
    ((m+1) div 2 / (m+2) div 2 positions of the sorted multiset, so tie
    order cannot matter); slopes are rounded to 12 dp before ranking in
    BOTH engines.

    100 TB story: the corpus collapses to the O(days) rollup in one
    aggregate; the pair enumeration is a broadcast theta-join of the
    calendar-bounded day frame with itself (~days^2/2 rows,
    SF-INVARIANT — it does not grow with corpus size); the slope
    median runs on the slope VALUE HISTOGRAM (distinct Δcount/Δdays
    rationals, range-bounded) via the two-phase bucketed prefix sum —
    no unpartitioned sort ever touches the pair rows — and the
    intercept median sorts only the O(days) residual frame
    (allowlisted). The slope histogram is materialized ONCE (eager
    checkpoint of the bounded support; the pair enumeration runs a
    single time); the orders scan runs twice for the pair-join sides
    during that materialization plus once in the intercept branch,
    each a single-column read collapsing map-side to O(days) — the
    day rollup itself stays un-checkpointed so the plan guard can see
    the aggregate below the intercept median sort (see inline note)."""
    od = (
        _t(spark, sf_dir, "orders")
        .select(
            F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        # NOT checkpointed: the rollup must stay visible below the two
        # median sorts so the plan guard can classify them as
        # aggregate-support windows (a checkpoint would truncate the
        # lineage to ExistingRDD and read as a raw-row sort). Cost: the
        # orders scan runs once per median branch — two scans of the
        # SMALLER fact table, each collapsing map-side to O(days).
        )
    a = od.alias("a")
    b = od.alias("b")
    # try_divide, not /: the prefix-sum's inner equi-join on the bucket key
    # lets the optimizer infer isnotnull(floor(slope*10)) and push it INTO
    # this theta-join's condition, where conjunct order vs d<d' is not
    # guaranteed — under ANSI the plain division then throws on the d==d'
    # pairs the condition exists to exclude. For every surviving pair the
    # denominator is nonzero, so try_divide is value-identical.
    pairs = a.join(F.broadcast(b), F.col("a.d") < F.col("b.d")).select(
        F.round(
            F.try_divide(
                (F.col("b.y") - F.col("a.y")).cast("double"),
                F.col("b.d") - F.col("a.d"),
            ),
            12,
        ).alias("slope")
    )
    # Slope median WITHOUT the former unpartitioned row_number over all
    # ~days^2/2 pair rows (a single-reducer sort of 2.9M rows at sf0.1,
    # measured ~85% of this query's runtime — round-11 optimization).
    # Slopes are rationals (Δcount/Δdays) with a SMALL distinct support
    # (~90k values at sf0.1, range [-37, 44]), so: ONE map-side-combining
    # shuffle builds the value histogram, the cumulative count comes from
    # the two-phase bucketed prefix sum (offsets window only over the
    # ~800-bucket floor(slope*10) frame — range-bounded; floor is
    # monotone, so bucket-major order IS slope order), and the two
    # covering positions (m+1) div 2 / (m+2) div 2 are read off the
    # cumulative counts. Position weights (a value row can cover both
    # positions) reproduce F.avg over the two covering rank rows exactly:
    # one row covering both gives sum(v*2)/2 = v, two rows give
    # (v1+v2)/2 — the identical IEEE arithmetic the rank form produced.
    # Eager checkpoint: the histogram is referenced three times below (the
    # prefix-sum's row side, its bucket-offsets side, and the grand total);
    # without it each reference re-runs the whole pair enumeration (the
    # pushed isnotnull(bucket) predicate makes the subtrees non-identical,
    # so AQE exchange reuse cannot dedupe them — measured 3x the BNLJ).
    # The checkpointed frame is the BOUNDED slope support (~90k rows at
    # sf0.1, <= pair count but value-capped), not corpus rows.
    hist = (
        pairs.groupBy("slope")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    cum = layout.global_prefix_sums(
        hist,
        order_col="slope",
        tie_col="slope",
        bucket=F.floor(F.col("slope") * 10),
        sum_cols=["c"],
    )
    tot = hist.agg(F.sum("c").cast("long").alias("m"))
    k1, k2 = F.expr("(m + 1) div 2"), F.expr("(m + 2) div 2")
    cov = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "slope",
            "m",
            (
                ((F.col("cum_c") >= k1) & (F.col("cum_c") - F.col("c") < k1)).cast("int")
                + ((F.col("cum_c") >= k2) & (F.col("cum_c") - F.col("c") < k2)).cast("int")
            ).alias("w"),
        )
        .filter(F.col("w") > 0)
    )
    sen = cov.agg(
        F.round(F.sum(F.col("slope") * F.col("w")) / F.sum("w"), 6).alias("sen_slope"),
        F.max("m").alias("n_pairs"),
    )
    resid = od.crossJoin(F.broadcast(sen)).select(
        F.round(F.col("y") - F.col("sen_slope") * F.col("d"), 12).alias("b0"),
        "sen_slope",
        "n_pairs",
    )
    w2 = Window.orderBy("b0")
    ranked2 = resid.select(
        "b0",
        "sen_slope",
        "n_pairs",
        F.row_number().over(w2).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    icept = ranked2.filter(
        (F.col("r") == F.expr("(m + 1) div 2")) | (F.col("r") == F.expr("(m + 2) div 2"))
    ).agg(
        F.round(F.avg("b0"), 6).alias("intercept"),
        F.max("m").alias("n_days"),
        F.max("sen_slope").alias("sen_slope"),
        F.max("n_pairs").alias("n_pairs"),
    )
    return icept.select(
        "n_days",
        "n_pairs",
        "sen_slope",
        "intercept",
        F.when(F.col("sen_slope") > 0, "rising")
        .when(F.col("sen_slope") < 0, "falling")
        .otherwise("flat")
        .alias("trend"),
    )


@query(
    "q476_moods_median",
    oracle="""
    WITH h AS (
      SELECT CAST(l_quantity AS BIGINT) AS v, l_returnflag AS flag,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    sup AS (SELECT v, CAST(sum(c) AS BIGINT) AS c FROM h GROUP BY 1),
    cum AS (
      SELECT v, sum(c) OVER (ORDER BY v) AS cc,
             (SELECT CAST(sum(c) AS BIGINT) FROM sup) AS nn
      FROM sup
    ),
    med AS (SELECT min(v) AS med, max(nn) AS nn FROM cum WHERE cc >= (nn + 1) // 2),
    g AS (
      SELECT flag, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN v > (SELECT med FROM med) THEN c ELSE 0 END) AS BIGINT) AS above
      FROM h GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(above) AS BIGINT) AS aa FROM g),
    e AS (
      SELECT flag, n, above,
             CAST(n AS DOUBLE) * (SELECT aa FROM tot) / (SELECT nn FROM tot) AS ea
      FROM g
    ),
    chi AS (
      SELECT CAST(round(sum(CAST(round(
               (above - ea) * (above - ea) / ea
               + ((n - above) - (n - ea)) * ((n - above) - (n - ea)) / (n - ea),
             12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS chi2,
             CAST(count(*) AS BIGINT) - 1 AS df
      FROM e
    )
    SELECT e.flag, e.n, e.above,
           round(e.ea, 6) AS exp_above,
           (SELECT med FROM med) AS grand_median,
           round((SELECT chi2 FROM chi), 6) AS chi2_stat,
           (SELECT df FROM chi) AS df,
           CASE WHEN (SELECT chi2 FROM chi) > 5.991464547108
                THEN 'medians_differ' ELSE 'no_evidence' END AS verdict
    FROM e
    """,
)
def q476_moods_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test (Mood 1950) for equality of quantity medians
    across the three return-flag populations: dichotomize every line at the pooled
    grand median (the LOWER median — smallest value whose cumulative
    count reaches (N+1) div 2, a deterministic rule on the 1..50
    support) and chi-square the resulting modes x {above, not-above}
    table. Expected counts are n_i * A / N; the chi-square fold runs
    through the registry's 12-dp DECIMAL sum. The 95% critical value
    for df=2 (the fixed A/N/R flag universe) is an embedded literal.
    Distinct from q363 (Kruskal-Wallis uses full rank information;
    Mood's uses only the sign relative to the median — coarser but
    robust to any monotone transform).

    100 TB story: ONE aggregate to the <= 150-cell (value, flag)
    histogram; the grand-median cum runs on the 50-row pooled support
    (allowlisted); per-flag counts and the chi-square fold are rollups
    of the same histogram — no corpus-rate window, no second scan."""
    h = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_quantity").cast("long").alias("v"),
            F.col("l_returnflag").alias("flag"),
        )
        .groupBy("v", "flag")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    sup = h.groupBy("v").agg(F.sum("c").cast("long").alias("c"))
    nn_row = sup.agg(F.sum("c").cast("long").alias("nn"))
    cum = (
        sup.crossJoin(F.broadcast(nn_row))
        .select(
            "v",
            F.sum("c").over(Window.orderBy("v")).alias("cc"),
            "nn",
        )
    )
    med = (
        cum.filter(F.col("cc") >= F.expr("(nn + 1) div 2"))
        .agg(F.min("v").alias("med"), F.max("nn").alias("nn"))
    )
    g = (
        h.crossJoin(F.broadcast(med))
        .groupBy("flag")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(F.when(F.col("v") > F.col("med"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("above"),
            F.max("med").alias("grand_median"),
        )
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("above").cast("long").alias("aa"),
    )
    e = g.crossJoin(F.broadcast(tot)).select(
        "flag",
        "n",
        "above",
        "grand_median",
        (F.col("n").cast("double") * F.col("aa") / F.col("tn")).alias("ea"),
    )
    dev_a = F.col("above") - F.col("ea")
    dev_b = (F.col("n") - F.col("above")) - (F.col("n") - F.col("ea"))
    chi = e.agg(
        _fold12(dev_a * dev_a / F.col("ea") + dev_b * dev_b / (F.col("n") - F.col("ea"))).alias(
            "chi2"
        ),
        (F.count(F.lit(1)).cast("long") - 1).alias("df"),
    )
    return e.crossJoin(F.broadcast(chi)).select(
        "flag",
        "n",
        "above",
        F.round("ea", 6).alias("exp_above"),
        "grand_median",
        F.round("chi2", 6).alias("chi2_stat"),
        "df",
        F.when(F.col("chi2") > 5.991464547108, "medians_differ")
        .otherwise("no_evidence")
        .alias("verdict"),
    )


@query(
    "q477_ansari_bradley",
    oracle="""
    WITH h AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS ct
      FROM lineitem WHERE l_linestatus IN ('O', 'F') GROUP BY 1
    ),
    cum AS (
      SELECT v, ca, ct, ca + ct AS c,
             sum(ca + ct) OVER (ORDER BY v) AS cc,
             (SELECT CAST(sum(ca + ct) AS BIGINT) FROM h) AS nn
      FROM h
    ),
    blocks AS (
      SELECT v, ca, ct, c, nn,
             cc - c + 1 AS lo, cc AS hi, (nn + 1) // 2 AS k
      FROM cum
    ),
    scored AS (
      SELECT v, ca, ct, c, nn,
             (CASE WHEN lo <= least(hi, k)
                   THEN (least(hi, k) * (least(hi, k) + 1) - (lo - 1) * lo) // 2
                   ELSE 0 END
              + CASE WHEN greatest(lo, k + 1) <= hi
                     THEN (hi - greatest(lo, k + 1) + 1) * (nn + 1)
                          - (hi * (hi + 1) - (greatest(lo, k + 1) - 1) * greatest(lo, k + 1)) // 2
                     ELSE 0 END) AS sb
      FROM blocks
    ),
    agg AS (
      SELECT max(nn) AS nn,
             CAST(sum(ca) AS BIGINT) AS m,
             CAST(sum(ct) AS BIGINT) AS n2,
             CAST(sum(CAST(sb AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS stot,
             CAST(round(sum(CAST(round(
               CAST(CAST(sb AS DECIMAL(19,0)) * CAST(sb AS DECIMAL(19,0)) AS DOUBLE) / c,
             12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS sstot,
             CAST(round(sum(CAST(round(
               ca * CAST(CAST(sb AS DECIMAL(19,0)) AS DOUBLE) / c,
             12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS ab
      FROM scored
    ),
    f AS (
      SELECT nn, m, n2, ab,
             CAST(m AS DOUBLE) * CAST(stot AS DOUBLE) / nn AS e_ab,
             CAST(m AS DOUBLE) * n2
               * (nn * sstot - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE))
               / (CAST(nn AS DOUBLE) * nn * (nn - 1)) AS var_ab
      FROM agg
    )
    SELECT m AS n_open, n2 AS n_finished,
           round(ab, 6) AS ab_stat,
           round(e_ab, 6) AS expected_ab,
           round((ab - e_ab) / sqrt(var_ab), 6) AS z,
           CASE WHEN abs((ab - e_ab) / sqrt(var_ab)) > 1.959963985
                THEN 'dispersion_differs' ELSE 'no_evidence' END AS verdict
    FROM f
    """,
)
def q477_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley rank dispersion test (Ansari & Bradley 1960):
    do open (O) and finished (F) line populations have the same
    quantity SPREAD (scale), given
    similar centers? Scores assign 1,2,...,ceil(N/2),...,2,1 from both
    ends of the pooled order; the statistic is the O group's score
    sum. With the 1..50 tied support, each value block [lo,hi] gets the
    tie-averaged score, computed in CLOSED FORM from two arithmetic
    series split at k = (N+1) div 2 — exact integer series sums (the
    only divisions, sb^2/c and ca*sb/c, are 12-dp-rounded folds shared
    by both engines). Normal approximation with the tie-corrected
    variance m*n*(N*SS - S^2)/(N^2(N-1)).

    100 TB story: ONE filtered aggregate to the <= 50-row two-group
    support histogram; the cum runs on that support (allowlisted);
    scores, moments and the z-statistic are closed-form arithmetic on
    the same 50 rows — the corpus is never sorted or re-scanned."""
    h = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_linestatus").isin("O", "F"))
        .select(
            F.col("l_quantity").cast("long").alias("v"),
            F.when(F.col("l_linestatus") == "O", 1).otherwise(0).alias("isa"),
        )
        .groupBy("v")
        .agg(
            F.sum("isa").cast("long").alias("ca"),
            F.sum(1 - F.col("isa")).cast("long").alias("ct"),
        )
    )
    # total N comes from a whole-frame window over the SAME support frame
    # (no second corpus scan; the support is the only lineitem read)
    wall = Window.partitionBy()
    cum = h.select(
        "v",
        "ca",
        "ct",
        (F.col("ca") + F.col("ct")).alias("c"),
        F.sum(F.col("ca") + F.col("ct")).over(Window.orderBy("v")).alias("cc"),
        F.sum(F.col("ca") + F.col("ct")).over(wall).cast("long").alias("nn"),
    )
    blocks = cum.select(
        "v",
        "ca",
        "ct",
        "c",
        "nn",
        (F.col("cc") - F.col("c") + 1).alias("lo"),
        F.col("cc").alias("hi"),
        F.expr("(nn + 1) div 2").alias("k"),
    )
    hk = F.least("hi", "k")
    l2 = F.greatest(F.col("lo"), F.col("k") + 1)
    t1 = F.when(
        F.col("lo") <= hk,
        F.expr(
            "(least(hi, k) * (least(hi, k) + 1) - (lo - 1) * lo) div 2"
        ),
    ).otherwise(F.lit(0))
    t2 = F.when(
        l2 <= F.col("hi"),
        (F.col("hi") - l2 + 1) * (F.col("nn") + 1)
        - F.expr(
            "(hi * (hi + 1) - (greatest(lo, k + 1) - 1) * greatest(lo, k + 1)) div 2"
        ),
    ).otherwise(F.lit(0))
    scored = blocks.select(
        "v", "ca", "ct", "c", "nn", (t1 + t2).alias("sb")
    )
    sbd = F.col("sb").cast("decimal(19,0)")
    agg = scored.agg(
        F.max("nn").alias("nn"),
        F.sum("ca").cast("long").alias("m"),
        F.sum("ct").cast("long").alias("n2"),
        F.sum(sbd).cast("decimal(38,0)").alias("stot"),
        _fold12((sbd * sbd).cast("double") / F.col("c")).alias("sstot"),
        _fold12(F.col("ca") * sbd.cast("double") / F.col("c")).alias("ab"),
    )
    f = agg.select(
        "nn",
        "m",
        "n2",
        "ab",
        (F.col("m").cast("double") * F.col("stot").cast("double") / F.col("nn")).alias(
            "e_ab"
        ),
        (
            F.col("m").cast("double")
            * F.col("n2")
            * (
                F.col("nn") * F.col("sstot")
                - F.col("stot").cast("double") * F.col("stot").cast("double")
            )
            / (F.col("nn").cast("double") * F.col("nn") * (F.col("nn") - 1))
        ).alias("var_ab"),
    )
    z = (F.col("ab") - F.col("e_ab")) / F.sqrt(F.col("var_ab"))
    return f.select(
        F.col("m").alias("n_open"),
        F.col("n2").alias("n_finished"),
        F.round("ab", 6).alias("ab_stat"),
        F.round("e_ab", 6).alias("expected_ab"),
        F.round(z, 6).alias("z"),
        F.when(F.abs(z) > 1.959963985, "dispersion_differs")
        .otherwise("no_evidence")
        .alias("verdict"),
    )


@query(
    "q478_fk_readability",
    oracle="""
    WITH d AS (
      SELECT source,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS w,
             length(regexp_replace(lower(text), '[aeiouy]+', '#', 'g'))
               - length(replace(regexp_replace(lower(text), '[aeiouy]+', '#', 'g'), '#', ''))
               AS syl
      FROM documents
    ),
    g AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(w) AS BIGINT) AS n_words,
             CAST(sum(syl) AS BIGINT) AS n_syllables
      FROM d GROUP BY 1
    )
    SELECT source, n_docs, n_words, n_syllables,
           round(CAST(n_words AS DOUBLE) / n_docs, 6) AS words_per_doc,
           round(CAST(n_syllables AS DOUBLE) / n_words, 6) AS syllables_per_word,
           round(0.39 * (CAST(n_words AS DOUBLE) / n_docs)
                 + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59, 6)
             AS fk_grade
    FROM g
    """,
)
def q478_fk_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade-level readability (Kincaid et al. 1975) per
    document source: 0.39*(words/sentences) + 11.8*(syllables/word) -
    15.59. The synthetic corpus is punctuation-free, so each DOCUMENT
    stands in for one sentence (disclosed adaptation — the words/
    sentences term becomes mean document length, which is exactly what
    the grade formula penalizes). Syllables use the standard vowel-group
    heuristic: the count of maximal [aeiouy]+ runs, computed as a
    collapse-to-sentinel regexp_replace followed by a length difference
    — identical string ops in both engines (the corpus contains no '#').
    A data-quality screen for LLM curation: sources whose grade drifts
    from the corpus norm are templated or degenerate.

    100 TB story: per-row column expressions (two regex passes per
    document, no UDF) followed by ONE map-side-combining aggregate to
    O(sources) rows; ratios are scalar arithmetic on those rows — no
    window, no join, no token explosion (counts come from lengths, the
    token array is never materialized)."""
    d = _t(spark, sf_dir, "documents")
    collapsed = F.regexp_replace(F.lower("text"), "[aeiouy]+", "#")
    w = F.when(F.trim("text") == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim("text"), r"\s+"))
    )
    g = (
        d.select(
            "source",
            w.cast("long").alias("w"),
            (
                F.length(collapsed)
                - F.length(F.replace(collapsed, F.lit("#"), F.lit("")))
            )
            .cast("long")
            .alias("syl"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("n_words"),
            F.sum("syl").cast("long").alias("n_syllables"),
        )
    )
    wpd = F.col("n_words").cast("double") / F.col("n_docs")
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    return g.select(
        "source",
        "n_docs",
        "n_words",
        "n_syllables",
        F.round(wpd, 6).alias("words_per_doc"),
        F.round(spw, 6).alias("syllables_per_word"),
        F.round(0.39 * wpd + 11.8 * spw - 15.59, 6).alias("fk_grade"),
    )


@query(
    "q479_yules_k",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      FROM documents WHERE trim(text) <> ''
    ),
    tf AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS cnt
      FROM toks GROUP BY 1, 2
    ),
    g AS (
      SELECT source,
             CAST(sum(cnt) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS v,
             CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
             CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
             CAST(sum(CAST(cnt AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS m2,
             CAST(sum(CAST(cnt AS DECIMAL(19,0)) * CAST(cnt - 1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS rep
      FROM tf GROUP BY 1
    )
    SELECT source, n AS n_tokens, v AS n_types, v1 AS hapax, v2 AS dis,
           round(10000.0 * CAST(m2 - n AS DOUBLE)
                 / (CAST(n AS DOUBLE) * n), 6) AS yules_k,
           round(CAST(rep AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1)), 6) AS simpson_d,
           round(CAST(v1 AS DOUBLE) / v, 6) AS hapax_ratio
    FROM g
    """,
)
def q479_yules_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K characteristic (Yule 1944) plus Simpson's lexical D and
    the hapax/dis-legomena spectrum head, per source: K = 10^4 *
    (sum_m m^2 V_m - N) / N^2 computed directly from term frequencies
    (sum cnt^2 == sum m^2 V_m), Simpson's D = sum cnt(cnt-1) / (N(N-1))
    — the probability two random tokens are the same type. Both are
    repeat-rate measures that are INSENSITIVE to corpus size (unlike
    type-token ratio), which is exactly why they are the standard
    burstiness/templatedness screens for training-data sources; K and
    D run on exact DECIMAL(38,0) integer moments, hapax_ratio = V1/V.
    Complements q309 (Heaps' growth) and q87 (Zipf slope) — those fit
    the SHAPE of the frequency curve, K/D summarize its second moment.

    100 TB story: one token explosion into a (source, term) groupBy —
    the shuffle is vocabulary-bounded, not corpus-bounded (Heaps-
    sublinear, the q441-audited bound); then ONE fold to O(sources)
    moment rows; no window, no join."""
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    tf = (
        d.select(
            "source",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    cd = F.col("cnt").cast("decimal(19,0)")
    g = tf.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).cast("long").alias("v1"),
        F.sum(F.when(F.col("cnt") == 2, 1).otherwise(0)).cast("long").alias("v2"),
        F.sum(cd * cd).cast("decimal(38,0)").alias("m2"),
        F.sum(cd * (F.col("cnt") - 1).cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("rep"),
    )
    return g.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("n_types"),
        F.col("v1").alias("hapax"),
        F.col("v2").alias("dis"),
        F.round(
            10000.0
            * (F.col("m2") - F.col("n")).cast("double")
            / (F.col("n").cast("double") * F.col("n")),
            6,
        ).alias("yules_k"),
        F.round(
            F.col("rep").cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1)),
            6,
        ).alias("simpson_d"),
        F.round(F.col("v1").cast("double") / F.col("v"), 6).alias("hapax_ratio"),
    )


@query(
    "q480_gearys_c",
    oracle=f"""
    WITH {_COGRAPH_SQL},
    px AS (
      SELECT p_partkey AS node,
             CAST(round(p_retailprice * 100) AS BIGINT) AS x
      FROM part
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS nn,
             CAST(sum(CAST(x AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s,
             CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS q
      FROM px
    ),
    num AS (
      SELECT CAST(count(*) AS BIGINT) AS ne,
             CAST(sum(CAST(xa.x - xb.x AS DECIMAL(19,0))
                      * CAST(xa.x - xb.x AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS se
      FROM co JOIN px xa ON xa.node = co.s1 JOIN px xb ON xb.node = co.s2
    )
    SELECT (SELECT nn FROM mom) AS n_nodes,
           (SELECT ne FROM num) AS n_edges,
           round(CAST((SELECT nn FROM mom) AS DOUBLE)
                 * ((SELECT nn FROM mom) - 1.0)
                 * CAST((SELECT se FROM num) AS DOUBLE)
                 / (2.0 * (SELECT ne FROM num)
                    * CAST(CAST((SELECT nn FROM mom) AS DECIMAL(19,0)) * (SELECT q FROM mom)
                           - (SELECT s FROM mom) * (SELECT s FROM mom) AS DOUBLE)),
                 6) AS gearys_c,
           CASE WHEN CAST((SELECT nn FROM mom) AS DOUBLE)
                     * ((SELECT nn FROM mom) - 1.0)
                     * CAST((SELECT se FROM num) AS DOUBLE)
                     / (2.0 * (SELECT ne FROM num)
                        * CAST(CAST((SELECT nn FROM mom) AS DECIMAL(19,0)) * (SELECT q FROM mom)
                               - (SELECT s FROM mom) * (SELECT s FROM mom) AS DOUBLE)) < 1.0
                THEN 'clustered' ELSE 'dispersed' END AS verdict
    """,
)
def q480_gearys_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geary's C spatial autocorrelation (Geary 1954) of part retail
    price over the canonical co-purchase graph — the LOCAL complement
    to q428's Moran's I (disclosed kinship): Moran's I is a global
    cross-product of deviations, C measures squared DIFFERENCES along
    edges, so it is more sensitive to local neighborhood structure.
    C = (N-1) * sum_edges (x_i - x_j)^2 / (2|E| * sum_i (x_i - xbar)^2)
    with binary symmetric weights (the ordered-pair double counting
    cancels). The exactness trick is even cleaner than q428's: the
    numerator needs NO centering — (x_i - x_j)^2 is already an exact
    integer — and the denominator uses N*sum(x^2) - S^2 over N, so both
    engines run identical DECIMAL(38,0) integers until the single final
    division. C < 1 means clustered (co-purchased parts have similar
    prices), C > 1 dispersed; E[C] = 1 under no autocorrelation.

    100 TB story: the edge build is the audited bounded-lines-per-order
    linear shape (q232 kin); the numerator is two hash joins of the
    edge list against the O(parts) price frame and ONE aggregate;
    moments are one pass over part — no corpus pair enumeration."""
    px = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("x"),
    )
    xd = F.col("x").cast("decimal(19,0)")
    mom = px.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum(xd).cast("decimal(38,0)").alias("s"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("q"),
    )
    co = _cograph_edges(spark, sf_dir)
    xa = px.select(F.col("node").alias("s1"), F.col("x").alias("x1"))
    xb = px.select(F.col("node").alias("s2"), F.col("x").alias("x2"))
    diff = (F.col("x1") - F.col("x2")).cast("decimal(19,0)")
    num = (
        co.join(_dim(xa), "s1")
        .join(_dim(xb), "s2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ne"),
            F.sum(diff * diff).cast("decimal(38,0)").alias("se"),
        )
    )
    den = (
        F.col("nn").cast("decimal(19,0)") * F.col("q") - F.col("s") * F.col("s")
    ).cast("double")
    c = (
        F.col("nn").cast("double")
        * (F.col("nn") - 1.0)
        * F.col("se").cast("double")
        / (2.0 * F.col("ne") * den)
    )
    return (
        mom.crossJoin(F.broadcast(num))
        .select(
            F.col("nn").alias("n_nodes"),
            F.col("ne").alias("n_edges"),
            F.round(c, 6).alias("gearys_c"),
            F.when(c < 1.0, "clustered").otherwise("dispersed").alias("verdict"),
        )
    )


@query(
    "q481_gini_stump",
    oracle="""
    WITH h AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pos
      FROM lineitem GROUP BY 1
    ),
    cum AS (
      SELECT v,
             CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cn,
             CAST(sum(pos) OVER (ORDER BY v) AS BIGINT) AS cpos,
             (SELECT CAST(sum(c) AS BIGINT) FROM h) AS nn,
             (SELECT CAST(sum(pos) AS BIGINT) FROM h) AS np,
             max(v) OVER () AS vmax
      FROM h
    ),
    split AS (
      SELECT v AS threshold, cn AS n_left, nn - cn AS n_right,
             CAST(cpos AS DOUBLE) / cn AS pl,
             CAST(np - cpos AS DOUBLE) / (nn - cn) AS pr,
             CAST(np AS DOUBLE) / nn AS p0, nn
      FROM cum WHERE v < vmax
    ),
    g AS (
      SELECT threshold, n_left, n_right,
             round((n_left * (2.0 * pl * (1.0 - pl))
                    + n_right * (2.0 * pr * (1.0 - pr))) / nn, 12) AS gini_split,
             round(2.0 * p0 * (1.0 - p0), 12) AS gini_parent
      FROM split
    )
    SELECT threshold, n_left, n_right,
           round(gini_split, 6) AS gini_split,
           round(gini_parent, 6) AS gini_parent,
           round(gini_parent - gini_split, 6) AS gain,
           CASE WHEN gini_split = min(gini_split) OVER () THEN 1 ELSE 0 END AS is_best
    FROM g
    """,
)
def q481_gini_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split search (CART Gini impurity, Breiman 1984)
    for predicting a returned line (l_returnflag = 'R') from quantity:
    for every threshold t on the 1..50 support, the weighted Gini
    impurity of the {v <= t, v > t} split vs the parent impurity
    2p(1-p). Left/right class counts come from ONE cumulative pass over
    the support histogram; the is_best flag marks the argmin after both
    engines round the impurity to 12 dp (so the comparison runs on
    identical quantized doubles). The first fan-out step of any
    tree/GBT feature audit: a near-zero best gain says the feature
    carries no split signal (m4's GBT kinship, disclosed).

    100 TB story: ONE aggregate to the 50-row support histogram with
    class sums; cum and argmin windows run on that SF-invariant support
    (allowlisted); no corpus-rate window, no join, no second scan."""
    h = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_quantity").cast("long").alias("v"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("isr"),
        )
        .groupBy("v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum("isr").cast("long").alias("pos"),
        )
    )
    wv = Window.orderBy("v")
    wall = Window.partitionBy()
    cum = h.select(
        "v",
        F.sum("c").over(wv).alias("cn"),
        F.sum("pos").over(wv).alias("cpos"),
        F.sum("c").over(wall).cast("long").alias("nn"),
        F.sum("pos").over(wall).cast("long").alias("np"),
        F.max("v").over(wall).alias("vmax"),
    )
    split = cum.filter(F.col("v") < F.col("vmax")).select(
        F.col("v").alias("threshold"),
        F.col("cn").alias("n_left"),
        (F.col("nn") - F.col("cn")).alias("n_right"),
        (F.col("cpos").cast("double") / F.col("cn")).alias("pl"),
        (
            (F.col("np") - F.col("cpos")).cast("double")
            / (F.col("nn") - F.col("cn"))
        ).alias("pr"),
        (F.col("np").cast("double") / F.col("nn")).alias("p0"),
        "nn",
    )
    g = split.select(
        "threshold",
        "n_left",
        "n_right",
        F.round(
            (
                F.col("n_left") * (2.0 * F.col("pl") * (1.0 - F.col("pl")))
                + F.col("n_right") * (2.0 * F.col("pr") * (1.0 - F.col("pr")))
            )
            / F.col("nn"),
            12,
        ).alias("gini_split"),
        F.round(2.0 * F.col("p0") * (1.0 - F.col("p0")), 12).alias("gini_parent"),
    )
    return g.select(
        "threshold",
        "n_left",
        "n_right",
        F.round("gini_split", 6).alias("gini_split"),
        F.round("gini_parent", 6).alias("gini_parent"),
        F.round(F.col("gini_parent") - F.col("gini_split"), 6).alias("gain"),
        F.when(
            F.col("gini_split") == F.min("gini_split").over(Window.partitionBy()),
            1,
        )
        .otherwise(0)
        .alias("is_best"),
    )


@query(
    "q482_gk_lambda",
    oracle="""
    WITH cells AS (
      SELECT CAST(l_quantity AS BIGINT) AS v, l_returnflag AS f,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    rowmax AS (SELECT v, CAST(max(c) AS BIGINT) AS mx FROM cells GROUP BY 1),
    colmax AS (SELECT f, CAST(max(c) AS BIGINT) AS mx FROM cells GROUP BY 1),
    margf AS (SELECT f, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY 1),
    margv AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY 1),
    s AS (
      SELECT (SELECT CAST(sum(c) AS BIGINT) FROM cells) AS n,
             (SELECT CAST(sum(mx) AS BIGINT) FROM rowmax) AS srm,
             (SELECT CAST(sum(mx) AS BIGINT) FROM colmax) AS scm,
             (SELECT CAST(max(t) AS BIGINT) FROM margf) AS mf,
             (SELECT CAST(max(t) AS BIGINT) FROM margv) AS mv,
             (SELECT min(f) FROM margf
              WHERE t = (SELECT max(t) FROM margf)) AS modal_flag
    )
    SELECT n, modal_flag,
           round(CAST(srm - mf AS DOUBLE) / (n - mf), 6) AS lambda_flag_given_qty,
           round(CAST(scm - mv AS DOUBLE) / (n - mv), 6) AS lambda_qty_given_flag,
           round(CAST((srm - mf) + (scm - mv) AS DOUBLE)
                 / ((n - mf) + (n - mv)), 6) AS lambda_symmetric
    FROM s
    """,
)
def q482_gk_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal lambda (1954), the proportional-reduction-in-
    error measure of predictive association: how much better do you
    predict a line's return flag knowing its quantity than always
    guessing the modal flag? lambda = (sum_v max_f n_vf - max_f n_f)
    / (N - max_f n_f), plus the reverse direction and the symmetric
    pooling. ALL terms are exact integers from the <= 150-cell joint
    histogram — the only division is the final ratio. Distinct from
    q425 (Goodman-Kruskal GAMMA ranks ordered pairs; lambda is purely
    nominal — zero lambda with nonzero gamma means ordinal-only
    signal). The modal flag is reported with a deterministic min-name
    tiebreak.

    100 TB story: ONE aggregate to the joint histogram; row/column
    maxima and marginals are rollups of that checkpointed 150-row
    frame; no window, no corpus re-scan."""
    cells = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_quantity").cast("long").alias("v"),
            F.col("l_returnflag").alias("f"),
        )
        .groupBy("v", "f")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    rowmax = cells.groupBy("v").agg(F.max("c").alias("mx")).agg(
        F.sum("mx").cast("long").alias("srm")
    )
    colmax = cells.groupBy("f").agg(F.max("c").alias("mx")).agg(
        F.sum("mx").cast("long").alias("scm")
    )
    margf = cells.groupBy("f").agg(F.sum("c").cast("long").alias("t"))
    margf_max = margf.agg(F.max("t").alias("mf"))
    modal = (
        margf.crossJoin(F.broadcast(margf_max))
        .filter(F.col("t") == F.col("mf"))
        .agg(F.min("f").alias("modal_flag"), F.max("mf").alias("mf"))
    )
    margv_max = (
        cells.groupBy("v")
        .agg(F.sum("c").cast("long").alias("t"))
        .agg(F.max("t").alias("mv"))
    )
    tot = cells.agg(F.sum("c").cast("long").alias("n"))
    s = (
        tot.crossJoin(F.broadcast(rowmax))
        .crossJoin(F.broadcast(colmax))
        .crossJoin(F.broadcast(modal))
        .crossJoin(F.broadcast(margv_max))
    )
    return s.select(
        "n",
        "modal_flag",
        F.round(
            (F.col("srm") - F.col("mf")).cast("double") / (F.col("n") - F.col("mf")),
            6,
        ).alias("lambda_flag_given_qty"),
        F.round(
            (F.col("scm") - F.col("mv")).cast("double") / (F.col("n") - F.col("mv")),
            6,
        ).alias("lambda_qty_given_flag"),
        F.round(
            ((F.col("srm") - F.col("mf")) + (F.col("scm") - F.col("mv"))).cast(
                "double"
            )
            / ((F.col("n") - F.col("mf")) + (F.col("n") - F.col("mv"))),
            6,
        ).alias("lambda_symmetric"),
    )


@query(
    "q483_theils_u",
    oracle="""
    WITH cells AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
    hs AS (
      SELECT CAST(round(sum(CAST(round(
               -(CAST(t AS DOUBLE) / (SELECT n FROM n))
                 * ln(CAST(t AS DOUBLE) / (SELECT n FROM n)),
             12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS h
      FROM (SELECT source, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY 1)
    ),
    hl AS (
      SELECT CAST(round(sum(CAST(round(
               -(CAST(t AS DOUBLE) / (SELECT n FROM n))
                 * ln(CAST(t AS DOUBLE) / (SELECT n FROM n)),
             12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS h
      FROM (SELECT lang, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY 1)
    ),
    hj AS (
      SELECT CAST(round(sum(CAST(round(
               -(CAST(c AS DOUBLE) / (SELECT n FROM n))
                 * ln(CAST(c AS DOUBLE) / (SELECT n FROM n)),
             12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS h
      FROM cells
    )
    SELECT (SELECT n FROM n) AS n_docs,
           round((SELECT h FROM hs), 6) AS h_source,
           round((SELECT h FROM hl), 6) AS h_lang,
           round((SELECT h FROM hj), 6) AS h_joint,
           round(((SELECT h FROM hl) + (SELECT h FROM hs) - (SELECT h FROM hj))
                 / (SELECT h FROM hl), 6) AS u_lang_given_source,
           round(2.0 * ((SELECT h FROM hl) + (SELECT h FROM hs) - (SELECT h FROM hj))
                 / ((SELECT h FROM hl) + (SELECT h FROM hs)), 6) AS u_symmetric
    """,
)
def q483_theils_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient U (Theil 1970) between document
    source and language: the fraction of language entropy explained by
    knowing the source, U(L|S) = (H(L) + H(S) - H(S,L)) / H(L) =
    I(S;L)/H(L), plus the symmetric form — the entropy-based
    (chi-square-free) association measure for two categoricals, the
    right screen for "is language assignment confounded with source"
    before any per-source language quota is trusted. Entropies are
    -p ln p folds over marginal/joint histograms with the registry's
    12-dp DECIMAL policy (identical ln chains both engines; q293 KL
    kinship disclosed).

    100 TB story: ONE aggregate to the O(sources x langs) joint
    histogram; marginals and all three entropy folds are rollups of
    that checkpointed frame — no window, no second corpus scan."""
    cells = (
        _t(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    n_row = cells.agg(F.sum("c").cast("long").alias("n"))

    def _ent(df, cnt_col):
        p = F.col(cnt_col).cast("double") / F.col("n")
        return (
            df.crossJoin(F.broadcast(n_row))
            .agg(_fold12(-p * F.log(p)).alias("h"))
        )

    hs = _ent(cells.groupBy("source").agg(F.sum("c").cast("long").alias("t")), "t")
    hl = _ent(cells.groupBy("lang").agg(F.sum("c").cast("long").alias("t")), "t")
    hj = _ent(cells, "c")
    out = (
        n_row.crossJoin(F.broadcast(hs.select(F.col("h").alias("h_s"))))
        .crossJoin(F.broadcast(hl.select(F.col("h").alias("h_l"))))
        .crossJoin(F.broadcast(hj.select(F.col("h").alias("h_j"))))
    )
    mi = F.col("h_l") + F.col("h_s") - F.col("h_j")
    return out.select(
        F.col("n").alias("n_docs"),
        F.round("h_s", 6).alias("h_source"),
        F.round("h_l", 6).alias("h_lang"),
        F.round("h_j", 6).alias("h_joint"),
        F.round(mi / F.col("h_l"), 6).alias("u_lang_given_source"),
        F.round(2.0 * mi / (F.col("h_l") + F.col("h_s")), 6).alias("u_symmetric"),
    )


@query(
    "q484_kuiper_test",
    oracle="""
    WITH h AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM lineitem GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS m, CAST(sum(cb) AS BIGINT) AS n
      FROM h
    ),
    cum AS (
      SELECT v,
             round(CAST(sum(ca) OVER (ORDER BY v) AS DOUBLE)
                   / (SELECT m FROM tot)
                   - CAST(sum(cb) OVER (ORDER BY v) AS DOUBLE)
                     / (SELECT n FROM tot), 12) AS diff
      FROM h
    ),
    d AS (
      SELECT greatest(max(diff), 0.0) AS dplus,
             greatest(max(-diff), 0.0) AS dminus
      FROM cum
    ),
    f AS (
      SELECT (SELECT m FROM tot) AS m, (SELECT n FROM tot) AS n,
             dplus, dminus, dplus + dminus AS vstat,
             CAST((SELECT m FROM tot) AS DOUBLE) * (SELECT n FROM tot)
               / ((SELECT m FROM tot) + (SELECT n FROM tot)) AS ne
      FROM d
    )
    SELECT m AS n_open, n AS n_finished,
           round(dplus, 6) AS d_plus,
           round(dminus, 6) AS d_minus,
           round(vstat, 6) AS kuiper_v,
           round(vstat * (sqrt(ne) + 0.155 + 0.24 / sqrt(ne)), 6) AS kuiper_stat,
           CASE WHEN vstat * (sqrt(ne) + 0.155 + 0.24 / sqrt(ne)) > 1.747
                THEN 'distributions_differ' ELSE 'no_evidence' END AS verdict
    FROM f
    """,
)
def q484_kuiper_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper two-sample test (Kuiper 1960) on the quantity
    distributions of open (O) vs finished (F) lines: V = D+ + D-, the
    sum of the maximum ECDF exceedances in BOTH directions — unlike the
    plain KS D = max|diff| (q183 kinship, disclosed), V weights the
    tails and the center equally and is invariant to cyclic shifts,
    which is why it is the standard test for periodic/binned supports.
    ECDF differences are computed at every support value from one
    cumulative pass and rounded to 12 dp before the max; the finite-
    sample Stephens (1970) correction V*(sqrt(ne)+0.155+0.24/sqrt(ne))
    is compared to the 95% point 1.747 (both literals shared).

    100 TB story: ONE aggregate to the <= 50-row two-group support
    histogram; the ECDF cum runs on that support (allowlisted); the
    max-fold and the closed-form statistic are scalar work — the
    corpus is never sorted."""
    h = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_quantity").cast("long").alias("v"),
            F.when(F.col("l_linestatus") == "O", 1).otherwise(0).alias("isa"),
        )
        .groupBy("v")
        .agg(
            F.sum("isa").cast("long").alias("ca"),
            F.sum(1 - F.col("isa")).cast("long").alias("cb"),
        )
    )
    wv = Window.orderBy("v")
    wall = Window.partitionBy()
    cum = h.select(
        "v",
        F.sum("ca").over(wall).cast("long").alias("m"),
        F.sum("cb").over(wall).cast("long").alias("n"),
        F.sum("ca").over(wv).alias("cca"),
        F.sum("cb").over(wv).alias("ccb"),
    ).select(
        F.round(
            F.col("cca").cast("double") / F.col("m")
            - F.col("ccb").cast("double") / F.col("n"),
            12,
        ).alias("diff"),
        "m",
        "n",
    )
    d = cum.agg(
        F.greatest(F.max("diff"), F.lit(0.0)).alias("dplus"),
        F.greatest(F.max(-F.col("diff")), F.lit(0.0)).alias("dminus"),
        F.max("m").alias("m"),
        F.max("n").alias("n"),
    )
    f = d.select(
        "m",
        "n",
        "dplus",
        "dminus",
        (F.col("dplus") + F.col("dminus")).alias("vstat"),
        (
            F.col("m").cast("double") * F.col("n") / (F.col("m") + F.col("n"))
        ).alias("ne"),
    )
    stat = F.col("vstat") * (
        F.sqrt("ne") + 0.155 + 0.24 / F.sqrt("ne")
    )
    return f.select(
        F.col("m").alias("n_open"),
        F.col("n").alias("n_finished"),
        F.round("dplus", 6).alias("d_plus"),
        F.round("dminus", 6).alias("d_minus"),
        F.round("vstat", 6).alias("kuiper_v"),
        F.round(stat, 6).alias("kuiper_stat"),
        F.when(stat > 1.747, "distributions_differ")
        .otherwise("no_evidence")
        .alias("verdict"),
    )


@query(
    "q485_oaxaca_mix_rate",
    oracle="""
    WITH o AS (
      SELECT c.c_mktsegment AS seg,
             year(o.o_orderdate) AS yr,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sc
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE year(o.o_orderdate) IN (1995, 1996)
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT yr, CAST(sum(n) AS BIGINT) AS tn FROM o GROUP BY 1
    ),
    w AS (
      SELECT o.seg,
             CAST(max(CASE WHEN o.yr = 1995 THEN o.n END) AS BIGINT) AS n95,
             CAST(max(CASE WHEN o.yr = 1996 THEN o.n END) AS BIGINT) AS n96,
             max(CASE WHEN o.yr = 1995 THEN o.sc END) AS s95,
             max(CASE WHEN o.yr = 1996 THEN o.sc END) AS s96,
             (SELECT tn FROM tot WHERE yr = 1995) AS t95,
             (SELECT tn FROM tot WHERE yr = 1996) AS t96
      FROM o GROUP BY 1
    ),
    r AS (
      SELECT seg,
             CAST(n95 AS DOUBLE) / t95 AS sh95,
             CAST(n96 AS DOUBLE) / t96 AS sh96,
             CAST(s95 AS DOUBLE) / n95 / 100.0 AS r95,
             CAST(s96 AS DOUBLE) / n96 / 100.0 AS r96
      FROM w
    ),
    c AS (
      SELECT seg, sh95, sh96, r95, r96,
             round((sh96 - sh95) * r95, 12) AS mix_c,
             round(sh95 * (r96 - r95), 12) AS rate_c,
             round((sh96 - sh95) * (r96 - r95), 12) AS inter_c
      FROM r
    ),
    t AS (
      SELECT CAST(round(sum(CAST(mix_c AS DECIMAL(38,12))), 12) AS DOUBLE) AS mix_t,
             CAST(round(sum(CAST(rate_c AS DECIMAL(38,12))), 12) AS DOUBLE) AS rate_t,
             CAST(round(sum(CAST(inter_c AS DECIMAL(38,12))), 12) AS DOUBLE) AS inter_t
      FROM c
    )
    SELECT c.seg, round(c.sh95, 6) AS share_1995, round(c.sh96, 6) AS share_1996,
           round(c.r95, 6) AS avg_price_1995, round(c.r96, 6) AS avg_price_1996,
           round(c.mix_c, 6) AS mix_contrib,
           round(c.rate_c, 6) AS rate_contrib,
           round((SELECT mix_t FROM t), 6) AS mix_total,
           round((SELECT rate_t FROM t), 6) AS rate_total,
           round((SELECT inter_t FROM t), 6) AS interaction_total
    FROM c
    """,
)
def q485_oaxaca_mix_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oaxaca-Blinder / shift-share decomposition (Oaxaca 1973) of the
    1995 -> 1996 change in mean order value into MIX (segment share
    shifts at old prices), RATE (within-segment price changes at old
    shares) and the interaction residual — the standard "did revenue
    per order move because customers changed or because segments
    changed" audit, here over the market-segment composition. Segment
    shares and mean prices come from exact integer counts and
    DECIMAL(38,0) cent sums; per-segment contributions are rounded to
    12 dp and totalled through the registry's DECIMAL fold. DiD (q403
    kinship, disclosed) compares two GROUPS over time; this decomposes
    one population's change into composition vs rate.

    100 TB story: one broadcast-dim join + ONE aggregate to the
    O(segments x 2) frame; the pivot, ratios and the three folds all
    run on <= 5 rows — no window, no second scan."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate").isin(1995, 1996))
        .join(_dim(c), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "seg",
            F.year("o_orderdate").alias("yr"),
            F.round(F.col("o_totalprice") * 100).cast("decimal(19,0)").alias("pc"),
        )
        .groupBy("seg", "yr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pc").cast("decimal(38,0)").alias("sc"),
        )
        .localCheckpoint(eager=True)
    )
    tot = o.groupBy("yr").agg(F.sum("n").cast("long").alias("tn"))
    t95 = tot.filter(F.col("yr") == 1995).select(F.col("tn").alias("t95"))
    t96 = tot.filter(F.col("yr") == 1996).select(F.col("tn").alias("t96"))
    w = (
        o.groupBy("seg")
        .agg(
            F.max(F.when(F.col("yr") == 1995, F.col("n"))).alias("n95"),
            F.max(F.when(F.col("yr") == 1996, F.col("n"))).alias("n96"),
            F.max(F.when(F.col("yr") == 1995, F.col("sc"))).alias("s95"),
            F.max(F.when(F.col("yr") == 1996, F.col("sc"))).alias("s96"),
        )
        .crossJoin(F.broadcast(t95))
        .crossJoin(F.broadcast(t96))
    )
    r = w.select(
        "seg",
        (F.col("n95").cast("double") / F.col("t95")).alias("sh95"),
        (F.col("n96").cast("double") / F.col("t96")).alias("sh96"),
        (F.col("s95").cast("double") / F.col("n95") / 100.0).alias("r95"),
        (F.col("s96").cast("double") / F.col("n96") / 100.0).alias("r96"),
    )
    cdf = r.select(
        "seg",
        "sh95",
        "sh96",
        "r95",
        "r96",
        F.round((F.col("sh96") - F.col("sh95")) * F.col("r95"), 12).alias("mix_c"),
        F.round(F.col("sh95") * (F.col("r96") - F.col("r95")), 12).alias("rate_c"),
        F.round(
            (F.col("sh96") - F.col("sh95")) * (F.col("r96") - F.col("r95")), 12
        ).alias("inter_c"),
    )

    def _f12(c_):
        return F.round(F.sum(F.col(c_).cast("decimal(38,12)")), 12).cast("double")

    t = cdf.agg(
        _f12("mix_c").alias("mix_t"),
        _f12("rate_c").alias("rate_t"),
        _f12("inter_c").alias("inter_t"),
    )
    return cdf.crossJoin(F.broadcast(t)).select(
        "seg",
        F.round("sh95", 6).alias("share_1995"),
        F.round("sh96", 6).alias("share_1996"),
        F.round("r95", 6).alias("avg_price_1995"),
        F.round("r96", 6).alias("avg_price_1996"),
        F.round("mix_c", 6).alias("mix_contrib"),
        F.round("rate_c", 6).alias("rate_contrib"),
        F.round("mix_t", 6).alias("mix_total"),
        F.round("rate_t", 6).alias("rate_total"),
        F.round("inter_t", 6).alias("interaction_total"),
    )


@query(
    "q486_rank_instability",
    oracle="""
    WITH li AS (
      SELECT l_suppkey,
             CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev,
             1 AS one
      FROM lineitem
    ),
    n AS (
      SELECT nt.n_name AS nation,
             CAST(sum(CAST(li.rev AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS rev,
             CAST(count(*) AS BIGINT) AS cnt
      FROM li
      JOIN supplier s ON s.s_suppkey = li.l_suppkey
      JOIN nation nt ON nt.n_nationkey = s.s_nationkey
      GROUP BY 1
    ),
    r AS (
      SELECT nation, rev, cnt,
             row_number() OVER (ORDER BY rev DESC, nation ASC) AS r_rev,
             row_number() OVER (ORDER BY cnt DESC, nation ASC) AS r_cnt
      FROM n
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(abs(r_rev - r_cnt)) AS BIGINT) AS footrule,
             CAST(max(abs(r_rev - r_cnt)) AS BIGINT) AS max_disp,
             CAST(sum((r_rev - r_cnt) * (r_rev - r_cnt)) AS BIGINT) AS d2,
             CAST(sum(CASE WHEN r_rev <= 5 AND r_cnt <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS top5_overlap
      FROM r
    )
    SELECT r.nation, r.r_rev AS revenue_rank, r.r_cnt AS volume_rank,
           CAST(abs(r.r_rev - r.r_cnt) AS BIGINT) AS displacement,
           (SELECT footrule FROM t) AS footrule_total,
           (SELECT max_disp FROM t) AS max_displacement,
           (SELECT top5_overlap FROM t) AS top5_overlap,
           round(1.0 - 6.0 * (SELECT d2 FROM t)
                 / (CAST((SELECT k FROM t) AS DOUBLE)
                    * ((SELECT k FROM t) * (SELECT k FROM t) - 1)), 6) AS spearman_rho
    FROM r
    """,
)
def q486_rank_instability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-instability audit between two nation leaderboards — supplier
    nations ranked by REVENUE vs by LINE VOLUME: Spearman's footrule
    distance (sum |r1 - r2|, Diaconis & Graham 1977), the maximum
    single displacement, top-5 overlap, and Spearman's rho from the
    exact integer d^2 sum (ranks are distinct by construction: ties
    break deterministically on nation name in BOTH engines, so rho's
    no-tie formula is exact). The standard "does the KPI choice change
    the league table" screen before any top-k budget allocation; q85
    (value-support Spearman) measures column correlation — this
    measures RANKING disagreement on an entity leaderboard.

    100 TB story: one broadcast-dim join chain collapses the corpus to
    25 nation rows in ONE aggregate; both rankings and all four
    distance folds run on that fixed 25-row frame (allowlisted
    windows); no corpus-rate sort."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("rev"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nt = _t(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    n = (
        li.join(_dim(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(_dim(nt), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("nation")
        .agg(
            F.sum(F.col("rev").cast("decimal(19,0)"))
            .cast("decimal(38,0)")
            .alias("rev"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
    )
    r = (
        n.select(
            "nation",
            F.row_number()
            .over(Window.orderBy(F.col("rev").desc(), F.col("nation").asc()))
            .alias("r_rev"),
            F.row_number()
            .over(Window.orderBy(F.col("cnt").desc(), F.col("nation").asc()))
            .alias("r_cnt"),
        )
        # checkpointed AFTER the rank windows: the distance fold and the
        # final join both replay this 25-row frame, not the dim-join chain
        .localCheckpoint(eager=True)
    )
    disp = F.abs(F.col("r_rev") - F.col("r_cnt"))
    t = r.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(disp).cast("long").alias("footrule"),
        F.max(disp).cast("long").alias("max_disp"),
        F.sum(
            (F.col("r_rev") - F.col("r_cnt")) * (F.col("r_rev") - F.col("r_cnt"))
        )
        .cast("long")
        .alias("d2"),
        F.sum(F.when((F.col("r_rev") <= 5) & (F.col("r_cnt") <= 5), 1).otherwise(0))
        .cast("long")
        .alias("top5_overlap"),
    )
    return r.crossJoin(F.broadcast(t)).select(
        "nation",
        F.col("r_rev").alias("revenue_rank"),
        F.col("r_cnt").alias("volume_rank"),
        disp.cast("long").alias("displacement"),
        F.col("footrule").alias("footrule_total"),
        F.col("max_disp").alias("max_displacement"),
        "top5_overlap",
        F.round(
            1.0
            - 6.0
            * F.col("d2")
            / (F.col("k").cast("double") * (F.col("k") * F.col("k") - 1)),
            6,
        ).alias("spearman_rho"),
    )


@query(
    "q487_negbin_fit",
    oracle="""
    WITH g AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s1,
             CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s2
      FROM g
    ),
    f AS (
      SELECT n,
             CAST(s1 AS DOUBLE) / n AS mean_y,
             CAST(CAST(n AS DECIMAL(19,0)) * s2 - CAST(s1 AS DECIMAL(19,0)) * CAST(s1 AS DECIMAL(19,0)) AS DOUBLE)
               / (CAST(n AS DOUBLE) * (n - 1)) AS var_y
      FROM m
    )
    SELECT n AS n_customers,
           round(mean_y, 6) AS mean_orders,
           round(var_y, 6) AS var_orders,
           round(var_y / mean_y, 6) AS dispersion_index,
           round(CASE WHEN var_y > mean_y
                      THEN mean_y * mean_y / (var_y - mean_y) END, 6) AS nb_r,
           round(CASE WHEN var_y > mean_y
                      THEN mean_y / var_y END, 6) AS nb_p,
           CASE WHEN var_y > mean_y THEN 'overdispersed_nb'
                ELSE 'poisson_or_under' END AS verdict
    FROM f
    """,
)
def q487_negbin_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit (Anscombe 1950) to
    per-CUSTOMER order counts: mean, sample variance, the dispersion
    index, and the NB(r, p) parameters r = m^2/(s^2 - m), p = m/s^2
    (null when the data is not overdispersed — fail-visible rather
    than a garbage negative r). q405 (disclosed kinship) TESTS daily
    arrival counts for Poisson-ness; this FITS the unit-level count
    model that a marketing-frequency or repeat-buyer simulation would
    sample from. Customers with zero orders are not observable in the
    orders table and are excluded (disclosed — this is the
    zero-truncated frame). All moments are exact BIGINT/DECIMAL.

    100 TB story: one groupBy(custkey) shuffle, then ONE moment fold
    to a single row; closed-form arithmetic after — no window, no
    join, no second scan."""
    g = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    yd = F.col("y").cast("decimal(19,0)")
    m = g.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s1"),
        F.sum(yd * yd).cast("decimal(38,0)").alias("s2"),
    )
    f = m.select(
        "n",
        (F.col("s1").cast("double") / F.col("n")).alias("mean_y"),
        (
            (
                F.col("n").cast("decimal(19,0)") * F.col("s2")
                - F.col("s1").cast("decimal(19,0)") * F.col("s1").cast("decimal(19,0)")
            ).cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1))
        ).alias("var_y"),
    )
    over = F.col("var_y") > F.col("mean_y")
    return f.select(
        F.col("n").alias("n_customers"),
        F.round("mean_y", 6).alias("mean_orders"),
        F.round("var_y", 6).alias("var_orders"),
        F.round(F.col("var_y") / F.col("mean_y"), 6).alias("dispersion_index"),
        F.round(
            F.when(
                over,
                F.col("mean_y") * F.col("mean_y") / (F.col("var_y") - F.col("mean_y")),
            ),
            6,
        ).alias("nb_r"),
        F.round(F.when(over, F.col("mean_y") / F.col("var_y")), 6).alias("nb_p"),
        F.when(over, "overdispersed_nb")
        .otherwise("poisson_or_under")
        .alias("verdict"),
    )


@query(
    "q488_breakpoint_search",
    oracle="""
    WITH od AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT d, y,
             CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn,
             CAST(sum(y) OVER (ORDER BY d) AS BIGINT) AS cy,
             CAST(sum(y * y) OVER (ORDER BY d) AS BIGINT) AS cy2,
             (SELECT CAST(count(*) AS BIGINT) FROM od) AS nd,
             (SELECT CAST(sum(y) AS BIGINT) FROM od) AS ty,
             (SELECT CAST(sum(y * y) AS BIGINT) FROM od) AS ty2
      FROM od
    ),
    cand AS (
      SELECT d, rn, nd,
             round((cy2 - CAST(cy AS DOUBLE) * cy / rn)
                   + ((ty2 - cy2) - CAST(ty - cy AS DOUBLE) * (ty - cy) / (nd - rn)),
                   12) AS sse_split,
             round(ty2 - CAST(ty AS DOUBLE) * ty / nd, 12) AS sse_total,
             CAST(cy AS DOUBLE) / rn AS mean_left,
             CAST(ty - cy AS DOUBLE) / (nd - rn) AS mean_right
      FROM cum WHERE rn >= 2 AND rn <= nd - 2
    ),
    best AS (
      SELECT * FROM (
        SELECT cand.*, min(sse_split) OVER () AS best_sse FROM cand
      ) WHERE sse_split = best_sse
      ORDER BY d LIMIT 1
    )
    SELECT DATE '1970-01-01' + CAST(d AS INTEGER) AS break_day,
           nd AS n_days, rn AS days_before,
           round(mean_left, 6) AS mean_before,
           round(mean_right, 6) AS mean_after,
           round(sse_total, 6) AS sse_total,
           round(sse_split, 6) AS sse_split,
           round(sse_total - sse_split, 6) AS gain,
           round((sse_total - sse_split) / (sse_split / (nd - 2)), 6) AS f_stat
    FROM best
    """,
)
def q488_breakpoint_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single-changepoint search (the first step of binary
    segmentation, Scott & Knott 1974) on the daily order-arrival
    series: the split day minimizing total within-segment SSE, from
    ONE cumulative pass over the day rollup (SSE of each side comes
    from prefix count/sum/sum-of-squares — no per-candidate rescan).
    Both engines round candidate SSEs to 12 dp before the argmin and
    break ties on the earliest day, so the selected breakpoint is
    deterministic. Reports the F-like variance-ratio gain. Distinct
    from q424 (Chow TESTS a GIVEN break date) and q238 (hourly CUSUM
    drift): this SEARCHES all candidate days; guards require >= 2 days
    per side.

    100 TB story: the corpus collapses to the O(days) rollup in one
    aggregate; the candidate scan is the SAME calendar-bounded frame
    under three prefix windows (allowlisted); argmin is an aggregate —
    at no point does anything scale past O(days)."""
    od = (
        _t(spark, sf_dir, "orders")
        .select(
            F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    wd = Window.orderBy("d")
    wall = Window.partitionBy()
    cum = od.select(
        "d",
        F.row_number().over(wd).cast("long").alias("rn"),
        F.sum("y").over(wd).cast("long").alias("cy"),
        F.sum(F.col("y") * F.col("y")).over(wd).cast("long").alias("cy2"),
        F.count(F.lit(1)).over(wall).cast("long").alias("nd"),
        F.sum("y").over(wall).cast("long").alias("ty"),
        F.sum(F.col("y") * F.col("y")).over(wall).cast("long").alias("ty2"),
    )
    cand = cum.filter(
        (F.col("rn") >= 2) & (F.col("rn") <= F.col("nd") - 2)
    ).select(
        "d",
        "rn",
        "nd",
        F.round(
            (F.col("cy2") - F.col("cy").cast("double") * F.col("cy") / F.col("rn"))
            + (
                (F.col("ty2") - F.col("cy2"))
                - (F.col("ty") - F.col("cy")).cast("double")
                * (F.col("ty") - F.col("cy"))
                / (F.col("nd") - F.col("rn"))
            ),
            12,
        ).alias("sse_split"),
        F.round(
            F.col("ty2") - F.col("ty").cast("double") * F.col("ty") / F.col("nd"),
            12,
        ).alias("sse_total"),
        (F.col("cy").cast("double") / F.col("rn")).alias("mean_left"),
        (
            (F.col("ty") - F.col("cy")).cast("double") / (F.col("nd") - F.col("rn"))
        ).alias("mean_right"),
    )
    best = (
        cand.withColumn(
            "best_sse", F.min("sse_split").over(Window.partitionBy())
        )
        .filter(F.col("sse_split") == F.col("best_sse"))
        .orderBy("d")
        .limit(1)
    )
    return best.select(
        F.date_add(F.lit("1970-01-01").cast("date"), F.col("d").cast("int")).alias(
            "break_day"
        ),
        F.col("nd").alias("n_days"),
        F.col("rn").alias("days_before"),
        F.round("mean_left", 6).alias("mean_before"),
        F.round("mean_right", 6).alias("mean_after"),
        F.round("sse_total", 6).alias("sse_total"),
        F.round("sse_split", 6).alias("sse_split"),
        F.round(F.col("sse_total") - F.col("sse_split"), 6).alias("gain"),
        F.round(
            (F.col("sse_total") - F.col("sse_split"))
            / (F.col("sse_split") / (F.col("nd") - 2)),
            6,
        ).alias("f_stat"),
    )


@query(
    "q489_edge_jaccard",
    oracle=f"""
    WITH {_COGRAPH_SQL},
    und AS (SELECT s1 AS u, s2 AS w FROM co UNION ALL SELECT s2, s1 FROM co),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS dg FROM und GROUP BY 1),
    common AS (
      SELECT co.s1, co.s2, CAST(count(*) AS BIGINT) AS cn
      FROM co
      JOIN und e1 ON e1.u = co.s1
      JOIN und e2 ON e2.u = co.s2 AND e2.w = e1.w
      GROUP BY 1, 2
    ),
    j AS (
      SELECT co.s1, co.s2,
             COALESCE(c.cn, 0) AS common_neighbors,
             da.dg AS deg_s1, db.dg AS deg_s2,
             round(CAST(COALESCE(c.cn, 0) AS DOUBLE)
                   / (da.dg + db.dg - COALESCE(c.cn, 0)), 12) AS jr
      FROM co
      LEFT JOIN common c ON c.s1 = co.s1 AND c.s2 = co.s2
      JOIN deg da ON da.u = co.s1
      JOIN deg db ON db.u = co.s2
    )
    SELECT s1, s2, common_neighbors, deg_s1, deg_s2,
           round(jr, 6) AS jaccard
    FROM j
    ORDER BY jr DESC, s1 ASC, s2 ASC
    LIMIT 10
    """,
)
def q489_edge_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard similarity of co-purchase EDGES (the
    link-prediction / community-strength score of Jaccard 1901 applied
    to graph neighborhoods): for each edge (u,v), |N(u) cap N(v)| /
    |N(u) cup N(v)| where the intersection count is the number of
    triangles through the edge (one wedge join — the audited
    triangle-count shape) and the union is deg(u)+deg(v)-common.
    Top-10 strongest edges with a deterministic (rounded-score, s1,
    s2) ordering. Adamic-Adar (disclosed kinship) weights common
    neighbors by rarity to PREDICT missing links; Jaccard normalizes
    by neighborhood size to rank EXISTING edges — near-1 edges are
    redundant bundle ties, near-0 edges are bridges.

    100 TB story: edge build is bounded-lines-per-order linear; the
    wedge join joins the edge list to the adjacency list on node keys
    (never all-pairs); the top-10 cut is TakeOrderedAndProject —
    bounded output, no unpartitioned sort of the full edge set."""
    co = _cograph_edges(spark, sf_dir).localCheckpoint(eager=True)
    und = co.select(F.col("s1").alias("u"), F.col("s2").alias("w")).unionAll(
        co.select(F.col("s2").alias("u"), F.col("s1").alias("w"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("dg"))
    e1 = und.select(F.col("u").alias("a1"), F.col("w").alias("w1"))
    e2 = und.select(F.col("u").alias("a2"), F.col("w").alias("w2"))
    common = (
        co.join(e1, F.col("a1") == F.col("s1"))
        .join(e2, (F.col("a2") == F.col("s2")) & (F.col("w2") == F.col("w1")))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    da = deg.select(F.col("u").alias("s1"), F.col("dg").alias("deg_s1"))
    db = deg.select(F.col("u").alias("s2"), F.col("dg").alias("deg_s2"))
    j = (
        co.join(common, ["s1", "s2"], "left")
        .join(_dim(da), "s1")
        .join(_dim(db), "s2")
        .select(
            "s1",
            "s2",
            F.coalesce("cn", F.lit(0)).cast("long").alias("common_neighbors"),
            "deg_s1",
            "deg_s2",
            F.round(
                F.coalesce("cn", F.lit(0)).cast("double")
                / (F.col("deg_s1") + F.col("deg_s2") - F.coalesce("cn", F.lit(0))),
                12,
            ).alias("jr"),
        )
    )
    return (
        j.orderBy(F.col("jr").desc(), F.col("s1").asc(), F.col("s2").asc())
        .limit(10)
        .select(
            "s1",
            "s2",
            "common_neighbors",
            "deg_s1",
            "deg_s2",
            F.round("jr", 6).alias("jaccard"),
        )
    )


@query(
    "q490_fisher_price_index",
    oracle="""
    WITH li AS (
      SELECT l_partkey AS pk, year(l_shipdate) AS yr,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
             CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sc
      FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
      GROUP BY 1, 2
    ),
    w AS (
      SELECT pk,
             CAST(max(CASE WHEN yr = 1995 THEN q END) AS BIGINT) AS q0,
             CAST(max(CASE WHEN yr = 1996 THEN q END) AS BIGINT) AS q1,
             max(CASE WHEN yr = 1995 THEN sc END) AS s0,
             max(CASE WHEN yr = 1996 THEN sc END) AS s1
      FROM li GROUP BY 1
      HAVING max(CASE WHEN yr = 1995 THEN q END) IS NOT NULL
         AND max(CASE WHEN yr = 1996 THEN q END) IS NOT NULL
    ),
    p AS (
      SELECT pk, q0, q1,
             CAST(s0 AS DOUBLE) / q0 AS p0,
             CAST(s1 AS DOUBLE) / q1 AS p1
      FROM w
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n_parts,
             CAST(round(sum(CAST(round(p1 * q0, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS l_num,
             CAST(round(sum(CAST(round(p0 * q0, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS l_den,
             CAST(round(sum(CAST(round(p1 * q1, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS p_num,
             CAST(round(sum(CAST(round(p0 * q1, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS p_den
      FROM p
    )
    SELECT n_parts,
           round(l_num / l_den, 6) AS laspeyres,
           round(p_num / p_den, 6) AS paasche,
           round(sqrt((l_num / l_den) * (p_num / p_den)), 6) AS fisher,
           round((sqrt((l_num / l_den) * (p_num / p_den)) - 1.0) * 100.0, 6)
             AS inflation_pct
    FROM t
    """,
)
def q490_fisher_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher ideal price index (Fisher 1922) for 1995 -> 1996 over
    parts shipped in BOTH years: Laspeyres (new prices at OLD
    quantities), Paasche (new prices at NEW quantities) and their
    geometric mean. Per-part unit prices are revenue-cents over
    quantity from exact DECIMAL/BIGINT year rollups; the four basket
    sums are 12-dp DECIMAL folds shared by both engines. Complements
    q485 (disclosed kinship: Oaxaca decomposes the mean CHANGE by
    segment composition; Fisher aggregates PRICE relatives at fixed
    baskets — the two standard answers to "how much of the revenue
    move is price"). Parts sold in only one year drop out (standard
    matched-sample index; disclosed).

    100 TB story: ONE aggregate to O(parts x 2) rollups, a pivot on
    the part key (same shuffle), and ONE fold to a single row — no
    window, no corpus re-scan."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.year("l_shipdate").isin(1995, 1996))
        .select(
            F.col("l_partkey").alias("pk"),
            F.year("l_shipdate").alias("yr"),
            F.col("l_quantity").cast("long").alias("qy"),
            F.round(F.col("l_extendedprice") * 100).cast("decimal(19,0)").alias("pc"),
        )
        .groupBy("pk", "yr")
        .agg(
            F.sum("qy").cast("long").alias("q"),
            F.sum("pc").cast("decimal(38,0)").alias("sc"),
        )
    )
    w = (
        li.groupBy("pk")
        .agg(
            F.max(F.when(F.col("yr") == 1995, F.col("q"))).alias("q0"),
            F.max(F.when(F.col("yr") == 1996, F.col("q"))).alias("q1"),
            F.max(F.when(F.col("yr") == 1995, F.col("sc"))).alias("s0"),
            F.max(F.when(F.col("yr") == 1996, F.col("sc"))).alias("s1"),
        )
        .filter(F.col("q0").isNotNull() & F.col("q1").isNotNull())
    )
    p = w.select(
        "pk",
        "q0",
        "q1",
        (F.col("s0").cast("double") / F.col("q0")).alias("p0"),
        (F.col("s1").cast("double") / F.col("q1")).alias("p1"),
    )
    t = p.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        _fold12(F.col("p1") * F.col("q0")).alias("l_num"),
        _fold12(F.col("p0") * F.col("q0")).alias("l_den"),
        _fold12(F.col("p1") * F.col("q1")).alias("p_num"),
        _fold12(F.col("p0") * F.col("q1")).alias("p_den"),
    )
    lasp = F.col("l_num") / F.col("l_den")
    paas = F.col("p_num") / F.col("p_den")
    return t.select(
        "n_parts",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
        F.round((F.sqrt(lasp * paas) - 1.0) * 100.0, 6).alias("inflation_pct"),
    )


@query(
    "q491_mad_robust_z",
    oracle="""
    WITH g AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    sup AS (SELECT y AS v, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1),
    cum AS (
      SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cc,
             (SELECT CAST(sum(c) AS BIGINT) FROM sup) AS n
      FROM sup
    ),
    med AS (
      SELECT ((SELECT min(v) FROM cum WHERE cc >= (n + 1) // 2)
              + (SELECT min(v) FROM cum WHERE cc >= (n + 2) // 2)) AS med2,
             max(n) AS n
      FROM cum
    ),
    dsup AS (
      SELECT abs(2 * v - (SELECT med2 FROM med)) AS d2, CAST(sum(c) AS BIGINT) AS c
      FROM sup GROUP BY 1
    ),
    dcum AS (
      SELECT d2, CAST(sum(c) OVER (ORDER BY d2) AS BIGINT) AS cc,
             (SELECT CAST(sum(c) AS BIGINT) FROM dsup) AS n
      FROM dsup
    ),
    mad AS (
      SELECT ((SELECT min(d2) FROM dcum WHERE cc >= (n + 1) // 2)
              + (SELECT min(d2) FROM dcum WHERE cc >= (n + 2) // 2)) AS mad4
      FROM dcum LIMIT 1
    ),
    z AS (
      SELECT v, c,
             round(0.6745 * (2.0 * v - (SELECT med2 FROM med))
                   * 2.0 / (SELECT mad4 FROM mad), 12) AS rz
      FROM sup
    )
    SELECT (SELECT n FROM med) AS n_customers,
           round((SELECT med2 FROM med) / 2.0, 6) AS median_orders,
           round((SELECT mad4 FROM mad) / 4.0, 6) AS mad_orders,
           CAST(sum(CASE WHEN abs(rz) > 3.5 THEN c ELSE 0 END) AS BIGINT) AS n_outliers_35,
           CAST(sum(CASE WHEN abs(rz) > 3.0 THEN c ELSE 0 END) AS BIGINT) AS n_outliers_30,
           round(max(abs(rz)), 6) AS max_robust_z,
           round(CAST(sum(CASE WHEN abs(rz) > 3.5 THEN c ELSE 0 END) AS DOUBLE)
                 / (SELECT n FROM med), 6) AS outlier_share
    FROM z
    """,
)
def q491_mad_robust_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modified robust z-score outlier audit (Iglewicz & Hoaglin 1993:
    z = 0.6745 (y - median) / MAD, flag |z| > 3.5) on per-customer
    order counts — the breakdown-resistant sibling of q468's Tukey
    fences (disclosed kinship: fences use quartiles, MAD-z uses the
    median of absolute deviations, which survives 50% contamination).
    Exactness: both medians run on count-value SUPPORTS via the
    covering-ranks idiom, and all half-values are kept integer by the
    DOUBLING trick (med2 = 2*median, mad4 = 4*MAD are exact integers;
    z re-scales once in double, rounded 12 dp before thresholding in
    both engines). Reports the 3.5 and 3.0 censuses plus max |z| — the
    max is the non-vacuous signal when the census is legitimately 0
    at small scale (disclosed).

    100 TB story: one groupBy(custkey) shuffle, then everything runs
    on the count-range-bounded value support (q449-class bound): two
    support cums (allowlisted), one fold — no corpus sort."""
    g = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        # checkpointed so the four support-derived branches (total,
        # median cum, |d| support, z census) replay this rollup, not
        # the orders scan; the support groupBy BELOW each window keeps
        # the guard's agg classification intact
        .localCheckpoint(eager=True)
    )
    sup = g.groupBy(F.col("y").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n_row = sup.agg(F.sum("c").cast("long").alias("n"))
    cum = sup.crossJoin(F.broadcast(n_row)).select(
        "v",
        F.sum("c").over(Window.orderBy("v")).cast("long").alias("cc"),
        "n",
    )

    def _cover(df, vcol):
        lo = df.filter(F.col("cc") >= F.expr("(n + 1) div 2")).agg(
            F.min(vcol).alias("a")
        )
        hi = df.filter(F.col("cc") >= F.expr("(n + 2) div 2")).agg(
            F.min(vcol).alias("b")
        )
        return lo.crossJoin(F.broadcast(hi)).select(
            (F.col("a") + F.col("b")).alias("twice")
        )

    med = _cover(cum, "v").select(F.col("twice").alias("med2"))
    dsup = (
        sup.crossJoin(F.broadcast(med))
        .groupBy(F.abs(2 * F.col("v") - F.col("med2")).alias("d2"))
        .agg(F.sum("c").cast("long").alias("c"))
    )
    dcum = dsup.crossJoin(F.broadcast(n_row)).select(
        "d2",
        F.sum("c").over(Window.orderBy("d2")).cast("long").alias("cc"),
        "n",
    )
    mad = _cover(dcum, "d2").select(F.col("twice").alias("mad4"))
    z = (
        sup.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .select(
            "c",
            F.round(
                0.6745 * (2.0 * F.col("v") - F.col("med2")) * 2.0 / F.col("mad4"),
                12,
            ).alias("rz"),
        )
    )
    out = z.agg(
        F.sum(F.when(F.abs("rz") > 3.5, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_outliers_35"),
        F.sum(F.when(F.abs("rz") > 3.0, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_outliers_30"),
        F.round(F.max(F.abs("rz")), 6).alias("max_robust_z"),
    )
    return (
        n_row.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .crossJoin(F.broadcast(out))
        .select(
            F.col("n").alias("n_customers"),
            F.round(F.col("med2") / 2.0, 6).alias("median_orders"),
            F.round(F.col("mad4") / 4.0, 6).alias("mad_orders"),
            "n_outliers_35",
            "n_outliers_30",
            "max_robust_z",
            F.round(F.col("n_outliers_35").cast("double") / F.col("n"), 6).alias(
                "outlier_share"
            ),
        )
    )


@query(
    "q492_winsorized_corr",
    oracle="""
    WITH cells AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_discount * 100) AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
    xc AS (
      SELECT x AS v, CAST(sum(c) OVER (ORDER BY x) AS BIGINT) AS cc
      FROM (SELECT x, CAST(sum(c) AS BIGINT) AS c FROM cells GROUP BY 1)
    ),
    yc AS (
      SELECT y AS v, CAST(sum(c) OVER (ORDER BY y) AS BIGINT) AS cc
      FROM (SELECT y, CAST(sum(c) AS BIGINT) AS c FROM cells GROUP BY 1)
    ),
    b AS (
      SELECT
        (SELECT min(v) FROM xc WHERE cc >= CAST(ceil(0.05 * (SELECT n FROM n)) AS BIGINT)) AS xlo,
        (SELECT min(v) FROM xc WHERE cc >= CAST(ceil(0.95 * (SELECT n FROM n)) AS BIGINT)) AS xhi,
        (SELECT min(v) FROM yc WHERE cc >= CAST(ceil(0.05 * (SELECT n FROM n)) AS BIGINT)) AS ylo,
        (SELECT min(v) FROM yc WHERE cc >= CAST(ceil(0.95 * (SELECT n FROM n)) AS BIGINT)) AS yhi
    ),
    w AS (
      SELECT least(greatest(x, (SELECT xlo FROM b)), (SELECT xhi FROM b)) AS wx,
             least(greatest(y, (SELECT ylo FROM b)), (SELECT yhi FROM b)) AS wy,
             x, y, c
      FROM cells
    ),
    m AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CAST(c AS DECIMAL(19,0)) * wx) AS DECIMAL(38,0)) AS sx,
             CAST(sum(CAST(c AS DECIMAL(19,0)) * wy) AS DECIMAL(38,0)) AS sy,
             CAST(sum(CAST(c AS DECIMAL(19,0)) * wx * wx) AS DECIMAL(38,0)) AS sxx,
             CAST(sum(CAST(c AS DECIMAL(19,0)) * wy * wy) AS DECIMAL(38,0)) AS syy,
             CAST(sum(CAST(c AS DECIMAL(19,0)) * wx * wy) AS DECIMAL(38,0)) AS sxy,
             CAST(sum(CAST(c AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS rsx,
             CAST(sum(CAST(c AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS rsy,
             CAST(sum(CAST(c AS DECIMAL(19,0)) * x * x) AS DECIMAL(38,0)) AS rsxx,
             CAST(sum(CAST(c AS DECIMAL(19,0)) * y * y) AS DECIMAL(38,0)) AS rsyy,
             CAST(sum(CAST(c AS DECIMAL(19,0)) * x * y) AS DECIMAL(38,0)) AS rsxy
      FROM w
    )
    SELECT n AS n_lines,
           (SELECT xlo FROM b) AS x_lo, (SELECT xhi FROM b) AS x_hi,
           (SELECT ylo FROM b) AS y_lo, (SELECT yhi FROM b) AS y_hi,
           round(CAST(CAST(n AS DECIMAL(19,0)) * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(CAST(n AS DECIMAL(19,0)) * sxx - sx * sx AS DOUBLE)
                        * CAST(CAST(n AS DECIMAL(19,0)) * syy - sy * sy AS DOUBLE)), 6)
             AS r_winsorized,
           round(CAST(CAST(n AS DECIMAL(19,0)) * rsxy - rsx * rsy AS DOUBLE)
                 / sqrt(CAST(CAST(n AS DECIMAL(19,0)) * rsxx - rsx * rsx AS DOUBLE)
                        * CAST(CAST(n AS DECIMAL(19,0)) * rsyy - rsy * rsy AS DOUBLE)), 6)
             AS r_raw
    FROM m
    """,
)
def q492_winsorized_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized Pearson correlation (Wilcox 2012's robust correlation
    workhorse) between line quantity and discount cents: both margins
    are clamped at their empirical 5th/95th percentiles — taken
    DETERMINISTICALLY from the marginal support cums (smallest value
    whose cumulative count reaches ceil(q*N)) — and the correlation is
    recomputed from exact DECIMAL(38,0) cell-weighted moments on the
    <= 550-cell joint support, alongside the raw correlation for the
    tail-sensitivity delta. q199/q442 (disclosed kinship) winsorize
    univariate STATS and a trimmed MEAN respectively;
    this winsorizes a BIVARIATE moment — the robustness screen before
    trusting any price-incentive elasticity readout (q418 kin).

    100 TB story: ONE aggregate to the joint support; marginal cums run
    on <= 50/11-row supports (allowlisted); clamping and both moment
    sets are folds over the same checkpointed 550 cells — no second
    corpus scan, no corpus-rate window."""
    cells = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_quantity").cast("long").alias("x"),
            F.round(F.col("l_discount") * 100).cast("long").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    n_row = cells.agg(F.sum("c").cast("long").alias("n"))

    def _margin_cum(col):
        m = cells.groupBy(F.col(col).alias("v")).agg(
            F.sum("c").cast("long").alias("c")
        )
        return m.select(
            "v", F.sum("c").over(Window.orderBy("v")).cast("long").alias("cc")
        )

    def _pct(cumdf, q, alias):
        return (
            cumdf.crossJoin(F.broadcast(n_row))
            .filter(F.col("cc") >= F.ceil(q * F.col("n")).cast("long"))
            .agg(F.min("v").alias(alias))
        )

    xc = _margin_cum("x")
    ycm = _margin_cum("y")
    b = (
        _pct(xc, 0.05, "xlo")
        .crossJoin(F.broadcast(_pct(xc, 0.95, "xhi")))
        .crossJoin(F.broadcast(_pct(ycm, 0.05, "ylo")))
        .crossJoin(F.broadcast(_pct(ycm, 0.95, "yhi")))
    )
    w = cells.crossJoin(F.broadcast(b)).select(
        F.least(F.greatest("x", "xlo"), F.col("xhi")).alias("wx"),
        F.least(F.greatest("y", "ylo"), F.col("yhi")).alias("wy"),
        "x",
        "y",
        "c",
        "xlo",
        "xhi",
        "ylo",
        "yhi",
    )
    cd = F.col("c").cast("decimal(19,0)")
    m = w.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(cd * F.col("wx")).cast("decimal(38,0)").alias("sx"),
        F.sum(cd * F.col("wy")).cast("decimal(38,0)").alias("sy"),
        F.sum(cd * F.col("wx") * F.col("wx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(cd * F.col("wy") * F.col("wy")).cast("decimal(38,0)").alias("syy"),
        F.sum(cd * F.col("wx") * F.col("wy")).cast("decimal(38,0)").alias("sxy"),
        F.sum(cd * F.col("x")).cast("decimal(38,0)").alias("rsx"),
        F.sum(cd * F.col("y")).cast("decimal(38,0)").alias("rsy"),
        F.sum(cd * F.col("x") * F.col("x")).cast("decimal(38,0)").alias("rsxx"),
        F.sum(cd * F.col("y") * F.col("y")).cast("decimal(38,0)").alias("rsyy"),
        F.sum(cd * F.col("x") * F.col("y")).cast("decimal(38,0)").alias("rsxy"),
        F.max("xlo").alias("x_lo"),
        F.max("xhi").alias("x_hi"),
        F.max("ylo").alias("y_lo"),
        F.max("yhi").alias("y_hi"),
    )
    nD = F.col("n").cast("decimal(19,0)")

    def _pearson(sxy, sx, sy, sxx, syy):
        return (
            (nD * F.col(sxy) - F.col(sx) * F.col(sy)).cast("double")
            / F.sqrt(
                (nD * F.col(sxx) - F.col(sx) * F.col(sx)).cast("double")
                * (nD * F.col(syy) - F.col(sy) * F.col(sy)).cast("double")
            )
        )

    return m.select(
        F.col("n").alias("n_lines"),
        "x_lo",
        "x_hi",
        "y_lo",
        "y_hi",
        F.round(_pearson("sxy", "sx", "sy", "sxx", "syy"), 6).alias("r_winsorized"),
        F.round(_pearson("rsxy", "rsx", "rsy", "rsxx", "rsyy"), 6).alias("r_raw"),
    )


@query(
    "q493_design_effect",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS s1,
             CAST(sum(CAST(n_chars AS DECIMAL(19,0)) * CAST(n_chars AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s2
      FROM documents GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(CAST(s1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS t1,
             CAST(sum(s2) AS DECIMAL(38,0)) AS t2,
             CAST(count(*) AS BIGINT) AS h
      FROM s
    ),
    wv AS (
      SELECT CAST(round(sum(CAST(round(
               (CAST(s.n AS DOUBLE) / (SELECT nn FROM tot))
                 * (CAST(CAST(s.n AS DECIMAL(19,0)) * s.s2
                         - CAST(s.s1 AS DECIMAL(19,0)) * CAST(s.s1 AS DECIMAL(19,0)) AS DOUBLE)
                    / (CAST(s.n AS DOUBLE) * (s.n - 1))),
             12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS within
      FROM s
    ),
    f AS (
      SELECT (SELECT nn FROM tot) AS nn, (SELECT h FROM tot) AS h,
             (SELECT within FROM wv) AS within,
             CAST(CAST((SELECT nn FROM tot) AS DECIMAL(19,0)) * (SELECT t2 FROM tot)
                  - (SELECT t1 FROM tot) * (SELECT t1 FROM tot) AS DOUBLE)
               / (CAST((SELECT nn FROM tot) AS DOUBLE) * ((SELECT nn FROM tot) - 1)) AS total_var
    )
    SELECT nn AS n_docs, h AS n_strata,
           round(total_var, 6) AS var_total,
           round(within, 6) AS var_within_weighted,
           round(within / total_var, 6) AS deff_proportionate,
           round(1.0 - within / total_var, 6) AS between_share,
           CASE WHEN within / total_var < 1.0 THEN 'stratification_helps'
                ELSE 'no_gain' END AS verdict
    FROM f
    """,
)
def q493_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Design effect of proportionate stratification by source (Kish
    1965): DEFF = sum_h W_h s_h^2 / s^2 — the variance of a
    proportionate stratified mean of document length relative to
    simple random sampling. DEFF < 1 quantifies exactly how much a
    source-stratified eval/training sample beats an unstratified one;
    1 - DEFF is the share of length variance that lives BETWEEN
    sources. Per-stratum sample variances come from exact
    BIGINT/DECIMAL moments; the W_h s_h^2 terms are 12-dp folds.
    q360 (disclosed kinship) ALLOCATES a stratified budget
    (Neyman); this measures the PAYOFF of stratifying at all.

    100 TB story: ONE map-side-combining aggregate to O(sources)
    moment rows, one fold to a single row, closed form after — no
    window, no join, no second scan."""
    s = (
        _t(spark, sf_dir, "documents")
        .select("source", F.col("n_chars").cast("long").alias("x"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("s1"),
            F.sum(F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
            .cast("decimal(38,0)")
            .alias("s2"),
        )
        .localCheckpoint(eager=True)
    )
    tot = s.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum(F.col("s1").cast("decimal(19,0)")).cast("decimal(38,0)").alias("t1"),
        F.sum("s2").cast("decimal(38,0)").alias("t2"),
        F.count(F.lit(1)).cast("long").alias("h"),
    )
    sh_var = (
        F.col("n").cast("decimal(19,0)") * F.col("s2")
        - F.col("s1").cast("decimal(19,0)") * F.col("s1").cast("decimal(19,0)")
    ).cast("double") / (F.col("n").cast("double") * (F.col("n") - 1))
    wv = (
        s.crossJoin(F.broadcast(tot.select("nn")))
        .agg(
            _fold12((F.col("n").cast("double") / F.col("nn")) * sh_var).alias(
                "within"
            )
        )
    )
    f = tot.crossJoin(F.broadcast(wv)).select(
        "nn",
        "h",
        "within",
        (
            (
                F.col("nn").cast("decimal(19,0)") * F.col("t2")
                - F.col("t1") * F.col("t1")
            ).cast("double")
            / (F.col("nn").cast("double") * (F.col("nn") - 1))
        ).alias("total_var"),
    )
    deff = F.col("within") / F.col("total_var")
    return f.select(
        F.col("nn").alias("n_docs"),
        F.col("h").alias("n_strata"),
        F.round("total_var", 6).alias("var_total"),
        F.round("within", 6).alias("var_within_weighted"),
        F.round(deff, 6).alias("deff_proportionate"),
        F.round(1.0 - deff, 6).alias("between_share"),
        F.when(deff < 1.0, "stratification_helps")
        .otherwise("no_gain")
        .alias("verdict"),
    )


@query(
    "q494_hill_numbers",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      FROM documents WHERE trim(text) <> ''
    ),
    tf AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS cnt
      FROM toks GROUP BY 1, 2
    ),
    ns AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM tf GROUP BY 1),
    g AS (
      SELECT tf.source,
             max(ns.n) AS n,
             CAST(count(*) AS BIGINT) AS v,
             CAST(round(sum(CAST(round(
               -(CAST(tf.cnt AS DOUBLE) / ns.n) * ln(CAST(tf.cnt AS DOUBLE) / ns.n),
             12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS h1,
             CAST(round(sum(CAST(round(
               (CAST(tf.cnt AS DOUBLE) / ns.n) * (CAST(tf.cnt AS DOUBLE) / ns.n),
             12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS p2
      FROM tf JOIN ns ON ns.source = tf.source
      GROUP BY 1
    )
    SELECT source, n AS n_tokens, v AS hill_q0_richness,
           round(exp(h1), 6) AS hill_q1_shannon,
           round(1.0 / p2, 6) AS hill_q2_simpson,
           round(h1 / ln(CAST(v AS DOUBLE)), 6) AS pielou_evenness,
           round((1.0 / p2) / v, 6) AS simpson_evenness
    FROM g
    """,
)
def q494_hill_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill-numbers diversity profile (Hill 1973) of each source's
    vocabulary — the effective number of equally-common types at
    orders q=0 (richness V), q=1 (exp of Shannon entropy) and q=2
    (inverse Simpson concentration) — plus Pielou's J = H/ln V and the
    q2/q0 evenness ratio. The PROFILE is the point: q0 counts every
    hapax equally, q2 is dominated by the head, so the spread between
    the three numbers is the standard "is this source's diversity real
    or a long tail of junk tokens" screen (ecology's answer to the
    q479 repeat-rate view — disclosed kinship, as are q336's
    Gini-Simpson and q87's Zipf fit). Entropy and concentration are
    12-dp p-folds; exp runs on the identical quantized double in both
    engines.

    100 TB story: one vocabulary-bounded (source, term) groupBy; ONE
    fold to O(sources) rows; scalar arithmetic after — no window, no
    corpus re-scan."""
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    tf = (
        d.select(
            "source",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    ns = tf.groupBy("source").agg(F.sum("cnt").cast("long").alias("n"))
    p = F.col("cnt").cast("double") / F.col("n")
    g = (
        tf.join(_dim(ns), "source")
        .groupBy("source")
        .agg(
            F.max("n").alias("n"),
            F.count(F.lit(1)).cast("long").alias("v"),
            _fold12(-p * F.log(p)).alias("h1"),
            _fold12(p * p).alias("p2"),
        )
    )
    return g.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("hill_q0_richness"),
        F.round(F.exp("h1"), 6).alias("hill_q1_shannon"),
        F.round(1.0 / F.col("p2"), 6).alias("hill_q2_simpson"),
        F.round(F.col("h1") / F.log(F.col("v").cast("double")), 6).alias(
            "pielou_evenness"
        ),
        F.round((1.0 / F.col("p2")) / F.col("v"), 6).alias("simpson_evenness"),
    )


_CROSTON_BRANDS = ("Brand#11", "Brand#12", "Brand#13")
_CROSTON_BRANDS_SQL = ", ".join(f"'{b}'" for b in _CROSTON_BRANDS)


def _q496_croston_oracle(T: int = 60, a: float = 0.2) -> str:
    """Keyed variant of the q495 generated chain: one state row per
    brand, each step transforming every brand's row in place — the q274
    keyed-oracle treatment applied to Croston."""
    b = round(1.0 - a, 12)
    ctes = [
        "c0 AS (SELECT brand, 0.0 AS z, 0.0 AS p, 0.0 AS q, 0 AS st, 0.0 AS nd, xs FROM series)"
    ]
    for t in range(1, T + 1):
        ctes.append(
            f"c{t} AS (SELECT brand, "
            f"CASE WHEN st = 0 THEN CASE WHEN xs[{t}] > 0 THEN xs[{t}] ELSE z END "
            f"ELSE CASE WHEN xs[{t}] > 0 THEN {a} * xs[{t}] + {b} * z ELSE z END END AS z, "
            f"CASE WHEN st = 0 THEN CASE WHEN xs[{t}] > 0 THEN CAST({t} AS DOUBLE) ELSE p END "
            f"ELSE CASE WHEN xs[{t}] > 0 THEN {a} * q + {b} * p ELSE p END END AS p, "
            f"CASE WHEN xs[{t}] > 0 THEN 1.0 "
            f"ELSE CASE WHEN st = 0 THEN 0.0 ELSE q + 1.0 END END AS q, "
            f"CASE WHEN st = 1 OR xs[{t}] > 0 THEN 1 ELSE 0 END AS st, "
            f"nd + CASE WHEN xs[{t}] > 0 THEN 1.0 ELSE 0.0 END AS nd, "
            f"xs FROM c{t - 1})"
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH li AS (
      SELECT p.p_brand AS brand, l.l_shipdate AS sd,
             CAST(l.l_quantity AS DOUBLE) AS qy
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand IN ({_CROSTON_BRANDS_SQL})
    ),
    lo AS (SELECT brand, min(sd) AS lo FROM li GROUP BY 1),
    daily AS (
      SELECT li.brand, datediff('day', lo.lo, li.sd) AS d, sum(li.qy) AS c
      FROM li JOIN lo ON lo.brand = li.brand
      WHERE datediff('day', lo.lo, li.sd) < {T}
      GROUP BY 1, 2
    ),
    grid AS (
      SELECT lo.brand, g.d
      FROM lo CROSS JOIN (SELECT unnest(generate_series(0, {T - 1})) AS d) g
    ),
    dense AS (
      SELECT g.brand, g.d, coalesce(daily.c, 0.0) AS c
      FROM grid g LEFT JOIN daily ON daily.brand = g.brand AND daily.d = g.d
    ),
    series AS (SELECT brand, list(c ORDER BY d) AS xs FROM dense GROUP BY 1),
    {chain}
    SELECT brand,
           CAST(nd AS BIGINT) AS n_demand_days,
           round(z, 6) + 0.0 AS demand_size,
           round(p, 6) + 0.0 AS demand_interval,
           round(z / p, 6) + 0.0 AS croston_rate,
           round({round(1.0 - a / 2.0, 12)} * (z / p), 6) + 0.0 AS sba_rate
    FROM c{T}
    """


@query("q496_streaming_croston_drain", oracle=_q496_croston_oracle())
def q496_streaming_croston_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Croston drained in the hash-checked gate — the q326
    batch recursion as a keyed stateful operator
    (:func:`stateful.streaming_croston`): each of three brands' dense
    60-day demand series arrives as three sequence-ordered micro-batches
    (days 0-19, 20-39, 40-59), the (size-EWMA, interval-EWMA, counter)
    state folds ACROSS batches, and the final per-key state must match
    the generated keyed 60-step CTE-chain oracle digit-for-digit. One
    smoother, two execution forms, one answer (q273/q274/q275's
    equivalence-class treatment applied to q326's intermittent-demand
    family — same alpha-0.2 recursion, here on SKU demand with
    cross-batch state instead of a batch array fold).

    Scale: state is six scalars per key; each micro-batch does O(new
    rows) work — the streaming form is how a million sparse SKUs
    re-forecast INCREMENTALLY per day without re-reading history."""
    from phoebe_spark.streaming import drain
    from phoebe_spark.streaming.stateful import streaming_croston

    T, a = 60, 0.2
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin(*_CROSTON_BRANDS))
        .select("p_partkey", F.col("p_brand").alias("brand"))
    )
    daily_abs = (
        _t(spark, sf_dir, "lineitem")
        .join(_dim(p), F.col("p_partkey") == F.col("l_partkey"))
        .select("brand", "l_shipdate", F.col("l_quantity").cast("double").alias("qy"))
        .groupBy("brand", "l_shipdate")
        .agg(F.sum("qy").alias("c"))
        .localCheckpoint(eager=True)
    )
    lo = daily_abs.groupBy("brand").agg(F.min("l_shipdate").alias("lo"))
    daily = (
        daily_abs.join(_dim(lo), "brand")
        .select("brand", F.datediff("l_shipdate", "lo").alias("d"), "c")
        .filter(F.col("d") < T)
    )
    grid = lo.select(
        "brand", F.explode(F.sequence(F.lit(0), F.lit(T - 1))).alias("d")
    )
    dense = grid.join(F.broadcast(daily), ["brand", "d"], "left").select(
        "brand", F.col("d").cast("int").alias("d"), F.coalesce("c", F.lit(0.0)).alias("c")
    )

    with drain.scratch("q496_") as work:
        src_dir = f"{work}/src"
        drain.stage_slices(
            (
                dense.filter((F.col("d") >= d_lo) & (F.col("d") < d_hi))
                for d_lo, d_hi in ((0, 20), (20, 40), (40, 60))
            ),
            src_dir,
        )

        stream = (
            spark.readStream.schema("brand STRING, d INT, c DOUBLE")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        out = streaming_croston(stream, alpha=a, key_col="brand")
        sink = drain.run(out, work, output_mode="update")
        final = drain.latest(spark.read.parquet(sink)).select(
            F.col("key").alias("brand"),
            F.col("nd").cast("long").alias("n_demand_days"),
            (F.round("z", 6) + F.lit(0.0)).alias("demand_size"),
            (F.round("p", 6) + F.lit(0.0)).alias("demand_interval"),
            (F.round(F.col("z") / F.col("p"), 6) + F.lit(0.0)).alias("croston_rate"),
            (
                F.round(F.lit(round(1.0 - a / 2.0, 12)) * (F.col("z") / F.col("p")), 6)
                + F.lit(0.0)
            ).alias("sba_rate"),
        )
        return final.localCheckpoint(eager=True)


# O'Brien-Fleming two-sided group-sequential z boundaries for K=4 equally
# spaced analyses at overall alpha=0.05 (Lan-DeMets textbook values),
# quantized once and embedded in BOTH engines.
_OBF_BOUNDS = [(1, 4.048894), (2, 2.862786), (3, 2.337455), (4, 2.024447)]
_OBF_BOUNDS_SQL = ", ".join(f"({k}, {z})" for k, z in _OBF_BOUNDS)


@query(
    "q497_obrien_fleming",
    oracle=f"""
    WITH ob(stage, bound) AS (VALUES {_OBF_BOUNDS_SQL}),
    s AS (
      SELECT CASE WHEN year(o.o_orderdate) = 1995 THEN 1 ELSE 2 END * 2
             - CASE WHEN month(o.o_orderdate) <= 6 THEN 1 ELSE 0 END AS stage,
             CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS arm,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS yc
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE year(o.o_orderdate) IN (1995, 1996)
    ),
    g AS (
      SELECT stage, arm, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(yc AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s1,
             CAST(sum(CAST(yc AS DECIMAL(19,0)) * CAST(yc AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s2
      FROM s GROUP BY 1, 2
    ),
    cum AS (
      SELECT stage, arm,
             CAST(sum(n) OVER (PARTITION BY arm ORDER BY stage) AS BIGINT) AS n,
             CAST(sum(s1) OVER (PARTITION BY arm ORDER BY stage) AS DECIMAL(38,0)) AS s1,
             CAST(sum(s2) OVER (PARTITION BY arm ORDER BY stage) AS DECIMAL(38,0)) AS s2
      FROM g
    ),
    w AS (
      SELECT stage,
             CAST(max(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n1,
             CAST(max(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n0,
             max(CASE WHEN arm = 1 THEN s1 END) AS s11,
             max(CASE WHEN arm = 0 THEN s1 END) AS s10,
             max(CASE WHEN arm = 1 THEN s2 END) AS s21,
             max(CASE WHEN arm = 0 THEN s2 END) AS s20
      FROM cum GROUP BY 1
    ),
    z AS (
      SELECT stage, n1, n0,
             round((CAST(s11 AS DOUBLE) / n1 - CAST(s10 AS DOUBLE) / n0)
                   / sqrt(CAST(CAST(n1 AS DECIMAL(19,0)) * s21 - s11 * s11 AS DOUBLE)
                            / (CAST(n1 AS DOUBLE) * (n1 - 1)) / n1
                          + CAST(CAST(n0 AS DECIMAL(19,0)) * s20 - s10 * s10 AS DOUBLE)
                            / (CAST(n0 AS DOUBLE) * (n0 - 1)) / n0), 12) AS zstat
      FROM w
    )
    SELECT z.stage, z.n1 + z.n0 AS n_accrued,
           round(z.zstat, 6) AS z_stat,
           CAST(ob.bound AS DOUBLE) AS obf_bound,
           CASE WHEN abs(z.zstat) >= ob.bound THEN 1 ELSE 0 END AS crossed,
           CASE WHEN (SELECT max(CASE WHEN abs(z2.zstat) >= ob2.bound THEN 1 ELSE 0 END)
                      FROM z z2 JOIN ob ob2 ON ob2.stage = z2.stage) = 1
                THEN 'stop_early' ELSE 'continue_to_final' END AS verdict
    FROM z JOIN ob ON ob.stage = z.stage
    """,
)
def q497_obrien_fleming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O'Brien-Fleming group-sequential monitoring (O'Brien & Fleming
    1979) of the BUILDING-vs-rest order-value experiment accruing over
    1995-1996: the Welch z statistic at four equally spaced interim
    looks (half-years) against the canonical K=4 two-sided 5% OBF
    boundaries (4.049 / 2.863 / 2.337 / 2.024 — steep early, nominal
    late), embedded as a Python-quantized literal table in BOTH
    engines. q362 (disclosed kinship) monitors a PROPORTION with the
    constant Pocock boundary; this monitors a MEAN with the
    spend-late OBF boundary — the two canonical boundary families,
    deliberately paired. The peeking-correct complement to q470's
    fixed-n MDE audit (q303's SPRT is the fully-sequential cousin):
    crossing an interim boundary is a legitimate early stop, a naive
    1.96 at every look is not. Cumulative moments accrue via stage
    windows over the 8-row (stage, arm) grid.

    100 TB story: one broadcast-dim join + ONE aggregate to 8 moment
    rows; stage cums, the z closed form and the boundary join all run
    on that fixed frame (broadcast literal table) — no corpus-rate
    window, no second scan."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("arm"),
    )
    stage = (
        F.when(F.year("o_orderdate") == 1995, 1).otherwise(2) * 2
        - F.when(F.month("o_orderdate") <= 6, 1).otherwise(0)
    )
    s = (
        _t(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate").isin(1995, 1996))
        .join(_dim(c), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            stage.alias("stage"),
            "arm",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("yc"),
        )
    )
    yd = F.col("yc").cast("decimal(19,0)")
    g = s.groupBy("stage", "arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(yd).cast("decimal(38,0)").alias("s1"),
        F.sum(yd * yd).cast("decimal(38,0)").alias("s2"),
    )
    warm = Window.partitionBy("arm").orderBy("stage")
    cum = g.select(
        "stage",
        "arm",
        F.sum("n").over(warm).cast("long").alias("n"),
        F.sum("s1").over(warm).cast("decimal(38,0)").alias("s1"),
        F.sum("s2").over(warm).cast("decimal(38,0)").alias("s2"),
    )
    w = cum.groupBy("stage").agg(
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("s1"))).alias("s11"),
        F.max(F.when(F.col("arm") == 0, F.col("s1"))).alias("s10"),
        F.max(F.when(F.col("arm") == 1, F.col("s2"))).alias("s21"),
        F.max(F.when(F.col("arm") == 0, F.col("s2"))).alias("s20"),
    )

    def _v(n, s1, s2):
        return (
            (F.col(n).cast("decimal(19,0)") * F.col(s2) - F.col(s1) * F.col(s1)).cast(
                "double"
            )
            / (F.col(n).cast("double") * (F.col(n) - 1))
            / F.col(n)
        )

    z = w.select(
        "stage",
        "n1",
        "n0",
        F.round(
            (
                F.col("s11").cast("double") / F.col("n1")
                - F.col("s10").cast("double") / F.col("n0")
            )
            / F.sqrt(_v("n1", "s11", "s21") + _v("n0", "s10", "s20")),
            12,
        ).alias("zstat"),
    ).localCheckpoint(eager=True)
    ob = spark.createDataFrame(_OBF_BOUNDS, "stage INT, bound DOUBLE")
    any_cross = (
        z.join(F.broadcast(ob), "stage")
        .agg(
            F.max(
                F.when(F.abs("zstat") >= F.col("bound"), 1).otherwise(0)
            ).alias("anyc")
        )
    )
    return (
        z.join(F.broadcast(ob), "stage")
        .crossJoin(F.broadcast(any_cross))
        .select(
            "stage",
            (F.col("n1") + F.col("n0")).alias("n_accrued"),
            F.round("zstat", 6).alias("z_stat"),
            F.col("bound").alias("obf_bound"),
            F.when(F.abs("zstat") >= F.col("bound"), 1).otherwise(0).alias("crossed"),
            F.when(F.col("anyc") == 1, "stop_early")
            .otherwise("continue_to_final")
            .alias("verdict"),
        )
    )


@query(
    "q498_direct_standardization",
    oracle="""
    WITH s AS (
      SELECT CAST(l_quantity AS BIGINT) AS stratum,
             CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS t,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    g AS (
      SELECT stratum, t, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS pos
      FROM s GROUP BY 1, 2
    ),
    w AS (
      SELECT stratum,
             CAST(max(CASE WHEN t = 1 THEN n END) AS BIGINT) AS nt,
             CAST(max(CASE WHEN t = 0 THEN n END) AS BIGINT) AS nc,
             CAST(max(CASE WHEN t = 1 THEN pos END) AS BIGINT) AS pt,
             CAST(max(CASE WHEN t = 0 THEN pos END) AS BIGINT) AS pc
      FROM g GROUP BY 1
    ),
    used AS (SELECT * FROM w WHERE nt IS NOT NULL AND nc IS NOT NULL),
    tot AS (
      SELECT CAST(sum(nt + nc) AS BIGINT) AS nn,
             CAST(count(*) AS BIGINT) AS k_used,
             (SELECT CAST(count(*) AS BIGINT) FROM w) - CAST(count(*) AS BIGINT) AS k_dropped
      FROM used
    ),
    crude AS (
      SELECT CAST(sum(pt) AS DOUBLE) / sum(nt)
             - CAST(sum(pc) AS DOUBLE) / sum(nc) AS rd
      FROM used
    ),
    adj AS (
      SELECT CAST(round(sum(CAST(round(
               (CAST(nt + nc AS DOUBLE) / (SELECT nn FROM tot))
                 * (CAST(pt AS DOUBLE) / nt - CAST(pc AS DOUBLE) / nc),
             12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS rd
      FROM used
    )
    SELECT (SELECT nn FROM tot) AS n_lines,
           (SELECT k_used FROM tot) AS n_strata_used,
           (SELECT k_dropped FROM tot) AS n_strata_dropped,
           round((SELECT rd FROM crude), 6) AS crude_risk_diff,
           round((SELECT rd FROM adj), 6) AS adjusted_risk_diff,
           round((SELECT rd FROM crude) - (SELECT rd FROM adj), 6) AS confounding_delta,
           CASE WHEN abs((SELECT rd FROM crude) - (SELECT rd FROM adj)) > 0.01
                THEN 'confounded' ELSE 'negligible_confounding' END AS verdict
    """,
)
def q498_direct_standardization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct standardization / stratified risk-difference adjustment
    (the Cochran 1957 workhorse of observational epidemiology): the
    crude effect of a deep discount (>= 5%) on return probability vs
    the effect ADJUSTED by standardizing each quantity stratum's
    within-stratum risk difference to the total population weights —
    w_s = n_s/N, RD_adj = sum w_s (p_t,s - p_c,s). The gap between
    crude and adjusted is the measured confounding through quantity.
    Strata missing either arm are dropped and COUNTED (fail-visible,
    q414's convention). q463 (disclosed kinship) pools stratified ODDS
    ratios by MH weights; this standardizes risk DIFFERENCES to a
    reference population — different estimand, same one-pass shape.

    100 TB story: ONE aggregate to the <= 100-cell (stratum, arm)
    grid; the pivot, the drop rule and both folds run on that support
    — no window, no join, no second scan."""
    s = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("stratum"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("t"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    g = s.groupBy("stratum", "t").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    w = g.groupBy("stratum").agg(
        F.max(F.when(F.col("t") == 1, F.col("n"))).alias("nt"),
        F.max(F.when(F.col("t") == 0, F.col("n"))).alias("nc"),
        F.max(F.when(F.col("t") == 1, F.col("pos"))).alias("pt"),
        F.max(F.when(F.col("t") == 0, F.col("pos"))).alias("pc"),
    ).localCheckpoint(eager=True)
    used = w.filter(F.col("nt").isNotNull() & F.col("nc").isNotNull())
    k_all = w.agg(F.count(F.lit(1)).cast("long").alias("k_all"))
    tot = used.agg(
        F.sum(F.col("nt") + F.col("nc")).cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("k_used"),
    ).crossJoin(F.broadcast(k_all))
    crude = used.agg(
        (
            F.sum("pt").cast("double") / F.sum("nt")
            - F.sum("pc").cast("double") / F.sum("nc")
        ).alias("crude_rd")
    )
    adj = (
        used.crossJoin(F.broadcast(tot.select("nn")))
        .agg(
            _fold12(
                ((F.col("nt") + F.col("nc")).cast("double") / F.col("nn"))
                * (
                    F.col("pt").cast("double") / F.col("nt")
                    - F.col("pc").cast("double") / F.col("nc")
                )
            ).alias("adj_rd")
        )
    )
    out = (
        tot.crossJoin(F.broadcast(crude))
        .crossJoin(F.broadcast(adj))
    )
    delta = F.col("crude_rd") - F.col("adj_rd")
    return out.select(
        F.col("nn").alias("n_lines"),
        F.col("k_used").alias("n_strata_used"),
        (F.col("k_all") - F.col("k_used")).alias("n_strata_dropped"),
        F.round("crude_rd", 6).alias("crude_risk_diff"),
        F.round("adj_rd", 6).alias("adjusted_risk_diff"),
        F.round(delta, 6).alias("confounding_delta"),
        F.when(F.abs(delta) > 0.01, "confounded")
        .otherwise("negligible_confounding")
        .alias("verdict"),
    )


@query(
    "q499_abc_xyz",
    oracle="""
    WITH pr AS (
      SELECT l_partkey AS pk,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS rev,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
             CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(rev) AS DECIMAL(38,0)) AS trev FROM pr),
    r AS (
      SELECT pk, rev, n, s1, s2,
             CAST(sum(rev) OVER (ORDER BY rev DESC, pk ASC) AS DECIMAL(38,0)) AS crev
      FROM pr
    ),
    cls AS (
      SELECT pk, rev, n, s1, s2,
             CASE WHEN CAST(crev - rev AS DOUBLE) / (SELECT trev FROM tot) < 0.80 THEN 'A'
                  WHEN CAST(crev - rev AS DOUBLE) / (SELECT trev FROM tot) < 0.95 THEN 'B'
                  ELSE 'C' END AS abc,
             CASE WHEN n < 2 THEN 'Z'
                  WHEN sqrt(CAST(CAST(n AS DECIMAL(19,0)) * CAST(s2 AS DECIMAL(19,0))
                                 - CAST(s1 AS DECIMAL(19,0)) * CAST(s1 AS DECIMAL(19,0)) AS DOUBLE)
                            / (CAST(n AS DOUBLE) * (n - 1)))
                       / (CAST(s1 AS DOUBLE) / n) < 0.5 THEN 'X'
                  WHEN sqrt(CAST(CAST(n AS DECIMAL(19,0)) * CAST(s2 AS DECIMAL(19,0))
                                 - CAST(s1 AS DECIMAL(19,0)) * CAST(s1 AS DECIMAL(19,0)) AS DOUBLE)
                            / (CAST(n AS DOUBLE) * (n - 1)))
                       / (CAST(s1 AS DOUBLE) / n) < 1.0 THEN 'Y'
                  ELSE 'Z' END AS xyz
      FROM r
    )
    SELECT abc AS class_abc, xyz AS class_xyz,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(sum(rev) AS DOUBLE) / (SELECT CAST(trev AS DOUBLE) FROM tot), 6)
             AS revenue_share
    FROM cls GROUP BY 1, 2
    """,
)
def q499_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ inventory classification (the Dickie 1951 Pareto cut
    crossed with demand-variability banding): parts ranked by revenue —
    class A while the cumulative share STRICTLY BEFORE the part stays
    under 80%, B under 95%, else C — crossed with the coefficient of
    variation of per-line quantity (X < 0.5, Y < 1.0, else Z;
    single-line parts are Z by the n<2 guard). Output is the 3x3 grid
    with counts and revenue shares — the canonical "which SKUs deserve
    forecasting effort" screen (q326/q496 Croston is the Z-class tool;
    kinship disclosed). The Spark side computes the revenue prefix sum
    with the TWO-PHASE value-bucketed cum (bucket-offset window over
    the bounded $1000-bucket frame + a bucket-PARTITIONED prefix sum),
    the q224/q262 family trick — bit-identical to the oracle's naive
    global window, which DuckDB can afford single-node.

    100 TB story: one scan to O(parts) rollups; the only unpartitioned
    window runs on the price-range-bounded bucket frame (allowlisted);
    the per-row prefix sum is partitioned BY bucket — distributed, no
    single-reducer sort of the parts frame; the grid rollup is a
    9-row aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    pr = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .alias("rev"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("s1"),
            F.sum(
                F.col("l_quantity").cast("long") * F.col("l_quantity").cast("long")
            )
            .cast("long")
            .alias("s2"),
        )
        .localCheckpoint(eager=True)
    )
    tot = pr.agg(F.sum("rev").cast("decimal(38,0)").alias("trev"))
    # two-phase cum: $1000-bucket offsets (bounded frame window) + a
    # bucket-partitioned prefix sum ordered by (rev desc, pk)
    b = pr.select("*", F.expr("rev div 100000").alias("bkt"))
    boff = (
        b.groupBy("bkt")
        .agg(F.sum("rev").cast("decimal(38,0)").alias("brev"))
        .select(
            "bkt",
            (
                F.sum("brev").over(Window.orderBy(F.col("bkt").desc()))
                - F.col("brev")
            )
            .cast("decimal(38,0)")
            .alias("off"),
        )
    )
    win = Window.partitionBy("bkt").orderBy(F.col("rev").desc(), F.col("pk").asc())
    r = (
        b.join(F.broadcast(boff), "bkt")
        .select(
            "pk",
            "rev",
            "n",
            "s1",
            "s2",
            (F.col("off") + F.sum("rev").over(win)).cast("decimal(38,0)").alias("crev"),
        )
    )
    cv = F.sqrt(
        (
            F.col("n").cast("decimal(19,0)") * F.col("s2").cast("decimal(19,0)")
            - F.col("s1").cast("decimal(19,0)") * F.col("s1").cast("decimal(19,0)")
        ).cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1))
    ) / (F.col("s1").cast("double") / F.col("n"))
    before = (F.col("crev") - F.col("rev")).cast("double") / F.col("trev")
    cls = r.crossJoin(F.broadcast(tot)).select(
        "rev",
        F.when(before < 0.80, "A").when(before < 0.95, "B").otherwise("C").alias(
            "abc"
        ),
        F.when(F.col("n") < 2, "Z")
        .when(cv < 0.5, "X")
        .when(cv < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz"),
        "trev",
    )
    return cls.groupBy(
        F.col("abc").alias("class_abc"), F.col("xyz").alias("class_xyz")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.round(
            F.sum("rev").cast("double") / F.max(F.col("trev").cast("double")), 6
        ).alias("revenue_share"),
    )


# Shewhart X-bar/R control-chart constants for subgroup size n=7
# (standard SPC table: A2, D3, D4), embedded in BOTH engines.
_XBAR_A2, _XBAR_D3, _XBAR_D4 = 0.419, 0.076, 1.924


@query(
    "q500_xbar_control_chart",
    oracle=f"""
    WITH od AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    wk AS (
      SELECT d // 7 AS w, CAST(count(*) AS BIGINT) AS nd,
             CAST(sum(y) AS BIGINT) AS s,
             CAST(max(y) - min(y) AS BIGINT) AS r
      FROM od GROUP BY 1
      HAVING count(*) = 7
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(round(sum(CAST(round(CAST(s AS DOUBLE) / 7.0, 12) AS DECIMAL(38,12))), 12) AS DOUBLE)
               / count(*) AS xbb,
             CAST(sum(r) AS DOUBLE) / count(*) AS rbar
      FROM wk
    ),
    lim AS (
      SELECT k, xbb, rbar,
             xbb + {_XBAR_A2} * rbar AS ucl_x, xbb - {_XBAR_A2} * rbar AS lcl_x,
             {_XBAR_D4} * rbar AS ucl_r, {_XBAR_D3} * rbar AS lcl_r
      FROM g
    ),
    cen AS (
      SELECT CAST(sum(CASE WHEN CAST(s AS DOUBLE) / 7.0 > (SELECT ucl_x FROM lim)
                             OR CAST(s AS DOUBLE) / 7.0 < (SELECT lcl_x FROM lim)
                           THEN 1 ELSE 0 END) AS BIGINT) AS ooc_x,
             CAST(sum(CASE WHEN r > (SELECT ucl_r FROM lim)
                             OR r < (SELECT lcl_r FROM lim)
                           THEN 1 ELSE 0 END) AS BIGINT) AS ooc_r
      FROM wk
    )
    SELECT lim.k AS n_weeks,
           round(lim.xbb, 6) AS xbar_bar, round(lim.rbar, 6) AS r_bar,
           round(lim.ucl_x, 6) AS ucl_xbar, round(lim.lcl_x, 6) AS lcl_xbar,
           round(lim.ucl_r, 6) AS ucl_range, round(lim.lcl_r, 6) AS lcl_range,
           (SELECT ooc_x FROM cen) AS ooc_xbar_weeks,
           (SELECT ooc_r FROM cen) AS ooc_range_weeks,
           CASE WHEN (SELECT ooc_x FROM cen) + (SELECT ooc_r FROM cen) > 0
                THEN 'out_of_control' ELSE 'in_control' END AS verdict
    FROM lim
    """,
)
def q500_xbar_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart X-bar / R control chart (Shewhart 1931) over the daily
    order-arrival series in complete 7-day subgroups: per-week mean and
    range, grand mean and mean range, control limits from the standard
    n=7 SPC constants (A2=0.419, D3=0.076, D4=1.924 — embedded as
    shared literals), and the census of out-of-control weeks on both
    charts. The PHASE-I process-stability screen that runs before any
    CUSUM/Page-Hinkley-style sequential monitor is calibrated (q238 and
    the streaming PH drain — kinship disclosed: Shewhart detects LARGE
    isolated shifts, CUSUM small sustained ones). Week means are
    12-dp-rounded s/7 folds; ranges are exact integers.

    100 TB story: the corpus collapses to the O(days) rollup in one
    aggregate, weeks to O(weeks) in a second (both map-side-combining);
    limits are one fold and the census one broadcast join — no window
    anywhere, no sort."""
    od = (
        _t(spark, sf_dir, "orders")
        .select(
            F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    wk = (
        od.groupBy(F.expr("d div 7").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("nd"),
            F.sum("y").cast("long").alias("s"),
            (F.max("y") - F.min("y")).cast("long").alias("r"),
        )
        .filter(F.col("nd") == 7)
        .localCheckpoint(eager=True)
    )
    g = wk.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        (
            F.round(
                F.sum(F.round(F.col("s").cast("double") / 7.0, 12).cast("decimal(38,12)")),
                12,
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("xbb"),
        (F.sum("r").cast("double") / F.count(F.lit(1))).alias("rbar"),
    )
    lim = g.select(
        "k",
        "xbb",
        "rbar",
        (F.col("xbb") + _XBAR_A2 * F.col("rbar")).alias("ucl_x"),
        (F.col("xbb") - _XBAR_A2 * F.col("rbar")).alias("lcl_x"),
        (_XBAR_D4 * F.col("rbar")).alias("ucl_r"),
        (_XBAR_D3 * F.col("rbar")).alias("lcl_r"),
    )
    xb = F.col("s").cast("double") / 7.0
    cen = wk.crossJoin(F.broadcast(lim)).agg(
        F.sum(
            F.when((xb > F.col("ucl_x")) | (xb < F.col("lcl_x")), 1).otherwise(0)
        )
        .cast("long")
        .alias("ooc_x"),
        F.sum(
            F.when(
                (F.col("r") > F.col("ucl_r")) | (F.col("r") < F.col("lcl_r")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("ooc_r"),
    )
    return lim.crossJoin(F.broadcast(cen)).select(
        F.col("k").alias("n_weeks"),
        F.round("xbb", 6).alias("xbar_bar"),
        F.round("rbar", 6).alias("r_bar"),
        F.round("ucl_x", 6).alias("ucl_xbar"),
        F.round("lcl_x", 6).alias("lcl_xbar"),
        F.round("ucl_r", 6).alias("ucl_range"),
        F.round("lcl_r", 6).alias("lcl_range"),
        F.col("ooc_x").alias("ooc_xbar_weeks"),
        F.col("ooc_r").alias("ooc_range_weeks"),
        F.when(F.col("ooc_x") + F.col("ooc_r") > 0, "out_of_control")
        .otherwise("in_control")
        .alias("verdict"),
    )
