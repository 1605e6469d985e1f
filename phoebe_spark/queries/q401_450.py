"""Query registry block 401+ (round 9 finale): preference analytics
(Bradley-Terry, Condorcet/Copeland), multi-rater agreement (Fleiss),
survival comparison (log-rank), count dispersion, causal adjustment
(stratified/IPW ATE), graph modularity, collinearity (VIF), leakage-safe
target encoding, and binned Gini — each with the exact-fold determinism
policy from ``_core`` (integer/DECIMAL corpus sums, 12-dp per-iteration
rounding, identical literal chains on both engines)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._core import _dim, _t, query
from .q201_250 import _COGRAPH_SQL, _cograph_edges
from .q301_350 import _INV_SQRT2, _p2_col, _p2_sql

# ---------------------------------------------------------------------------
# Shared pairwise-preference fixture (q401 / q404).
#
# RLHF-style pairwise comparisons derived deterministically from events:
# within each (user, hour) cell, every pair of event types present is one
# "comparison", won by the type with the higher mean value in that cell.
# Means are never materialized as floats — the cell carries exact integer
# (cents-sum, count) moments and the comparison is decided by the integer
# cross-product s_a * c_b vs s_b * c_a, so win counts are bit-exact in
# both engines. Exact ties are undecided and excluded from the decided
# grid (disclosed; BT is defined over decided comparisons).
# ---------------------------------------------------------------------------

_PAIR_CELLS_SQL = """
    cells AS (
      SELECT user_id, epoch_ns(ts) // 3600000000000 AS hr, event_type,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3
    ),
    duels AS (
      SELECT a.event_type AS ta, b.event_type AS tb,
             CASE WHEN a.s * b.c > b.s * a.c THEN 1
                  WHEN a.s * b.c < b.s * a.c THEN -1 ELSE 0 END AS w
      FROM cells a JOIN cells b
        ON a.user_id = b.user_id AND a.hr = b.hr
       AND a.event_type < b.event_type
    ),
    wgrid AS (
      SELECT ta, tb,
             CAST(sum(CASE WHEN w = 1 THEN 1 ELSE 0 END) AS BIGINT) AS wab,
             CAST(sum(CASE WHEN w = -1 THEN 1 ELSE 0 END) AS BIGINT) AS wba
      FROM duels WHERE w <> 0 GROUP BY 1, 2
    )"""


def _pair_wgrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decided pairwise-win grid: one row per unordered type pair
    (ta < tb) with win counts in both directions; see _PAIR_CELLS_SQL."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cells = e.groupBy(
        "user_id",
        F.expr("ts div 3600000000000").alias("hr"),
        "event_type",
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    a = cells.alias("a")
    b = cells.alias("b")
    duel = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.hr") == F.col("b.hr"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .select(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
            F.when(
                F.col("a.s") * F.col("b.c") > F.col("b.s") * F.col("a.c"), 1
            )
            .when(F.col("a.s") * F.col("b.c") < F.col("b.s") * F.col("a.c"), -1)
            .otherwise(0)
            .alias("w"),
        )
        .filter(F.col("w") != 0)
    )
    return duel.groupBy("ta", "tb").agg(
        F.sum(F.when(F.col("w") == 1, 1).otherwise(0)).cast("long").alias("wab"),
        F.sum(F.when(F.col("w") == -1, 1).otherwise(0)).cast("long").alias("wba"),
    )


def _q401_bt_oracle(K: int = 5, iters: int = 20) -> str:
    """Generated oracle for q401: the Bradley-Terry MM update (Hunter
    2004) unrolled one CTE pair per round with K literal chains —
    u_i = W_i / sum_{j != i} n_ij / (v_i + v_j), then v' = u / sum(u) —
    each u and each normalized component 12-dp-rounded per round, all
    chains left-associated so the float sequence matches the engine's
    explicit-sum fold bit-for-bit."""
    ctes = [
        "s0 AS (SELECT warr, narr, ["
        + ", ".join([f"CAST({1.0 / K} AS DOUBLE)"] * K)
        + "] AS v FROM mats)"
    ]
    for t in range(1, iters + 1):
        us = []
        for i in range(1, K + 1):
            den = " + ".join(
                f"narr[{(i - 1) * K + j}] / (v[{i}] + v[{j}])"
                for j in range(1, K + 1)
                if j != i
            )
            us.append(f"round(warr[{i}] / ({den}), 12)")
        ssum = " + ".join(f"u[{i}]" for i in range(1, K + 1))
        vs = ", ".join(f"round(u[{i}] / ({ssum}), 12)" for i in range(1, K + 1))
        ctes.append(
            f"u{t} AS (SELECT warr, narr, [" + ", ".join(us) + f"] AS u FROM s{t - 1}),\n"
            f"    s{t} AS (SELECT warr, narr, [{vs}] AS v FROM u{t})"
        )
    chain_sql = ",\n    ".join(ctes)
    return f"""
    WITH {_PAIR_CELLS_SQL},
    types AS (SELECT t, row_number() OVER (ORDER BY t) AS idx
              FROM (SELECT DISTINCT event_type AS t FROM events)),
    cmp AS (
      SELECT i.idx AS i, j.idx AS j,
             coalesce(g1.wab, 0) + coalesce(g2.wba, 0) AS wij
      FROM types i JOIN types j ON i.idx <> j.idx
      LEFT JOIN wgrid g1 ON g1.ta = i.t AND g1.tb = j.t
      LEFT JOIN wgrid g2 ON g2.tb = i.t AND g2.ta = j.t
    ),
    cells2 AS (
      SELECT i, j, wij, n_ij, (i - 1) * {K} + j AS pos
      FROM (SELECT c.i, c.j, c.wij, c.wij + r.wij AS n_ij
            FROM cmp c JOIN cmp r ON r.i = c.j AND r.j = c.i)
    ),
    wins AS (SELECT i, CAST(sum(wij) AS BIGINT) AS w,
                    CAST(sum(n_ij) AS BIGINT) AS nc
             FROM cells2 GROUP BY 1),
    mats AS (
      SELECT (SELECT list(CAST(w AS DOUBLE) ORDER BY i) FROM wins) AS warr,
             (SELECT list(CAST(n AS DOUBLE) ORDER BY pos) FROM
                (SELECT p.pos, coalesce(c2.n_ij, 0) AS n
                 FROM (SELECT unnest(generate_series(1, {K * K})) AS pos) p
                 LEFT JOIN cells2 c2 ON c2.pos = p.pos)) AS narr
    ),
    {chain_sql}
    SELECT types.t AS event_type,
           wins.w AS wins,
           wins.nc AS comparisons,
           round(v[types.idx], 6) + 0.0 AS bt_strength,
           round(wins.w * 1.0 / wins.nc, 6) AS empirical_winrate
    FROM s{iters} CROSS JOIN types
    JOIN wins ON wins.i = types.idx
    """


@query("q401_bradley_terry", oracle=_q401_bt_oracle())
def q401_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference strengths (Bradley & Terry 1952) over the
    five event types via 20 rounds of Hunter's MM update — the model
    behind RLHF preference aggregation: pairwise "duels" are decided
    inside each (user, hour) cell by exact integer cross-products of
    (cents-sum, count) moments (no float mean ever compared), the decided
    win matrix W and comparison matrix N collapse to K x K aggregates,
    and the iteration u_i = W_i / sum_{j!=i} N_ij/(pi_i + pi_j) followed
    by sum-to-one normalization runs as a single-row array fold with
    every component 12-dp-rounded per round (the q317 iteration policy).
    The oracle replays the identical left-associated chains. The reported
    strength answers "which type wins adjusted for WHO it was compared
    against", versus the raw empirical win rate beside it.

    Fail-loud fixture contract (ADVICE r8 policy): exactly K=5 types and
    every type has >= 1 win and >= 1 loss (MM's convergence condition) —
    a drifted fixture raises instead of silently iterating a degenerate
    matrix on both sides.

    100 TB story: ONE shuffle groups events into (user, hour, type)
    cells; the duel self-join fans out <= K(K-1)/2 pairs per cell and
    collapses immediately to the K x K decided grid — everything after
    (matrix assembly, 20 MM rounds, normalization) is a single-row
    array fold, corpus-size-independent."""
    K, iters = 5, 20
    g = _pair_wgrid(spark, sf_dir).localCheckpoint(eager=True)
    types = (
        _t(spark, sf_dir, "events")
        .select(F.col("event_type").alias("t"))
        .distinct()
        .select("t", F.row_number().over(Window.orderBy("t")).alias("idx"))
        .localCheckpoint(eager=True)
    )
    n_types = types.count()
    if n_types != K:
        raise ValueError(
            f"q401 assumes exactly K={K} event types; fixture has {n_types}"
        )
    ti = types.select(F.col("t").alias("ti_t"), F.col("idx").alias("i"))
    tj = types.select(F.col("t").alias("tj_t"), F.col("idx").alias("j"))
    cmp_ = (
        ti.crossJoin(tj)
        .filter(F.col("i") != F.col("j"))
        .join(
            g.select(F.col("ta").alias("g1a"), F.col("tb").alias("g1b"), "wab"),
            (F.col("g1a") == F.col("ti_t")) & (F.col("g1b") == F.col("tj_t")),
            "left",
        )
        .join(
            g.select(F.col("ta").alias("g2a"), F.col("tb").alias("g2b"), "wba"),
            (F.col("g2b") == F.col("ti_t")) & (F.col("g2a") == F.col("tj_t")),
            "left",
        )
        .select(
            "i",
            "j",
            (F.coalesce("wab", F.lit(0)) + F.coalesce("wba", F.lit(0))).alias(
                "wij"
            ),
        )
        .localCheckpoint(eager=True)
    )
    rev = cmp_.select(
        F.col("i").alias("rj"), F.col("j").alias("ri"), F.col("wij").alias("wji")
    )
    cells2 = cmp_.join(
        F.broadcast(rev), (F.col("ri") == F.col("i")) & (F.col("rj") == F.col("j"))
    ).select(
        "i",
        "j",
        "wij",
        (F.col("wij") + F.col("wji")).alias("n_ij"),
        ((F.col("i") - 1) * K + F.col("j")).alias("pos"),
    )
    wins = cells2.groupBy("i").agg(
        F.sum("wij").cast("long").alias("w"),
        F.sum("n_ij").cast("long").alias("nc"),
    ).localCheckpoint(eager=True)
    bad = wins.filter(
        (F.col("w") < 1) | (F.col("nc") - F.col("w") < 1)
    ).count()
    if bad:
        raise ValueError(
            "q401 requires every type to have >= 1 win and >= 1 loss; "
            f"{bad} type(s) violate the MM convergence condition"
        )
    # dense K*K position grid (missing reverse-diagonal cells -> 0)
    posgrid = spark.range(1, K * K + 1).select(
        F.col("id").cast("int").alias("gpos")
    )
    dense = (
        posgrid.join(F.broadcast(cells2), F.col("gpos") == F.col("pos"), "left")
        .groupBy("gpos")
        .agg(F.max(F.coalesce("n_ij", F.lit(0))).cast("double").alias("n"))
    )
    narr = dense.agg(
        F.array_sort(F.collect_list(F.struct("gpos", "n"))).getField("n").alias(
            "narr"
        )
    )
    warr = wins.agg(
        F.array_sort(F.collect_list(F.struct("i", F.col("w").cast("double").alias("w"))))
        .getField("w")
        .alias("warr")
    )
    mats = narr.crossJoin(F.broadcast(warr))

    def _step(acc, _):
        us = []
        for i in range(1, K + 1):
            den = None
            for j in range(1, K + 1):
                if j == i:
                    continue
                term = F.element_at(F.col("narr"), (i - 1) * K + j) / (
                    F.element_at(acc, i) + F.element_at(acc, j)
                )
                den = term if den is None else den + term
            us.append(F.round(F.element_at(F.col("warr"), i) / den, 12))
        ssum = us[0]
        for i in range(1, K):
            ssum = ssum + us[i]
        return F.array(*[F.round(u / ssum, 12) for u in us])

    v = F.aggregate(
        F.sequence(F.lit(1), F.lit(iters)),
        F.array(*[F.lit(1.0 / K)] * K),
        _step,
    )
    st = mats.select(v.alias("v"))
    return (
        st.crossJoin(F.broadcast(types))
        .join(F.broadcast(wins), F.col("idx") == F.col("i"))
        .select(
            F.col("t").alias("event_type"),
            F.col("w").alias("wins"),
            F.col("nc").alias("comparisons"),
            (F.round(F.element_at(F.col("v"), F.col("idx")), 6) + F.lit(0.0)).alias(
                "bt_strength"
            ),
            F.round(F.col("w") * 1.0 / F.col("nc"), 6).alias("empirical_winrate"),
        )
    )


@query(
    "q404_condorcet_copeland",
    oracle=f"""
    WITH {_PAIR_CELLS_SQL},
    maj AS (
      SELECT ta, tb, wab, wba,
             CASE WHEN wab > wba THEN 1 WHEN wab < wba THEN -1 ELSE 0 END AS m
      FROM wgrid
    ),
    side AS (
      SELECT ta AS t, wab AS wins, wba AS losses,
             CASE WHEN m = 1 THEN 1 ELSE 0 END AS beat,
             CASE WHEN m = -1 THEN 1 ELSE 0 END AS beaten
      FROM maj
      UNION ALL
      SELECT tb, wba, wab,
             CASE WHEN m = -1 THEN 1 ELSE 0 END,
             CASE WHEN m = 1 THEN 1 ELSE 0 END
      FROM maj
    ),
    agg AS (
      SELECT t AS event_type,
             CAST(sum(wins) AS BIGINT) AS wins,
             CAST(sum(losses) AS BIGINT) AS losses,
             CAST(sum(beat) AS BIGINT) - CAST(sum(beaten) AS BIGINT) AS copeland,
             CAST(sum(beat) AS BIGINT) AS majorities
      FROM side GROUP BY 1
    ),
    tk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM cells)
    SELECT event_type, wins, losses,
           round(wins * 1.0 / (wins + losses), 6) AS win_rate,
           CAST(copeland AS BIGINT) AS copeland,
           CAST(majorities = (SELECT k - 1 FROM tk) AS BOOLEAN) AS condorcet_winner
    FROM agg
    """,
)
def q404_condorcet_copeland(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condorcet/Copeland tournament audit over the q401 duel grid
    (disclosed kinship): per event type, total decided wins/losses, the
    Copeland score (majority pairings won minus lost — the standard
    rank-aggregation score when a Condorcet winner may not exist), and
    whether the type is a Condorcet winner (wins its head-to-head
    majority against EVERY rival — all K-1 types in the tournament
    universe, so a rival that was never met or only tied disqualifies;
    majorities are compared against K-1 from the cells' distinct-type
    count, not against the decided-pairing count) — the cycle-robust
    sanity check a preference pipeline runs before trusting a single
    scalar rating like q401's BT strength.

    100 TB story: identical cell/duel shape to q401 — one shuffle to
    (user, hour, type) cells, bounded fan-out to the K x K decided
    grid; the tournament arithmetic runs on <= K(K-1)/2 rows."""
    g = _pair_wgrid(spark, sf_dir)
    maj = g.select(
        "ta",
        "tb",
        "wab",
        "wba",
        F.when(F.col("wab") > F.col("wba"), 1)
        .when(F.col("wab") < F.col("wba"), -1)
        .otherwise(0)
        .alias("m"),
    )
    side = maj.select(
        F.col("ta").alias("t"),
        F.col("wab").alias("wins"),
        F.col("wba").alias("losses"),
        F.when(F.col("m") == 1, 1).otherwise(0).alias("beat"),
        F.when(F.col("m") == -1, 1).otherwise(0).alias("beaten"),
    ).unionAll(
        maj.select(
            F.col("tb"),
            F.col("wba"),
            F.col("wab"),
            F.when(F.col("m") == -1, 1).otherwise(0),
            F.when(F.col("m") == 1, 1).otherwise(0),
        )
    )
    agg = side.groupBy(F.col("t").alias("event_type")).agg(
        F.sum("wins").cast("long").alias("wins"),
        F.sum("losses").cast("long").alias("losses"),
        (F.sum("beat") - F.sum("beaten")).cast("long").alias("copeland"),
        F.sum("beat").cast("long").alias("majorities"),
    )
    # Condorcet winner requires a won majority against EVERY rival in
    # the tournament (K - 1, from the full type universe), not just
    # against the rivals this type happens to have decided pairings
    # with — a type that never met (or only tied) some rival must not
    # qualify. K comes from the same cells filter the duel grid uses.
    tk = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .agg(F.countDistinct("event_type").cast("long").alias("k"))
    )
    return agg.crossJoin(F.broadcast(tk)).select(
        "event_type",
        "wins",
        "losses",
        F.round(F.col("wins") * 1.0 / (F.col("wins") + F.col("losses")), 6).alias(
            "win_rate"
        ),
        "copeland",
        (F.col("majorities") == F.col("k") - 1).alias("condorcet_winner"),
    )


@query(
    "q402_fleiss_kappa",
    oracle="""
    WITH g AS (
      SELECT source,
             (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END
              + CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) >= 40 THEN 1 ELSE 0 END
              + CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS r
      FROM documents WHERE trim(text) <> ''
    ),
    s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r) AS BIGINT) AS s1,
             CAST(sum(r * r) AS BIGINT) AS s2
      FROM g GROUP BY 1
    )
    SELECT source, n,
           round(s1 * 1.0 / (3 * n), 6) AS p_keep,
           round((2 * s2 - 6 * s1 + 6 * n) * 1.0 / (6 * n), 6) AS p_observed,
           round((s1 * 1.0 / (3 * n)) * (s1 * 1.0 / (3 * n))
                 + (1.0 - s1 * 1.0 / (3 * n)) * (1.0 - s1 * 1.0 / (3 * n)), 6)
             AS p_expected,
           CASE WHEN 1.0 - ((s1 * 1.0 / (3 * n)) * (s1 * 1.0 / (3 * n))
                            + (1.0 - s1 * 1.0 / (3 * n)) * (1.0 - s1 * 1.0 / (3 * n))) = 0.0
                THEN 0.0
                ELSE round(((2 * s2 - 6 * s1 + 6 * n) * 1.0 / (6 * n)
                            - ((s1 * 1.0 / (3 * n)) * (s1 * 1.0 / (3 * n))
                               + (1.0 - s1 * 1.0 / (3 * n)) * (1.0 - s1 * 1.0 / (3 * n))))
                           / (1.0 - ((s1 * 1.0 / (3 * n)) * (s1 * 1.0 / (3 * n))
                                     + (1.0 - s1 * 1.0 / (3 * n)) * (1.0 - s1 * 1.0 / (3 * n)))), 6) + 0.0
           END AS fleiss_kappa
    FROM s
    """,
)
def q402_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971) multi-rater agreement per source over
    THREE binary curation "raters" — the char-length gate (n_chars >=
    200), the token-count gate (>= 40 whitespace tokens), and the
    target-language gate (lang = 'en') — the n>2-rater generalization of
    q346's pairwise Cohen kappa (disclosed kinship): with r = keep-votes
    per document, P_o reduces to the exact integer identity
    (2*sum(r^2) - 6*sum(r) + 6*N) / (6N), so agreement is computed from
    three BIGINT moments per source and only the final divisions are
    floating point. Degenerate P_e = 1 strata emit kappa 0 by the same
    CASE in both engines.

    100 TB story: all three gates are pure column expressions inside ONE
    map-side-combining per-source aggregate; the kappa arithmetic runs on
    the O(sources) frame — no second corpus pass, no window."""
    from phoebe_spark.operators import text as text_ops

    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    r = (
        F.when(F.col("n_chars") >= 200, 1).otherwise(0)
        + F.when(F.size(text_ops.tokens(F.col("text"))) >= 40, 1).otherwise(0)
        + F.when(F.col("lang") == "en", 1).otherwise(0)
    )
    s = d.select("source", r.alias("r")).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r").cast("long").alias("s1"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("s2"),
    )
    p = F.col("s1") * 1.0 / (3 * F.col("n"))
    po = (2 * F.col("s2") - 6 * F.col("s1") + 6 * F.col("n")) * 1.0 / (
        6 * F.col("n")
    )
    pe = p * p + (F.lit(1.0) - p) * (F.lit(1.0) - p)
    return s.select(
        "source",
        "n",
        F.round(p, 6).alias("p_keep"),
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.when(F.lit(1.0) - pe == 0.0, F.lit(0.0))
        .otherwise(F.round((po - pe) / (F.lit(1.0) - pe), 6) + F.lit(0.0))
        .alias("fleiss_kappa"),
    )


_FOLD12_SQL = "CAST(round(sum(CAST(round({t}, 12) AS DECIMAL(38,12))), 12) AS DOUBLE)"

_LOGRANK_E_TERM = "d * (n1 * 1.0 / nt)"
_LOGRANK_V_TERM = (
    "CASE WHEN nt > 1 THEN d * (n1 * 1.0 / nt) * (1.0 - n1 * 1.0 / nt)"
    " * (nt - d) / (nt - 1.0) ELSE 0.0 END"
)


@query(
    "q403_logrank_test",
    oracle=f"""
    WITH o AS (
      SELECT o.o_custkey, o.o_orderkey,
             datediff('day', DATE '1970-01-01', o.o_orderdate) AS d,
             CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS arm
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    mx AS (SELECT max(d) AS dmax FROM o),
    g AS (
      SELECT arm, d,
             lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS nd
      FROM o
    ),
    dur AS (
      SELECT arm,
             CASE WHEN nd IS NULL THEN (SELECT dmax FROM mx) - d
                  ELSE nd - d END AS t,
             CASE WHEN nd IS NULL THEN 0 ELSE 1 END AS ev
      FROM g
    ),
    byt AS (
      SELECT t,
             CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_all1,
             CAST(sum(ev) AS BIGINT) AS d,
             CAST(sum(CASE WHEN arm = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1
      FROM dur GROUP BY 1
    ),
    risk AS (
      SELECT t, d, d1,
             CAST(sum(n_all) OVER () -
               coalesce(sum(n_all) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nt,
             CAST(sum(n_all1) OVER () -
               coalesce(sum(n_all1) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n1
      FROM byt
    ),
    ev AS (SELECT * FROM risk WHERE d > 0),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_times,
             CAST(sum(d1) AS BIGINT) AS obs1,
             {_FOLD12_SQL.format(t=_LOGRANK_E_TERM)} AS exp1,
             {_FOLD12_SQL.format(t=_LOGRANK_V_TERM)} AS var1
      FROM ev
    )
    SELECT n_times, obs1,
           round(exp1, 6) AS expected1,
           round((obs1 - exp1) * (obs1 - exp1) / var1, 6) AS chi2_stat,
           round({_p2_sql(f"sqrt((obs1 - exp1) * (obs1 - exp1) / var1) * {_INV_SQRT2}")}, 6) + 0.0
             AS p_value,
           CASE WHEN obs1 < exp1 THEN 'arm1_lower_hazard'
                WHEN obs1 > exp1 THEN 'arm1_higher_hazard'
                ELSE 'equal' END AS direction
    FROM s
    """,
)
def q403_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test (Mantel 1966) comparing reorder-gap survival between
    BUILDING-segment customers (arm 1) and everyone else over q282's
    Kaplan-Meier fixture (disclosed kinship): consecutive-order gaps are
    events, last-order-to-corpus-end tails are right-censored, and at
    each distinct gap value the observed arm-1 deaths are compared
    against the hypergeometric expectation d * n1/n with variance
    d*(n1/n)*(1-n1/n)*(n-d)/(n-1) — the standard two-group survival
    comparison that respects censoring (a plain mean-gap t-test would
    not). O-E and V accumulate through 12-dp DECIMAL folds so the
    corpus-order of the O(distinct gaps) terms cannot change the
    statistic; chi2 = (O-E)^2/V with the shared erfc p-value chain.

    100 TB story: one lead() pass partitioned by customer (shuffle on
    the key) builds durations; everything after is grouped by gap VALUE
    — the ordered risk-set windows run over O(distinct days) rows,
    SF-independent, exactly q282's shape."""
    o = (
        _t(spark, sf_dir, "orders")
        .join(
            _t(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("o_custkey"),
                F.when(F.col("c_mktsegment") == "BUILDING", 1)
                .otherwise(0)
                .alias("arm"),
            ),
            "o_custkey",
        )
        .select(
            "o_custkey",
            "o_orderkey",
            "arm",
            F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d"),
        )
    )
    dmax = o.agg(F.max("d").alias("dmax"))
    g = o.withColumn(
        "nd",
        F.lead("d").over(Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")),
    )
    dur = g.crossJoin(F.broadcast(dmax)).select(
        "arm",
        F.when(F.col("nd").isNull(), F.col("dmax") - F.col("d"))
        .otherwise(F.col("nd") - F.col("d"))
        .alias("t"),
        F.when(F.col("nd").isNull(), 0).otherwise(1).alias("ev"),
    )
    byt = dur.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n_all1"),
        F.sum("ev").cast("long").alias("d"),
        F.sum(F.when(F.col("arm") == 1, F.col("ev")).otherwise(0))
        .cast("long")
        .alias("d1"),
    )
    wtot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wbef = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = byt.select(
        "t",
        "d",
        "d1",
        (
            F.sum("n_all").over(wtot) - F.coalesce(F.sum("n_all").over(wbef), F.lit(0))
        ).cast("long").alias("nt"),
        (
            F.sum("n_all1").over(wtot)
            - F.coalesce(F.sum("n_all1").over(wbef), F.lit(0))
        ).cast("long").alias("n1"),
    ).filter(F.col("d") > 0)

    def _fold12(x):
        return F.round(F.sum(F.round(x, 12).cast("decimal(38,12)")), 12).cast("double")

    frac = F.col("n1") * 1.0 / F.col("nt")
    e_term = F.col("d") * frac
    v_term = F.when(
        F.col("nt") > 1,
        F.col("d") * frac * (F.lit(1.0) - frac) * (F.col("nt") - F.col("d"))
        / (F.col("nt") - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    s = risk.agg(
        F.count(F.lit(1)).cast("long").alias("n_times"),
        F.sum("d1").cast("long").alias("obs1"),
        _fold12(e_term).alias("exp1"),
        _fold12(v_term).alias("var1"),
    )
    chi2 = (F.col("obs1") - F.col("exp1")) * (F.col("obs1") - F.col("exp1")) / F.col(
        "var1"
    )
    return s.select(
        "n_times",
        "obs1",
        F.round("exp1", 6).alias("expected1"),
        F.round(chi2, 6).alias("chi2_stat"),
        (F.round(_p2_col(F.sqrt(chi2) * F.lit(_INV_SQRT2)), 6) + F.lit(0.0)).alias(
            "p_value"
        ),
        F.when(F.col("obs1") < F.col("exp1"), "arm1_lower_hazard")
        .when(F.col("obs1") > F.col("exp1"), "arm1_higher_hazard")
        .otherwise("equal")
        .alias("direction"),
    )


@query(
    "q405_overdispersion",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT (epoch_ns(ts) // 1000000000) // 86400 AS day FROM events
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    cnt AS (
      SELECT (epoch_ns(ts) // 1000000000) // 86400 AS day, event_type,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT t.event_type, d.day, coalesce(c.c, 0) AS c
      FROM types t CROSS JOIN days d
      LEFT JOIN cnt c ON c.day = d.day AND c.event_type = t.event_type
    ),
    m AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s1,
             CAST(sum(c * c) AS BIGINT) AS s2
      FROM grid GROUP BY 1
    ),
    st AS (
      SELECT event_type, n, s1,
             round(s1 * 1.0 / n, 6) AS mean_daily,
             round((n * s2 - s1 * s1) * 1.0 / (n * (n - 1.0)), 6) AS var_daily,
             (n * s2 - s1 * s1) * 1.0 / (s1 * (n - 1.0)) AS disp,
             sqrt(2.0 * (n * s2 - s1 * s1) / (s1 * 1.0)) - sqrt(2.0 * (n - 1) - 1.0) AS z
      FROM m
    )
    SELECT event_type, n AS n_days, mean_daily, var_daily,
           round(disp, 6) AS dispersion,
           round(z, 6) + 0.0 AS z_stat,
           round({_p2_sql(f"abs(z) * {_INV_SQRT2}")}, 6) + 0.0 AS p_value,
           CASE WHEN {_p2_sql(f"abs(z) * {_INV_SQRT2}")} < 0.05 AND disp > 1.0
                  THEN 'overdispersed'
                WHEN {_p2_sql(f"abs(z) * {_INV_SQRT2}")} < 0.05 AND disp < 1.0
                  THEN 'underdispersed'
                ELSE 'poisson_consistent' END AS verdict
    FROM st
    """,
)
def q405_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion test per event type on daily arrival counts
    (Cochran's variance test / Fisher dispersion index): over the dense
    day spine (distinct days x types, zero-filled so silent days count),
    the dispersion index D = s^2/xbar reduces to the exact integer ratio
    (n*S2 - S1^2) / (S1*(n-1)) from BIGINT moments, and (n-1)*D is
    referred to chi2(n-1) via the sqrt(2T) - sqrt(2df-1) normal
    approximation (Fisher) with the shared erfc p-value chain —
    the "is a Poisson rate model even admissible" gate run before any
    arrival-rate forecast (q326/q384 kinship, disclosed). D > 1 with
    small p flags burstiness/clumping; D < 1 flags regularity.

    100 TB story: ONE map-side-combining aggregate to (day, type) cells;
    the day spine and the moment arithmetic run on O(days * K) rows,
    SF-independent beyond the first rollup; no window, no corpus sort."""
    e = _t(spark, sf_dir, "events").select(
        F.expr("(ts div 1000000000) div 86400").alias("day"), "event_type"
    )
    # ONE corpus pass; the day/type spines derive from the checkpointed
    # O(days * K) rollup, so the dense grid never rescans the parquet
    cnt = e.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=True)
    days = cnt.select("day").distinct()
    types = cnt.select("event_type").distinct()
    grid = (
        types.crossJoin(days)
        .join(cnt, ["day", "event_type"], "left")
        .select("event_type", "day", F.coalesce("c", F.lit(0)).alias("c"))
    )
    m = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    num = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    disp = num * 1.0 / (F.col("s1") * (F.col("n") - F.lit(1.0)))
    z = F.sqrt(2.0 * num / (F.col("s1") * 1.0)) - F.sqrt(
        2.0 * (F.col("n") - 1) - F.lit(1.0)
    )
    p = _p2_col(F.abs(z) * F.lit(_INV_SQRT2))
    return m.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(F.col("s1") * 1.0 / F.col("n"), 6).alias("mean_daily"),
        F.round(num * 1.0 / (F.col("n") * (F.col("n") - F.lit(1.0))), 6).alias(
            "var_daily"
        ),
        F.round(disp, 6).alias("dispersion"),
        (F.round(z, 6) + F.lit(0.0)).alias("z_stat"),
        (F.round(p, 6) + F.lit(0.0)).alias("p_value"),
        F.when((p < 0.05) & (disp > 1.0), "overdispersed")
        .when((p < 0.05) & (disp < 1.0), "underdispersed")
        .otherwise("poisson_consistent")
        .alias("verdict"),
    )


@query(
    "q406_stratified_ipw_ate",
    oracle=f"""
    WITH s AS (
      SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
             CAST(round(value * 100) AS BIGINT) AS yc
      FROM events WHERE value IS NOT NULL
    ),
    strat AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN arm = 1 THEN yc ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN arm = 0 THEN yc ELSE 0 END) AS BIGINT) AS s0
      FROM s GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(n1) AS BIGINT) AS nn1,
             CAST(sum(s1) AS BIGINT) AS ss1, CAST(sum(s0) AS BIGINT) AS ss0
      FROM strat
    ),
    terms AS (
      SELECT
        {_FOLD12_SQL.format(t="CASE WHEN n1 > 0 AND n1 < n THEN (n * 1.0 / (SELECT nn FROM tot)) * (s1 * 1.0 / n1 - s0 * 1.0 / (n - n1)) ELSE 0.0 END")} AS strat_c,
        {_FOLD12_SQL.format(t="CASE WHEN n1 > 0 AND n1 < n THEN s1 / (n1 * 1.0 / n) - s0 / (1.0 - n1 * 1.0 / n) ELSE 0.0 END")} AS ipw_c,
        max(abs(n1 * 1.0 / n - 0.5)) AS imb,
        CAST(count(*) AS BIGINT) AS k
      FROM strat
    )
    SELECT k AS n_strata, nn AS n_events,
           round((ss1 * 1.0 / nn1 - ss0 * 1.0 / (nn - nn1)) / 100.0, 6) AS naive_diff,
           round(strat_c / 100.0, 6) + 0.0 AS stratified_ate,
           round(ipw_c / (nn * 100.0), 6) + 0.0 AS ipw_ate,
           round(imb, 6) AS max_propensity_imbalance
    FROM tot CROSS JOIN terms
    """,
)
def q406_stratified_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratification- and inverse-propensity-weighted average treatment
    effect (Horvitz-Thompson 1952 / Rosenbaum-Rubin 1983) of the hash
    arm (user_id % 2) on event value, adjusting for event type as the
    confounding stratum — the adjustment tier above q355's CUPED
    variance reduction and q369's quantile effects (disclosed kinship):
    the naive arm difference is reported beside the stratified estimate
    sum_s (n_s/N) * (mean1_s - mean0_s) and the IPW estimate
    (1/N) * sum_s [S1_s/e_s - S0_s/(1-e_s)] with e_s the within-stratum
    propensity. Outcomes are cents-quantized so every stratum moment is
    an exact BIGINT; the O(K)-row estimator terms accumulate through
    12-dp DECIMAL folds; degenerate strata (single-arm) contribute zero
    by the same CASE in both engines.

    100 TB story: ONE map-side-combining aggregate to K stratum rows
    carrying integer moments; all three estimators are K-row folds —
    no second corpus pass, no window, no join."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("yc"),
    )
    strat = s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("yc")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("arm") == 0, F.col("yc")).otherwise(0))
        .cast("long")
        .alias("s0"),
    ).localCheckpoint(eager=True)
    tot = strat.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("n1").cast("long").alias("nn1"),
        F.sum("s1").cast("long").alias("ss1"),
        F.sum("s0").cast("long").alias("ss0"),
    )

    def _fold12(x):
        return F.round(F.sum(F.round(x, 12).cast("decimal(38,12)")), 12).cast("double")

    ok = (F.col("n1") > 0) & (F.col("n1") < F.col("n"))
    e_s = F.col("n1") * 1.0 / F.col("n")
    strat_term = F.when(
        ok,
        (F.col("n") * 1.0 / F.col("bn"))
        * (F.col("s1") * 1.0 / F.col("n1") - F.col("s0") * 1.0 / (F.col("n") - F.col("n1"))),
    ).otherwise(F.lit(0.0))
    ipw_term = F.when(
        ok, F.col("s1") / e_s - F.col("s0") / (F.lit(1.0) - e_s)
    ).otherwise(F.lit(0.0))
    terms = (
        strat.crossJoin(F.broadcast(tot.select(F.col("nn").alias("bn"))))
        .agg(
            _fold12(strat_term).alias("strat_c"),
            _fold12(ipw_term).alias("ipw_c"),
            F.max(F.abs(e_s - F.lit(0.5))).alias("imb"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
    )
    return tot.crossJoin(F.broadcast(terms)).select(
        F.col("k").alias("n_strata"),
        F.col("nn").alias("n_events"),
        F.round(
            (
                F.col("ss1") * 1.0 / F.col("nn1")
                - F.col("ss0") * 1.0 / (F.col("nn") - F.col("nn1"))
            )
            / 100.0,
            6,
        ).alias("naive_diff"),
        (F.round(F.col("strat_c") / 100.0, 6) + F.lit(0.0)).alias("stratified_ate"),
        (F.round(F.col("ipw_c") / (F.col("nn") * 100.0), 6) + F.lit(0.0)).alias(
            "ipw_ate"
        ),
        F.round("imb", 6).alias("max_propensity_imbalance"),
    )


@query(
    "q407_graph_modularity",
    oracle=f"""
    WITH {_COGRAPH_SQL},
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM co),
    comm AS (SELECT p_partkey AS node, p_brand AS c FROM part),
    sym AS (SELECT s1 AS node FROM co UNION ALL SELECT s2 FROM co),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
    dsum AS (
      SELECT comm.c, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(deg.d) AS BIGINT) AS dc
      FROM deg JOIN comm ON comm.node = deg.node GROUP BY 1
    ),
    intra AS (
      SELECT c1.c, CAST(count(*) AS BIGINT) AS ec
      FROM co JOIN comm c1 ON c1.node = co.s1
              JOIN comm c2 ON c2.node = co.s2
      WHERE c1.c = c2.c GROUP BY 1
    ),
    rows_ AS (
      SELECT d.c AS community, d.n_nodes, coalesce(i.ec, 0) AS intra_edges,
             d.dc AS degree_sum,
             coalesce(i.ec, 0) * 1.0 / (SELECT m FROM m)
               - (d.dc / (2.0 * (SELECT m FROM m))) * (d.dc / (2.0 * (SELECT m FROM m)))
               AS contrib
      FROM dsum d LEFT JOIN intra i ON i.c = d.c
    ),
    tot AS (SELECT {_FOLD12_SQL.format(t="contrib")} AS q FROM rows_)
    SELECT community, n_nodes, intra_edges, degree_sum,
           round(contrib, 6) + 0.0 AS contribution,
           round((SELECT q FROM tot), 6) + 0.0 AS modularity_total
    FROM rows_
    """,
)
def q407_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity (Newman & Girvan 2004) of the canonical part
    co-occurrence graph (q232/q393's edge set, disclosed kinship)
    partitioned by the part's BRAND: per community, the observed
    intra-community edge fraction e_c/m minus the configuration-model
    expectation (d_c/2m)^2, plus the graph-level Q folded at 12-dp
    DECIMAL over the 25 brand rows — "is the co-purchase graph actually
    organized by brand" as one number, the partition-quality audit run
    before trusting any attribute as a clustering key. Integer edge and
    degree counts; only the final fractions are floating point.

    100 TB story: degrees are one grouped count on the symmetrized
    edges; community attachment is two hash joins against the part
    dimension, broadcast via the size-aware ``_dim`` hint (part GROWS
    with scale factor, so above the 256 MB plan-estimate bound the hint
    drops out and AQE picks the join strategy at runtime); the
    modularity arithmetic runs on O(brands) rows."""
    co = _cograph_edges(spark, sf_dir).localCheckpoint(eager=True)
    m = co.agg(F.count(F.lit(1)).cast("long").alias("m"))
    comm = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("c")
    )
    sym = co.select(F.col("s1").alias("node")).unionAll(
        co.select(F.col("s2").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("d"))
    dsum = deg.join(_dim(comm), "node").groupBy("c").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("d").cast("long").alias("dc"),
    )
    intra = (
        co.join(
            _dim(comm.select(F.col("node").alias("s1"), F.col("c").alias("ca"))),
            "s1",
        )
        .join(
            _dim(comm.select(F.col("node").alias("s2"), F.col("c").alias("cb"))),
            "s2",
        )
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("ec"))
    )
    rows_ = (
        dsum.join(F.broadcast(intra), "c", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("c").alias("community"),
            "n_nodes",
            F.coalesce("ec", F.lit(0)).alias("intra_edges"),
            F.col("dc").alias("degree_sum"),
            (
                F.coalesce("ec", F.lit(0)) * 1.0 / F.col("m")
                - (F.col("dc") / (2.0 * F.col("m")))
                * (F.col("dc") / (2.0 * F.col("m")))
            ).alias("contrib"),
        )
        .localCheckpoint(eager=True)
    )

    def _fold12(x):
        return F.round(F.sum(F.round(x, 12).cast("decimal(38,12)")), 12).cast("double")

    tot = rows_.agg(_fold12(F.col("contrib")).alias("q"))
    return rows_.crossJoin(F.broadcast(tot)).select(
        "community",
        "n_nodes",
        "intra_edges",
        "degree_sum",
        (F.round("contrib", 6) + F.lit(0.0)).alias("contribution"),
        (F.round("q", 6) + F.lit(0.0)).alias("modularity_total"),
    )


@query(
    "q408_vif_collinearity",
    oracle="""
    WITH s AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2,
             CAST(round(l_tax * 100) AS BIGINT) AS x3
      FROM lineitem
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS a1, CAST(sum(x2) AS BIGINT) AS a2,
             CAST(sum(x3) AS BIGINT) AS a3,
             CAST(sum(x1 * x1) AS BIGINT) AS q1, CAST(sum(x2 * x2) AS BIGINT) AS q2,
             CAST(sum(x3 * x3) AS BIGINT) AS q3,
             CAST(sum(x1 * x2) AS BIGINT) AS p12, CAST(sum(x1 * x3) AS BIGINT) AS p13,
             CAST(sum(x2 * x3) AS BIGINT) AS p23
      FROM s
    ),
    d AS (
      SELECT n,
             CAST(n AS DECIMAL(19,0)) AS dn,
             CAST(a1 AS DECIMAL(19,0)) AS da1, CAST(a2 AS DECIMAL(19,0)) AS da2,
             CAST(a3 AS DECIMAL(19,0)) AS da3,
             CAST(q1 AS DECIMAL(19,0)) AS dq1, CAST(q2 AS DECIMAL(19,0)) AS dq2,
             CAST(q3 AS DECIMAL(19,0)) AS dq3,
             CAST(p12 AS DECIMAL(19,0)) AS dp12, CAST(p13 AS DECIMAL(19,0)) AS dp13,
             CAST(p23 AS DECIMAL(19,0)) AS dp23
      FROM m
    ),
    r AS (
      SELECT n,
             CAST(dn * dp12 - da1 * da2 AS DOUBLE)
               / sqrt(CAST(dn * dq1 - da1 * da1 AS DOUBLE) * CAST(dn * dq2 - da2 * da2 AS DOUBLE)) AS r12,
             CAST(dn * dp13 - da1 * da3 AS DOUBLE)
               / sqrt(CAST(dn * dq1 - da1 * da1 AS DOUBLE) * CAST(dn * dq3 - da3 * da3 AS DOUBLE)) AS r13,
             CAST(dn * dp23 - da2 * da3 AS DOUBLE)
               / sqrt(CAST(dn * dq2 - da2 * da2 AS DOUBLE) * CAST(dn * dq3 - da3 * da3 AS DOUBLE)) AS r23
      FROM d
    ),
    v AS (
      SELECT n, r12, r13, r23,
             (r12 * r12 + r13 * r13 - 2.0 * r12 * r13 * r23) / (1.0 - r23 * r23) AS rsq1,
             (r12 * r12 + r23 * r23 - 2.0 * r12 * r23 * r13) / (1.0 - r13 * r13) AS rsq2,
             (r13 * r13 + r23 * r23 - 2.0 * r13 * r23 * r12) / (1.0 - r12 * r12) AS rsq3
      FROM r
    ),
    u AS (
      SELECT * FROM (
        SELECT 'l_quantity' AS variable, n, rsq1 AS rsq FROM v
        UNION ALL SELECT 'l_discount', n, rsq2 FROM v
        UNION ALL SELECT 'l_tax', n, rsq3 FROM v
      )
    )
    SELECT variable, n,
           round(rsq, 6) + 0.0 AS r_squared,
           CASE WHEN 1.0 - rsq <= 0.0 THEN NULL
                ELSE round(1.0 / (1.0 - rsq), 6) END AS vif,
           CASE WHEN 1.0 - rsq <= 0.0 THEN 'singular'
                WHEN 1.0 / (1.0 - rsq) >= 5.0 THEN 'collinear'
                ELSE 'independent' END AS verdict
    FROM u
    """,
)
def q408_vif_collinearity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance inflation factors for the three lineitem regressors
    (quantity, discount, tax) from the closed-form 3-variable identity
    R_k^2 = (r_ki^2 + r_kj^2 - 2 r_ki r_kj r_ij) / (1 - r_ij^2) — the
    multicollinearity screen run before any linear fit over these
    columns (M4/M5 latency models, q17 slopes; disclosed kinship).
    All three variables are integer-quantized (quantity is whole-valued,
    discount/tax are exact cents), so the full moment matrix (9 sums)
    is BIGINT-exact in one pass and every correlation is computed from
    identical integer moments on both engines; singular panels emit
    NULL VIF by the same CASE. The ``n*q - a*a`` combinations run in
    DECIMAL(38,0) (exact to ~SF 10^6; plain BIGINT would wrap silently
    in Spark around SF 10-30) before the single conversion to DOUBLE.

    100 TB story: ONE map-side-combining aggregate to a single 10-field
    integer moment row; the VIF arithmetic is a 1-row expression and a
    3-row literal unpivot — no second pass, no window, no join."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.round("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round(F.col("l_tax") * 100).cast("long").alias("x3"),
    )
    m = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("a1"),
        F.sum("x2").cast("long").alias("a2"),
        F.sum("x3").cast("long").alias("a3"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("q1"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("q2"),
        F.sum(F.col("x3") * F.col("x3")).cast("long").alias("q3"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("p12"),
        F.sum(F.col("x1") * F.col("x3")).cast("long").alias("p13"),
        F.sum(F.col("x2") * F.col("x3")).cast("long").alias("p23"),
    )

    # n * q - a * a style combinations run in DECIMAL(38,0): the BIGINT
    # sums are safe to any scale factor, but their cross products exhaust
    # int64 around SF 10-30 on lineitem (Spark would wrap silently,
    # DuckDB would raise). (19,0) x (19,0) -> (38,0) is exact on BOTH
    # engines; only the final exact integer converts to DOUBLE.
    def _d(c):
        return F.col(c).cast("decimal(19,0)")

    def _r(p, a, b, qa, qb):
        num = (_d("n") * _d(p) - _d(a) * _d(b)).cast("double")
        va = (_d("n") * _d(qa) - _d(a) * _d(a)).cast("double")
        vb = (_d("n") * _d(qb) - _d(b) * _d(b)).cast("double")
        return num / F.sqrt(va * vb)

    r = m.select(
        "n",
        _r("p12", "a1", "a2", "q1", "q2").alias("r12"),
        _r("p13", "a1", "a3", "q1", "q3").alias("r13"),
        _r("p23", "a2", "a3", "q2", "q3").alias("r23"),
    )

    def _rsq(rki, rkj, rij):
        return (
            F.col(rki) * F.col(rki)
            + F.col(rkj) * F.col(rkj)
            - 2.0 * F.col(rki) * F.col(rkj) * F.col(rij)
        ) / (F.lit(1.0) - F.col(rij) * F.col(rij))

    v = r.select(
        "n",
        _rsq("r12", "r13", "r23").alias("rsq1"),
        _rsq("r12", "r23", "r13").alias("rsq2"),
        _rsq("r13", "r23", "r12").alias("rsq3"),
    )
    # unpivot the single moment row with stack() so the union does not
    # re-execute the corpus aggregate once per variable
    u = v.selectExpr(
        "stack(3, 'l_quantity', rsq1, 'l_discount', rsq2, 'l_tax', rsq3) "
        "AS (variable, rsq)",
        "n",
    ).select("variable", "n", "rsq")
    vif = F.lit(1.0) / (F.lit(1.0) - F.col("rsq"))
    return u.select(
        "variable",
        "n",
        (F.round("rsq", 6) + F.lit(0.0)).alias("r_squared"),
        F.when(F.lit(1.0) - F.col("rsq") <= 0.0, F.lit(None).cast("double"))
        .otherwise(F.round(vif, 6))
        .alias("vif"),
        F.when(F.lit(1.0) - F.col("rsq") <= 0.0, "singular")
        .when(vif >= 5.0, "collinear")
        .otherwise("independent")
        .alias("verdict"),
    )


@query(
    "q409_oof_target_encoding",
    oracle="""
    WITH s AS (
      SELECT lang, CAST(doc_id % 5 AS INT) AS fold, n_chars
      FROM documents
    ),
    pf AS (
      SELECT lang, fold, CAST(count(*) AS BIGINT) AS nf,
             CAST(sum(n_chars) AS BIGINT) AS sf
      FROM s GROUP BY 1, 2
    ),
    pl AS (
      SELECT lang, CAST(sum(nf) AS BIGINT) AS nl, CAST(sum(sf) AS BIGINT) AS sl
      FROM pf GROUP BY 1
    )
    SELECT pf.lang, pf.fold, pf.nf AS n_rows,
           CASE WHEN pl.nl = pf.nf THEN NULL
                ELSE round((pl.sl - pf.sf) * 1.0 / (pl.nl - pf.nf), 6)
           END AS oof_mean,
           round(pl.sl * 1.0 / pl.nl, 6) AS full_mean,
           CASE WHEN pl.nl = pf.nf THEN NULL
                ELSE round((pl.sl - pf.sf) * 1.0 / (pl.nl - pf.nf)
                           - pl.sl * 1.0 / pl.nl, 6) + 0.0
           END AS leakage_delta
    FROM pf JOIN pl ON pl.lang = pf.lang
    """,
)
def q409_oof_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe out-of-fold target encoding audit: documents are
    assigned to 5 deterministic folds (doc_id % 5 — content-addressed
    like every split in operators/sampling.py, disclosed kinship), the
    lang column is mean-encoded against n_chars, and each (lang, fold)
    row reports the OUT-OF-FOLD encoding (S_l - s_f) / (N_l - n_f) —
    the value a training pipeline may legally join onto that fold —
    beside the full-data mean and their difference, the leakage bias a
    naive whole-corpus encoding would inject into that fold. Integer
    BIGINT moments make both means exact; a category living entirely in
    one fold emits NULL by the same CASE in both engines instead of a
    0/0.

    100 TB story: ONE map-side-combining aggregate to (category, fold)
    cells, one grouped rollup to category totals, one broadcast-sized
    join back — the encoding table is O(categories * folds) and the
    corpus is touched exactly once."""
    s = _t(spark, sf_dir, "documents").select(
        "lang", (F.col("doc_id") % 5).cast("int").alias("fold"), "n_chars"
    )
    # checkpoint the O(categories * folds) rollup so the category-total
    # regrouping does not re-execute the corpus scan
    pf = s.groupBy("lang", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("nf"),
        F.sum("n_chars").cast("long").alias("sf"),
    ).localCheckpoint(eager=True)
    pl = pf.groupBy("lang").agg(
        F.sum("nf").cast("long").alias("nl"), F.sum("sf").cast("long").alias("sl")
    )
    j = pf.join(F.broadcast(pl), "lang")
    oof = (F.col("sl") - F.col("sf")) * 1.0 / (F.col("nl") - F.col("nf"))
    full = F.col("sl") * 1.0 / F.col("nl")
    return j.select(
        "lang",
        "fold",
        F.col("nf").alias("n_rows"),
        F.when(F.col("nl") == F.col("nf"), F.lit(None).cast("double"))
        .otherwise(F.round(oof, 6))
        .alias("oof_mean"),
        F.round(full, 6).alias("full_mean"),
        F.when(F.col("nl") == F.col("nf"), F.lit(None).cast("double"))
        .otherwise(F.round(oof - full, 6) + F.lit(0.0))
        .alias("leakage_delta"),
    )


@query(
    "q410_gini_binned",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    mx AS (SELECT max(cents) AS mc, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(cents) AS BIGINT) AS tot FROM spend),
    binned AS (
      SELECT least(cents * 256 // ((SELECT mc FROM mx) + 1), 255) AS bin,
             CAST(count(*) AS BIGINT) AS nb, CAST(sum(cents) AS BIGINT) AS sb
      FROM spend GROUP BY 1
    ),
    lorenz AS (
      SELECT bin,
             sum(nb) OVER (ORDER BY bin) * 1.0 / (SELECT n FROM mx) AS p,
             sum(sb) OVER (ORDER BY bin) * 1.0 / (SELECT tot FROM mx) AS l,
             coalesce(sum(nb) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 1.0
               / (SELECT n FROM mx) AS p0,
             coalesce(sum(sb) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 1.0
               / (SELECT tot FROM mx) AS l0
      FROM binned
    ),
    g AS (
      SELECT CAST(round(sum(CAST(round((p - p0) * (l + l0), 12)
                                 AS DECIMAL(38,12))), 12) AS DOUBLE) AS area,
             CAST(count(*) AS BIGINT) AS nonempty
      FROM lorenz
    )
    SELECT (SELECT n FROM mx) AS n_customers,
           nonempty AS n_bins_nonempty,
           round((SELECT tot FROM mx) / 100.0, 2) AS total_spend,
           round(1.0 - area, 6) + 0.0 AS gini_binned
    FROM g
    """,
)
def q410_gini_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of customer lifetime spend via a 256-bin
    Lorenz trapezoid — the scalar tier above q256's decile Lorenz curve
    and beside q379's HHI (disclosed kinship): per-customer spend folds
    through DECIMAL(18,4) to exact cents, customers land in 256
    equal-width integer bins (cents * 256 // (max+1), exact BIGINT
    arithmetic), and Gini = 1 - sum (p_b - p_b0)(L_b + L_b0) over the
    cumulative bin frame with the area folded at 12-dp DECIMAL.
    Within-bin ordering is the only approximation (disclosed): bins
    partition by value, so across-bin ordering IS the sorted order and
    the error is bounded by the widest bin's share.

    100 TB story: one shuffle to customer spend, ONE map-side-combining
    aggregate to <= 256 bin rows; the ordered Lorenz windows run on the
    fixed 256-row support (allowlisted bounded frame), never a
    customer-rate sort — the exact-Gini rank formula would
    single-partition-sort every customer and is deliberately avoided."""
    spend = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            (
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2) * 100
            )
            .cast("long")
            .alias("cents")
        )
    )
    mx = spend.agg(
        F.max("cents").alias("mc"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("tot"),
    )
    binned = (
        spend.crossJoin(F.broadcast(mx))
        .select(
            F.least(
                F.expr("cents * 256 div (mc + 1)"), F.lit(255).cast("long")
            ).alias("bin"),
            "cents",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nb"),
            F.sum("cents").cast("long").alias("sb"),
        )
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    lorenz = binned.crossJoin(F.broadcast(mx)).select(
        (F.sum("nb").over(wc) * 1.0 / F.col("n")).alias("p"),
        (F.sum("sb").over(wc) * 1.0 / F.col("tot")).alias("l"),
        (F.coalesce(F.sum("nb").over(wb), F.lit(0)) * 1.0 / F.col("n")).alias("p0"),
        (F.coalesce(F.sum("sb").over(wb), F.lit(0)) * 1.0 / F.col("tot")).alias(
            "l0"
        ),
    )
    g = lorenz.agg(
        F.round(
            F.sum(
                F.round((F.col("p") - F.col("p0")) * (F.col("l") + F.col("l0")), 12)
                .cast("decimal(38,12)")
            ),
            12,
        )
        .cast("double")
        .alias("area"),
        F.count(F.lit(1)).cast("long").alias("nonempty"),
    )
    return g.crossJoin(F.broadcast(mx)).select(
        F.col("n").alias("n_customers"),
        F.col("nonempty").alias("n_bins_nonempty"),
        F.round(F.col("tot") / 100.0, 2).alias("total_spend"),
        (F.round(F.lit(1.0) - F.col("area"), 6) + F.lit(0.0)).alias("gini_binned"),
    )


@query(
    "q411_cronbach_alpha",
    oracle="""
    WITH g AS (
      SELECT source,
             CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS ga,
             CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) >= 40 THEN 1 ELSE 0 END AS gb,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS gc
      FROM documents WHERE trim(text) <> ''
    ),
    s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ga) AS BIGINT) AS sa, CAST(sum(gb) AS BIGINT) AS sb,
             CAST(sum(gc) AS BIGINT) AS sc,
             CAST(sum((ga + gb + gc) * (ga + gb + gc)) AS BIGINT) AS sr2
      FROM g GROUP BY 1
    ),
    v AS (
      SELECT source, n,
             ((n * sa - sa * sa) + (n * sb - sb * sb) + (n * sc - sc * sc))
               * 1.0 / (n * (n - 1.0)) AS item_var_sum,
             (n * sr2 - (sa + sb + sc) * (sa + sb + sc)) * 1.0 / (n * (n - 1.0))
               AS total_var
      FROM s
    )
    SELECT source, n,
           round(item_var_sum, 6) AS item_variance_sum,
           round(total_var, 6) AS total_variance,
           CASE WHEN total_var = 0.0 THEN NULL
                ELSE round(1.5 * (1.0 - item_var_sum / total_var), 6) + 0.0
           END AS cronbach_alpha
    FROM v
    """,
)
def q411_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha (Cronbach 1951) internal-consistency of the three
    binary curation gates (q402's rater panel, disclosed kinship) per
    source: alpha = (k/(k-1)) * (1 - sum(item variances)/variance(sum)),
    k = 3 — "do the gates measure one underlying quality trait" (high
    alpha) "or three unrelated things" (alpha near 0), the
    unidimensionality check that decides whether averaging gate scores
    into one quality scalar is even meaningful. Binary items make every
    variance an exact BIGINT-moment expression (sum g = sum g^2); only
    the final divisions are floating point. Zero-variance strata emit
    NULL by the same CASE in both engines.

    100 TB story: all three gates and the squared row-sum fold inside
    ONE map-side-combining per-source aggregate; the alpha arithmetic
    runs on the O(sources) frame."""
    from phoebe_spark.operators import text as text_ops

    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    ga = F.when(F.col("n_chars") >= 200, 1).otherwise(0)
    gb = F.when(F.size(text_ops.tokens(F.col("text"))) >= 40, 1).otherwise(0)
    gc = F.when(F.col("lang") == "en", 1).otherwise(0)
    r = ga + gb + gc
    s = d.select(
        "source", ga.alias("ga"), gb.alias("gb"), gc.alias("gc"), r.alias("r")
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ga").cast("long").alias("sa"),
        F.sum("gb").cast("long").alias("sb"),
        F.sum("gc").cast("long").alias("sc"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("sr2"),
    )
    nn = F.col("n") * (F.col("n") - F.lit(1.0))
    ivs = (
        (F.col("n") * F.col("sa") - F.col("sa") * F.col("sa"))
        + (F.col("n") * F.col("sb") - F.col("sb") * F.col("sb"))
        + (F.col("n") * F.col("sc") - F.col("sc") * F.col("sc"))
    ) * 1.0 / nn
    st = F.col("sa") + F.col("sb") + F.col("sc")
    tv = (F.col("n") * F.col("sr2") - st * st) * 1.0 / nn
    return s.select(
        "source",
        "n",
        F.round(ivs, 6).alias("item_variance_sum"),
        F.round(tv, 6).alias("total_variance"),
        F.when(tv == 0.0, F.lit(None).cast("double"))
        .otherwise(F.round(F.lit(1.5) * (F.lit(1.0) - ivs / tv), 6) + F.lit(0.0))
        .alias("cronbach_alpha"),
    )


@query(
    "q412_diff_in_diff",
    oracle=f"""
    WITH rng AS (
      SELECT min(epoch_ns(ts)) AS t0, max(epoch_ns(ts)) AS t1 FROM events
    ),
    s AS (
      SELECT CAST(user_id % 2 AS INT) AS arm,
             CASE WHEN epoch_ns(ts) * 2 >= (SELECT t0 + t1 FROM rng)
                  THEN 1 ELSE 0 END AS post,
             CAST(round(value * 100) AS BIGINT) AS yc
      FROM events WHERE value IS NOT NULL
    ),
    cell AS (
      SELECT arm, post, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(yc) AS BIGINT) AS s1, CAST(sum(yc * yc) AS BIGINT) AS s2
      FROM s GROUP BY 1, 2
    ),
    w AS (
      SELECT
        max(CASE WHEN arm = 1 AND post = 1 THEN s1 * 1.0 / n END) AS m11,
        max(CASE WHEN arm = 1 AND post = 0 THEN s1 * 1.0 / n END) AS m10,
        max(CASE WHEN arm = 0 AND post = 1 THEN s1 * 1.0 / n END) AS m01,
        max(CASE WHEN arm = 0 AND post = 0 THEN s1 * 1.0 / n END) AS m00,
        sum((n * s2 - s1 * s1) * 1.0 / (n * n * (n - 1.0))) AS var_sum,
        CAST(sum(n) AS BIGINT) AS nn,
        CAST(count(*) AS BIGINT) AS n_cells
      FROM cell
    )
    SELECT nn AS n_events, n_cells,
           round((m11 - m10) / 100.0, 6) AS treated_change,
           round((m01 - m00) / 100.0, 6) AS control_change,
           round(((m11 - m10) - (m01 - m00)) / 100.0, 6) + 0.0 AS did_estimate,
           round(sqrt(var_sum) / 100.0, 6) AS std_error,
           round({_p2_sql(f"abs(((m11 - m10) - (m01 - m00)) / sqrt(var_sum)) * {_INV_SQRT2}")}, 6) + 0.0
             AS p_value
    FROM w
    """,
)
def q412_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate (Card & Krueger 1994 design) of
    the hash arm's effect on event value across the corpus midpoint:
    pre/post periods split at (min+max)/2 of event time, the four
    (arm, period) cell means come from exact cents BIGINT sums, and the
    DiD interaction (treated change minus control change) nets out both
    the arm's level difference and the common time trend — the
    adjustment q406's cross-sectional estimators cannot make (disclosed
    kinship). The standard error is the four-cell delta-method sum of
    within-cell variances (exact integer moments), with the shared erfc
    p-value chain.

    100 TB story: one broadcast min/max range scan, then ONE
    map-side-combining aggregate to FOUR cell rows carrying integer
    moments; the estimator is a 1-row fold over them."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    rng = _t(spark, sf_dir, "events").agg(
        (F.min(F.col("ts")) + F.max(F.col("ts"))).alias("t01")
    )
    s = e.crossJoin(F.broadcast(rng)).select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.when(F.col("ts") * 2 >= F.col("t01"), 1).otherwise(0).alias("post"),
        F.round(F.col("value") * 100).cast("long").alias("yc"),
    )
    cell = s.groupBy("arm", "post").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yc").cast("long").alias("s1"),
        F.sum(F.col("yc") * F.col("yc")).cast("long").alias("s2"),
    )

    def _m(a, p):
        return F.max(
            F.when(
                (F.col("arm") == a) & (F.col("post") == p),
                F.col("s1") * 1.0 / F.col("n"),
            )
        )

    w = cell.agg(
        _m(1, 1).alias("m11"),
        _m(1, 0).alias("m10"),
        _m(0, 1).alias("m01"),
        _m(0, 0).alias("m00"),
        F.sum(
            (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
            * 1.0
            / (F.col("n") * F.col("n") * (F.col("n") - F.lit(1.0)))
        ).alias("var_sum"),
        F.sum("n").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    did = (F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00"))
    return w.select(
        F.col("nn").alias("n_events"),
        "n_cells",
        F.round((F.col("m11") - F.col("m10")) / 100.0, 6).alias("treated_change"),
        F.round((F.col("m01") - F.col("m00")) / 100.0, 6).alias("control_change"),
        (F.round(did / 100.0, 6) + F.lit(0.0)).alias("did_estimate"),
        F.round(F.sqrt(F.col("var_sum")) / 100.0, 6).alias("std_error"),
        (
            F.round(
                _p2_col(F.abs(did / F.sqrt(F.col("var_sum"))) * F.lit(_INV_SQRT2)), 6
            )
            + F.lit(0.0)
        ).alias("p_value"),
    )


@query(
    "q413_source_vocab_overlap",
    oracle="""
    WITH v AS (
      SELECT DISTINCT source,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents WHERE trim(text) <> ''
    ),
    sz AS (SELECT source, CAST(count(*) AS BIGINT) AS vsz FROM v GROUP BY 1),
    px AS (
      SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS inter
      FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT px.s1, px.s2, za.vsz AS v1, zb.vsz AS v2, px.inter,
           round(px.inter * 1.0 / (za.vsz + zb.vsz - px.inter), 6)
             AS jaccard,
           round(px.inter * 1.0 / least(za.vsz, zb.vsz), 6) AS containment
    FROM px JOIN sz za ON za.source = px.s1
            JOIN sz zb ON zb.source = px.s2
    """,
)
def q413_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary overlap audit: the distinct
    (source, token) vocabulary table self-joins ON TOKEN to count
    shared types per source pair, reported as Jaccard and
    min-containment — the corpus diagnostic that flags syndicated or
    mirrored sources before deduplication (the vocabulary-level tier of
    the q165 source-syndication check, disclosed kinship) and quantifies
    how transferable one source's token statistics are to another.
    Counts are exact integers; the pair frame is O(sources^2).

    100 TB story: ONE explode + distinct collapses the corpus to its
    vocabulary (types, not tokens — bounded by Heaps' law); the
    self-join shuffles on the token key where fan-out per token is at
    most #sources, and everything downstream runs on O(sources^2)
    rows."""
    from phoebe_spark.operators import text as text_ops

    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    v = (
        d.select("source", F.explode(text_ops.tokens(F.col("text"))).alias("tok"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sz = v.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("vsz"))
    a = v.alias("a")
    b = v.alias("b")
    px = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("s1"), F.col("b.source").alias("s2"))
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    return (
        px.join(
            F.broadcast(sz.select(F.col("source").alias("s1"), F.col("vsz").alias("v1"))),
            "s1",
        )
        .join(
            F.broadcast(sz.select(F.col("source").alias("s2"), F.col("vsz").alias("v2"))),
            "s2",
        )
        .select(
            "s1",
            "s2",
            "v1",
            "v2",
            "inter",
            F.round(
                F.col("inter") * 1.0 / (F.col("v1") + F.col("v2") - F.col("inter")), 6
            ).alias("jaccard"),
            F.round(F.col("inter") * 1.0 / F.least("v1", "v2"), 6).alias(
                "containment"
            ),
        )
    )


@query(
    "q414_ipw_diagnostics",
    oracle=f"""
    WITH s AS (
      SELECT event_type, CAST(user_id % 2 AS INT) AS arm
      FROM events WHERE value IS NOT NULL
    ),
    strat AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(arm) AS BIGINT) AS n1
      FROM s GROUP BY 1
    ),
    sides AS (
      SELECT 'treated' AS arm_name, n1 AS cnt,
             CASE WHEN n1 > 0 AND n1 < n THEN n * 1.0 / n1 END AS w,
             CASE WHEN n1 > 0 AND n1 < n THEN n ELSE 0 END AS n_in,
             CASE WHEN n1 > 0 AND n1 < n THEN 0 ELSE 1 END AS excl
      FROM strat
      UNION ALL
      SELECT 'control', n - n1,
             CASE WHEN n1 > 0 AND n1 < n THEN n * 1.0 / (n - n1) END,
             CASE WHEN n1 > 0 AND n1 < n THEN n ELSE 0 END,
             CASE WHEN n1 > 0 AND n1 < n THEN 0 ELSE 1 END
      FROM strat
    ),
    agg AS (
      SELECT arm_name,
             CAST(sum(CASE WHEN excl = 0 THEN cnt ELSE 0 END) AS BIGINT) AS n_arm,
             CAST(sum(n_in) AS BIGINT) AS sw,
             {_FOLD12_SQL.format(t="CASE WHEN excl = 0 THEN cnt * w * w ELSE 0.0 END")} AS sw2,
             max(w) AS max_w,
             CAST(sum(excl) AS BIGINT) AS n_excluded_strata
      FROM sides GROUP BY 1
    )
    SELECT arm_name, n_arm,
           round(sw * sw / sw2, 2) AS ess,
           round(sw * sw / sw2 / n_arm, 6) AS ess_ratio,
           round(max_w, 6) AS max_weight,
           round(sqrt(sw2 * n_arm / (sw * 1.0 * sw) - 1.0), 6) + 0.0
             AS weight_cv,
           n_excluded_strata
    FROM agg
    """,
)
def q414_ipw_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-sample-size diagnostics (Kish 1965) for q406's IPW
    estimator (disclosed kinship): per arm, the inverse-propensity
    weights w = n_s/n1_s (treated) and n_s/n0_s (control) give
    ESS = (sum w)^2 / sum w^2 — how many unweighted observations the
    weighted sample is actually worth — plus the max weight and the
    weight coefficient of variation, the overlap-violation screens run
    BEFORE trusting any IPW estimate (an ESS ratio near 1 means
    near-uniform weights; a large max weight means a near-empty
    propensity cell dominates). Single-arm strata (n1 = 0 or n1 = n)
    carry no overlap and are excluded from BOTH arms' folds with a
    fail-loud ``n_excluded_strata`` count (q406's degeneracy policy —
    previously the NULL weight silently dropped from sum w^2 while the
    stratum still counted in sum w, inflating ESS). With empirical
    propensities sum(w) per arm is EXACTLY the non-degenerate corpus
    count (an identity the integer moments make bit-exact); sum w^2
    folds at 12-dp DECIMAL over the K strata.

    100 TB story: ONE map-side-combining aggregate to K stratum count
    rows; both arms' diagnostics are K-row folds over the same tiny
    frame (re-read from its checkpoint, not the corpus)."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    strat = e.select(
        "event_type", (F.col("user_id") % 2).cast("int").alias("arm")
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("arm").cast("long").alias("n1"),
    ).localCheckpoint(eager=True)
    # Single-arm strata (n1 = 0 or n1 = n) have an undefined weight on
    # one side; without a guard the NULL w silently drops from sw2 and
    # max_w while the stratum's n still lands in sw, inflating ESS.
    # Guard: exclude the stratum from BOTH arms' folds (no overlap ->
    # no causal information, q406's degeneracy policy) and report the
    # excluded count fail-loud, q401-style.
    ok = (F.col("n1") > 0) & (F.col("n1") < F.col("n"))

    def _side(name, cnt_col, denom):
        return strat.select(
            F.lit(name).alias("arm_name"),
            cnt_col.alias("cnt"),
            F.when(ok, F.col("n") * 1.0 / denom).alias("w"),
            F.when(ok, F.col("n")).otherwise(F.lit(0)).alias("n_in"),
            F.when(ok, F.lit(0)).otherwise(F.lit(1)).alias("excl"),
        )

    sides = _side("treated", F.col("n1"), F.col("n1")).unionAll(
        _side("control", F.col("n") - F.col("n1"), F.col("n") - F.col("n1"))
    )

    def _fold12(x):
        return F.round(F.sum(F.round(x, 12).cast("decimal(38,12)")), 12).cast("double")

    agg = sides.groupBy("arm_name").agg(
        F.sum(F.when(F.col("excl") == 0, F.col("cnt")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_arm"),
        F.sum("n_in").cast("long").alias("sw"),
        _fold12(
            F.when(
                F.col("excl") == 0, F.col("cnt") * F.col("w") * F.col("w")
            ).otherwise(F.lit(0.0))
        ).alias("sw2"),
        F.max("w").alias("max_w"),
        F.sum("excl").cast("long").alias("n_excluded_strata"),
    )
    ess = F.col("sw") * F.col("sw") / F.col("sw2")
    return agg.select(
        "arm_name",
        "n_arm",
        F.round(ess, 2).alias("ess"),
        F.round(ess / F.col("n_arm"), 6).alias("ess_ratio"),
        F.round("max_w", 6).alias("max_weight"),
        (
            F.round(
                F.sqrt(
                    F.col("sw2") * F.col("n_arm") / (F.col("sw") * 1.0 * F.col("sw"))
                    - F.lit(1.0)
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("weight_cv"),
        "n_excluded_strata",
    )


@query(
    "q415_streaming_moments_drain",
    oracle="""
    WITH s AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS yc
      FROM events WHERE value IS NOT NULL
    ),
    m AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(yc) AS BIGINT) AS s1, CAST(sum(yc * yc) AS BIGINT) AS s2
      FROM s GROUP BY 1
    )
    SELECT event_type, n,
           round(s1 / (100.0 * n), 6) AS mean_value,
           round((n * s2 - s1 * s1) / (10000.0 * n * (n - 1.0)), 6) AS var_value
    FROM m
    """,
)
def q415_streaming_moments_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact per-key moments drained in the hash-checked gate:
    cents-quantized event values accumulate per type as three BIGINT
    sums (count, sum, sum of squares) in
    :func:`stateful.streaming_moments` — the exact-arithmetic form of
    Welford/Chan parallel variance — carried in a real state store
    across three event-id-sliced micro-batches, each PRE-REDUCED
    map-side to one moment row per key before it reaches the operator.
    Integer moments make the merge commutative and exact, so the
    drained mean/variance hash-match the batch oracle digit-for-digit
    regardless of batch boundaries or arrival order — the 21st
    hash-checked drain, and the streaming form of the moment policy
    every batch estimator in this registry uses.

    100 TB story: O(keys) state (three longs per key), one row per key
    per micro-batch of state traffic; the final statistics are computed
    from the drained state frame, corpus-size-independent."""
    from phoebe_spark.streaming import drain
    from phoebe_spark.streaming.stateful import streaming_moments

    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("yc"),
        )
    )

    with drain.scratch("q415_") as work:
        src_dir = f"{work}/src"
        drain.stage_slices(
            (
                e.filter(F.col("event_id") % 3 == r)
                .groupBy(F.col("event_type").alias("key"))
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum("yc").cast("long").alias("s1"),
                    F.sum(F.col("yc") * F.col("yc")).cast("long").alias("s2"),
                )
                for r in range(3)
            ),
            src_dir,
        )

        stream = (
            spark.readStream.schema("key STRING, n LONG, s1 LONG, s2 LONG")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        out = streaming_moments(stream)
        sink = drain.run(out, work, output_mode="update")
        final = (
            drain.latest(spark.read.parquet(sink))
            .select("key", "n", "s1", "s2")
            .localCheckpoint(eager=True)
        )
        return final.select(
            F.col("key").alias("event_type"),
            "n",
            F.round(F.col("s1") / (100.0 * F.col("n")), 6).alias("mean_value"),
            F.round(
                (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
                / (10000.0 * F.col("n") * (F.col("n") - F.lit(1.0))),
                6,
            ).alias("var_value"),
        )


@query(
    "q416_log_odds_dirichlet",
    oracle="""
    WITH toks AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS grp,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents WHERE trim(text) <> ''
    ),
    c AS (
      SELECT tok,
             CAST(sum(grp) AS BIGINT) AS y1,
             CAST(sum(1 - grp) AS BIGINT) AS y2
      FROM toks GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(y1) AS BIGINT) AS n1, CAST(sum(y2) AS BIGINT) AS n2,
             CAST(sum(y1 + y2) AS BIGINT) AS nt
      FROM c
    ),
    z AS (
      SELECT tok, y1, y2,
             ln((y1 + 500.0 * (y1 + y2) / nt)
                / (n1 + 500.0 - y1 - 500.0 * (y1 + y2) / nt))
             - ln((y2 + 500.0 * (y1 + y2) / nt)
                  / (n2 + 500.0 - y2 - 500.0 * (y1 + y2) / nt)) AS delta,
             1.0 / (y1 + 500.0 * (y1 + y2) / nt)
             + 1.0 / (y2 + 500.0 * (y1 + y2) / nt) AS v
      FROM c CROSS JOIN tot
    )
    SELECT tok, y1, y2,
           round(delta, 6) + 0.0 AS log_odds,
           round(delta / sqrt(v), 6) + 0.0 AS z_score
    FROM z
    ORDER BY abs(delta / sqrt(v)) DESC, tok
    LIMIT 20
    """,
)
def q416_log_odds_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted log-odds-ratio with an informative Dirichlet prior
    (Monroe, Colaresi & Quinn 2008) comparing English vs non-English
    token usage: each token's prior alpha_w = 500 * (corpus share), the
    smoothed log-odds delta and its variance 1/(y1+a) + 1/(y2+a) give a
    z-score that — unlike raw PMI or chi-square — neither explodes on
    rare words nor drowns frequent ones, the standard "what words
    distinguish these two corpora" statistic in corpus comparison. The
    top-20 by |z| are cut with orderBy().limit() so the plan is a
    distributed TakeOrderedAndProject, never a global sort (the q320
    top-k rule). Counts are exact BIGINTs; both engines evaluate the
    identical smoothing expression.

    100 TB story: ONE explode + map-side-combining token aggregate
    (vocabulary-bounded by Heaps' law), a broadcast 1-row total join,
    and a TakeOrdered(20) — no window, no corpus-rate sort."""
    from phoebe_spark.operators import text as text_ops

    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    toks = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("grp"),
        F.explode(text_ops.tokens(F.col("text"))).alias("tok"),
    )
    c = toks.groupBy("tok").agg(
        F.sum("grp").cast("long").alias("y1"),
        F.sum(F.lit(1) - F.col("grp")).cast("long").alias("y2"),
    )
    tot = c.agg(
        F.sum("y1").cast("long").alias("n1"),
        F.sum("y2").cast("long").alias("n2"),
        F.sum(F.col("y1") + F.col("y2")).cast("long").alias("nt"),
    )
    j = c.crossJoin(F.broadcast(tot))
    a = F.lit(500.0) * (F.col("y1") + F.col("y2")) / F.col("nt")
    delta = F.log(
        (F.col("y1") + a) / (F.col("n1") + F.lit(500.0) - F.col("y1") - a)
    ) - F.log((F.col("y2") + a) / (F.col("n2") + F.lit(500.0) - F.col("y2") - a))
    v = F.lit(1.0) / (F.col("y1") + a) + F.lit(1.0) / (F.col("y2") + a)
    z = delta / F.sqrt(v)
    return (
        j.select(
            "tok",
            "y1",
            "y2",
            (F.round(delta, 6) + F.lit(0.0)).alias("log_odds"),
            (F.round(z, 6) + F.lit(0.0)).alias("z_score"),
            F.abs(z).alias("az"),
        )
        .orderBy(F.col("az").desc(), "tok")
        .limit(20)
        .drop("az")
    )


@query(
    "q417_competing_risks",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey,
             datediff('day', DATE '1970-01-01', o_orderdate) AS d,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 2 END AS kind
      FROM orders
    ),
    mx AS (SELECT max(d) AS dmax FROM o),
    g AS (
      SELECT d,
             lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS nd,
             lead(kind) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS nk
      FROM o
    ),
    dur AS (
      SELECT CASE WHEN nd IS NULL THEN (SELECT dmax FROM mx) - d
                  ELSE nd - d END AS t,
             CASE WHEN nd IS NULL THEN 0 ELSE nk END AS ev
      FROM g
    ),
    byt AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(CASE WHEN ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(sum(CASE WHEN ev = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2
      FROM dur GROUP BY 1
    ),
    risk AS (
      SELECT t, d1, d2, d1 + d2 AS d,
             CAST(sum(n_all) OVER () -
               coalesce(sum(n_all) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nt
      FROM byt
    ),
    ev AS (SELECT * FROM risk WHERE d > 0),
    km AS (
      SELECT t, d1, d2, nt,
             coalesce(sum(CASE WHEN d < nt THEN ln(1 - d * 1.0 / nt) END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0.0) AS lnprev,
             coalesce(max(CASE WHEN d >= nt THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS zs
      FROM ev
    ),
    cif AS (
      SELECT t, d1, d2, nt,
             sum(round(CASE WHEN zs = 1 THEN 0.0
                            ELSE exp(lnprev) * d1 / nt END, 12))
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cif1,
             sum(round(CASE WHEN zs = 1 THEN 0.0
                            ELSE exp(lnprev) * d2 / nt END, 12))
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cif2
      FROM km
    )
    SELECT t, nt AS n_risk, d1 AS d_urgent, d2 AS d_routine,
           round(cif1, 6) + 0.0 AS cif_urgent,
           round(cif2, 6) + 0.0 AS cif_routine
    FROM cif
    """,
)
def q417_competing_risks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative incidence under competing risks
    (Aalen & Johansen 1978) over the reorder-gap fixture (q282/q403
    kinship, disclosed): each customer's next order is one of two
    competing events — urgent-priority (1-URGENT/2-HIGH) vs routine —
    and the tail to corpus end is censored. CIF_k(t) = sum_{s<=t}
    S(s-) d_k(s)/n(s) with S(s-) the all-cause Kaplan-Meier evaluated
    just before s — the quantity a naive "KM per event type treating
    the other as censoring" systematically overestimates (the classic
    competing-risks fallacy; CIF_urgent + CIF_routine + S = 1 holds
    here by construction). The ln-sum/zero-absorption machinery is
    q282's; each CIF increment is 12-dp-rounded before its ordered
    cumulative sum so both engines accumulate the identical sequence.

    100 TB story: one lead() pass partitioned by customer; every window
    after runs over the O(distinct gap values) event-time frame,
    SF-independent (allowlisted bounded support)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(2)
        .alias("kind"),
    )
    dmax = o.agg(F.max("d").alias("dmax"))
    wseq = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    g = o.select(
        "d",
        F.lead("d").over(wseq).alias("nd"),
        F.lead("kind").over(wseq).alias("nk"),
    )
    dur = g.crossJoin(F.broadcast(dmax)).select(
        F.when(F.col("nd").isNull(), F.col("dmax") - F.col("d"))
        .otherwise(F.col("nd") - F.col("d"))
        .alias("t"),
        F.when(F.col("nd").isNull(), 0).otherwise(F.col("nk")).alias("ev"),
    )
    byt = dur.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum(F.when(F.col("ev") == 1, 1).otherwise(0)).cast("long").alias("d1"),
        F.sum(F.when(F.col("ev") == 2, 1).otherwise(0)).cast("long").alias("d2"),
    )
    wtot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wbef = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = byt.select(
        "t",
        "d1",
        "d2",
        (F.col("d1") + F.col("d2")).alias("d"),
        (
            F.sum("n_all").over(wtot) - F.coalesce(F.sum("n_all").over(wbef), F.lit(0))
        ).cast("long").alias("nt"),
    ).filter(F.col("d") > 0)
    km = risk.select(
        "t",
        "d1",
        "d2",
        "nt",
        F.coalesce(
            F.sum(
                F.when(
                    F.col("d") < F.col("nt"),
                    F.log(1 - F.col("d") * 1.0 / F.col("nt")),
                )
            ).over(wbef),
            F.lit(0.0),
        ).alias("lnprev"),
        F.coalesce(
            F.max(F.when(F.col("d") >= F.col("nt"), 1).otherwise(0)).over(wbef),
            F.lit(0),
        ).alias("zs"),
    )
    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)

    def _inc(dk):
        return F.round(
            F.when(F.col("zs") == 1, F.lit(0.0)).otherwise(
                F.exp(F.col("lnprev")) * F.col(dk) / F.col("nt")
            ),
            12,
        )

    cif = km.select(
        "t",
        "d1",
        "d2",
        "nt",
        F.sum(_inc("d1")).over(wc).alias("cif1"),
        F.sum(_inc("d2")).over(wc).alias("cif2"),
    )
    return cif.select(
        "t",
        F.col("nt").alias("n_risk"),
        F.col("d1").alias("d_urgent"),
        F.col("d2").alias("d_routine"),
        (F.round("cif1", 6) + F.lit(0.0)).alias("cif_urgent"),
        (F.round("cif2", 6) + F.lit(0.0)).alias("cif_routine"),
    )


@query(
    "q418_price_elasticity",
    oracle=f"""
    WITH s AS (
      SELECT p.p_type,
             ln(CAST(round(CAST(p.p_retailprice AS DECIMAL(18,4)) * 100, 0)
                     AS BIGINT)) AS x,
             ln(CAST(round(l.l_quantity) AS BIGINT)) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity >= 1
    ),
    m AS (
      SELECT p_type, CAST(count(*) AS BIGINT) AS n,
             {_FOLD12_SQL.format(t="x")} AS sx,
             {_FOLD12_SQL.format(t="y")} AS sy,
             {_FOLD12_SQL.format(t="x * x")} AS sxx,
             {_FOLD12_SQL.format(t="y * y")} AS syy,
             {_FOLD12_SQL.format(t="x * y")} AS sxy
      FROM s GROUP BY 1
    )
    SELECT p_type, n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0
             AS elasticity,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0.0
             AS correlation
    FROM m
    """,
)
def q418_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity of demand per product type: OLS slope of
    ln(quantity) on ln(retail price) over the lineitem-part join — the
    constant-elasticity model whose slope reads directly as "% quantity
    change per % price change" (slope invariant to the cents scaling of
    price). Prices pass through DECIMAL to exact cents and quantities to
    exact integers BEFORE the ln, so both engines take logs of
    identical BIGINTs; every ln-product moment accumulates through the
    12-dp DECIMAL fold so corpus order cannot move the slope. Reported
    with the intercept and the plain correlation (elasticity strength
    vs fit quality).

    100 TB story: one dimension join (broadcast via the size-aware
    ``_dim`` hint — part grows with scale factor, so above the 256 MB
    plan-estimate bound AQE decides), ONE map-side-combining aggregate
    to K = 6 type rows carrying five folded moments; the regression is
    a per-row closed form — no window, no second pass."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 1)
    pt = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_type",
        F.log(
            F.round(F.col("p_retailprice").cast("decimal(18,4)") * 100, 0).cast(
                "long"
            )
        ).alias("x"),
    )
    s = li.join(
        _dim(pt), F.col("l_partkey") == F.col("p_partkey")
    ).select("p_type", "x", F.log(F.round("l_quantity").cast("long")).alias("y"))

    def _fold12(c):
        return F.round(F.sum(F.round(c, 12).cast("decimal(38,12)")), 12).cast("double")

    m = s.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _fold12(F.col("x")).alias("sx"),
        _fold12(F.col("y")).alias("sy"),
        _fold12(F.col("x") * F.col("x")).alias("sxx"),
        _fold12(F.col("y") * F.col("y")).alias("syy"),
        _fold12(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "p_type",
        "n",
        (F.round(slope, 6) + F.lit(0.0)).alias("elasticity"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        (F.round(corr, 6) + F.lit(0.0)).alias("correlation"),
    )


@query(
    "q419_gehan_wilcoxon",
    oracle=f"""
    WITH o AS (
      SELECT o.o_custkey, o.o_orderkey,
             datediff('day', DATE '1970-01-01', o.o_orderdate) AS d,
             CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS arm
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    mx AS (SELECT max(d) AS dmax FROM o),
    g AS (
      SELECT arm, d,
             lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS nd
      FROM o
    ),
    dur AS (
      SELECT arm,
             CASE WHEN nd IS NULL THEN (SELECT dmax FROM mx) - d
                  ELSE nd - d END AS t,
             CASE WHEN nd IS NULL THEN 0 ELSE 1 END AS ev
      FROM g
    ),
    byt AS (
      SELECT t,
             CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_all1,
             CAST(sum(ev) AS BIGINT) AS d,
             CAST(sum(CASE WHEN arm = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1
      FROM dur GROUP BY 1
    ),
    risk AS (
      SELECT t, d, d1,
             CAST(sum(n_all) OVER () -
               coalesce(sum(n_all) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nt,
             CAST(sum(n_all1) OVER () -
               coalesce(sum(n_all1) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n1
      FROM byt
    ),
    ev AS (SELECT * FROM risk WHERE d > 0),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_times,
             CAST(sum(nt * d1) AS BIGINT) AS obs_w,
             {_FOLD12_SQL.format(t="nt * (d * (n1 * 1.0 / nt))")} AS exp_w,
             {_FOLD12_SQL.format(t="CASE WHEN nt > 1 THEN nt * 1.0 * nt * (d * (n1 * 1.0 / nt) * (1.0 - n1 * 1.0 / nt) * (nt - d) / (nt - 1.0)) ELSE 0.0 END")} AS var_w
      FROM ev
    )
    SELECT n_times, obs_w,
           round(exp_w, 6) AS expected_w,
           round((obs_w - exp_w) * (obs_w - exp_w) / var_w, 6) AS chi2_stat,
           round({_p2_sql(f"sqrt((obs_w - exp_w) * (obs_w - exp_w) / var_w) * {_INV_SQRT2}")}, 6) + 0.0
             AS p_value,
           CASE WHEN obs_w < exp_w THEN 'arm1_lower_hazard'
                WHEN obs_w > exp_w THEN 'arm1_higher_hazard'
                ELSE 'equal' END AS direction
    FROM s
    """,
)
def q419_gehan_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gehan-Breslow-Wilcoxon weighted log-rank test (Gehan 1965) over
    q403's two-group survival fixture (disclosed kinship): identical
    O-E/variance machinery but each event time weighted by the at-risk
    count n(t), so EARLY hazard differences dominate — the companion
    run beside the unweighted log-rank because the two disagreeing is
    itself the diagnostic (crossing hazards; neither test alone detects
    the crossing). Weighted O = sum n_t * d1_t stays an exact BIGINT;
    weighted E and V accumulate through the 12-dp DECIMAL folds with
    the shared erfc p-value chain.

    100 TB story: identical shape to q403 — one keyed lead() pass, then
    everything on the O(distinct gap values) frame."""
    o = (
        _t(spark, sf_dir, "orders")
        .join(
            _t(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("o_custkey"),
                F.when(F.col("c_mktsegment") == "BUILDING", 1)
                .otherwise(0)
                .alias("arm"),
            ),
            "o_custkey",
        )
        .select(
            "o_custkey",
            "o_orderkey",
            "arm",
            F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d"),
        )
    )
    dmax = o.agg(F.max("d").alias("dmax"))
    g = o.withColumn(
        "nd",
        F.lead("d").over(Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")),
    )
    dur = g.crossJoin(F.broadcast(dmax)).select(
        "arm",
        F.when(F.col("nd").isNull(), F.col("dmax") - F.col("d"))
        .otherwise(F.col("nd") - F.col("d"))
        .alias("t"),
        F.when(F.col("nd").isNull(), 0).otherwise(1).alias("ev"),
    )
    byt = dur.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n_all1"),
        F.sum("ev").cast("long").alias("d"),
        F.sum(F.when(F.col("arm") == 1, F.col("ev")).otherwise(0))
        .cast("long")
        .alias("d1"),
    )
    wtot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wbef = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = byt.select(
        "t",
        "d",
        "d1",
        (
            F.sum("n_all").over(wtot) - F.coalesce(F.sum("n_all").over(wbef), F.lit(0))
        ).cast("long").alias("nt"),
        (
            F.sum("n_all1").over(wtot)
            - F.coalesce(F.sum("n_all1").over(wbef), F.lit(0))
        ).cast("long").alias("n1"),
    ).filter(F.col("d") > 0)

    def _fold12(x):
        return F.round(F.sum(F.round(x, 12).cast("decimal(38,12)")), 12).cast("double")

    frac = F.col("n1") * 1.0 / F.col("nt")
    e_term = F.col("nt") * (F.col("d") * frac)
    v_term = F.when(
        F.col("nt") > 1,
        F.col("nt")
        * 1.0
        * F.col("nt")
        * (
            F.col("d")
            * frac
            * (F.lit(1.0) - frac)
            * (F.col("nt") - F.col("d"))
            / (F.col("nt") - F.lit(1.0))
        ),
    ).otherwise(F.lit(0.0))
    s = risk.agg(
        F.count(F.lit(1)).cast("long").alias("n_times"),
        F.sum(F.col("nt") * F.col("d1")).cast("long").alias("obs_w"),
        _fold12(e_term).alias("exp_w"),
        _fold12(v_term).alias("var_w"),
    )
    chi2 = (F.col("obs_w") - F.col("exp_w")) * (F.col("obs_w") - F.col("exp_w")) / F.col(
        "var_w"
    )
    return s.select(
        "n_times",
        "obs_w",
        F.round("exp_w", 6).alias("expected_w"),
        F.round(chi2, 6).alias("chi2_stat"),
        (F.round(_p2_col(F.sqrt(chi2) * F.lit(_INV_SQRT2)), 6) + F.lit(0.0)).alias(
            "p_value"
        ),
        F.when(F.col("obs_w") < F.col("exp_w"), "arm1_lower_hazard")
        .when(F.col("obs_w") > F.col("exp_w"), "arm1_higher_hazard")
        .otherwise("equal")
        .alias("direction"),
    )


@query(
    "q420_rmst",
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
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nt
      FROM byt
    ),
    ev AS (SELECT t, nt, d_ev FROM risk WHERE d_ev > 0 AND t <= 90),
    km AS (
      SELECT t, nt, d_ev,
             sum(CASE WHEN d_ev < nt THEN ln(1 - d_ev * 1.0 / nt) END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS lnsum,
             max(CASE WHEN d_ev >= nt THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS zs,
             coalesce(lag(t) OVER (ORDER BY t), 0) AS tprev,
             coalesce(sum(CASE WHEN d_ev < nt THEN ln(1 - d_ev * 1.0 / nt) END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0.0) AS lnprev,
             coalesce(max(CASE WHEN d_ev >= nt THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS zsprev
      FROM ev
    ),
    seg AS (
      SELECT CAST(round(sum(CAST(round((t - tprev) *
                 CASE WHEN zsprev = 1 THEN 0.0 ELSE exp(lnprev) END, 12)
                 AS DECIMAL(38,12))), 12) AS DOUBLE)
               AS area_to_last,
             max(t) AS tlast,
             max(CASE WHEN zs = 1 THEN 0.0 ELSE exp(coalesce(lnsum, 0.0)) END)
               FILTER (WHERE t = (SELECT max(t) FROM km)) AS s_last,
             CAST(count(*) AS BIGINT) AS n_steps
      FROM km
    )
    SELECT 90 AS tau_days, n_steps,
           round(area_to_last + (90 - tlast) * s_last, 6) + 0.0 AS rmst_days,
           round(s_last, 6) + 0.0 AS survival_at_tau
    FROM seg
    """,
)
def q420_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time to tau = 90 days (Royston & Parmar
    2013 advocacy; the integral of the Kaplan-Meier curve from 0 to
    tau) over q282's reorder-gap fixture (disclosed kinship) — the
    modern replacement for a median-survival summary when curves cross
    or medians are unreached: "how many reorder-free days does the
    average customer accumulate in their first 90". The step integral
    is the sum of (t_i - t_{i-1}) * S(t_{i-1}-) rectangles over event
    times <= tau plus the tail rectangle to tau, each term
    12-dp-rounded before the fold; the ln-sum/absorption machinery is
    q282's.

    100 TB story: one keyed lead() pass; the KM curve, the lag() step
    widths, and the integral all run on the O(distinct gap values <=
    tau) frame — SF-independent."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d"),
    )
    tau = 90
    dmax = o.agg(F.max("d").alias("dmax"))
    g = o.withColumn(
        "nd",
        F.lead("d").over(Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")),
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
            F.sum("n_all").over(wtot) - F.coalesce(F.sum("n_all").over(wbef), F.lit(0))
        ).cast("long").alias("nt"),
    ).filter((F.col("d_ev") > 0) & (F.col("t") <= tau))
    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy("t")
    lnterm = F.when(
        F.col("d_ev") < F.col("nt"),
        F.log(1 - F.col("d_ev") * 1.0 / F.col("nt")),
    )
    zterm = F.when(F.col("d_ev") >= F.col("nt"), 1).otherwise(0)
    km = risk.select(
        "t",
        F.sum(lnterm).over(wc).alias("lnsum"),
        F.max(zterm).over(wc).alias("zs"),
        F.coalesce(F.lag("t").over(wl), F.lit(0)).alias("tprev"),
        F.coalesce(F.sum(lnterm).over(wbef), F.lit(0.0)).alias("lnprev"),
        F.coalesce(F.max(zterm).over(wbef), F.lit(0)).alias("zsprev"),
    ).localCheckpoint(eager=True)
    sprev = F.when(F.col("zsprev") == 1, F.lit(0.0)).otherwise(F.exp(F.col("lnprev")))
    scur = F.when(F.col("zs") == 1, F.lit(0.0)).otherwise(
        F.exp(F.coalesce(F.col("lnsum"), F.lit(0.0)))
    )
    tlast = km.agg(F.max("t").alias("tlast"))
    seg = km.crossJoin(F.broadcast(tlast)).agg(
        F.round(
            F.sum(
                F.round((F.col("t") - F.col("tprev")) * sprev, 12).cast(
                    "decimal(38,12)"
                )
            ),
            12,
        )
        .cast("double")
        .alias("area_to_last"),
        F.max("t").alias("tl"),
        F.max(F.when(F.col("t") == F.col("tlast"), scur)).alias("s_last"),
        F.count(F.lit(1)).cast("long").alias("n_steps"),
    )
    return seg.select(
        F.lit(tau).cast("int").alias("tau_days"),
        "n_steps",
        (
            F.round(
                F.col("area_to_last") + (tau - F.col("tl")) * F.col("s_last"), 6
            )
            + F.lit(0.0)
        ).alias("rmst_days"),
        (F.round("s_last", 6) + F.lit(0.0)).alias("survival_at_tau"),
    )


_ORD_GRID_SQL = """
    g AS (
      SELECT CASE WHEN n_chars < 150 THEN 0 WHEN n_chars < 300 THEN 1
                  WHEN n_chars < 500 THEN 2 ELSE 3 END AS i,
             CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 25 THEN 0
                  WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 50 THEN 1
                  WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 85 THEN 2
                  ELSE 3 END AS j
      FROM documents WHERE trim(text) <> ''
    ),
    cells AS (
      SELECT i, j, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1, 2
    ),
    rm AS (SELECT i, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY 1),
    cm AS (SELECT j, CAST(sum(n) AS BIGINT) AS c FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells)"""


def _ord_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-level ordinal contingency of the char-length rater (cuts
    150/300/500) vs the token-count rater (cuts 25/50/85); see
    _ORD_GRID_SQL. Cut points chosen so all four levels are populated
    on both margins at every test SF."""
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    from phoebe_spark.operators import text as text_ops

    ntok = F.size(text_ops.tokens(F.col("text")))
    i = (
        F.when(F.col("n_chars") < 150, 0)
        .when(F.col("n_chars") < 300, 1)
        .when(F.col("n_chars") < 500, 2)
        .otherwise(3)
    )
    j = F.when(ntok < 25, 0).when(ntok < 50, 1).when(ntok < 85, 2).otherwise(3)
    return (
        d.select(i.alias("i"), j.alias("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@query(
    "q421_weighted_kappa",
    oracle=f"""
    WITH {_ORD_GRID_SQL},
    po AS (
      SELECT CAST(sum(n * (3 - abs(i - j))) AS BIGINT) AS wo,
             CAST(sum(CASE WHEN i = j THEN n ELSE 0 END) AS BIGINT) AS diag
      FROM cells
    ),
    pe AS (
      SELECT CAST(sum(rm.r * cm.c * (3 - abs(rm.i - cm.j))) AS BIGINT) AS we,
             CAST(sum(CASE WHEN rm.i = cm.j THEN rm.r * cm.c ELSE 0 END) AS BIGINT)
               AS ediag
      FROM rm CROSS JOIN cm
    )
    SELECT nn AS n_docs,
           round(wo * 1.0 / (3 * nn), 6) AS po_weighted,
           round(we * 1.0 / (3.0 * nn * nn), 6) AS pe_weighted,
           round((wo * 1.0 / (3 * nn) - we * 1.0 / (3.0 * nn * nn))
                 / (1.0 - we * 1.0 / (3.0 * nn * nn)), 6) + 0.0 AS weighted_kappa,
           round((diag * 1.0 / nn - ediag * 1.0 / (nn * 1.0 * nn))
                 / (1.0 - ediag * 1.0 / (nn * 1.0 * nn)), 6) + 0.0
             AS unweighted_kappa
    FROM po CROSS JOIN pe CROSS JOIN tot
    """,
)
def q421_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearly weighted Cohen's kappa (Cohen 1968) between two ORDINAL
    quality raters — a 4-level char-length grading vs a 4-level
    token-count grading — the ordinal upgrade of q346's binary kappa
    (disclosed kinship): near-misses (adjacent levels) earn partial
    credit 1 - |i-j|/3, so the statistic distinguishes "raters disagree
    by one grade" from "raters contradict each other", which the
    unweighted kappa (also reported) cannot. Everything is an exact
    BIGINT sum over the 16-cell grid and its margins; only the final
    divisions are floating point.

    100 TB story: ONE map-side-combining aggregate to <= 16 cells;
    margins and both kappas are folds over that grid and its 4x4
    margin cross join."""
    cells = _ord_cells(spark, sf_dir).localCheckpoint(eager=True)
    rm = cells.groupBy("i").agg(F.sum("n").cast("long").alias("r"))
    cm = cells.groupBy("j").agg(F.sum("n").cast("long").alias("c"))
    tot = cells.agg(F.sum("n").cast("long").alias("nn"))
    po = cells.agg(
        F.sum(F.col("n") * (3 - F.abs(F.col("i") - F.col("j"))))
        .cast("long")
        .alias("wo"),
        F.sum(F.when(F.col("i") == F.col("j"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("diag"),
    )
    pe = rm.crossJoin(cm).agg(
        F.sum(F.col("r") * F.col("c") * (3 - F.abs(F.col("i") - F.col("j"))))
        .cast("long")
        .alias("we"),
        F.sum(
            F.when(F.col("i") == F.col("j"), F.col("r") * F.col("c")).otherwise(0)
        )
        .cast("long")
        .alias("ediag"),
    )
    j = po.crossJoin(F.broadcast(pe)).crossJoin(F.broadcast(tot))
    pow_ = F.col("wo") * 1.0 / (3 * F.col("nn"))
    pew = F.col("we") * 1.0 / (3.0 * F.col("nn") * F.col("nn"))
    pou = F.col("diag") * 1.0 / F.col("nn")
    peu = F.col("ediag") * 1.0 / (F.col("nn") * 1.0 * F.col("nn"))
    return j.select(
        F.col("nn").alias("n_docs"),
        F.round(pow_, 6).alias("po_weighted"),
        F.round(pew, 6).alias("pe_weighted"),
        (F.round((pow_ - pew) / (F.lit(1.0) - pew), 6) + F.lit(0.0)).alias(
            "weighted_kappa"
        ),
        (F.round((pou - peu) / (F.lit(1.0) - peu), 6) + F.lit(0.0)).alias(
            "unweighted_kappa"
        ),
    )


_SQRT_2_OVER_PI = 0.7978845608028654  # sqrt(2/pi), correctly rounded literal


@query(
    "q422_stuart_maxwell",
    oracle=f"""
    WITH {_ORD_GRID_SQL},
    pairs AS (
      SELECT a.i, a.j,
             coalesce((SELECT n FROM cells b WHERE b.i = a.i AND b.j = a.j), 0) AS nij
      FROM (SELECT rm.i AS i, cm.j AS j FROM rm CROSS JOIN cm) a
    ),
    dvec AS (
      SELECT k,
             CAST((SELECT coalesce(max(r), 0) FROM rm WHERE rm.i = k) AS BIGINT)
             - CAST((SELECT coalesce(max(c), 0) FROM cm WHERE cm.j = k) AS BIGINT)
               AS d
      FROM (SELECT unnest(generate_series(0, 2)) AS k)
    ),
    smat AS (
      SELECT a.k AS ki, b.k AS kj,
             CASE WHEN a.k = b.k THEN
               CAST((SELECT coalesce(max(r), 0) FROM rm WHERE rm.i = a.k) AS BIGINT)
               + CAST((SELECT coalesce(max(c), 0) FROM cm WHERE cm.j = a.k) AS BIGINT)
               - 2 * (SELECT nij FROM pairs WHERE i = a.k AND j = a.k)
             ELSE
               - (SELECT nij FROM pairs WHERE i = a.k AND j = b.k)
               - (SELECT nij FROM pairs WHERE i = b.k AND j = a.k)
             END AS s
      FROM dvec a CROSS JOIN dvec b
    ),
    m AS (
      SELECT
        CAST((SELECT s FROM smat WHERE ki = 0 AND kj = 0) AS DECIMAL(13,0)) AS s00,
        CAST((SELECT s FROM smat WHERE ki = 0 AND kj = 1) AS DECIMAL(13,0)) AS s01,
        CAST((SELECT s FROM smat WHERE ki = 0 AND kj = 2) AS DECIMAL(13,0)) AS s02,
        CAST((SELECT s FROM smat WHERE ki = 1 AND kj = 1) AS DECIMAL(13,0)) AS s11,
        CAST((SELECT s FROM smat WHERE ki = 1 AND kj = 2) AS DECIMAL(13,0)) AS s12,
        CAST((SELECT s FROM smat WHERE ki = 2 AND kj = 2) AS DECIMAL(13,0)) AS s22,
        CAST((SELECT d FROM dvec WHERE k = 0) AS DECIMAL(13,0)) AS dd0,
        CAST((SELECT d FROM dvec WHERE k = 1) AS DECIMAL(13,0)) AS dd1,
        CAST((SELECT d FROM dvec WHERE k = 2) AS DECIMAL(13,0)) AS dd2
    ),
    q AS (
      SELECT
        s00 * (s11 * s22 - s12 * s12)
        - s01 * (s01 * s22 - s12 * s02)
        + s02 * (s01 * s12 - s11 * s02) AS det,
        dd0 * (dd0 * (s11 * s22 - s12 * s12)
              + dd1 * (s02 * s12 - s01 * s22)
              + dd2 * (s01 * s12 - s02 * s11))
        + dd1 * (dd0 * (s12 * s02 - s01 * s22)
                + dd1 * (s00 * s22 - s02 * s02)
                + dd2 * (s01 * s02 - s00 * s12))
        + dd2 * (dd0 * (s01 * s12 - s11 * s02)
                + dd1 * (s02 * s01 - s00 * s12)
                + dd2 * (s00 * s11 - s01 * s01)) AS quad,
        dd0, dd1, dd2
      FROM m
    ),
    qq AS (
      SELECT dd0, dd1, dd2,
             CAST(quad AS DOUBLE) / CAST(det AS DOUBLE) AS chi2
      FROM q
    )
    SELECT (SELECT nn FROM tot) AS n_docs,
           CAST(dd0 AS BIGINT) AS margin_shift_0,
           CAST(dd1 AS BIGINT) AS margin_shift_1,
           CAST(dd2 AS BIGINT) AS margin_shift_2,
           round(chi2, 6) AS chi2_stat,
           round({_p2_sql("sqrt(chi2 * 0.5)")}
                 + {_SQRT_2_OVER_PI} * sqrt(chi2)
                   * exp(-chi2 * 0.5), 6) + 0.0 AS p_value
    FROM qq
    """,
)
def q422_stuart_maxwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stuart-Maxwell marginal-homogeneity test (Stuart 1955; Maxwell
    1970) on q421's 4-level ordinal rater grid (disclosed kinship) —
    the multi-level McNemar (q366's generalization): does the
    char-length grading systematically assign DIFFERENT grade
    proportions than the token grading (a calibration shift), as
    opposed to mere scatter (q421's kappa measures that)? d = row
    margins minus column margins over the first 3 levels, S the
    McNemar-style covariance with integer entries, and chi2 = d'S^-1 d
    evaluated via the closed-form 3x3 adjugate so the statistic is an
    EXACT integer ratio quad/det, accumulated in DECIMAL(38,0) — the
    quadruple products exhaust int64 long before 100 TB (Spark would
    wrap silently); exact to ~10^9 docs even in the worst case
    (quad <= ~4 n^4, disclosed bound); the 3-dof chi-square p-value uses the
    closed form erfc(sqrt(x/2)) + sqrt(2x/pi)*exp(-x/2) on the shared
    erfc chain.

    100 TB story: the same one-aggregate 16-cell grid as q421;
    everything after is a literal 3x3 expression on one row."""
    cells = _ord_cells(spark, sf_dir).localCheckpoint(eager=True)
    rm = cells.groupBy("i").agg(F.sum("n").cast("long").alias("r"))
    cm = cells.groupBy("j").agg(F.sum("n").cast("long").alias("c"))
    tot = cells.agg(F.sum("n").cast("long").alias("nn"))

    def _cell(i, j):
        return F.coalesce(
            F.max(F.when((F.col("i") == i) & (F.col("j") == j), F.col("n"))),
            F.lit(0),
        )

    grid = cells.agg(
        *[_cell(i, j).alias(f"n{i}{j}") for i in range(3) for j in range(3)],
        *[
            F.sum(F.when(F.col("i") == k, F.col("n")).otherwise(0))
            .cast("long")
            .alias(f"r{k}")
            for k in range(3)
        ],
        *[
            F.sum(F.when(F.col("j") == k, F.col("n")).otherwise(0))
            .cast("long")
            .alias(f"c{k}")
            for k in range(3)
        ],
    )
    # d and S entries are O(n_docs) BIGINTs, but det is a triple and quad
    # a quadruple product of them — int64-exhausted well before 100 TB
    # (Spark wraps silently, DuckDB raises). (13,0) entries keep every
    # product chain inside DECIMAL(38,0), exact on BOTH engines up to
    # ~10^9 docs even in the worst case (quad <= ~4 n^4); the single
    # DOUBLE conversion happens only at the final quad/det ratio.
    d = [(F.col(f"r{k}") - F.col(f"c{k}")).cast("decimal(13,0)") for k in range(3)]
    s = {}
    for a in range(3):
        for b in range(3):
            if a == b:
                sv = F.col(f"r{a}") + F.col(f"c{a}") - 2 * F.col(f"n{a}{a}")
            else:
                sv = -(F.col(f"n{a}{b}") + F.col(f"n{b}{a}"))
            s[(a, b)] = sv.cast("decimal(13,0)")
    det = (
        s[(0, 0)] * (s[(1, 1)] * s[(2, 2)] - s[(1, 2)] * s[(1, 2)])
        - s[(0, 1)] * (s[(0, 1)] * s[(2, 2)] - s[(1, 2)] * s[(0, 2)])
        + s[(0, 2)] * (s[(0, 1)] * s[(1, 2)] - s[(1, 1)] * s[(0, 2)])
    )
    quad = (
        d[0]
        * (
            d[0] * (s[(1, 1)] * s[(2, 2)] - s[(1, 2)] * s[(1, 2)])
            + d[1] * (s[(0, 2)] * s[(1, 2)] - s[(0, 1)] * s[(2, 2)])
            + d[2] * (s[(0, 1)] * s[(1, 2)] - s[(0, 2)] * s[(1, 1)])
        )
        + d[1]
        * (
            d[0] * (s[(1, 2)] * s[(0, 2)] - s[(0, 1)] * s[(2, 2)])
            + d[1] * (s[(0, 0)] * s[(2, 2)] - s[(0, 2)] * s[(0, 2)])
            + d[2] * (s[(0, 1)] * s[(0, 2)] - s[(0, 0)] * s[(1, 2)])
        )
        + d[2]
        * (
            d[0] * (s[(0, 1)] * s[(1, 2)] - s[(1, 1)] * s[(0, 2)])
            + d[1] * (s[(0, 2)] * s[(0, 1)] - s[(0, 0)] * s[(1, 2)])
            + d[2] * (s[(0, 0)] * s[(1, 1)] - s[(0, 1)] * s[(0, 1)])
        )
    )
    chi2 = quad.cast("double") / det.cast("double")
    p = _p2_col(F.sqrt(chi2 * 0.5)) + F.lit(_SQRT_2_OVER_PI) * F.sqrt(
        chi2
    ) * F.exp(-chi2 * 0.5)
    return grid.crossJoin(F.broadcast(tot)).select(
        F.col("nn").alias("n_docs"),
        d[0].cast("long").alias("margin_shift_0"),
        d[1].cast("long").alias("margin_shift_1"),
        d[2].cast("long").alias("margin_shift_2"),
        F.round(chi2, 6).alias("chi2_stat"),
        (F.round(p, 6) + F.lit(0.0)).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Round 10: distribution-shape, agreement, and association extensions —
# Jarque-Bera normality, Chow structural break, Goodman-Kruskal ordinal
# association, Krippendorff alpha, Lin CCC + Bland-Altman. Same exact-fold
# policy: integer corpus moments, DECIMAL(38,0) cross-products, one DOUBLE
# conversion at the closed form.
# ---------------------------------------------------------------------------


@query(
    "q423_jarque_bera",
    oracle="""
    WITH s AS (
      SELECT l_returnflag AS flag, CAST(round(l_quantity) AS BIGINT) AS x
      FROM lineitem
    ),
    m AS (
      SELECT flag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s1,
             CAST(sum(x * x) AS BIGINT) AS s2,
             CAST(sum(x * x * x) AS BIGINT) AS s3,
             CAST(sum(x * x * x * x) AS BIGINT) AS s4
      FROM s GROUP BY 1
    ),
    d AS (
      SELECT flag, n,
             CAST(n AS DECIMAL(19,0)) AS dn,
             CAST(s1 AS DECIMAL(19,0)) AS d1, CAST(s2 AS DECIMAL(19,0)) AS d2,
             CAST(s3 AS DECIMAL(19,0)) AS d3, CAST(s4 AS DECIMAL(19,0)) AS d4
      FROM m
    ),
    c AS (
      SELECT flag, n,
             CAST(dn * d2 - d1 * d1 AS DOUBLE) AS m2,
             CAST(dn * dn * d3 - 3 * dn * d1 * d2 + 2 * d1 * d1 * d1 AS DOUBLE) AS m3,
             CAST(dn * dn * dn * d4 - 4 * dn * dn * d1 * d3
                  + 6 * dn * d1 * d1 * d2 - 3 * d1 * d1 * d1 * d1 AS DOUBLE) AS m4
      FROM d
    ),
    g AS (
      SELECT flag, n,
             m3 / (m2 * sqrt(m2)) AS g1,
             m4 / (m2 * m2) - 3.0 AS g2
      FROM c
    ),
    j AS (
      SELECT flag, n, g1, g2,
             CAST(n AS DOUBLE) / 6.0 * (g1 * g1 + g2 * g2 / 4.0) AS jb
      FROM g
    )
    SELECT flag, n,
           round(g1, 6) + 0.0 AS skewness,
           round(g2, 6) + 0.0 AS excess_kurtosis,
           round(jb, 6) AS jb_stat,
           round(exp(-jb / 2.0), 6) + 0.0 AS p_value
    FROM j
    """,
)
def q423_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test (Jarque & Bera 1980) of the quantity
    distribution per return flag: skewness and excess kurtosis come from
    the first four RAW integer moments via the n-power-scaled central
    identities M2 = n*s2 - s1^2, M3 = n^2*s3 - 3n*s1*s2 + 2*s1^3,
    M4 = n^3*s4 - 4n^2*s1*s3 + 6n*s1^2*s2 - 3*s1^4 — chosen because the
    n powers cancel EXACTLY in g1 = M3/M2^1.5 and g2 = M4/M2^2 - 3, so
    no mean subtraction (and no float corpus pass) ever happens. The
    quadruple products run in DECIMAL(38,0) (int64-exhausted around
    SF 1-10; exact to ~5e7 rows/group worst-case, disclosed); the
    chi-square(2) survival function is the closed form exp(-JB/2) —
    the screen run before trusting any z-score-based anomaly gate
    (q77 MAD, q310 KS kinship) on a segment.

    100 TB story: ONE map-side-combining aggregate to K = 3 flag rows
    carrying four BIGINT moments; everything after is a per-row closed
    form — no window, no join, no second pass."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.round("l_quantity").cast("long").alias("x")
    )
    m = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).cast("long").alias("s3"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x"))
        .cast("long")
        .alias("s4"),
    )

    def _d(c):
        return F.col(c).cast("decimal(19,0)")

    m2 = (_d("n") * _d("s2") - _d("s1") * _d("s1")).cast("double")
    m3 = (
        _d("n") * _d("n") * _d("s3")
        - 3 * _d("n") * _d("s1") * _d("s2")
        + 2 * _d("s1") * _d("s1") * _d("s1")
    ).cast("double")
    m4 = (
        _d("n") * _d("n") * _d("n") * _d("s4")
        - 4 * _d("n") * _d("n") * _d("s1") * _d("s3")
        + 6 * _d("n") * _d("s1") * _d("s1") * _d("s2")
        - 3 * _d("s1") * _d("s1") * _d("s1") * _d("s1")
    ).cast("double")
    c = m.select("flag", "n", m2.alias("m2"), m3.alias("m3"), m4.alias("m4"))
    g1 = F.col("m3") / (F.col("m2") * F.sqrt("m2"))
    g2 = F.col("m4") / (F.col("m2") * F.col("m2")) - F.lit(3.0)
    g = c.select("flag", "n", g1.alias("g1"), g2.alias("g2"))
    jb = F.col("n").cast("double") / 6.0 * (
        F.col("g1") * F.col("g1") + F.col("g2") * F.col("g2") / 4.0
    )
    j = g.select("flag", "n", "g1", "g2", jb.alias("jb"))
    return j.select(
        "flag",
        "n",
        (F.round("g1", 6) + F.lit(0.0)).alias("skewness"),
        (F.round("g2", 6) + F.lit(0.0)).alias("excess_kurtosis"),
        F.round("jb", 6).alias("jb_stat"),
        (F.round(F.exp(-F.col("jb") / 2.0), 6) + F.lit(0.0)).alias("p_value"),
    )


@query(
    "q424_chow_break",
    oracle="""
    WITH o AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
             CAST(round(o_totalprice * 100) AS BIGINT) AS yc,
             CASE WHEN o_orderdate < DATE '1995-04-01' THEN 0 ELSE 1 END AS seg
      FROM orders
    ),
    days AS (
      SELECT seg, d, CAST(sum(yc) AS BIGINT) AS y
      FROM o GROUP BY 1, 2
    ),
    m AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(d) AS BIGINT) AS sx,
             CAST(sum(CAST(d AS DECIMAL(19,0)) * CAST(d AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
             CAST(sum(CAST(d AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sxy,
             CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS syy
      FROM days GROUP BY 1
    ),
    w AS (
      SELECT
        CAST(max(CASE WHEN seg = 0 THEN n END) AS BIGINT) AS n1,
        CAST(max(CASE WHEN seg = 1 THEN n END) AS BIGINT) AS n2,
        max(CASE WHEN seg = 0 THEN sx END) AS sx1, max(CASE WHEN seg = 1 THEN sx END) AS sx2,
        max(CASE WHEN seg = 0 THEN sxx END) AS sxx1, max(CASE WHEN seg = 1 THEN sxx END) AS sxx2,
        max(CASE WHEN seg = 0 THEN sy END) AS sy1, max(CASE WHEN seg = 1 THEN sy END) AS sy2,
        max(CASE WHEN seg = 0 THEN sxy END) AS sxy1, max(CASE WHEN seg = 1 THEN sxy END) AS sxy2,
        max(CASE WHEN seg = 0 THEN syy END) AS syy1, max(CASE WHEN seg = 1 THEN syy END) AS syy2
      FROM m
    ),
    r AS (
      SELECT n1, n2,
        CAST(CAST(n1 AS DECIMAL(19,0)) * sxx1 - CAST(sx1 AS DECIMAL(19,0)) * CAST(sx1 AS DECIMAL(19,0)) AS DOUBLE) AS nsxx1,
        CAST(CAST(n1 AS DECIMAL(19,0)) * sxy1 - CAST(sx1 AS DECIMAL(19,0)) * sy1 AS DOUBLE) AS nsxy1,
        CAST(CAST(n1 AS DECIMAL(19,0)) * syy1 - sy1 * sy1 AS DOUBLE) AS nsyy1,
        CAST(CAST(n2 AS DECIMAL(19,0)) * sxx2 - CAST(sx2 AS DECIMAL(19,0)) * CAST(sx2 AS DECIMAL(19,0)) AS DOUBLE) AS nsxx2,
        CAST(CAST(n2 AS DECIMAL(19,0)) * sxy2 - CAST(sx2 AS DECIMAL(19,0)) * sy2 AS DOUBLE) AS nsxy2,
        CAST(CAST(n2 AS DECIMAL(19,0)) * syy2 - sy2 * sy2 AS DOUBLE) AS nsyy2,
        CAST(CAST(n1 + n2 AS DECIMAL(19,0)) * (sxx1 + sxx2)
             - CAST(sx1 + sx2 AS DECIMAL(19,0)) * CAST(sx1 + sx2 AS DECIMAL(19,0)) AS DOUBLE) AS nsxxf,
        CAST(CAST(n1 + n2 AS DECIMAL(19,0)) * (sxy1 + sxy2)
             - CAST(sx1 + sx2 AS DECIMAL(19,0)) * (sy1 + sy2) AS DOUBLE) AS nsxyf,
        CAST(CAST(n1 + n2 AS DECIMAL(19,0)) * (syy1 + syy2)
             - (sy1 + sy2) * (sy1 + sy2) AS DOUBLE) AS nsyyf
      FROM w
    ),
    f AS (
      SELECT n1, n2,
        nsxy1 / nsxx1 AS slope_pre,
        nsxy2 / nsxx2 AS slope_post,
        (nsyy1 - nsxy1 * nsxy1 / nsxx1) / CAST(n1 AS DOUBLE) AS ssr1,
        (nsyy2 - nsxy2 * nsxy2 / nsxx2) / CAST(n2 AS DOUBLE) AS ssr2,
        (nsyyf - nsxyf * nsxyf / nsxxf) / CAST(n1 + n2 AS DOUBLE) AS ssrf
      FROM r
    )
    SELECT n1 AS n_days_pre, n2 AS n_days_post,
           round(slope_pre, 6) + 0.0 AS slope_pre,
           round(slope_post, 6) + 0.0 AS slope_post,
           round(((ssrf - ssr1 - ssr2) / 2.0)
                 / ((ssr1 + ssr2) / CAST(n1 + n2 - 4 AS DOUBLE)), 6) AS chow_f
    FROM f
    """,
)
def q424_chow_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test (Chow 1960) on the daily-revenue time
    trend, breakpoint fixed at 1995-04-01 (the corpus midpoint): fit
    revenue-vs-day OLS on the pre segment, the post segment, and pooled,
    then F = ((SSR_pooled - SSR_1 - SSR_2)/k) / ((SSR_1 + SSR_2)/(n-2k))
    with k = 2 — "did the revenue trend CHANGE at the break" as one
    F-statistic, the regression-stability audit behind drift monitors
    like q238's changepoint scan (disclosed kinship). Day-level cents
    sums are exact BIGINTs; every n*S - S*S moment combination runs in
    DECIMAL(38,0) (daily cents squared exhausts int64 near SF 1) and
    converts to DOUBLE once, with identical expression chains on both
    engines.

    100 TB story: one corpus scan collapses to the O(days) rollup with
    map-side combine; segment moments are ONE further aggregate over
    that bounded frame, and the F arithmetic is a single-row closed
    form. No window, no join."""
    o = _t(spark, sf_dir, "orders").select(
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("yc"),
        F.when(F.col("o_orderdate") < F.lit("1995-04-01"), 0)
        .otherwise(1)
        .alias("seg"),
    )
    days = o.groupBy("seg", "d").agg(F.sum("yc").cast("long").alias("y"))

    def _d19(c):
        return F.col(c).cast("decimal(19,0)")

    m = days.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sx"),
        F.sum(_d19("d") * _d19("d")).cast("decimal(38,0)").alias("sxx"),
        F.sum(_d19("y")).cast("decimal(38,0)").alias("sy"),
        F.sum(_d19("d") * _d19("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(_d19("y") * _d19("y")).cast("decimal(38,0)").alias("syy"),
    )

    def _seg(col, s):
        return F.max(F.when(F.col("seg") == s, F.col(col)))

    w = m.agg(
        _seg("n", 0).cast("long").alias("n1"),
        _seg("n", 1).cast("long").alias("n2"),
        _seg("sx", 0).alias("sx1"),
        _seg("sx", 1).alias("sx2"),
        _seg("sxx", 0).alias("sxx1"),
        _seg("sxx", 1).alias("sxx2"),
        _seg("sy", 0).alias("sy1"),
        _seg("sy", 1).alias("sy2"),
        _seg("sxy", 0).alias("sxy1"),
        _seg("sxy", 1).alias("sxy2"),
        _seg("syy", 0).alias("syy1"),
        _seg("syy", 1).alias("syy2"),
    )

    def _ns(n, sa, sb, sab):
        return (n.cast("decimal(19,0)") * sab - sa * sb).cast("double")

    nsxx1 = _ns(F.col("n1"), _d19("sx1"), _d19("sx1"), F.col("sxx1"))
    nsxy1 = (
        F.col("n1").cast("decimal(19,0)") * F.col("sxy1")
        - _d19("sx1") * F.col("sy1")
    ).cast("double")
    nsyy1 = (
        F.col("n1").cast("decimal(19,0)") * F.col("syy1")
        - F.col("sy1") * F.col("sy1")
    ).cast("double")
    nsxx2 = _ns(F.col("n2"), _d19("sx2"), _d19("sx2"), F.col("sxx2"))
    nsxy2 = (
        F.col("n2").cast("decimal(19,0)") * F.col("sxy2")
        - _d19("sx2") * F.col("sy2")
    ).cast("double")
    nsyy2 = (
        F.col("n2").cast("decimal(19,0)") * F.col("syy2")
        - F.col("sy2") * F.col("sy2")
    ).cast("double")
    nf = F.col("n1") + F.col("n2")
    sxf = F.col("sx1") + F.col("sx2")
    syf = F.col("sy1") + F.col("sy2")
    nsxxf = (
        nf.cast("decimal(19,0)") * (F.col("sxx1") + F.col("sxx2"))
        - sxf.cast("decimal(19,0)") * sxf.cast("decimal(19,0)")
    ).cast("double")
    nsxyf = (
        nf.cast("decimal(19,0)") * (F.col("sxy1") + F.col("sxy2"))
        - sxf.cast("decimal(19,0)") * syf
    ).cast("double")
    nsyyf = (
        nf.cast("decimal(19,0)") * (F.col("syy1") + F.col("syy2")) - syf * syf
    ).cast("double")
    r = w.select(
        "n1",
        "n2",
        nsxx1.alias("nsxx1"),
        nsxy1.alias("nsxy1"),
        nsyy1.alias("nsyy1"),
        nsxx2.alias("nsxx2"),
        nsxy2.alias("nsxy2"),
        nsyy2.alias("nsyy2"),
        nsxxf.alias("nsxxf"),
        nsxyf.alias("nsxyf"),
        nsyyf.alias("nsyyf"),
    )
    ssr1 = (F.col("nsyy1") - F.col("nsxy1") * F.col("nsxy1") / F.col("nsxx1")) / F.col(
        "n1"
    ).cast("double")
    ssr2 = (F.col("nsyy2") - F.col("nsxy2") * F.col("nsxy2") / F.col("nsxx2")) / F.col(
        "n2"
    ).cast("double")
    ssrf = (F.col("nsyyf") - F.col("nsxyf") * F.col("nsxyf") / F.col("nsxxf")) / (
        F.col("n1") + F.col("n2")
    ).cast("double")
    f = r.select(
        "n1",
        "n2",
        (F.col("nsxy1") / F.col("nsxx1")).alias("slope_pre"),
        (F.col("nsxy2") / F.col("nsxx2")).alias("slope_post"),
        ssr1.alias("ssr1"),
        ssr2.alias("ssr2"),
        ssrf.alias("ssrf"),
    )
    chow = ((F.col("ssrf") - F.col("ssr1") - F.col("ssr2")) / 2.0) / (
        (F.col("ssr1") + F.col("ssr2"))
        / (F.col("n1") + F.col("n2") - 4).cast("double")
    )
    return f.select(
        F.col("n1").alias("n_days_pre"),
        F.col("n2").alias("n_days_post"),
        (F.round("slope_pre", 6) + F.lit(0.0)).alias("slope_pre"),
        (F.round("slope_post", 6) + F.lit(0.0)).alias("slope_post"),
        F.round(chow, 6).alias("chow_f"),
    )


@query(
    "q425_gamma_somers",
    oracle="""
    WITH s AS (
      SELECT CAST((CAST(round(l_quantity) AS BIGINT) - 1) // 10 AS INT) AS i,
             CAST(round(l_discount * 100) AS INT) AS j
      FROM lineitem
    ),
    grid AS (
      SELECT i, j, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1, 2
    ),
    pairs AS (
      SELECT
        CAST(sum(CASE WHEN b.i > a.i AND b.j > a.j
                 THEN CAST(a.n AS DECIMAL(19,0)) * CAST(b.n AS DECIMAL(19,0))
                 ELSE CAST(0 AS DECIMAL(19,0)) END) AS DECIMAL(38,0)) AS c,
        CAST(sum(CASE WHEN b.i > a.i AND b.j < a.j
                 THEN CAST(a.n AS DECIMAL(19,0)) * CAST(b.n AS DECIMAL(19,0))
                 ELSE CAST(0 AS DECIMAL(19,0)) END) AS DECIMAL(38,0)) AS d,
        CAST(sum(CASE WHEN b.i = a.i AND b.j > a.j
                 THEN CAST(a.n AS DECIMAL(19,0)) * CAST(b.n AS DECIMAL(19,0))
                 ELSE CAST(0 AS DECIMAL(19,0)) END) AS DECIMAL(38,0)) AS tx,
        CAST(sum(CASE WHEN b.j = a.j AND b.i > a.i
                 THEN CAST(a.n AS DECIMAL(19,0)) * CAST(b.n AS DECIMAL(19,0))
                 ELSE CAST(0 AS DECIMAL(19,0)) END) AS DECIMAL(38,0)) AS ty
      FROM grid a CROSS JOIN grid b
    )
    SELECT CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
           CAST(tx AS BIGINT) AS ties_x_only, CAST(ty AS BIGINT) AS ties_y_only,
           round(CAST(c - d AS DOUBLE) / CAST(c + d AS DOUBLE), 6) + 0.0 AS gamma,
           round(CAST(c - d AS DOUBLE) / CAST(c + d + ty AS DOUBLE), 6) + 0.0 AS somers_d_yx,
           round(CAST(c - d AS DOUBLE) / CAST(c + d + tx AS DOUBLE), 6) + 0.0 AS somers_d_xy
    FROM pairs
    """,
)
def q425_gamma_somers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal gamma and both Somers' D asymmetries (Goodman &
    Kruskal 1954; Somers 1962) between the quantity quintile (x, 5
    ordered levels) and the discount cent level (y, 11 ordered levels):
    concordant/discordant/tied pair counts come from the K x L grid's
    self-product — gamma ignores all ties, d(y|x) additionally charges
    pairs tied on y only, d(x|y) pairs tied on x only — the ordinal
    companions to q-registry Kendall tau-b (disclosed kinship; tau-b
    symmetrizes, these do not). Pair products accumulate in
    DECIMAL(38,0) (C ~ n^2/2 exhausts int64 past ~SF 500), exact at any
    realistic scale.

    100 TB story: ONE map-side-combining aggregate to the <= 55-cell
    grid; the pair census is a bounded 55 x 55 grid cross-product —
    corpus pairs are NEVER enumerated."""
    li = _t(spark, sf_dir, "lineitem").select(
        ((F.round("l_quantity").cast("long") - 1) / 10).cast("int").alias("i"),
        F.round(F.col("l_discount") * 100).cast("int").alias("j"),
    )
    grid = (
        li.groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    a = grid.alias("a")
    b = grid.alias("b")

    def _p():
        return F.col("a.n").cast("decimal(19,0)") * F.col("b.n").cast(
            "decimal(19,0)"
        )

    z = F.lit(0).cast("decimal(19,0)")
    pairs = a.crossJoin(b).agg(
        F.sum(
            F.when((F.col("b.i") > F.col("a.i")) & (F.col("b.j") > F.col("a.j")), _p()).otherwise(z)
        ).cast("decimal(38,0)").alias("c"),
        F.sum(
            F.when((F.col("b.i") > F.col("a.i")) & (F.col("b.j") < F.col("a.j")), _p()).otherwise(z)
        ).cast("decimal(38,0)").alias("d"),
        F.sum(
            F.when((F.col("b.i") == F.col("a.i")) & (F.col("b.j") > F.col("a.j")), _p()).otherwise(z)
        ).cast("decimal(38,0)").alias("tx"),
        F.sum(
            F.when((F.col("b.j") == F.col("a.j")) & (F.col("b.i") > F.col("a.i")), _p()).otherwise(z)
        ).cast("decimal(38,0)").alias("ty"),
    )
    cd = F.col("c") - F.col("d")
    return pairs.select(
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        F.col("tx").cast("long").alias("ties_x_only"),
        F.col("ty").cast("long").alias("ties_y_only"),
        (F.round(cd.cast("double") / (F.col("c") + F.col("d")).cast("double"), 6) + F.lit(0.0)).alias("gamma"),
        (F.round(cd.cast("double") / (F.col("c") + F.col("d") + F.col("ty")).cast("double"), 6) + F.lit(0.0)).alias("somers_d_yx"),
        (F.round(cd.cast("double") / (F.col("c") + F.col("d") + F.col("tx")).cast("double"), 6) + F.lit(0.0)).alias("somers_d_xy"),
    )


@query(
    "q426_krippendorff_alpha",
    oracle="""
    WITH g AS (
      SELECT source,
             (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END
              + CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) >= 40 THEN 1 ELSE 0 END
              + CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS r
      FROM documents WHERE trim(text) <> ''
    ),
    s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r) AS BIGINT) AS s1,
             CAST(sum(r * r) AS BIGINT) AS s2
      FROM g GROUP BY 1
    ),
    k AS (
      SELECT source, n, s1,
             CAST(3 * CAST(s1 AS DECIMAL(19,0)) - CAST(s2 AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS dis,
             CAST(3 * CAST(n AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS nt
      FROM s
    )
    SELECT source, n AS n_docs,
           round(CAST(dis AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS do_rate,
           round(CAST(2 * CAST(s1 AS DECIMAL(19,0)) * (nt - CAST(s1 AS DECIMAL(19,0))) AS DOUBLE)
                 / (CAST(nt AS DOUBLE) * CAST(nt - 1 AS DOUBLE)), 6) AS de_rate,
           CASE WHEN s1 = 0 OR s1 = CAST(nt AS BIGINT) THEN NULL
                ELSE round(1.0 - CAST(CAST(nt - 1 AS DECIMAL(19,0)) * dis AS DOUBLE)
                           / CAST(2 * CAST(s1 AS DECIMAL(19,0)) * (nt - CAST(s1 AS DECIMAL(19,0))) AS DOUBLE), 6) + 0.0
           END AS kripp_alpha
    FROM k
    """,
)
def q426_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (Krippendorff 1970, nominal data) per source
    over q402's three binary curation raters (disclosed kinship — same
    fixture, the missing member of the agreement ladder Cohen q346 /
    Fleiss q402 / weighted q421): with r keep-votes out of m = 3, the
    observed disagreement is Do = sum r(3-r) / (3N) (the within-unit
    disagreeing pair rate) and the expected disagreement uses the
    FINITE-SAMPLE coincidence margin De = 2*n1*n0 / (3N*(3N-1)) — the
    (3N-1) is exactly what distinguishes alpha from Fleiss kappa and
    makes it unbiased at small N. Everything reduces to the same three
    integer moments (N, sum r, sum r^2) as q402, so alpha is computed
    from identical BIGINTs on both engines; single-class sources (all
    keep or all drop) emit NULL by the same CASE.

    100 TB story: ONE map-side-combining per-source aggregate; the
    alpha arithmetic is a per-row closed form on the O(sources) frame —
    no window, no join, no second pass."""
    from phoebe_spark.operators import text as text_ops

    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    r = (
        F.when(F.col("n_chars") >= 200, 1).otherwise(0)
        + F.when(F.size(text_ops.tokens(F.col("text"))) >= 40, 1).otherwise(0)
        + F.when(F.col("lang") == "en", 1).otherwise(0)
    )
    s = d.select("source", r.alias("r")).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r").cast("long").alias("s1"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("s2"),
    )

    def _d19(c):
        return F.col(c).cast("decimal(19,0)")

    dis = (3 * _d19("s1") - _d19("s2")).cast("decimal(38,0)")
    nt = (3 * _d19("n")).cast("decimal(38,0)")
    k = s.select("source", "n", "s1", dis.alias("dis"), nt.alias("nt"))
    de_num = (2 * _d19("s1") * (F.col("nt") - _d19("s1"))).cast("double")
    alpha = F.lit(1.0) - (
        (F.col("nt") - 1).cast("decimal(19,0)") * F.col("dis")
    ).cast("double") / de_num
    return k.select(
        "source",
        F.col("n").alias("n_docs"),
        F.round(F.col("dis").cast("double") / F.col("nt").cast("double"), 6).alias(
            "do_rate"
        ),
        F.round(
            de_num / (F.col("nt").cast("double") * (F.col("nt") - 1).cast("double")),
            6,
        ).alias("de_rate"),
        F.when(
            (F.col("s1") == 0) | (F.col("s1") == F.col("nt").cast("long")),
            F.lit(None).cast("double"),
        )
        .otherwise(F.round(alpha, 6) + F.lit(0.0))
        .alias("kripp_alpha"),
    )


@query(
    "q427_lin_ccc",
    oracle="""
    WITH s AS (
      SELECT source, CAST(n_chars AS BIGINT) AS x,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS y
      FROM documents WHERE trim(text) <> ''
    ),
    m AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM m_src GROUP BY 1
    ),
    c AS (
      SELECT source, n, sx, sy,
             CAST(CAST(n AS DECIMAL(19,0)) * CAST(sxy AS DECIMAL(19,0))
                  - CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS DOUBLE) AS nsxy,
             CAST(CAST(n AS DECIMAL(19,0)) * CAST(sxx AS DECIMAL(19,0))
                  - CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0)) AS DOUBLE) AS nsxx,
             CAST(CAST(n AS DECIMAL(19,0)) * CAST(syy AS DECIMAL(19,0))
                  - CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS DOUBLE) AS nsyy,
             CAST(CAST(sx - sy AS DECIMAL(19,0)) * CAST(sx - sy AS DECIMAL(19,0)) AS DOUBLE) AS dd2,
             CAST(sxx - 2 * sxy + syy AS BIGINT) AS sdd
      FROM m
    )
    SELECT source, n AS n_docs,
           round(2.0 * nsxy / (nsxx + nsyy + dd2), 6) + 0.0 AS lin_ccc,
           round(nsxy / sqrt(nsxx * nsyy), 6) + 0.0 AS pearson_r,
           round(CAST(sx - sy AS DOUBLE) / n, 6) AS mean_diff,
           round(CAST(sx - sy AS DOUBLE) / n
                 - 1.96 * sqrt((CAST(n AS DECIMAL(19,0)) * CAST(sdd AS DECIMAL(19,0))
                                - CAST(sx - sy AS DECIMAL(19,0)) * CAST(sx - sy AS DECIMAL(19,0)))
                               / (CAST(n AS DOUBLE) * (n - 1.0))), 6) AS loa_low,
           round(CAST(sx - sy AS DOUBLE) / n
                 + 1.96 * sqrt((CAST(n AS DECIMAL(19,0)) * CAST(sdd AS DECIMAL(19,0))
                                - CAST(sx - sy AS DECIMAL(19,0)) * CAST(sx - sy AS DECIMAL(19,0)))
                               / (CAST(n AS DOUBLE) * (n - 1.0))), 6) AS loa_high
    FROM c
    """.replace("FROM m_src", "FROM s"),
)
def q427_lin_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance correlation coefficient plus Bland-Altman
    limits of agreement (Lin 1989; Bland & Altman 1986) between the two
    document "length raters" — character count and whitespace token
    count — per source: CCC = 2*Sxy / (Sxx + Syy + n*(mx-my)^2)
    measures how close the two measures sit to the 45-degree line (not
    just correlation: a scale or location bias drops CCC but not
    Pearson r, and the CCC/r ratio is exactly Lin's bias-correction
    factor), while the Bland-Altman interval mean_diff +/- 1.96*sd_diff
    bounds the per-document disagreement — the method-agreement audit
    run before substituting a cheap length proxy for a tokenizer. All
    scaled moment combinations (n*Sxy - SxSy at n^2 scale, (sx-sy)^2
    for the n^2-scaled bias term) are exact DECIMAL(38,0) integers from
    one BIGINT moment row; sum((x-y)^2) = sxx - 2sxy + syy needs no
    second pass.

    100 TB story: ONE map-side-combining per-source aggregate carrying
    six BIGINT moments; closed form per row — no window, no join."""
    from phoebe_spark.operators import text as text_ops

    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    s = d.select(
        "source",
        F.col("n_chars").cast("long").alias("x"),
        F.size(text_ops.tokens(F.col("text"))).cast("long").alias("y"),
    )
    m = s.groupBy("source").agg(
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
    dd = F.col("sx") - F.col("sy")
    dd2 = (dd.cast("decimal(19,0)") * dd.cast("decimal(19,0)")).cast("double")
    sdd = (F.col("sxx") - 2 * F.col("sxy") + F.col("syy")).cast("long")
    c = m.select(
        "source",
        "n",
        "sx",
        "sy",
        nsxy.alias("nsxy"),
        nsxx.alias("nsxx"),
        nsyy.alias("nsyy"),
        dd2.alias("dd2"),
        sdd.alias("sdd"),
    )
    mean_diff = (F.col("sx") - F.col("sy")).cast("double") / F.col("n")
    var_d = (
        F.col("n").cast("decimal(19,0)") * F.col("sdd").cast("decimal(19,0)")
        - (F.col("sx") - F.col("sy")).cast("decimal(19,0)")
        * (F.col("sx") - F.col("sy")).cast("decimal(19,0)")
    ).cast("double") / (
        F.col("n").cast("double") * (F.col("n") - 1.0)
    )
    sd = F.sqrt(var_d)
    return c.select(
        "source",
        F.col("n").alias("n_docs"),
        (F.round(2.0 * F.col("nsxy") / (F.col("nsxx") + F.col("nsyy") + F.col("dd2")), 6) + F.lit(0.0)).alias("lin_ccc"),
        (F.round(F.col("nsxy") / F.sqrt(F.col("nsxx") * F.col("nsyy")), 6) + F.lit(0.0)).alias("pearson_r"),
        F.round(mean_diff, 6).alias("mean_diff"),
        F.round(mean_diff - 1.96 * sd, 6).alias("loa_low"),
        F.round(mean_diff + 1.96 * sd, 6).alias("loa_high"),
    )


@query(
    "q428_morans_i",
    oracle=f"""
    WITH {_COGRAPH_SQL},
    px AS (
      SELECT p_partkey AS node,
             CAST(round(p_retailprice * 100) AS BIGINT) AS x
      FROM part
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(x) AS BIGINT) AS s
      FROM px
    ),
    z AS (
      SELECT node,
             CAST(CAST((SELECT nn FROM mom) AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))
                  - CAST((SELECT s FROM mom) AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS zz
      FROM px
    ),
    den AS (
      SELECT CAST(sum(CAST(zz AS DECIMAL(19,0)) * CAST(zz AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS d
      FROM z
    ),
    num AS (
      SELECT CAST(count(*) AS BIGINT) AS ne,
             CAST(sum(CAST(za.zz AS DECIMAL(19,0)) * CAST(zb.zz AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS nu
      FROM co JOIN z za ON za.node = co.s1 JOIN z zb ON zb.node = co.s2
    )
    SELECT (SELECT nn FROM mom) AS n_nodes,
           (SELECT ne FROM num) AS n_edges,
           round(CAST((SELECT nn FROM mom) AS DOUBLE) * CAST((SELECT nu FROM num) AS DOUBLE)
                 / (CAST((SELECT ne FROM num) AS DOUBLE) * CAST((SELECT d FROM den) AS DOUBLE)), 6) + 0.0
             AS morans_i,
           round(-1.0 / ((SELECT nn FROM mom) - 1.0), 6) AS expected_i,
           CASE WHEN CAST((SELECT nn FROM mom) AS DOUBLE) * CAST((SELECT nu FROM num) AS DOUBLE)
                     / (CAST((SELECT ne FROM num) AS DOUBLE) * CAST((SELECT d FROM den) AS DOUBLE))
                     > -1.0 / ((SELECT nn FROM mom) - 1.0)
                THEN 'clustered' ELSE 'dispersed' END AS verdict
    """,
)
def q428_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moran's I spatial autocorrelation (Moran 1950) of part retail
    price over the canonical co-purchase graph (q232/q407's edge set,
    disclosed kinship): do co-purchased parts have CORRELATED prices?
    I = (N/W) * sum_edges(z_i z_j) / sum(z_i^2) with binary symmetric
    weights (W = 2|E|; the unordered edge sum appears once in the
    numerator, so the 2s cancel to I = N*num/(|E|*den)). The exactness
    trick: the centered value is scaled by N — z_i = N*x_i - S is an
    exact integer — and because I is a RATIO of forms quadratic in z,
    the N scaling cancels, so no float mean subtraction ever happens;
    both engines work from identical DECIMAL(38,0) integers until the
    final division. Units are ALL parts (isolated parts contribute to
    the denominator only — the standard all-units convention,
    disclosed); expected value under no autocorrelation is -1/(N-1).

    100 TB story: the edge build is linear (bounded lines/order,
    q232's audited shape); the numerator is two hash joins of the edge
    list against the O(parts) z frame and ONE aggregate; denominator
    and moments are single passes over part. No corpus pair
    enumeration anywhere."""
    px = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("x"),
    )
    mom = px.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("x").cast("long").alias("s"),
    )
    z = (
        px.crossJoin(F.broadcast(mom))
        .select(
            "node",
            (
                F.col("nn").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
                - F.col("s").cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .alias("zz"),
            "nn",
        )
        .localCheckpoint(eager=True)
    )
    den = z.agg(
        F.sum(F.col("zz").cast("decimal(19,0)") * F.col("zz").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("d")
    )
    co = _cograph_edges(spark, sf_dir)
    za = z.select(F.col("node").alias("s1"), F.col("zz").alias("za"))
    zb = z.select(F.col("node").alias("s2"), F.col("zz").alias("zb"))
    num = (
        co.join(_dim(za), "s1")
        .join(_dim(zb), "s2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ne"),
            F.sum(
                F.col("za").cast("decimal(19,0)") * F.col("zb").cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .alias("nu"),
        )
    )
    morans = (
        F.col("nn").cast("double")
        * F.col("nu").cast("double")
        / (F.col("ne").cast("double") * F.col("d").cast("double"))
    )
    expected = -1.0 / (F.col("nn") - 1.0)
    return (
        mom.crossJoin(F.broadcast(num))
        .crossJoin(F.broadcast(den))
        .select(
            F.col("nn").alias("n_nodes"),
            F.col("ne").alias("n_edges"),
            (F.round(morans, 6) + F.lit(0.0)).alias("morans_i"),
            F.round(expected, 6).alias("expected_i"),
            F.when(morans > expected, "clustered")
            .otherwise("dispersed")
            .alias("verdict"),
        )
    )


@query(
    "q429_nelson_aalen",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey,
             datediff('day', DATE '1970-01-01', o_orderdate) AS d
      FROM orders
    ),
    mx AS (SELECT max(d) AS dmax FROM o),
    g AS (
      SELECT d, lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS nd
      FROM o
    ),
    dur AS (
      SELECT CASE WHEN nd IS NULL THEN (SELECT dmax FROM mx) - d
                  ELSE nd - d END AS t,
             CASE WHEN nd IS NULL THEN 0 ELSE 1 END AS ev
      FROM g
    ),
    byt AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_all, CAST(sum(ev) AS BIGINT) AS d
      FROM dur GROUP BY 1
    ),
    risk AS (
      SELECT t, d,
             CAST(sum(n_all) OVER () -
               coalesce(sum(n_all) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nt
      FROM byt
    ),
    ev AS (SELECT t, d, nt FROM risk WHERE d > 0),
    cum AS (
      SELECT t, d, nt,
             CAST(round(sum(CAST(round(d * 1.0 / nt, 12) AS DECIMAL(38,12)))
                        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 12) AS DOUBLE) AS h,
             CAST(round(sum(CAST(round(d * 1.0 / (CAST(nt AS DOUBLE) * nt), 12) AS DECIMAL(38,12)))
                        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 12) AS DOUBLE) AS v
      FROM ev
    )
    SELECT t AS gap_days, d AS events, nt AS n_at_risk,
           round(h, 6) AS cum_hazard,
           round(v, 6) AS cum_hazard_var,
           round(exp(-h), 6) AS surv_estimate
    FROM cum
    """,
)
def q429_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator (Nelson 1972; Aalen
    1978) on the reorder-gap survival fixture shared with q282's
    Kaplan-Meier and q403's log-rank (disclosed kinship): at each
    distinct gap value H(t) accumulates d_i/n_i and its variance
    accumulates d_i/n_i^2, with exp(-H) as the derived survival curve —
    the hazard-scale twin of KM (identical large-sample behavior,
    better small-risk-set stability, and the form additive over
    cause-specific hazards, bridging to q417's competing risks). Both
    cumulative sums fold at 12-dp DECIMAL over the ordered gap support
    so corpus order cannot move the curve.

    100 TB story: one lead() pass partitioned by customer builds
    durations; the risk-set and cumulative windows run over O(distinct
    gap values) rows — SF-independent, exactly the q282/q403 audited
    shape (allowlisted bounded support)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d"),
    )
    dmax = o.agg(F.max("d").alias("dmax"))
    g = o.withColumn(
        "nd",
        F.lead("d").over(Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")),
    )
    dur = g.crossJoin(F.broadcast(dmax)).select(
        F.when(F.col("nd").isNull(), F.col("dmax") - F.col("d"))
        .otherwise(F.col("nd") - F.col("d"))
        .alias("t"),
        F.when(F.col("nd").isNull(), 0).otherwise(1).alias("ev"),
    )
    byt = dur.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("ev").cast("long").alias("d"),
    )
    wtot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wbef = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = byt.select(
        "t",
        "d",
        (
            F.sum("n_all").over(wtot) - F.coalesce(F.sum("n_all").over(wbef), F.lit(0))
        )
        .cast("long")
        .alias("nt"),
    ).filter(F.col("d") > 0)
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)

    def _fold12w(x):
        return F.round(
            F.sum(F.round(x, 12).cast("decimal(38,12)")).over(wcum), 12
        ).cast("double")

    h = _fold12w(F.col("d") * 1.0 / F.col("nt"))
    v = _fold12w(F.col("d") * 1.0 / (F.col("nt").cast("double") * F.col("nt")))
    cum = risk.select("t", "d", "nt", h.alias("h"), v.alias("v"))
    return cum.select(
        F.col("t").alias("gap_days"),
        F.col("d").alias("events"),
        F.col("nt").alias("n_at_risk"),
        F.round("h", 6).alias("cum_hazard"),
        F.round("v", 6).alias("cum_hazard_var"),
        F.round(F.exp(-F.col("h")), 6).alias("surv_estimate"),
    )


@query(
    "q430_cochran_armitage",
    oracle=f"""
    WITH s AS (
      SELECT CAST((CAST(round(l_quantity) AS BIGINT) - 1) // 10 AS INT) AS k,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    g AS (
      SELECT k, CAST(count(*) AS BIGINT) AS nk, CAST(sum(y) AS BIGINT) AS rk
      FROM s GROUP BY 1
    ),
    m AS (
      SELECT CAST(sum(nk) AS BIGINT) AS n, CAST(sum(rk) AS BIGINT) AS r,
             CAST(sum(CAST(k AS DECIMAL(19,0)) * CAST(rk AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS skr,
             CAST(sum(CAST(k AS DECIMAL(19,0)) * CAST(nk AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS skn,
             CAST(sum(CAST(k AS DECIMAL(19,0)) * CAST(k AS DECIMAL(19,0)) * CAST(nk AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sk2n
      FROM g
    ),
    u AS (
      SELECT n, r,
             CAST(CAST(n AS DECIMAL(19,0)) * skr - CAST(r AS DECIMAL(19,0)) * skn AS DOUBLE) AS uu,
             CAST(CAST(r AS DECIMAL(19,0)) * CAST(n - r AS DECIMAL(19,0)) AS DOUBLE) AS rnr,
             CAST(CAST(n AS DECIMAL(19,0)) * sk2n - skn * skn AS DOUBLE) AS vv
      FROM m
    ),
    t AS (
      SELECT n, r, uu,
             CAST(n AS DOUBLE) * uu * uu / (rnr * vv) AS chi2
      FROM u
    )
    SELECT n AS n_rows, r AS n_returned,
           round(chi2, 6) AS ca_chi2,
           round({_p2_sql(f"sqrt(chi2) * {_INV_SQRT2}")}, 6) + 0.0 AS p_value,
           CASE WHEN uu > 0 THEN 'increasing'
                WHEN uu < 0 THEN 'decreasing' ELSE 'flat' END AS trend
    FROM t
    """,
)
def q430_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test (Cochran 1954; Armitage 1955) for a
    monotone trend in the return rate across the five quantity
    quintiles (scores k = 0..4): the score statistic
    chi2 = N*(N*sum(k*r_k) - R*sum(k*n_k))^2
           / (R*(N-R)*(N*sum(k^2*n_k) - sum(k*n_k)^2))
    (1 dof, score-test form without the finite-sample (N-1)/N factor —
    disclosed) upgrades q-registry chi-square independence to an
    ORDERED alternative: a dose-response trend concentrates all its
    power on one degree of freedom instead of diluting it over K-1 —
    the canonical "does the defect rate climb with batch size" audit.
    All sums are exact integers folded once; the quadratic
    combinations run in DECIMAL(38,0); the p-value uses the shared
    erfc chain on sqrt(chi2).

    100 TB story: ONE map-side-combining aggregate to the 5-quintile
    grid, one further fold to a single row, per-row closed form."""
    li = _t(spark, sf_dir, "lineitem").select(
        ((F.round("l_quantity").cast("long") - 1) / 10).cast("int").alias("k"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    g = li.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.sum("y").cast("long").alias("rk"),
    )

    def _d19(c):
        return F.col(c).cast("decimal(19,0)")

    m = g.agg(
        F.sum("nk").cast("long").alias("n"),
        F.sum("rk").cast("long").alias("r"),
        F.sum(_d19("k") * _d19("rk")).cast("decimal(38,0)").alias("skr"),
        F.sum(_d19("k") * _d19("nk")).cast("decimal(38,0)").alias("skn"),
        F.sum(_d19("k") * _d19("k") * _d19("nk")).cast("decimal(38,0)").alias("sk2n"),
    )
    uu = (_d19("n") * F.col("skr") - _d19("r") * F.col("skn")).cast("double")
    rnr = (_d19("r") * (F.col("n") - F.col("r")).cast("decimal(19,0)")).cast("double")
    vv = (_d19("n") * F.col("sk2n") - F.col("skn") * F.col("skn")).cast("double")
    u = m.select("n", "r", uu.alias("uu"), rnr.alias("rnr"), vv.alias("vv"))
    chi2 = F.col("n").cast("double") * F.col("uu") * F.col("uu") / (
        F.col("rnr") * F.col("vv")
    )
    t = u.select("n", "r", "uu", chi2.alias("chi2"))
    return t.select(
        F.col("n").alias("n_rows"),
        F.col("r").alias("n_returned"),
        F.round("chi2", 6).alias("ca_chi2"),
        (F.round(_p2_col(F.sqrt("chi2") * F.lit(_INV_SQRT2)), 6) + F.lit(0.0)).alias(
            "p_value"
        ),
        F.when(F.col("uu") > 0, "increasing")
        .when(F.col("uu") < 0, "decreasing")
        .otherwise("flat")
        .alias("trend"),
    )


@query(
    "q431_brown_forsythe",
    oracle="""
    WITH s AS (
      SELECT l_returnflag AS flag, CAST(round(l_quantity) AS BIGINT) AS x
      FROM lineitem
    ),
    grid AS (
      SELECT flag, x, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2
    ),
    cum AS (
      SELECT flag, x, c,
             CAST(sum(c) OVER (PARTITION BY flag ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc,
             CAST(sum(c) OVER (PARTITION BY flag) AS BIGINT) AS ng
      FROM grid
    ),
    med AS (
      SELECT flag, CAST(min(CASE WHEN 2 * cc >= ng THEN x END) AS BIGINT) AS med
      FROM cum GROUP BY 1
    ),
    dev AS (
      SELECT g.flag, abs(g.x - m.med) AS v, g.c
      FROM grid g JOIN med m ON m.flag = g.flag
    ),
    gm AS (
      SELECT flag, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(v * c) AS BIGINT) AS s1,
             CAST(sum(v * v * c) AS BIGINT) AS s2
      FROM dev GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(s1) AS BIGINT) AS ss1
      FROM gm
    ),
    parts AS (
      SELECT
        CAST(sum(CAST(n AS DOUBLE) * (CAST(s1 AS DOUBLE) / n - CAST((SELECT ss1 FROM tot) AS DOUBLE) / (SELECT nn FROM tot))
                 * (CAST(s1 AS DOUBLE) / n - CAST((SELECT ss1 FROM tot) AS DOUBLE) / (SELECT nn FROM tot))) AS DOUBLE) AS ssb,
        CAST(sum(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) AS DOUBLE) AS ssw
      FROM gm
    )
    SELECT g.flag, g.n, m.med AS group_median,
           round(CAST(g.s1 AS DOUBLE) / g.n, 6) AS mean_abs_dev,
           round((SELECT ssb FROM parts) / ((SELECT k FROM tot) - 1.0)
                 / ((SELECT ssw FROM parts) / ((SELECT nn FROM tot) - (SELECT k FROM tot))), 6)
             AS bf_f_stat
    FROM gm g JOIN med m ON m.flag = g.flag
    """,
)
def q431_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test (Brown & Forsythe 1974)
    of quantity across return flags: a one-way ANOVA on the absolute
    deviations from each group's MEDIAN (the robust Levene variant —
    median centering keeps the test honest under the skew q423 just
    measured; disclosed kinship). Exactness comes from the grid trick:
    quantity has a bounded value support (1..50), so group medians are
    computed EXACTLY from cumulative counts on the (flag, value) grid
    (lower weighted median, min v with 2*cum >= n — disclosed
    convention), and the deviation moments are integer sums over that
    same grid — the corpus is scanned ONCE, no per-group sort of raw
    rows ever happens (the percentile-aggregate trap at 100 TB).

    100 TB story: one map-side-combining aggregate to the <= 150-cell
    grid; medians via partitioned cumulative windows over the bounded
    support; the F arithmetic runs on K = 3 rows."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round("l_quantity").cast("long").alias("x"),
    )
    grid = (
        li.groupBy("flag", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    wcum = Window.partitionBy("flag").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("flag")
    cum = grid.select(
        "flag",
        "x",
        "c",
        F.sum("c").over(wcum).cast("long").alias("cc"),
        F.sum("c").over(wall).cast("long").alias("ng"),
    )
    med = cum.groupBy("flag").agg(
        F.min(F.when(2 * F.col("cc") >= F.col("ng"), F.col("x")))
        .cast("long")
        .alias("med")
    )
    dev = grid.join(med, "flag").select(
        "flag", F.abs(F.col("x") - F.col("med")).alias("v"), "c"
    )
    gm = dev.groupBy("flag").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("v") * F.col("c")).cast("long").alias("s1"),
        F.sum(F.col("v") * F.col("v") * F.col("c")).cast("long").alias("s2"),
    ).localCheckpoint(eager=True)
    tot = gm.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s1").cast("long").alias("ss1"),
    )
    withtot = gm.crossJoin(F.broadcast(tot))
    gmean = F.col("ss1").cast("double") / F.col("nn")
    dmean = F.col("s1").cast("double") / F.col("n")
    parts = withtot.agg(
        F.sum(F.col("n").cast("double") * (dmean - gmean) * (dmean - gmean))
        .cast("double")
        .alias("ssb"),
        F.sum(
            F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n")
        )
        .cast("double")
        .alias("ssw"),
        F.max("k").alias("k"),
        F.max("nn").alias("nn"),
    )
    f_stat = (F.col("ssb") / (F.col("k") - 1.0)) / (
        F.col("ssw") / (F.col("nn") - F.col("k"))
    )
    return (
        gm.join(med, "flag")
        .crossJoin(F.broadcast(parts.select(f_stat.alias("bf"))))
        .select(
            "flag",
            "n",
            F.col("med").alias("group_median"),
            F.round(F.col("s1").cast("double") / F.col("n"), 6).alias(
                "mean_abs_dev"
            ),
            F.round("bf", 6).alias("bf_f_stat"),
        )
    )


@query(
    "q432_dickey_fuller",
    oracle="""
    WITH o AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d
      FROM orders
    ),
    days AS (
      SELECT d, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1
    ),
    ser AS (
      SELECT d, y, lag(y) OVER (ORDER BY d) AS yp FROM days
    ),
    dl AS (
      SELECT CAST(yp AS BIGINT) AS x, CAST(y - yp AS BIGINT) AS dy
      FROM ser WHERE yp IS NOT NULL
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * dy) AS BIGINT) AS sxy,
             CAST(sum(dy * dy) AS BIGINT) AS syy
      FROM dl
    ),
    c AS (
      SELECT n,
             CAST(CAST(n AS DECIMAL(19,0)) * CAST(sxx AS DECIMAL(19,0))
                  - CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0)) AS DOUBLE) AS nsxx,
             CAST(CAST(n AS DECIMAL(19,0)) * CAST(sxy AS DECIMAL(19,0))
                  - CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS DOUBLE) AS nsxy,
             CAST(CAST(n AS DECIMAL(19,0)) * CAST(syy AS DECIMAL(19,0))
                  - CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS DOUBLE) AS nsyy
      FROM m
    ),
    t AS (
      SELECT n, nsxy / nsxx AS rho,
             (nsxy / nsxx)
               / sqrt(((nsyy - nsxy * nsxy / nsxx) / CAST(n AS DOUBLE) / (n - 2.0))
                      / (nsxx / CAST(n AS DOUBLE))) AS tstat
      FROM c
    )
    SELECT n AS n_days,
           round(rho, 6) + 0.0 AS rho,
           round(tstat, 6) + 0.0 AS df_t_stat,
           CASE WHEN tstat < -2.86 THEN 'stationary' ELSE 'unit_root' END AS verdict
    FROM t
    """,
)
def q432_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test (Dickey & Fuller 1979, constant, no
    augmentation) on the daily order-count series: regress the daily
    change on the lagged level and report the t-statistic of rho —
    tstat far below the -2.86 five-percent critical value (literal,
    disclosed) means order arrivals mean-revert (stationary), near zero
    means a random-walk level and every forecast in the m1/m2 workload
    family (disclosed kinship) needs differencing first. Daily counts
    are exact BIGINTs from one rollup; the day series uses the
    OBSERVED day support (calendar gaps are treated as adjacent steps —
    disclosed); all n*S - S*S combinations run in DECIMAL(38,0) and
    convert to DOUBLE once, identical chains both engines.

    100 TB story: one corpus scan collapses to the O(days) rollup with
    map-side combine; the lag window and regression moments run on that
    bounded frame (allowlisted day support); closed form on one row."""
    o = _t(spark, sf_dir, "orders").select(
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d")
    )
    days = o.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("y"))
    ser = days.withColumn("yp", F.lag("y").over(Window.orderBy("d")))
    dl = ser.filter(F.col("yp").isNotNull()).select(
        F.col("yp").cast("long").alias("x"),
        (F.col("y") - F.col("yp")).cast("long").alias("dy"),
    )
    m = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )

    def _d19(c):
        return F.col(c).cast("decimal(19,0)")

    nsxx = (_d19("n") * _d19("sxx") - _d19("sx") * _d19("sx")).cast("double")
    nsxy = (_d19("n") * _d19("sxy") - _d19("sx") * _d19("sy")).cast("double")
    nsyy = (_d19("n") * _d19("syy") - _d19("sy") * _d19("sy")).cast("double")
    c = m.select("n", nsxx.alias("nsxx"), nsxy.alias("nsxy"), nsyy.alias("nsyy"))
    rho = F.col("nsxy") / F.col("nsxx")
    tstat = rho / F.sqrt(
        (
            (F.col("nsyy") - F.col("nsxy") * F.col("nsxy") / F.col("nsxx"))
            / F.col("n").cast("double")
            / (F.col("n") - 2.0)
        )
        / (F.col("nsxx") / F.col("n").cast("double"))
    )
    t = c.select("n", rho.alias("rho"), tstat.alias("tstat"))
    return t.select(
        F.col("n").alias("n_days"),
        (F.round("rho", 6) + F.lit(0.0)).alias("rho"),
        (F.round("tstat", 6) + F.lit(0.0)).alias("df_t_stat"),
        F.when(F.col("tstat") < -2.86, "stationary")
        .otherwise("unit_root")
        .alias("verdict"),
    )


@query(
    "q433_streaming_hll_drain",
    oracle="""
    WITH base AS (
      SELECT event_type AS grp, user_id FROM events
    ),
    h0 AS (SELECT grp, user_id, user_id % 4294967296 AS a FROM base),
    h1 AS (SELECT grp, user_id,
                  (xor(a >> 16, a) * 73244475) % 4294967296 AS a FROM h0),
    h2 AS (SELECT grp, user_id,
                  (xor(a >> 16, a) * 73244475) % 4294967296 AS a FROM h1),
    h AS (SELECT grp, user_id, xor(a >> 16, a) AS hv FROM h2),
    rho AS (
      SELECT grp, user_id, hv % 64 AS idx,
             CASE WHEN hv // 64 = 0 THEN 27
                  ELSE 27 - length(bin(hv // 64)) END AS r
      FROM h
    ),
    regs AS (
      SELECT grp, idx, max(r) AS m FROM rho GROUP BY 1, 2
    ),
    est AS (
      SELECT grp,
             0.709 * 64 * 64 /
               (sum(1.0 / (CAST(1 AS BIGINT) << m)) + (64 - count(*))) AS e_raw,
             64 - count(*) AS v
      FROM regs GROUP BY 1
    ),
    fin AS (
      SELECT grp,
             CASE WHEN e_raw <= 160 AND v > 0 THEN 64 * ln(64.0 / v)
                  ELSE e_raw END AS e,
             v
      FROM est
    ),
    ex AS (SELECT grp, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
           FROM base GROUP BY 1)
    SELECT ex.grp AS event_type, ex.n_exact,
           CAST(fin.v AS BIGINT) AS n_zero_registers,
           round(fin.e, 6) AS est,
           round(abs(fin.e - ex.n_exact) / ex.n_exact, 6) AS rel_err
    FROM ex JOIN fin ON fin.grp = ex.grp
    """,
)
def q433_streaming_hll_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING distinct-user HLL drained in the hash-checked gate
    (the 22nd hash-checked drain): q283's deterministic HyperLogLog
    (degski-mixer hash, p=6, m=64, linear-counting small-range
    correction — disclosed kinship) carried as REAL streaming state per
    event type across three event-id-sliced micro-batches via
    :func:`stateful.streaming_hll`. Each batch PRE-REDUCES map-side to
    at most 64 (key, idx, rank) register rows per key; the state merge
    is register-wise max — commutative, associative, and IDEMPOTENT, so
    the drained registers (and therefore the estimate, digit for digit)
    are provably invariant to batch boundaries, arrival order, restart
    replays, and duplicate delivery — the strongest invariance class in
    the drain family, and the property that makes sketch-union the
    right 100-TB distinct-count plan.

    100 TB story: O(keys * 64) state, at most 64 rows/key/batch of
    state traffic; the estimate is computed from the drained register
    frame, corpus-size-independent."""
    from phoebe_spark.streaming import drain
    from phoebe_spark.streaming.stateful import streaming_hll

    e = _t(spark, sf_dir, "events").select(
        "event_id", F.col("event_type").alias("key"), "user_id"
    )
    rho = (
        e.select("event_id", "key", F.expr("user_id % 4294967296").alias("a"))
        .select(
            "event_id",
            "key",
            F.expr("((shiftright(a, 16) ^ a) * 73244475) % 4294967296").alias("a"),
        )
        .select(
            "event_id",
            "key",
            F.expr("((shiftright(a, 16) ^ a) * 73244475) % 4294967296").alias("a"),
        )
        .select("event_id", "key", F.expr("shiftright(a, 16) ^ a").alias("hv"))
        .select(
            "event_id",
            "key",
            (F.col("hv") % 64).alias("idx"),
            F.when(F.expr("hv div 64") == 0, 27)
            .otherwise(27 - F.length(F.bin(F.expr("hv div 64"))))
            .alias("r"),
        )
    )
    with drain.scratch("q433_") as work:
        src_dir = f"{work}/src"
        drain.stage_slices(
            (
                rho.filter(F.col("event_id") % 3 == rem)
                .groupBy("key", "idx")
                .agg(F.max("r").cast("long").alias("r"))
                for rem in range(3)
            ),
            src_dir,
        )

        stream = (
            spark.readStream.schema("key STRING, idx LONG, r LONG")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        out = streaming_hll(stream)
        sink = drain.run(out, work, output_mode="update")
        final = (
            drain.latest(spark.read.parquet(sink), order="n_batches")
            .select("key", "regs")
            .localCheckpoint(eager=True)
        )
        est = final.select(
            "key",
            F.expr(
                "aggregate(regs, cast(0.0 as double), (acc, m) -> "
                "acc + 1.0 / cast(shiftleft(1L, cast(m as int)) as double))"
            ).alias("harm"),
            F.expr("size(filter(regs, m -> m = 0))").cast("long").alias("v"),
        ).select(
            "key",
            "v",
            (F.lit(0.709 * 64 * 64) / F.col("harm")).alias("e_raw"),
        )
        fin = est.select(
            "key",
            "v",
            F.when(
                (F.col("e_raw") <= 160) & (F.col("v") > 0),
                64 * F.log(64.0 / F.col("v")),
            )
            .otherwise(F.col("e_raw"))
            .alias("e"),
        )
        ex = e.groupBy("key").agg(
            F.countDistinct("user_id").cast("long").alias("n_exact")
        )
        return ex.join(fin, "key").select(
            F.col("key").alias("event_type"),
            "n_exact",
            F.col("v").alias("n_zero_registers"),
            F.round("e", 6).alias("est"),
            F.round(F.abs(F.col("e") - F.col("n_exact")) / F.col("n_exact"), 6).alias(
                "rel_err"
            ),
        )


# ---------------------------------------------------------------------------
# Round 10, batch 2: epidemiological 2x2 effect measures, two-sample
# Anderson-Darling, D'Agostino K^2, Lilliefors, Cohen/Hedges effect sizes,
# Weibull hazard fit, Kendall's W.
# ---------------------------------------------------------------------------


@query(
    "q434_risk_ratio",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS exp,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS outc
      FROM orders
    ),
    g AS (
      SELECT CAST(sum(CASE WHEN exp = 1 AND outc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN exp = 1 AND outc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN exp = 0 AND outc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN exp = 0 AND outc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM s
    ),
    r AS (
      SELECT a, b, c, d,
             (CAST(a AS DOUBLE) / (a + b)) / (CAST(c AS DOUBLE) / (c + d)) AS rr,
             CAST(a AS DOUBLE) / (a + b) - CAST(c AS DOUBLE) / (c + d) AS rd,
             sqrt(1.0 / a - 1.0 / (a + b) + 1.0 / c - 1.0 / (c + d)) AS se
      FROM g
    )
    SELECT a AS exposed_cases, b AS exposed_noncases,
           c AS unexposed_cases, d AS unexposed_noncases,
           round(rr, 6) AS risk_ratio,
           round(exp(ln(rr) - 1.96 * se), 6) AS rr_ci_low,
           round(exp(ln(rr) + 1.96 * se), 6) AS rr_ci_high,
           round(rd, 6) + 0.0 AS risk_diff,
           CASE WHEN rd = 0.0 THEN NULL ELSE round(1.0 / abs(rd), 6) END AS nnt
    FROM r
    """,
)
def q434_risk_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk ratio with the Katz log-normal confidence interval (Katz et
    al. 1978), risk difference, and number-needed-to-treat over the
    urgent-priority -> finished-status 2x2 table — the relative-risk
    companion to q334's odds ratio (disclosed kinship; RR is the
    collapsible effect measure a pipeline should report when the
    outcome is common and the OR would exaggerate). The 2x2 cells are
    exact integers from ONE aggregate; ln(RR) +/- 1.96*se with
    se = sqrt(1/a - 1/(a+b) + 1/c - 1/(c+d)) is the standard Katz
    interval, computed with identical double chains on both engines.

    100 TB story: ONE map-side-combining aggregate to four integers;
    closed form on one row — no window, no join, no second pass."""
    o = _t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("exp"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("outc"),
    )
    g = o.agg(
        F.sum(F.when((F.col("exp") == 1) & (F.col("outc") == 1), 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when((F.col("exp") == 1) & (F.col("outc") == 0), 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when((F.col("exp") == 0) & (F.col("outc") == 1), 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when((F.col("exp") == 0) & (F.col("outc") == 0), 1).otherwise(0)).cast("long").alias("d"),
    )
    rr = (F.col("a").cast("double") / (F.col("a") + F.col("b"))) / (
        F.col("c").cast("double") / (F.col("c") + F.col("d"))
    )
    rd = F.col("a").cast("double") / (F.col("a") + F.col("b")) - F.col("c").cast(
        "double"
    ) / (F.col("c") + F.col("d"))
    se = F.sqrt(
        1.0 / F.col("a")
        - 1.0 / (F.col("a") + F.col("b"))
        + 1.0 / F.col("c")
        - 1.0 / (F.col("c") + F.col("d"))
    )
    r = g.select("a", "b", "c", "d", rr.alias("rr"), rd.alias("rd"), se.alias("se"))
    return r.select(
        F.col("a").alias("exposed_cases"),
        F.col("b").alias("exposed_noncases"),
        F.col("c").alias("unexposed_cases"),
        F.col("d").alias("unexposed_noncases"),
        F.round("rr", 6).alias("risk_ratio"),
        F.round(F.exp(F.log("rr") - 1.96 * F.col("se")), 6).alias("rr_ci_low"),
        F.round(F.exp(F.log("rr") + 1.96 * F.col("se")), 6).alias("rr_ci_high"),
        (F.round("rd", 6) + F.lit(0.0)).alias("risk_diff"),
        F.when(F.col("rd") == 0.0, F.lit(None).cast("double"))
        .otherwise(F.round(1.0 / F.abs("rd"), 6))
        .alias("nnt"),
    )


@query(
    "q435_anderson_darling",
    oracle=f"""
    WITH s AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS v,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS arm
      FROM lineitem
    ),
    grid AS (
      SELECT v, CAST(count(*) AS BIGINT) AS l,
             CAST(sum(arm) AS BIGINT) AS l1
      FROM s GROUP BY 1
    ),
    cum AS (
      SELECT v, l, l1,
             CAST(sum(l) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS bj,
             CAST(sum(l1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS m1j,
             CAST(sum(l) OVER () AS BIGINT) AS nn,
             CAST(sum(l1) OVER () AS BIGINT) AS n1
      FROM grid
    ),
    terms AS (
      SELECT nn, n1, nn - n1 AS n2,
             {_FOLD12_SQL.format(t='''CASE WHEN bj < nn THEN
               l * (CAST(CAST(nn AS DECIMAL(19,0)) * CAST(m1j AS DECIMAL(19,0))
                         - CAST(n1 AS DECIMAL(19,0)) * CAST(bj AS DECIMAL(19,0)) AS DOUBLE)
                    * CAST(CAST(nn AS DECIMAL(19,0)) * CAST(m1j AS DECIMAL(19,0))
                           - CAST(n1 AS DECIMAL(19,0)) * CAST(bj AS DECIMAL(19,0)) AS DOUBLE))
               / (CAST(bj AS DOUBLE) * (nn - bj)) ELSE 0.0 END''')} AS t1,
             {_FOLD12_SQL.format(t='''CASE WHEN bj < nn THEN
               l * (CAST(CAST(nn AS DECIMAL(19,0)) * CAST(bj - m1j AS DECIMAL(19,0))
                         - CAST(nn - n1 AS DECIMAL(19,0)) * CAST(bj AS DECIMAL(19,0)) AS DOUBLE)
                    * CAST(CAST(nn AS DECIMAL(19,0)) * CAST(bj - m1j AS DECIMAL(19,0))
                           - CAST(nn - n1 AS DECIMAL(19,0)) * CAST(bj AS DECIMAL(19,0)) AS DOUBLE))
               / (CAST(bj AS DOUBLE) * (nn - bj)) ELSE 0.0 END''')} AS t2
      FROM cum GROUP BY 1, 2, 3
    )
    SELECT n1, n2,
           round((t1 / n1 + t2 / n2) / nn, 6) AS ad_stat
    FROM terms
    """,
)
def q435_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson-Darling statistic (Scholz & Stephens 1987,
    k = 2, tie-aware discrete form WITHOUT the continuity correction —
    disclosed): over the pooled quantity value support,
    A2 = (1/N) * sum_i (1/n_i) * sum_j l_j * (N*M_ij - n_i*B_j)^2
         / (B_j * (N - B_j))   for B_j < N,
    comparing returned vs non-returned lines — the tail-sensitive
    two-sample test that upgrades q310's KS (disclosed kinship: KS sees
    only the max CDF gap, AD integrates the squared gap with
    tail-emphasizing weights). All cumulative counts are exact BIGINTs
    over the bounded 1..50 support; the N*M - n*B combinations run in
    DECIMAL(38,0); per-value terms fold at 12-dp DECIMAL so support
    order cannot move the statistic.

    100 TB story: ONE map-side-combining aggregate to the <= 50-value
    grid; the cumulative windows and the term fold run over that
    bounded support (allowlisted) — corpus rows are scanned once."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.round("l_quantity").cast("long").alias("v"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("arm"),
    )
    grid = li.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("l"),
        F.sum("arm").cast("long").alias("l1"),
    )
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = grid.select(
        "v",
        "l",
        "l1",
        F.sum("l").over(wcum).cast("long").alias("bj"),
        F.sum("l1").over(wcum).cast("long").alias("m1j"),
        F.sum("l").over(wall).cast("long").alias("nn"),
        F.sum("l1").over(wall).cast("long").alias("n1"),
    )

    def _d19(c):
        return F.col(c).cast("decimal(19,0)")

    def _term(mcum, narm):
        dev = (
            _d19("nn") * mcum.cast("decimal(19,0)")
            - narm.cast("decimal(19,0)") * _d19("bj")
        ).cast("double")
        return F.when(
            F.col("bj") < F.col("nn"),
            F.col("l") * (dev * dev) / (F.col("bj").cast("double") * (F.col("nn") - F.col("bj"))),
        ).otherwise(F.lit(0.0))

    def _fold12(x):
        return F.round(F.sum(F.round(x, 12).cast("decimal(38,12)")), 12).cast("double")

    terms = cum.groupBy(
        "nn", "n1", (F.col("nn") - F.col("n1")).alias("n2")
    ).agg(
        _fold12(_term(F.col("m1j"), F.col("n1"))).alias("t1"),
        _fold12(
            _term(F.col("bj") - F.col("m1j"), F.col("nn") - F.col("n1"))
        ).alias("t2"),
    )
    return terms.select(
        "n1",
        "n2",
        F.round(
            (F.col("t1") / F.col("n1") + F.col("t2") / F.col("n2")) / F.col("nn"), 6
        ).alias("ad_stat"),
    )


@query(
    "q436_dagostino_k2",
    oracle="""
    WITH s AS (
      SELECT l_returnflag AS flag, CAST(round(l_quantity) AS BIGINT) AS x
      FROM lineitem
    ),
    m AS (
      SELECT flag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s1,
             CAST(sum(x * x) AS BIGINT) AS s2,
             CAST(sum(x * x * x) AS BIGINT) AS s3,
             CAST(sum(x * x * x * x) AS BIGINT) AS s4
      FROM s GROUP BY 1
    ),
    d AS (
      SELECT flag, n,
             CAST(n AS DECIMAL(19,0)) AS dn,
             CAST(s1 AS DECIMAL(19,0)) AS d1, CAST(s2 AS DECIMAL(19,0)) AS d2,
             CAST(s3 AS DECIMAL(19,0)) AS d3, CAST(s4 AS DECIMAL(19,0)) AS d4
      FROM m
    ),
    c AS (
      SELECT flag, n,
             CAST(dn * d2 - d1 * d1 AS DOUBLE) AS m2,
             CAST(dn * dn * d3 - 3 * dn * d1 * d2 + 2 * d1 * d1 * d1 AS DOUBLE) AS m3,
             CAST(dn * dn * dn * d4 - 4 * dn * dn * d1 * d3
                  + 6 * dn * d1 * d1 * d2 - 3 * d1 * d1 * d1 * d1 AS DOUBLE) AS m4
      FROM d
    ),
    g AS (
      SELECT flag, n,
             m3 / (m2 * sqrt(m2)) AS g1,
             m4 / (m2 * m2) AS b2
      FROM c
    ),
    z1c AS (
      SELECT flag, n, g1, b2,
             g1 * sqrt((n + 1.0) * (n + 3.0) / (6.0 * (n - 2.0))) AS y,
             3.0 * (n * n + 27.0 * n - 70.0) * (n + 1.0) * (n + 3.0)
               / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0)) AS beta2
      FROM g
    ),
    z1 AS (
      SELECT flag, n, b2,
             (1.0 / sqrt(ln(sqrt(-1.0 + sqrt(2.0 * (beta2 - 1.0))))))
               * ln(y / sqrt(2.0 / (-1.0 + sqrt(2.0 * (beta2 - 1.0)) - 1.0))
                    + sqrt((y / sqrt(2.0 / (-1.0 + sqrt(2.0 * (beta2 - 1.0)) - 1.0)))
                           * (y / sqrt(2.0 / (-1.0 + sqrt(2.0 * (beta2 - 1.0)) - 1.0))) + 1.0)) AS zs
      FROM z1c
    ),
    z2c AS (
      SELECT flag, n, zs,
             (b2 - 3.0 * (n - 1.0) / (n + 1.0))
               / sqrt(24.0 * n * (n - 2.0) * (n - 3.0)
                      / ((n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0))) AS xk,
             (6.0 * (n * n - 5.0 * n + 2.0) / ((n + 7.0) * (n + 9.0)))
               * sqrt(6.0 * (n + 3.0) * (n + 5.0) / (n * (n - 2.0) * (n - 3.0))) AS sb1
      FROM z1
    ),
    z2a AS (
      SELECT flag, n, zs, xk,
             6.0 + (8.0 / sb1) * (2.0 / sb1 + sqrt(1.0 + 4.0 / (sb1 * sb1))) AS aa
      FROM z2c
    ),
    z2 AS (
      SELECT flag, n, zs,
             ((1.0 - 2.0 / (9.0 * aa))
              - cbrt((1.0 - 2.0 / aa) / (1.0 + xk * sqrt(2.0 / (aa - 2.0)))))
               / sqrt(2.0 / (9.0 * aa)) AS zk
      FROM z2a
    )
    SELECT flag, n,
           round(zs, 6) + 0.0 AS z_skew,
           round(zk, 6) + 0.0 AS z_kurt,
           round(zs * zs + zk * zk, 6) AS k2_stat,
           round(exp(-(zs * zs + zk * zk) / 2.0), 6) + 0.0 AS p_value
    FROM z2
    """,
)
def q436_dagostino_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Agostino-Pearson K^2 omnibus normality test (D'Agostino 1970;
    Anscombe & Glynn 1983) per return flag — the FINITE-SAMPLE-corrected
    companion to q423's asymptotic Jarque-Bera (disclosed kinship): the
    skewness z uses Johnson's SU transformation with the exact n-based
    beta2 moment of sample skewness, the kurtosis z uses the
    Anscombe-Glynn cube-root Wilson-Hilferty transform, and
    K2 = z_s^2 + z_k^2 is chi-square(2), p = exp(-K2/2). Both transforms
    start from the SAME four raw integer moments as q423 (M2/M3/M4
    n-power identities in DECIMAL(38,0), no mean pass); everything after
    is a one-row scalar chain written with IDENTICAL literals and
    operation order on both engines (cbrt/ln/sqrt are correctly-rounded
    on both).

    100 TB story: ONE map-side-combining aggregate to K = 3 flag rows;
    per-row closed form — no window, no join, no second pass."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.round("l_quantity").cast("long").alias("x")
    )
    m = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).cast("long").alias("s3"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x"))
        .cast("long")
        .alias("s4"),
    )

    def _d(c):
        return F.col(c).cast("decimal(19,0)")

    m2 = (_d("n") * _d("s2") - _d("s1") * _d("s1")).cast("double")
    m3 = (
        _d("n") * _d("n") * _d("s3")
        - 3 * _d("n") * _d("s1") * _d("s2")
        + 2 * _d("s1") * _d("s1") * _d("s1")
    ).cast("double")
    m4 = (
        _d("n") * _d("n") * _d("n") * _d("s4")
        - 4 * _d("n") * _d("n") * _d("s1") * _d("s3")
        + 6 * _d("n") * _d("s1") * _d("s1") * _d("s2")
        - 3 * _d("s1") * _d("s1") * _d("s1") * _d("s1")
    ).cast("double")
    c = m.select("flag", "n", m2.alias("m2"), m3.alias("m3"), m4.alias("m4"))
    g = c.select(
        "flag",
        "n",
        (F.col("m3") / (F.col("m2") * F.sqrt("m2"))).alias("g1"),
        (F.col("m4") / (F.col("m2") * F.col("m2"))).alias("b2"),
    )
    n = F.col("n")
    y = F.col("g1") * F.sqrt((n + 1.0) * (n + 3.0) / (6.0 * (n - 2.0)))
    beta2 = (
        3.0
        * (n * n + 27.0 * n - 70.0)
        * (n + 1.0)
        * (n + 3.0)
        / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0))
    )
    z1c = g.select("flag", "n", "g1", "b2", y.alias("y"), beta2.alias("beta2"))
    # W^2 = -1 + sqrt(2(beta2-1)); delta = 1/sqrt(ln W); alpha = sqrt(2/(W^2-1))
    alpha = F.sqrt(2.0 / (F.lit(-1.0) + F.sqrt(2.0 * (F.col("beta2") - 1.0)) - 1.0))
    delta = 1.0 / F.sqrt(F.log(F.sqrt(F.lit(-1.0) + F.sqrt(2.0 * (F.col("beta2") - 1.0)))))
    zs = delta * F.log(
        F.col("y") / alpha + F.sqrt((F.col("y") / alpha) * (F.col("y") / alpha) + 1.0)
    )
    z1 = z1c.select("flag", "n", "b2", zs.alias("zs"))
    xk = (F.col("b2") - 3.0 * (n - 1.0) / (n + 1.0)) / F.sqrt(
        24.0 * n * (n - 2.0) * (n - 3.0) / ((n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0))
    )
    sb1 = (6.0 * (n * n - 5.0 * n + 2.0) / ((n + 7.0) * (n + 9.0))) * F.sqrt(
        6.0 * (n + 3.0) * (n + 5.0) / (n * (n - 2.0) * (n - 3.0))
    )
    z2c = z1.select("flag", "n", "zs", xk.alias("xk"), sb1.alias("sb1"))
    aa = 6.0 + (8.0 / F.col("sb1")) * (
        2.0 / F.col("sb1") + F.sqrt(1.0 + 4.0 / (F.col("sb1") * F.col("sb1")))
    )
    z2a = z2c.select("flag", "n", "zs", "xk", aa.alias("aa"))
    zk = (
        (1.0 - 2.0 / (9.0 * F.col("aa")))
        - F.cbrt(
            (1.0 - 2.0 / F.col("aa"))
            / (1.0 + F.col("xk") * F.sqrt(2.0 / (F.col("aa") - 2.0)))
        )
    ) / F.sqrt(2.0 / (9.0 * F.col("aa")))
    z2 = z2a.select("flag", "n", "zs", zk.alias("zk"))
    k2 = F.col("zs") * F.col("zs") + F.col("zk") * F.col("zk")
    return z2.select(
        "flag",
        "n",
        (F.round("zs", 6) + F.lit(0.0)).alias("z_skew"),
        (F.round("zk", 6) + F.lit(0.0)).alias("z_kurt"),
        F.round(k2, 6).alias("k2_stat"),
        (F.round(F.exp(-k2 / 2.0), 6) + F.lit(0.0)).alias("p_value"),
    )


# Normal CDF Phi(z) on the shared erfc chain, sign-split because the
# A&S 7.1.26 approximation is valid for x >= 0 only:
# Phi(z) = 1 - 0.5*erfc(z/sqrt(2)) for z >= 0, else 0.5*erfc(-z/sqrt(2)).
def _phi_sql(z: str) -> str:
    return (
        f"(CASE WHEN ({z}) >= 0.0 THEN 1.0 - 0.5 * {_p2_sql(f'(({z}) * {_INV_SQRT2})')} "
        f"ELSE 0.5 * {_p2_sql(f'(-({z}) * {_INV_SQRT2})')} END)"
    )


def _phi_col(z: F.Column) -> F.Column:
    return F.when(
        z >= 0.0, F.lit(1.0) - F.lit(0.5) * _p2_col(z * F.lit(_INV_SQRT2))
    ).otherwise(F.lit(0.5) * _p2_col(-z * F.lit(_INV_SQRT2)))


@query(
    "q437_lilliefors",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag AS flag, CAST(round(l_quantity) AS BIGINT) AS v
      FROM lineitem
    ),
    grid AS (
      SELECT flag, v, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2
    ),
    mom AS (
      SELECT flag, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(v * c) AS BIGINT) AS s1,
             CAST(sum(v * v * c) AS BIGINT) AS s2
      FROM grid GROUP BY 1
    ),
    cum AS (
      SELECT g.flag, g.v, m.n, g.c,
             CAST(sum(g.c) OVER (PARTITION BY g.flag ORDER BY g.v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc,
             (g.v - CAST(m.s1 AS DOUBLE) / m.n)
               / sqrt(CAST(CAST(m.n AS DECIMAL(19,0)) * CAST(m.s2 AS DECIMAL(19,0))
                           - CAST(m.s1 AS DECIMAL(19,0)) * CAST(m.s1 AS DECIMAL(19,0)) AS DOUBLE)
                      / (CAST(m.n AS DOUBLE) * (m.n - 1.0))) AS z
      FROM grid g JOIN mom m ON m.flag = g.flag
    ),
    dev AS (
      SELECT flag, n,
             max(greatest(
               abs(CAST(cc AS DOUBLE) / n - {_phi_sql("z")}),
               abs({_phi_sql("z")} - CAST(cc - c AS DOUBLE) / n))) AS d
      FROM cum GROUP BY 1, 2
    )
    SELECT flag, n,
           round(d, 6) AS lilliefors_d,
           round(0.886 / sqrt(CAST(n AS DOUBLE)), 6) AS crit_05,
           CASE WHEN d > 0.886 / sqrt(CAST(n AS DOUBLE))
                THEN 'non_normal' ELSE 'normal' END AS verdict
    FROM dev
    """,
)
def q437_lilliefors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lilliefors normality test (Lilliefors 1967) of quantity per
    return flag: the KS distance between the empirical CDF and the
    normal CDF with ESTIMATED mean/sd (what makes it Lilliefors rather
    than plain KS — the estimated-parameter null changes the critical
    value to ~0.886/sqrt(n) at 5%, literal disclosed). The empirical
    CDF is exact from cumulative counts over the bounded 1..50 support;
    the both-sided distance uses max(|F(v) - Phi|, |Phi - F(v-)|) per
    support value; Phi evaluates on the shared erfc Horner chain,
    sign-split because the approximation is one-sided. The sample sd
    comes from the exact DECIMAL moment combination (n-1 denominator).

    100 TB story: ONE map-side-combining aggregate to the (flag, value)
    grid; cumulative windows are PARTITIONED by flag over the bounded
    support; the max-deviation fold runs on <= 150 rows."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round("l_quantity").cast("long").alias("v"),
    )
    grid = (
        li.groupBy("flag", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    mom = grid.groupBy("flag").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("v") * F.col("c")).cast("long").alias("s1"),
        F.sum(F.col("v") * F.col("v") * F.col("c")).cast("long").alias("s2"),
    )

    def _d19(c):
        return F.col(c).cast("decimal(19,0)")

    sd = F.sqrt(
        (_d19("n") * _d19("s2") - _d19("s1") * _d19("s1")).cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1.0))
    )
    wcum = Window.partitionBy("flag").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.join(mom, "flag").select(
        "flag",
        "v",
        "n",
        "c",
        F.sum("c").over(wcum).cast("long").alias("cc"),
        ((F.col("v") - F.col("s1").cast("double") / F.col("n")) / sd).alias("z"),
    )
    phi = _phi_col(F.col("z"))
    dterm = F.greatest(
        F.abs(F.col("cc").cast("double") / F.col("n") - phi),
        F.abs(phi - (F.col("cc") - F.col("c")).cast("double") / F.col("n")),
    )
    dev = cum.groupBy("flag", "n").agg(F.max(dterm).alias("d"))
    crit = 0.886 / F.sqrt(F.col("n").cast("double"))
    return dev.select(
        "flag",
        "n",
        F.round("d", 6).alias("lilliefors_d"),
        F.round(crit, 6).alias("crit_05"),
        F.when(F.col("d") > crit, "non_normal").otherwise("normal").alias("verdict"),
    )


@query(
    "q438_effect_sizes",
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
             CAST(s11 AS DOUBLE) / n1 / 100.0 AS m1,
             CAST(s10 AS DOUBLE) / n0 / 100.0 AS m0,
             CAST(CAST(n1 AS DECIMAL(19,0)) * s21 - s11 * s11 AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * 10000.0) AS css1,
             CAST(CAST(n0 AS DECIMAL(19,0)) * s20 - s10 * s10 AS DOUBLE)
               / (CAST(n0 AS DOUBLE) * 10000.0) AS css0
      FROM w
    ),
    e AS (
      SELECT n1, n0, m1, m0,
             (m1 - m0) / sqrt((css1 + css0) / (n1 + n0 - 2.0)) AS cohens_d
      FROM c
    )
    SELECT n1 AS n_building, n0 AS n_other,
           round(m1 - m0, 6) AS mean_diff,
           round(cohens_d, 6) + 0.0 AS cohens_d,
           round(cohens_d * (1.0 - 3.0 / (4.0 * (n1 + n0) - 9.0)), 6) + 0.0 AS hedges_g,
           round(cohens_d - 1.96 * sqrt(CAST(n1 + n0 AS DOUBLE) / (CAST(n1 AS DOUBLE) * n0)
                 + cohens_d * cohens_d / (2.0 * (n1 + n0))), 6) + 0.0 AS d_ci_low,
           round(cohens_d + 1.96 * sqrt(CAST(n1 + n0 AS DOUBLE) / (CAST(n1 AS DOUBLE) * n0)
                 + cohens_d * cohens_d / (2.0 * (n1 + n0))), 6) + 0.0 AS d_ci_high
    FROM e
    """,
)
def q438_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d with Hedges' g small-sample correction and the
    large-sample d confidence interval (Cohen 1988; Hedges 1981)
    comparing order value between BUILDING-segment customers and the
    rest — the EFFECT-SIZE companion every significance test in this
    registry (q343 Welch kin) should ship with: a 100 TB corpus makes
    any difference "significant", so the pipeline decision rides on d,
    not p. Cents sums accumulate in DECIMAL (s2 exhausts int64 near
    SF 1); the pooled variance uses the exact n*s2 - s1^2 combinations;
    J = 1 - 3/(4N - 9) is the standard Hedges approximation
    (disclosed); se_d = sqrt(N/(n1*n0) + d^2/2N).

    100 TB story: one dimension hash join (customer via the join key),
    ONE map-side-combining aggregate to two arm rows, single-row
    closed form."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("yc")
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("arm"),
    )
    s = o.join(_dim(cust), "o_custkey")

    def _d19c(c):
        return c.cast("decimal(19,0)")

    m = s.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(_d19c(F.col("yc"))).cast("decimal(38,0)").alias("s1"),
        F.sum(_d19c(F.col("yc")) * _d19c(F.col("yc")))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    w = m.agg(
        F.max(F.when(F.col("arm") == 1, F.col("n"))).cast("long").alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).cast("long").alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("s1"))).alias("s11"),
        F.max(F.when(F.col("arm") == 0, F.col("s1"))).alias("s10"),
        F.max(F.when(F.col("arm") == 1, F.col("s2"))).alias("s21"),
        F.max(F.when(F.col("arm") == 0, F.col("s2"))).alias("s20"),
    )
    m1 = F.col("s11").cast("double") / F.col("n1") / 100.0
    m0 = F.col("s10").cast("double") / F.col("n0") / 100.0
    css1 = (
        F.col("n1").cast("decimal(19,0)") * F.col("s21") - F.col("s11") * F.col("s11")
    ).cast("double") / (F.col("n1").cast("double") * 10000.0)
    css0 = (
        F.col("n0").cast("decimal(19,0)") * F.col("s20") - F.col("s10") * F.col("s10")
    ).cast("double") / (F.col("n0").cast("double") * 10000.0)
    c = w.select(
        "n1", "n0", m1.alias("m1"), m0.alias("m0"), css1.alias("css1"), css0.alias("css0")
    )
    d = (F.col("m1") - F.col("m0")) / F.sqrt(
        (F.col("css1") + F.col("css0")) / (F.col("n1") + F.col("n0") - 2.0)
    )
    e = c.select("n1", "n0", "m1", "m0", d.alias("cohens_d"))
    nn = F.col("n1") + F.col("n0")
    se = F.sqrt(
        nn.cast("double") / (F.col("n1").cast("double") * F.col("n0"))
        + F.col("cohens_d") * F.col("cohens_d") / (2.0 * nn)
    )
    return e.select(
        F.col("n1").alias("n_building"),
        F.col("n0").alias("n_other"),
        F.round(F.col("m1") - F.col("m0"), 6).alias("mean_diff"),
        (F.round("cohens_d", 6) + F.lit(0.0)).alias("cohens_d"),
        (
            F.round(F.col("cohens_d") * (F.lit(1.0) - 3.0 / (4.0 * nn - 9.0)), 6)
            + F.lit(0.0)
        ).alias("hedges_g"),
        (F.round(F.col("cohens_d") - 1.96 * se, 6) + F.lit(0.0)).alias("d_ci_low"),
        (F.round(F.col("cohens_d") + 1.96 * se, 6) + F.lit(0.0)).alias("d_ci_high"),
    )


@query(
    "q439_weibull_hazard",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey,
             datediff('day', DATE '1970-01-01', o_orderdate) AS d
      FROM orders
    ),
    mx AS (SELECT max(d) AS dmax FROM o),
    g AS (
      SELECT d, lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS nd
      FROM o
    ),
    dur AS (
      SELECT CASE WHEN nd IS NULL THEN (SELECT dmax FROM mx) - d
                  ELSE nd - d END AS t,
             CASE WHEN nd IS NULL THEN 0 ELSE 1 END AS ev
      FROM g
    ),
    byt AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_all, CAST(sum(ev) AS BIGINT) AS d
      FROM dur GROUP BY 1
    ),
    risk AS (
      SELECT t, d,
             CAST(sum(n_all) OVER () -
               coalesce(sum(n_all) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nt
      FROM byt
    ),
    ev AS (SELECT t, d, nt FROM risk WHERE d > 0 AND t > 0),
    cum AS (
      SELECT t,
             CAST(round(sum(CAST(round(d * 1.0 / nt, 12) AS DECIMAL(38,12)))
                        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 12) AS DOUBLE) AS h
      FROM ev
    ),
    pts AS (
      SELECT ln(CAST(t AS DOUBLE)) AS x, ln(h) AS y FROM cum WHERE h > 0
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(round(sum(CAST(round(x, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS sx,
             CAST(round(sum(CAST(round(y, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS sy,
             CAST(round(sum(CAST(round(x * x, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS sxx,
             CAST(round(sum(CAST(round(x * y, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS sxy
      FROM pts
    ),
    f AS (
      SELECT n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS k,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS c
      FROM m
    )
    SELECT n AS n_support_points,
           round(k, 6) AS weibull_shape,
           round(exp(-c / k), 6) AS weibull_scale_days,
           CASE WHEN k < 0.95 THEN 'decreasing_hazard'
                WHEN k > 1.05 THEN 'increasing_hazard'
                ELSE 'near_exponential' END AS regime
    FROM f
    """,
)
def q439_weibull_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull hazard-regression fit over q429's Nelson-Aalen curve
    (disclosed kinship — the survival ladder's parametric capstone):
    under Weibull, H(t) = (t/lambda)^k, so ln H is LINEAR in ln t with
    slope k (shape) and intercept -k*ln(lambda) — OLS over the
    O(distinct gaps) support points gives shape and scale in closed
    form, and the shape classifies the reorder process (k < 1 burn-in /
    decreasing hazard, k ~ 1 memoryless, k > 1 wear-out — thresholds
    0.95/1.05 disclosed). H is the 12-dp-folded NA estimator, so both
    engines take ln of IDENTICAL doubles; the OLS sums fold at 12-dp
    DECIMAL over the support.

    100 TB story: identical corpus shape to q429 (one lead() pass, then
    everything on the gap support); the regression is one fold over
    O(distinct gaps) rows (allowlisted bounded support)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d"),
    )
    dmax = o.agg(F.max("d").alias("dmax"))
    g = o.withColumn(
        "nd",
        F.lead("d").over(Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")),
    )
    dur = g.crossJoin(F.broadcast(dmax)).select(
        F.when(F.col("nd").isNull(), F.col("dmax") - F.col("d"))
        .otherwise(F.col("nd") - F.col("d"))
        .alias("t"),
        F.when(F.col("nd").isNull(), 0).otherwise(1).alias("ev"),
    )
    byt = dur.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("ev").cast("long").alias("d"),
    )
    wtot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wbef = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = byt.select(
        "t",
        "d",
        (
            F.sum("n_all").over(wtot) - F.coalesce(F.sum("n_all").over(wbef), F.lit(0))
        )
        .cast("long")
        .alias("nt"),
    ).filter((F.col("d") > 0) & (F.col("t") > 0))
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    h = F.round(
        F.sum(F.round(F.col("d") * 1.0 / F.col("nt"), 12).cast("decimal(38,12)")).over(
            wcum
        ),
        12,
    ).cast("double")
    cum = risk.select("t", h.alias("h"))
    pts = cum.filter(F.col("h") > 0).select(
        F.log(F.col("t").cast("double")).alias("x"), F.log("h").alias("y")
    )

    def _fold12(x):
        return F.round(F.sum(F.round(x, 12).cast("decimal(38,12)")), 12).cast("double")

    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _fold12(F.col("x")).alias("sx"),
        _fold12(F.col("y")).alias("sy"),
        _fold12(F.col("x") * F.col("x")).alias("sxx"),
        _fold12(F.col("x") * F.col("y")).alias("sxy"),
    )
    k = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    c = (F.col("sy") - k * F.col("sx")) / F.col("n")
    f = m.select("n", k.alias("k"), c.alias("c"))
    return f.select(
        F.col("n").alias("n_support_points"),
        F.round("k", 6).alias("weibull_shape"),
        F.round(F.exp(-F.col("c") / F.col("k")), 6).alias("weibull_scale_days"),
        F.when(F.col("k") < 0.95, "decreasing_hazard")
        .when(F.col("k") > 1.05, "increasing_hazard")
        .otherwise("near_exponential")
        .alias("regime"),
    )


@query(
    "q440_kendall_w",
    oracle="""
    WITH met AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS m_docs,
             CAST(sum(n_chars) AS BIGINT) AS m_chars,
             CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS m_toks
      FROM documents WHERE trim(text) <> ''
      GROUP BY 1
    ),
    longf AS (
      SELECT source, 'docs' AS metric, CAST(m_docs AS DOUBLE) AS val FROM met
      UNION ALL
      SELECT source, 'chars', CAST(m_chars AS DOUBLE) FROM met
      UNION ALL
      SELECT source, 'tokens', CAST(m_toks AS DOUBLE) FROM met
    ),
    rk AS (
      SELECT source, metric,
             CAST(row_number() OVER (PARTITION BY metric ORDER BY val DESC, source) AS BIGINT) AS r
      FROM longf
    ),
    rs AS (
      SELECT source, CAST(sum(r) AS BIGINT) AS rsum FROM rk GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rsum * rsum) AS BIGINT) AS s2
      FROM rs
    ),
    wstat AS (
      SELECT n,
             CAST(12 * s2 - 3 * 9 * n * (n + 1) * (n + 1) AS DOUBLE)
               / CAST(9 * n * (CAST(n AS DECIMAL(19,0)) * n - 1) AS DOUBLE) AS w
      FROM tot
    )
    SELECT r.source, r.rsum AS rank_sum,
           round((SELECT w FROM wstat), 6) AS kendall_w,
           round(3.0 * ((SELECT n FROM tot) - 1) * (SELECT w FROM wstat), 6)
             AS chi2_approx
    FROM rs r
    """,
)
def q440_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W (Kendall & Babington
    Smith 1939) across three source-level size rankings — document
    count, total characters, total tokens: do the three ways of
    measuring "how big is this source" agree on the ordering?
    W = (12*sum(R_i^2) - 3*m^2*n*(n+1)^2) / (m^2*n*(n^2-1)) with m = 3
    rankings over n sources, all EXACT integer arithmetic (ranks are
    row_numbers; ties broken deterministically by source name,
    disclosed — the metrics are corpus sums, so exact ties are
    measure-zero); the chi-square approximation m*(n-1)*W is reported
    per Friedman's identity (q-registry Friedman kinship). The ranking
    windows are PARTITIONED by metric over the O(sources) frame.

    100 TB story: ONE map-side-combining per-source aggregate collapses
    the corpus; ranking, rank sums, and W run on 3n bounded rows."""
    from phoebe_spark.operators import text as text_ops

    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    met = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("m_docs"),
        F.sum("n_chars").cast("long").alias("m_chars"),
        F.sum(F.size(text_ops.tokens(F.col("text"))).cast("long"))
        .cast("long")
        .alias("m_toks"),
    ).localCheckpoint(eager=True)
    longf = (
        met.select("source", F.lit("docs").alias("metric"), F.col("m_docs").cast("double").alias("val"))
        .unionAll(met.select("source", F.lit("chars"), F.col("m_chars").cast("double")))
        .unionAll(met.select("source", F.lit("tokens"), F.col("m_toks").cast("double")))
    )
    rk = longf.select(
        "source",
        "metric",
        F.row_number()
        .over(Window.partitionBy("metric").orderBy(F.col("val").desc(), "source"))
        .cast("long")
        .alias("r"),
    )
    rs = rk.groupBy("source").agg(F.sum("r").cast("long").alias("rsum"))
    tot = rs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("rsum") * F.col("rsum")).cast("long").alias("s2"),
    )
    wq = (
        (12 * F.col("s2") - 3 * 9 * F.col("n") * (F.col("n") + 1) * (F.col("n") + 1))
        .cast("double")
        / (9 * F.col("n") * (F.col("n").cast("decimal(19,0)") * F.col("n") - 1)).cast(
            "double"
        )
    )
    wstat = tot.select("n", wq.alias("w"))
    return rs.crossJoin(F.broadcast(wstat)).select(
        "source",
        F.col("rsum").alias("rank_sum"),
        F.round("w", 6).alias("kendall_w"),
        F.round(3.0 * (F.col("n") - 1) * F.col("w"), 6).alias("chi2_approx"),
    )


_TOKS_SQL = "regexp_split_to_array(trim(text), '\\s+')"


@query(
    "q441_ngram_novelty",
    oracle=f"""
    WITH split AS (
      SELECT source,
             CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5 = 0
                  THEN 1 ELSE 0 END AS is_test,
             {_TOKS_SQL} AS ts
      FROM documents WHERE trim(text) <> '' AND len({_TOKS_SQL}) >= 3
    ),
    tri AS (
      SELECT DISTINCT source, is_test,
             ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS w
      FROM split CROSS JOIN unnest(generate_series(1, len(ts) - 2)) AS t(i)
    ),
    test_t AS (SELECT source, w FROM tri WHERE is_test = 1),
    train_t AS (SELECT DISTINCT w FROM tri WHERE is_test = 0),
    novel AS (
      SELECT te.source,
             CAST(count(*) AS BIGINT) AS test_types,
             CAST(sum(CASE WHEN tr.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS novel_types
      FROM test_t te LEFT JOIN train_t tr ON tr.w = te.w
      GROUP BY 1
    )
    SELECT source, test_types, novel_types,
           round(novel_types * 1.0 / test_types, 6) AS novelty_rate,
           round(1.0 - novel_types * 1.0 / test_types, 6) AS memorization_risk
    FROM novel
    """,
)
def q441_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out trigram novelty audit (the n-gram memorization screen of
    Merrill et al. / the RefinedWeb-style train-test overlap check): the
    corpus splits deterministically into train and test by the
    engine-portable md5 hash of doc_id (~4/5 train; a plain doc_id % 5
    split is CONFOUNDED on this corpus — ids stride by source, so the
    modulus selects whole sources; the hash split stratifies every
    source, the q97/q154 determinism policy),
    and per source the TEST trigram types are probed against the
    global TRAIN trigram vocabulary — a LOW novelty rate means the test
    slice is mostly reassembled from training n-grams (memorization /
    leakage risk for any held-out evaluation built from this corpus),
    the type-level counterpart of the q58/q217 decontamination ladder
    (disclosed kinship). Trigrams use the shared zip_with idiom (the
    O(len^2) transform trap is documented in operators/text.py);
    distinct-type collapse happens BEFORE the probe join, so the join
    key space is the vocabulary, not the token stream.

    100 TB story: one explode + distinct collapses both splits to their
    trigram-type vocabularies (Heaps-bounded); the novelty probe is ONE
    hash join on the trigram key with at-most-#sources fan-out; no
    corpus pair work anywhere."""
    from phoebe_spark.operators import text as text_ops

    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    toks = text_ops.tokens(F.col("text"))
    base = d.filter(F.size(toks) >= 3).select(
        "source",
        F.when(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
            ).cast("long")
            % 5
            == 0,
            1,
        )
        .otherwise(0)
        .alias("is_test"),
        F.explode(text_ops.adjacent_trigrams(toks)).alias("w"),
    )
    tri = base.distinct().localCheckpoint(eager=True)
    test_t = tri.filter(F.col("is_test") == 1).select("source", "w")
    train_t = tri.filter(F.col("is_test") == 0).select("w").distinct()
    novel = (
        test_t.join(train_t.withColumnRenamed("w", "tw"), F.col("w") == F.col("tw"), "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("test_types"),
            F.sum(F.when(F.col("tw").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("novel_types"),
        )
    )
    rate = F.col("novel_types") * 1.0 / F.col("test_types")
    return novel.select(
        "source",
        "test_types",
        "novel_types",
        F.round(rate, 6).alias("novelty_rate"),
        F.round(F.lit(1.0) - rate, 6).alias("memorization_risk"),
    )


@query(
    "q442_robust_means",
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
    marks AS (
      SELECT flag, v, c, cc, n,
             cc - c AS cbefore,
             CAST(floor(n * 0.1) AS BIGINT) AS lo,
             n - CAST(floor(n * 0.1) AS BIGINT) AS hi
      FROM cum
    ),
    kept AS (
      SELECT flag, v, n, lo, hi,
             greatest(least(cc, hi) - greatest(cbefore, lo), 0) AS k_trim,
             c AS c_all,
             CASE WHEN cc <= lo THEN 0
                  WHEN cbefore >= hi THEN 0
                  ELSE greatest(least(cc, hi) - greatest(cbefore, lo), 0) END AS k2
      FROM marks
    ),
    trim AS (
      SELECT flag, n,
             CAST(sum(k2) AS BIGINT) AS n_kept,
             CAST(sum(v * k2) AS BIGINT) AS s_kept
      FROM kept GROUP BY 1, 2
    ),
    win AS (
      SELECT m.flag,
             CAST(sum(CASE WHEN m.cc <= m.lo THEN m.c * (SELECT min(v) FROM marks x
                             WHERE x.flag = m.flag AND x.cc > x.lo)
                           WHEN m.cbefore >= m.hi THEN m.c * (SELECT max(v) FROM marks x
                             WHERE x.flag = m.flag AND x.cbefore < x.hi)
                           ELSE m.v * m.c END) AS BIGINT) AS s_win
      FROM marks m GROUP BY 1
    )
    SELECT t.flag, t.n, t.n_kept,
           round(t.s_kept * 1.0 / t.n_kept, 6) AS trimmed_mean_10,
           round(w.s_win * 1.0 / t.n, 6) AS winsorized_mean_10
    FROM trim t JOIN win w ON w.flag = t.flag
    """,
)
def q442_robust_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed and 10%-winsorized means of quantity per return flag
    (Tukey's robust location ladder — the outlier-resistant means a
    quality pipeline reports next to the plain average when q77/GESD
    have flagged contamination; disclosed kinship): both are EXACT via
    the bounded-support grid — with cumulative counts, the kept mass of
    each value under trimming is min(cum, hi) - max(cum_before, lo)
    clamped at 0 (floor(n*0.1) rows cut per tail, disclosed convention),
    and winsorizing reassigns each cut tail's mass to the first/last
    surviving value. Pure integer arithmetic until the final division —
    no per-group sort of raw rows, no percentile aggregate.

    100 TB story: ONE map-side-combining aggregate to the <= 150-cell
    grid; trims/winsorizations are partitioned cumulative windows over
    the bounded support plus two grid folds."""
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
    wall = Window.partitionBy("flag")
    marks = grid.select(
        "flag",
        "v",
        "c",
        F.sum("c").over(wcum).cast("long").alias("cc"),
        F.sum("c").over(wall).cast("long").alias("n"),
    ).select(
        "flag",
        "v",
        "c",
        "cc",
        "n",
        (F.col("cc") - F.col("c")).alias("cbefore"),
        F.floor(F.col("n") * 0.1).cast("long").alias("lo"),
        (F.col("n") - F.floor(F.col("n") * 0.1).cast("long")).alias("hi"),
    ).localCheckpoint(eager=True)
    k2 = F.when(F.col("cc") <= F.col("lo"), F.lit(0)).when(
        F.col("cbefore") >= F.col("hi"), F.lit(0)
    ).otherwise(
        F.greatest(
            F.least(F.col("cc"), F.col("hi"))
            - F.greatest(F.col("cbefore"), F.col("lo")),
            F.lit(0),
        )
    )
    trim = marks.groupBy("flag", "n").agg(
        F.sum(k2).cast("long").alias("n_kept"),
        F.sum(F.col("v") * k2).cast("long").alias("s_kept"),
    )
    lo_sub = marks.filter(F.col("cc") > F.col("lo")).groupBy(
        F.col("flag").alias("lf")
    ).agg(F.min("v").alias("v_lo"))
    hi_sub = marks.filter(F.col("cbefore") < F.col("hi")).groupBy(
        F.col("flag").alias("hf")
    ).agg(F.max("v").alias("v_hi"))
    win = (
        marks.join(F.broadcast(lo_sub), F.col("flag") == F.col("lf"))
        .join(F.broadcast(hi_sub), F.col("flag") == F.col("hf"))
        .groupBy("flag")
        .agg(
            F.sum(
                F.when(F.col("cc") <= F.col("lo"), F.col("c") * F.col("v_lo"))
                .when(F.col("cbefore") >= F.col("hi"), F.col("c") * F.col("v_hi"))
                .otherwise(F.col("v") * F.col("c"))
            )
            .cast("long")
            .alias("s_win")
        )
    )
    return trim.join(win, "flag").select(
        "flag",
        "n",
        "n_kept",
        F.round(F.col("s_kept") * 1.0 / F.col("n_kept"), 6).alias("trimmed_mean_10"),
        F.round(F.col("s_win") * 1.0 / F.col("n"), 6).alias("winsorized_mean_10"),
    )


@query(
    "q443_acf_bartlett",
    oracle="""
    WITH o AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d
      FROM orders
    ),
    days AS (SELECT d, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1),
    ser AS (
      SELECT d, y,
             lag(y, 1) OVER (ORDER BY d) AS l1, lag(y, 2) OVER (ORDER BY d) AS l2,
             lag(y, 3) OVER (ORDER BY d) AS l3, lag(y, 4) OVER (ORDER BY d) AS l4,
             lag(y, 5) OVER (ORDER BY d) AS l5, lag(y, 6) OVER (ORDER BY d) AS l6,
             lag(y, 7) OVER (ORDER BY d) AS l7
      FROM days
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s1,
             CAST(sum(y * y) AS BIGINT) AS s2,
             CAST(sum(CASE WHEN l1 IS NOT NULL THEN y * l1 ELSE 0 END) AS BIGINT) AS p1,
             CAST(sum(CASE WHEN l1 IS NOT NULL THEN y ELSE 0 END) AS BIGINT) AS a1,
             CAST(sum(coalesce(l1, 0)) AS BIGINT) AS b1,
             CAST(sum(CASE WHEN l2 IS NOT NULL THEN y * l2 ELSE 0 END) AS BIGINT) AS p2,
             CAST(sum(CASE WHEN l2 IS NOT NULL THEN y ELSE 0 END) AS BIGINT) AS a2,
             CAST(sum(coalesce(l2, 0)) AS BIGINT) AS b2,
             CAST(sum(CASE WHEN l3 IS NOT NULL THEN y * l3 ELSE 0 END) AS BIGINT) AS p3,
             CAST(sum(CASE WHEN l3 IS NOT NULL THEN y ELSE 0 END) AS BIGINT) AS a3,
             CAST(sum(coalesce(l3, 0)) AS BIGINT) AS b3,
             CAST(sum(CASE WHEN l4 IS NOT NULL THEN y * l4 ELSE 0 END) AS BIGINT) AS p4,
             CAST(sum(CASE WHEN l4 IS NOT NULL THEN y ELSE 0 END) AS BIGINT) AS a4,
             CAST(sum(coalesce(l4, 0)) AS BIGINT) AS b4,
             CAST(sum(CASE WHEN l5 IS NOT NULL THEN y * l5 ELSE 0 END) AS BIGINT) AS p5,
             CAST(sum(CASE WHEN l5 IS NOT NULL THEN y ELSE 0 END) AS BIGINT) AS a5,
             CAST(sum(coalesce(l5, 0)) AS BIGINT) AS b5,
             CAST(sum(CASE WHEN l6 IS NOT NULL THEN y * l6 ELSE 0 END) AS BIGINT) AS p6,
             CAST(sum(CASE WHEN l6 IS NOT NULL THEN y ELSE 0 END) AS BIGINT) AS a6,
             CAST(sum(coalesce(l6, 0)) AS BIGINT) AS b6,
             CAST(sum(CASE WHEN l7 IS NOT NULL THEN y * l7 ELSE 0 END) AS BIGINT) AS p7,
             CAST(sum(CASE WHEN l7 IS NOT NULL THEN y ELSE 0 END) AS BIGINT) AS a7,
             CAST(sum(coalesce(l7, 0)) AS BIGINT) AS b7
      FROM ser
    ),
    lags AS (
      SELECT n, s1, s2,
             unnest([1, 2, 3, 4, 5, 6, 7]) AS k,
             unnest([p1, p2, p3, p4, p5, p6, p7]) AS pk,
             unnest([a1, a2, a3, a4, a5, a6, a7]) AS ak,
             unnest([b1, b2, b3, b4, b5, b6, b7]) AS bk
      FROM m
    ),
    acf AS (
      SELECT k, n,
             (CAST(pk AS DOUBLE)
              - (CAST(s1 AS DOUBLE) / n) * (ak + bk)
              + (n - k) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
             / (CAST(CAST(n AS DECIMAL(19,0)) * CAST(s2 AS DECIMAL(19,0))
                     - CAST(s1 AS DECIMAL(19,0)) * CAST(s1 AS DECIMAL(19,0)) AS DOUBLE) / n)
               AS r
      FROM lags
    ),
    band AS (
      SELECT k, n, r,
             sqrt((1.0 + 2.0 * coalesce(
               sum(r * r) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0.0)) / n) AS se
      FROM acf
    )
    SELECT k AS lag,
           round(r, 6) + 0.0 AS acf,
           round(1.96 * se, 6) AS bartlett_band,
           CASE WHEN abs(r) > 1.96 * se THEN 'significant' ELSE 'ns' END AS verdict
    FROM band
    """,
)
def q443_acf_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function of daily order counts at lags
    1-7 with Bartlett significance bands (Box & Jenkins 1970): the
    lag-k autocovariance uses the Box-Jenkins convention — full-series
    mean and full-series denominator c0, overlap-window cross products —
    so r_k = (sum(y_t*y_{t-k}) - mu*(a_k + b_k) + (n-k)*mu^2) / (c0),
    where a_k/b_k are the overlap's leading/trailing partial sums, all
    EXACT BIGINTs from one aggregate over the lag frame; Bartlett's
    se_k = sqrt((1 + 2*sum_{j<k} r_j^2)/n) widens the band for each
    already-significant lower lag — the identification plot (in table
    form) behind every AR(p) choice the m1 workload forecaster makes
    (disclosed kinship; q368's Durbin-Watson is the lag-1 special
    case). Weekly seasonality shows as a significant lag-7 spike.

    100 TB story: one corpus scan to the O(days) rollup; the 7 lag
    columns come from ONE window pass over that bounded frame
    (allowlisted day support); the ACF arithmetic runs on 7 rows."""
    o = _t(spark, sf_dir, "orders").select(
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d")
    )
    days = o.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("y"))
    wd = Window.orderBy("d")
    ser = days.select(
        "y", *[F.lag("y", k).over(wd).alias(f"l{k}") for k in range(1, 8)]
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("s2"),
    ]
    for k in range(1, 8):
        lk = F.col(f"l{k}")
        aggs += [
            F.sum(F.when(lk.isNotNull(), F.col("y") * lk).otherwise(0))
            .cast("long")
            .alias(f"p{k}"),
            F.sum(F.when(lk.isNotNull(), F.col("y")).otherwise(0))
            .cast("long")
            .alias(f"a{k}"),
            F.sum(F.coalesce(lk, F.lit(0))).cast("long").alias(f"b{k}"),
        ]
    m = ser.agg(*aggs)
    lags = m.selectExpr(
        "n",
        "s1",
        "s2",
        "stack(7, "
        + ", ".join(f"{k}, p{k}, a{k}, b{k}" for k in range(1, 8))
        + ") AS (k, pk, ak, bk)",
    )
    mu = F.col("s1").cast("double") / F.col("n")
    c0 = (
        F.col("n").cast("decimal(19,0)") * F.col("s2").cast("decimal(19,0)")
        - F.col("s1").cast("decimal(19,0)") * F.col("s1").cast("decimal(19,0)")
    ).cast("double") / F.col("n")
    r = (
        F.col("pk").cast("double")
        - mu * (F.col("ak") + F.col("bk"))
        + (F.col("n") - F.col("k")) * mu * mu
    ) / c0
    acf = lags.select("k", "n", r.alias("r"))
    wband = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    se = F.sqrt(
        (1.0 + 2.0 * F.coalesce(F.sum(F.col("r") * F.col("r")).over(wband), F.lit(0.0)))
        / F.col("n")
    )
    band = acf.select("k", "n", "r", se.alias("se"))
    return band.select(
        F.col("k").alias("lag"),
        (F.round("r", 6) + F.lit(0.0)).alias("acf"),
        F.round(1.96 * F.col("se"), 6).alias("bartlett_band"),
        F.when(F.abs("r") > 1.96 * F.col("se"), "significant")
        .otherwise("ns")
        .alias("verdict"),
    )


@query(
    "q444_seasonal_decompose",
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
      SELECT dow, n_dow, s_dt / n_dow AS s_raw,
             CAST(round(sum(CAST(round(s_dt / n_dow, 12) AS DECIMAL(38,12))) OVER (), 12) AS DOUBLE) / 7.0 AS s_center
      FROM seas
    ),
    sadj AS (SELECT dow, n_dow, s_raw - s_center AS seasonal FROM smean),
    resid AS (
      SELECT t.dow,
             CAST(count(*) AS BIGINT) AS n_resid_all,
             CAST(round(sum(CAST(round((t.y - t.trend - a.seasonal)
                                       * (t.y - t.trend - a.seasonal), 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS ss_resid
      FROM tr t JOIN sadj a ON a.dow = t.dow
      WHERE t.trend IS NOT NULL
      GROUP BY 1
    )
    SELECT a.dow AS day_of_week, a.n_dow AS n_days,
           round(a.seasonal, 6) + 0.0 AS seasonal_effect,
           round(r.ss_resid / r.n_resid_all, 6) AS residual_var
    FROM sadj a JOIN resid r ON r.dow = a.dow
    """,
)
def q444_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily order counts
    on a weekly period (the moving-average decomposition behind STL and
    every "is Monday different" dashboard): trend = centered 7-day
    moving average (only FULL windows — edges emit NULL and drop,
    disclosed), seasonal = day-of-week mean of the detrended series
    re-centered to sum to zero, residual variance reported per
    day-of-week — the seasonality screen run before trusting q432's
    unit-root read or handing the series to the m1 forecaster
    (disclosed kinship). Detrended folds run at 12-dp DECIMAL so day
    order cannot move the seasonal means; the dow index uses the epoch
    day modulo 7 (a fixed weekday labeling, disclosed).

    100 TB story: one corpus scan to the O(days) rollup; the moving
    average is ONE window pass over that bounded frame (allowlisted
    day support); seasonal and residual arithmetic run on 7 rows."""
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

    def _fold12(x):
        return F.round(F.sum(F.round(x, 12).cast("decimal(38,12)")), 12).cast("double")

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
    sadj = seas.select(
        "dow", "n_dow", (s_raw - s_center).alias("seasonal")
    ).localCheckpoint(eager=True)
    resid = (
        tr.filter(F.col("trend").isNotNull())
        .join(F.broadcast(sadj.select("dow", "seasonal")), "dow")
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_resid_all"),
            _fold12(
                (F.col("y") - F.col("trend") - F.col("seasonal"))
                * (F.col("y") - F.col("trend") - F.col("seasonal"))
            ).alias("ss_resid"),
        )
    )
    return sadj.join(resid, "dow").select(
        F.col("dow").alias("day_of_week"),
        F.col("n_dow").alias("n_days"),
        (F.round("seasonal", 6) + F.lit(0.0)).alias("seasonal_effect"),
        F.round(F.col("ss_resid") / F.col("n_resid_all"), 6).alias("residual_var"),
    )


@query(
    "q445_pacf_durbin_levinson",
    oracle="""
    WITH o AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d
      FROM orders
    ),
    days AS (SELECT d, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1),
    ser AS (
      SELECT d, y,
             lag(y, 1) OVER (ORDER BY d) AS l1, lag(y, 2) OVER (ORDER BY d) AS l2,
             lag(y, 3) OVER (ORDER BY d) AS l3, lag(y, 4) OVER (ORDER BY d) AS l4
      FROM days
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s1,
             CAST(sum(y * y) AS BIGINT) AS s2,
             CAST(sum(CASE WHEN l1 IS NOT NULL THEN y * l1 ELSE 0 END) AS BIGINT) AS p1,
             CAST(sum(CASE WHEN l1 IS NOT NULL THEN y ELSE 0 END) AS BIGINT) AS a1,
             CAST(sum(coalesce(l1, 0)) AS BIGINT) AS b1,
             CAST(sum(CASE WHEN l2 IS NOT NULL THEN y * l2 ELSE 0 END) AS BIGINT) AS p2,
             CAST(sum(CASE WHEN l2 IS NOT NULL THEN y ELSE 0 END) AS BIGINT) AS a2,
             CAST(sum(coalesce(l2, 0)) AS BIGINT) AS b2,
             CAST(sum(CASE WHEN l3 IS NOT NULL THEN y * l3 ELSE 0 END) AS BIGINT) AS p3,
             CAST(sum(CASE WHEN l3 IS NOT NULL THEN y ELSE 0 END) AS BIGINT) AS a3,
             CAST(sum(coalesce(l3, 0)) AS BIGINT) AS b3,
             CAST(sum(CASE WHEN l4 IS NOT NULL THEN y * l4 ELSE 0 END) AS BIGINT) AS p4,
             CAST(sum(CASE WHEN l4 IS NOT NULL THEN y ELSE 0 END) AS BIGINT) AS a4,
             CAST(sum(coalesce(l4, 0)) AS BIGINT) AS b4
      FROM ser
    ),
    r AS (
      SELECT n,
        round((CAST(p1 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n) * (a1 + b1) + (n - 1) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
          / (CAST(CAST(n AS DECIMAL(19,0)) * CAST(s2 AS DECIMAL(19,0)) - CAST(s1 AS DECIMAL(19,0)) * CAST(s1 AS DECIMAL(19,0)) AS DOUBLE) / n), 12) AS r1,
        round((CAST(p2 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n) * (a2 + b2) + (n - 2) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
          / (CAST(CAST(n AS DECIMAL(19,0)) * CAST(s2 AS DECIMAL(19,0)) - CAST(s1 AS DECIMAL(19,0)) * CAST(s1 AS DECIMAL(19,0)) AS DOUBLE) / n), 12) AS r2,
        round((CAST(p3 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n) * (a3 + b3) + (n - 3) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
          / (CAST(CAST(n AS DECIMAL(19,0)) * CAST(s2 AS DECIMAL(19,0)) - CAST(s1 AS DECIMAL(19,0)) * CAST(s1 AS DECIMAL(19,0)) AS DOUBLE) / n), 12) AS r3,
        round((CAST(p4 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n) * (a4 + b4) + (n - 4) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
          / (CAST(CAST(n AS DECIMAL(19,0)) * CAST(s2 AS DECIMAL(19,0)) - CAST(s1 AS DECIMAL(19,0)) * CAST(s1 AS DECIMAL(19,0)) AS DOUBLE) / n), 12) AS r4
      FROM m
    ),
    dl1 AS (SELECT n, r1, r2, r3, r4, r1 AS f11 FROM r),
    dl2 AS (
      SELECT n, r1, r2, r3, r4, f11,
             round((r2 - f11 * r1) / (1.0 - f11 * r1), 12) AS f22
      FROM dl1
    ),
    dl2b AS (
      SELECT *, round(f11 - f22 * f11, 12) AS f21,
             round((1.0 - f11 * r1) * (1.0 - f22 * f22), 12) AS d2
      FROM dl2
    ),
    dl3 AS (
      SELECT *, round((r3 - f21 * r2 - f22 * r1) / d2, 12) AS f33 FROM dl2b
    ),
    dl3b AS (
      SELECT *, round(f21 - f33 * f22, 12) AS f31,
             round(f22 - f33 * f21, 12) AS f32,
             round(d2 * (1.0 - f33 * f33), 12) AS d3
      FROM dl3
    ),
    dl4 AS (
      SELECT *, round((r4 - f31 * r3 - f32 * r2 - f33 * r1) / d3, 12) AS f44
      FROM dl3b
    ),
    longf AS (
      SELECT n, unnest([1, 2, 3, 4]) AS k,
             unnest([f11, f22, f33, f44]) AS pacf
      FROM dl4
    )
    SELECT k AS lag,
           round(pacf, 6) + 0.0 AS pacf,
           round(1.96 / sqrt(CAST(n AS DOUBLE)), 6) AS band,
           CASE WHEN abs(pacf) > 1.96 / sqrt(CAST(n AS DOUBLE))
                THEN 'significant' ELSE 'ns' END AS verdict
    FROM longf
    """,
)
def q445_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation function at lags 1-4 of daily order
    counts via the Durbin-Levinson recursion (Durbin 1960), unrolled as
    a literal expression ladder with every intermediate 12-dp-rounded so
    both engines walk bit-identical recursions (the q401 MM-unroll
    policy): phi_kk is the lag-k partial correlation after regressing
    out lags 1..k-1, THE Box-Jenkins AR(p) order-selection plot — the
    registry-query form of the PACF order selector inside the m1
    workload forecaster (disclosed kinship), with the +/-1.96/sqrt(n)
    white-noise band. ACF inputs r1..r4 use q443's exact
    overlap-moment construction from one aggregate (disclosed kinship).

    100 TB story: one corpus scan to the O(days) rollup, one window
    pass for 4 lag columns (allowlisted day support), then a 1-row
    scalar ladder — no iteration over data, no join."""
    o = _t(spark, sf_dir, "orders").select(
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d")
    )
    days = o.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("y"))
    wd = Window.orderBy("d")
    ser = days.select(
        "y", *[F.lag("y", k).over(wd).alias(f"l{k}") for k in range(1, 5)]
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("s2"),
    ]
    for k in range(1, 5):
        lk = F.col(f"l{k}")
        aggs += [
            F.sum(F.when(lk.isNotNull(), F.col("y") * lk).otherwise(0))
            .cast("long")
            .alias(f"p{k}"),
            F.sum(F.when(lk.isNotNull(), F.col("y")).otherwise(0))
            .cast("long")
            .alias(f"a{k}"),
            F.sum(F.coalesce(lk, F.lit(0))).cast("long").alias(f"b{k}"),
        ]
    m = ser.agg(*aggs)
    mu = F.col("s1").cast("double") / F.col("n")
    c0 = (
        F.col("n").cast("decimal(19,0)") * F.col("s2").cast("decimal(19,0)")
        - F.col("s1").cast("decimal(19,0)") * F.col("s1").cast("decimal(19,0)")
    ).cast("double") / F.col("n")

    def _r(k):
        return F.round(
            (
                F.col(f"p{k}").cast("double")
                - mu * (F.col(f"a{k}") + F.col(f"b{k}"))
                + (F.col("n") - k) * mu * mu
            )
            / c0,
            12,
        )

    r = m.select("n", *[_r(k).alias(f"r{k}") for k in range(1, 5)])
    dl1 = r.withColumn("f11", F.col("r1"))
    dl2 = dl1.withColumn(
        "f22",
        F.round(
            (F.col("r2") - F.col("f11") * F.col("r1"))
            / (F.lit(1.0) - F.col("f11") * F.col("r1")),
            12,
        ),
    )
    dl2b = dl2.withColumn(
        "f21", F.round(F.col("f11") - F.col("f22") * F.col("f11"), 12)
    ).withColumn(
        "d2",
        F.round(
            (F.lit(1.0) - F.col("f11") * F.col("r1"))
            * (F.lit(1.0) - F.col("f22") * F.col("f22")),
            12,
        ),
    )
    dl3 = dl2b.withColumn(
        "f33",
        F.round(
            (
                F.col("r3")
                - F.col("f21") * F.col("r2")
                - F.col("f22") * F.col("r1")
            )
            / F.col("d2"),
            12,
        ),
    )
    dl3b = (
        dl3.withColumn("f31", F.round(F.col("f21") - F.col("f33") * F.col("f22"), 12))
        .withColumn("f32", F.round(F.col("f22") - F.col("f33") * F.col("f21"), 12))
        .withColumn(
            "d3", F.round(F.col("d2") * (F.lit(1.0) - F.col("f33") * F.col("f33")), 12)
        )
    )
    dl4 = dl3b.withColumn(
        "f44",
        F.round(
            (
                F.col("r4")
                - F.col("f31") * F.col("r3")
                - F.col("f32") * F.col("r2")
                - F.col("f33") * F.col("r1")
            )
            / F.col("d3"),
            12,
        ),
    )
    longf = dl4.selectExpr(
        "n", "stack(4, 1, f11, 2, f22, 3, f33, 4, f44) AS (k, pacf)"
    )
    band = 1.96 / F.sqrt(F.col("n").cast("double"))
    return longf.select(
        F.col("k").alias("lag"),
        (F.round("pacf", 6) + F.lit(0.0)).alias("pacf"),
        F.round(band, 6).alias("band"),
        F.when(F.abs("pacf") > band, "significant").otherwise("ns").alias("verdict"),
    )


@query(
    "q446_capture_recapture",
    oracle="""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    caught AS (
      SELECT event_type, user_id,
             CAST(('0x' || substring(md5('s1' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0 AS in1,
             CAST(('0x' || substring(md5('s2' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0 AS in2
      FROM du
    ),
    g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_true,
             CAST(sum(CASE WHEN in1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN in2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN in1 AND in2 THEN 1 ELSE 0 END) AS BIGINT) AS m
      FROM caught GROUP BY 1
    )
    SELECT event_type, n_true, n1, n2, m,
           round((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0, 6) AS chapman_est,
           round(abs((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0 - n_true) / n_true, 6) AS rel_err,
           round((n1 + 1.0) * (n2 + 1.0) * (n1 - m) * (n2 - m)
                 / ((m + 1.0) * (m + 1.0) * (m + 2.0)), 6) AS chapman_var
    FROM g
    """,
)
def q446_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimator (Chapman 1951) of the
    distinct-user population per event type from two INDEPENDENT
    deterministic hash "surveys" (md5 with distinct salts, ~50% catch
    each — the engine-portable determinism policy of q97/q154):
    N_hat = (n1+1)(n2+1)/(m+1) - 1 with its Seber variance, reported
    against the true distinct count — the mark-recapture cross-check
    for the sketch family (q283 HLL / q154 KMV, disclosed kinship) and
    the classical estimator for "how many duplicates does the FULL
    corpus hold" when two independent dedup passes each catch a sample.
    Every cell is an exact integer from one aggregate over the
    distinct-collapsed frame.

    100 TB story: one distinct collapse (map-side combining), ONE
    aggregate to K type rows; closed form per row — the survey
    membership is a hash column, not a shuffle."""
    du = _t(spark, sf_dir, "events").select("event_type", "user_id").distinct()

    def _in(salt):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt), F.col("user_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 2
            == 0
        )

    caught = du.select(
        "event_type", _in("s1").alias("in1"), _in("s2").alias("in2")
    )
    g = caught.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.sum(F.when(F.col("in1"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("in2"), 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("in1") & F.col("in2"), 1).otherwise(0))
        .cast("long")
        .alias("m"),
    )
    est = (F.col("n1") + 1.0) * (F.col("n2") + 1.0) / (F.col("m") + 1.0) - 1.0
    var = (
        (F.col("n1") + 1.0)
        * (F.col("n2") + 1.0)
        * (F.col("n1") - F.col("m"))
        * (F.col("n2") - F.col("m"))
        / ((F.col("m") + 1.0) * (F.col("m") + 1.0) * (F.col("m") + 2.0))
    )
    return g.select(
        "event_type",
        "n_true",
        "n1",
        "n2",
        "m",
        F.round(est, 6).alias("chapman_est"),
        F.round(F.abs(est - F.col("n_true")) / F.col("n_true"), 6).alias("rel_err"),
        F.round(var, 6).alias("chapman_var"),
    )


@query(
    "q447_jackknife_ratio",
    oracle="""
    WITH s AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS cx,
             CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS tx
      FROM documents WHERE trim(text) <> ''
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS g,
             CAST(sum(cx) AS BIGINT) AS sc, CAST(sum(tx) AS BIGINT) AS st
      FROM s
    ),
    loo AS (
      SELECT s.source,
             round(CAST((SELECT sc FROM tot) - s.cx AS DOUBLE)
                   / ((SELECT st FROM tot) - s.tx), 12) AS theta_i
      FROM s
    ),
    jk AS (
      SELECT CAST(count(*) AS BIGINT) AS g,
             CAST(round(sum(CAST(round(theta_i, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS s_theta,
             CAST(round(sum(CAST(round(theta_i * theta_i, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS s_theta2
      FROM loo
    )
    SELECT (SELECT g FROM tot) AS n_groups,
           round(CAST((SELECT sc FROM tot) AS DOUBLE) / (SELECT st FROM tot), 6) AS chars_per_token,
           round((SELECT g FROM tot) * (CAST((SELECT sc FROM tot) AS DOUBLE) / (SELECT st FROM tot))
                 - ((SELECT g FROM tot) - 1.0) * s_theta / g, 6) AS jackknife_estimate,
           round(sqrt(((SELECT g FROM tot) - 1.0) / g
                      * (s_theta2 - s_theta * s_theta / g)), 6) AS jackknife_se
    FROM jk
    """,
)
def q447_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife (Quenouille 1956; Tukey 1958) for the
    corpus chars-per-token ratio, grouped by source: the ratio estimator
    theta = sum(chars)/sum(tokens) is nonlinear, so its bias and
    standard error are estimated from the g leave-one-source-out
    replicates theta_i = (C - c_i)/(T - t_i) — the resampling-based
    uncertainty the q356 bootstrap gives for means, here in the
    deterministic closed form cluster-jackknife variant that needs NO
    random replicates at all (every replicate is an exact arithmetic
    consequence of the per-source sums). Bias-corrected estimate
    g*theta - (g-1)*mean(theta_i); SE = sqrt((g-1)/g * sum((theta_i -
    mean)^2)); replicates 12-dp-rounded so both engines fold identical
    doubles.

    100 TB story: ONE map-side-combining per-source aggregate collapses
    the corpus; the g leave-one-out replicates are arithmetic on the
    O(sources) frame joined to its own 1-row total — no resampling, no
    second corpus pass."""
    from phoebe_spark.operators import text as text_ops

    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    s = d.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("cx"),
        F.sum(F.size(text_ops.tokens(F.col("text"))).cast("long"))
        .cast("long")
        .alias("tx"),
    ).localCheckpoint(eager=True)
    tot = s.agg(
        F.count(F.lit(1)).cast("long").alias("g"),
        F.sum("cx").cast("long").alias("sc"),
        F.sum("tx").cast("long").alias("st"),
    )
    loo = s.crossJoin(F.broadcast(tot)).select(
        F.round(
            (F.col("sc") - F.col("cx")).cast("double") / (F.col("st") - F.col("tx")),
            12,
        ).alias("theta_i")
    )

    def _fold12(x):
        return F.round(F.sum(F.round(x, 12).cast("decimal(38,12)")), 12).cast("double")

    jk = loo.agg(
        F.count(F.lit(1)).cast("long").alias("gj"),
        _fold12(F.col("theta_i")).alias("s_theta"),
        _fold12(F.col("theta_i") * F.col("theta_i")).alias("s_theta2"),
    )
    theta = F.col("sc").cast("double") / F.col("st")
    return tot.crossJoin(F.broadcast(jk)).select(
        F.col("g").alias("n_groups"),
        F.round(theta, 6).alias("chars_per_token"),
        F.round(
            F.col("g") * theta - (F.col("g") - 1.0) * F.col("s_theta") / F.col("gj"),
            6,
        ).alias("jackknife_estimate"),
        F.round(
            F.sqrt(
                (F.col("g") - 1.0)
                / F.col("gj")
                * (
                    F.col("s_theta2")
                    - F.col("s_theta") * F.col("s_theta") / F.col("gj")
                )
            ),
            6,
        ).alias("jackknife_se"),
    )


@query(
    "q448_grubbs_outlier",
    oracle=f"""
    WITH o AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
             CAST(round(o_totalprice * 100) AS BIGINT) AS yc
      FROM orders
    ),
    days AS (
      SELECT d, CAST(sum(yc) AS BIGINT) AS y FROM o GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s1,
             CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s2
      FROM days
    ),
    c AS (
      SELECT n,
             CAST(s1 AS DOUBLE) / n AS mean_c,
             sqrt(CAST(CAST(n AS DECIMAL(19,0)) * s2 - s1 * s1 AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (n - 1.0))) AS sd_c
      FROM m
    ),
    dev AS (
      SELECT d.d, d.y, abs(d.y - c.mean_c) AS adev, c.n, c.mean_c, c.sd_c
      FROM days d CROSS JOIN c
    ),
    g AS (
      SELECT max(n) AS n, max(mean_c) AS mean_c, max(sd_c) AS sd_c,
             max(adev) / max(sd_c) AS gstat,
             arg_max(d, adev) AS top_day,
             arg_max(y, adev) AS top_y
      FROM dev
    )
    SELECT n AS n_days,
           round(gstat, 6) AS grubbs_g,
           round(least(1.0, 2.0 * n * (1.0 - {{phi}})), 6) AS bonferroni_p,
           top_day,
           round(CAST(top_y AS DOUBLE) / 100.0, 2) AS top_day_total,
           CASE WHEN least(1.0, 2.0 * n * (1.0 - {{phi}})) < 0.05
                THEN 'outlier' ELSE 'clean' END AS verdict
    FROM g
    """.replace("{phi}", _phi_sql("gstat")),
)
def q448_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs maximum-normed-residual outlier test (Grubbs 1950) on the
    daily order-revenue series: G = max|y - mean|/sd over the O(days)
    rollup, with a LARGE-SAMPLE Bonferroni p-value bound
    p <= 2n(1 - Phi(G)) in place of the exact t-quantile critical value
    (the z approximation of the Grubbs critical point — conservative
    direction disclosed; exact t inversion needs an iterative quantile
    neither engine computes deterministically). The single-most-extreme
    day is reported via max_by, the audit that runs before any
    daily-revenue series feeds a forecaster — one fat-finger day drags
    every moment-based statistic (q432/q443 kinship). Daily totals are
    exact BIGINT cents; moments combine in DECIMAL(38,0); Phi runs the
    shared erfc Horner chain.

    100 TB story: one corpus scan to the O(days) rollup; the moment
    fold and the argmax are single aggregates over that bounded frame —
    no window, no sort."""
    o = _t(spark, sf_dir, "orders").select(
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("yc"),
    )
    days = (
        o.groupBy("d").agg(F.sum("yc").cast("long").alias("y"))
        .localCheckpoint(eager=True)
    )

    def _d19(c):
        return F.col(c).cast("decimal(19,0)")

    m = days.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(_d19("y")).cast("decimal(38,0)").alias("s1"),
        F.sum(_d19("y") * _d19("y")).cast("decimal(38,0)").alias("s2"),
    )
    c = m.select(
        "n",
        (F.col("s1").cast("double") / F.col("n")).alias("mean_c"),
        F.sqrt(
            (_d19("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1.0))
        ).alias("sd_c"),
    )
    dev = days.crossJoin(F.broadcast(c)).select(
        "d", "y", F.abs(F.col("y") - F.col("mean_c")).alias("adev"),
        "n", "sd_c",
    )
    g = dev.agg(
        F.max("n").alias("n"),
        F.max("sd_c").alias("sd_c"),
        (F.max("adev") / F.max("sd_c")).alias("gstat"),
        F.expr("max_by(d, adev)").alias("top_day"),
        F.expr("max_by(y, adev)").alias("top_y"),
    )
    phi = _phi_col(F.col("gstat"))
    bonf = F.least(F.lit(1.0), 2.0 * F.col("n") * (1.0 - phi))
    return g.select(
        F.col("n").alias("n_days"),
        F.round("gstat", 6).alias("grubbs_g"),
        F.round(bonf, 6).alias("bonferroni_p"),
        "top_day",
        F.round(F.col("top_y").cast("double") / 100.0, 2).alias("top_day_total"),
        F.when(bonf < 0.05, "outlier").otherwise("clean").alias("verdict"),
    )


@query(
    "q449_hodges_lehmann",
    oracle="""
    WITH o AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d
      FROM orders
    ),
    days AS (SELECT d, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1),
    bounds AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             (min(d) + max(d)) // 2 AS dmid
      FROM days
    ),
    wsum AS (
      SELECT a.y + b.y AS s, CAST(count(*) AS BIGINT) AS c
      FROM days a JOIN days b ON a.d <= b.d
      GROUP BY 1
    ),
    wcum AS (
      SELECT s, c,
             CAST(sum(c) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc,
             CAST(sum(c) OVER () AS BIGINT) AS m
      FROM wsum
    ),
    wmed AS (
      SELECT max(m) AS m,
             sum(CASE WHEN cc - c < (m + 1) // 2 AND (m + 1) // 2 <= cc
                      THEN s END) AS v1,
             sum(CASE WHEN cc - c < (m + 2) // 2 AND (m + 2) // 2 <= cc
                      THEN s END) AS v2
      FROM wcum
    ),
    dsum AS (
      SELECT b.y - a.y AS s, CAST(count(*) AS BIGINT) AS c
      FROM days a CROSS JOIN bounds bo
      JOIN days b ON a.d <= bo.dmid AND b.d > bo.dmid
      GROUP BY 1
    ),
    dcum AS (
      SELECT s, c,
             CAST(sum(c) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc,
             CAST(sum(c) OVER () AS BIGINT) AS m
      FROM dsum
    ),
    dmed AS (
      SELECT max(m) AS m,
             sum(CASE WHEN cc - c < (m + 1) // 2 AND (m + 1) // 2 <= cc
                      THEN s END) AS v1,
             sum(CASE WHEN cc - c < (m + 2) // 2 AND (m + 2) // 2 <= cc
                      THEN s END) AS v2
      FROM dcum
    )
    SELECT b.n AS n_days,
           w.m AS n_walsh_pairs,
           round((CAST(w.v1 AS DOUBLE) + w.v2) / 4.0, 6) AS pseudomedian,
           d.m AS n_cross_pairs,
           round((CAST(d.v1 AS DOUBLE) + d.v2) / 2.0, 6) AS hl_shift
    FROM bounds b CROSS JOIN wmed w CROSS JOIN dmed d
    """,
)
def q449_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann estimators (Hodges & Lehmann 1963) on the daily
    order-count series: the one-sample PSEUDOMEDIAN (median of all
    n(n+1)/2 Walsh averages (y_i + y_j)/2, i <= j) — the location
    estimate behind the Wilcoxon signed-rank test, robust to the heavy
    right tail a mean would chase — and the two-sample HL SHIFT between
    the first and second calendar halves (median of cross differences
    y_late - y_early; split at the midpoint day, disclosed), the robust
    twin of the q438 mean-difference effect size. The scale trick: the
    pair grids never materialize per-pair rows downstream — pairs
    collapse by their integer SUM (resp. difference) VALUE, so the
    median runs on the count-range-bounded value support via exact
    cumulative ranks (even-m medians average the two middle ranks,
    disclosed).

    100 TB story: the day frame is calendar-bounded (SF-independent),
    so the pair join is O(days^2) CONSTANT in corpus size; medians fold
    over the O(distinct sums) support — allowlisted bounded frame."""
    o = _t(spark, sf_dir, "orders").select(
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d")
    )
    days = (
        o.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("y"))
        .localCheckpoint(eager=True)
    )
    bounds = days.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("(min(d) + max(d)) div 2").alias("dmid"),
    )

    def _med_over(pairs):
        """(s, c) support -> 1-row (m, v1, v2): total and the two
        middle-rank values via exact cumulative counts."""
        cum = pairs.select(
            "s",
            "c",
            F.sum("c").over(
                Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
            ).cast("long").alias("cc"),
            F.sum("c").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).cast("long").alias("m"),
        )
        # exact integer middle ranks: (m+1) div 2 and (m+2) div 2
        rk1 = F.expr("(m + 1) div 2")
        rk2 = F.expr("(m + 2) div 2")
        return cum.agg(
            F.max("m").alias("m"),
            F.sum(
                F.when((F.col("cc") - F.col("c") < rk1) & (rk1 <= F.col("cc")), F.col("s"))
            ).alias("v1"),
            F.sum(
                F.when((F.col("cc") - F.col("c") < rk2) & (rk2 <= F.col("cc")), F.col("s"))
            ).alias("v2"),
        )

    a = days.select(F.col("d").alias("da"), F.col("y").alias("ya"))
    b = days.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    wsum = (
        a.join(b, F.col("da") <= F.col("db"))
        .groupBy((F.col("ya") + F.col("yb")).alias("s"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wmed = _med_over(wsum)

    dsum = (
        a.crossJoin(F.broadcast(bounds.select("dmid")))
        .filter(F.col("da") <= F.col("dmid"))
        .join(b, F.col("db") > F.col("dmid"))
        .groupBy((F.col("yb") - F.col("ya")).alias("s"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    dmed = _med_over(dsum)

    wm = wmed.select(
        F.col("m").alias("wm"), F.col("v1").alias("wv1"), F.col("v2").alias("wv2")
    )
    dm = dmed.select(
        F.col("m").alias("dm"), F.col("v1").alias("dv1"), F.col("v2").alias("dv2")
    )
    return (
        bounds.crossJoin(F.broadcast(wm))
        .crossJoin(F.broadcast(dm))
        .select(
            F.col("n").alias("n_days"),
            F.col("wm").alias("n_walsh_pairs"),
            F.round((F.col("wv1").cast("double") + F.col("wv2")) / 4.0, 6).alias(
                "pseudomedian"
            ),
            F.col("dm").alias("n_cross_pairs"),
            F.round((F.col("dv1").cast("double") + F.col("dv2")) / 2.0, 6).alias(
                "hl_shift"
            ),
        )
    )


# DFT twiddle factors for q450, quantized once in Python and embedded as
# identical literals in BOTH engines (cos/sin from each engine's own libm
# could differ in the last ulp; d mod p has only p distinct residues per
# period, so the whole basis is a 464-row literal table).
import math as _math

_DFT_PERIODS = list(range(2, 31))
_DFT_TAB = [
    (p, r,
     round(_math.cos(2.0 * _math.pi * r / p), 12),
     round(_math.sin(2.0 * _math.pi * r / p), 12))
    for p in _DFT_PERIODS
    for r in range(p)
]
_DFT_VALUES_SQL = ",\n      ".join(
    f"({p}, {r}, {c!r}, {si!r})" for p, r, c, si in _DFT_TAB
)


@query(
    "q450_dft_periodogram",
    oracle=f"""
    WITH tab(p, r, co, si) AS (
      VALUES {_DFT_VALUES_SQL}
    ),
    o AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d
      FROM orders
    ),
    days AS (SELECT d, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s1
      FROM days
    ),
    grid AS (
      SELECT t.p, d.y - CAST(m.s1 AS DOUBLE) / m.n AS yc, t.co, t.si
      FROM days d CROSS JOIN m
      JOIN tab t ON t.r = d.d % t.p
    ),
    ab AS (
      SELECT p,
             CAST(round(sum(CAST(round(yc * co, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS a,
             CAST(round(sum(CAST(round(yc * si, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS b
      FROM grid GROUP BY 1
    ),
    pw AS (
      SELECT p, a * a + b * b AS power FROM ab
    ),
    sh AS (
      SELECT p, power,
             power / sum(power) OVER () AS share,
             CASE WHEN power = max(power) OVER () THEN 1 ELSE 0 END AS dom
      FROM pw
    ),
    ent AS (
      SELECT CAST(round(sum(CAST(round(
               CASE WHEN share > 0 THEN -share * log2(share) ELSE 0.0 END,
             12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS h
      FROM sh
    )
    SELECT sh.p AS period,
           round(sh.share, 6) + 0.0 AS power_share,
           CAST(sh.dom AS INT) AS is_dominant,
           round(ent.h / log2(29.0), 6) AS spectral_entropy_norm
    FROM sh CROSS JOIN ent
    """,
)
def q450_dft_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-Fourier periodogram of the daily order-count series at
    candidate periods 2..30 days: per period p, the squared magnitude
    of the projection of the MEAN-CENTERED series onto the (cos, sin)
    basis at frequency 1/p — the spectral screen that finds the weekly
    cadence q444 then decomposes (disclosed kinship), reported as
    normalized power shares with the dominant period flagged, plus the
    NORMALIZED SPECTRAL ENTROPY (entropy of the share distribution /
    log2(29)) — near 1 means white-noise-like (unforecastable), near 0
    means one cadence dominates. Engine-exactness: d mod p has only p
    residues per period, so the whole trig basis is a 464-row LITERAL
    table quantized to 12 dp once in Python and embedded identically in
    both engines — neither engine's libm cos/sin is ever called; the
    projections fold at 12-dp DECIMAL so day order cannot move them.

    100 TB story: one corpus scan to the O(days) rollup; the basis join
    fans each day row out 29x against a BROADCAST 464-row literal
    table; projections are one grouped fold; shares/entropy run on the
    fixed 29-period frame (allowlisted)."""
    o = _t(spark, sf_dir, "orders").select(
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d")
    )
    days = (
        o.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("y"))
        .localCheckpoint(eager=True)
    )
    m = days.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s1"),
    )
    tab = spark.createDataFrame(_DFT_TAB, "p INT, r INT, co DOUBLE, si DOUBLE")
    periods = F.array(*[F.lit(pp) for pp in _DFT_PERIODS])
    grid = (
        days.crossJoin(F.broadcast(m))
        .select("d", (F.col("y") - F.col("s1").cast("double") / F.col("n")).alias("yc"))
        .select("d", "yc", F.explode(periods).alias("p"))
        .withColumn("r", (F.col("d") % F.col("p")).cast("int"))
        .join(F.broadcast(tab), ["p", "r"])
    )

    def _fold12(x):
        return F.round(
            F.sum(F.round(x, 12).cast("decimal(38,12)")), 12
        ).cast("double")

    ab = grid.groupBy("p").agg(
        _fold12(F.col("yc") * F.col("co")).alias("a"),
        _fold12(F.col("yc") * F.col("si")).alias("b"),
    )
    pw = ab.select("p", (F.col("a") * F.col("a") + F.col("b") * F.col("b")).alias("power"))
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    sh = pw.select(
        "p",
        "power",
        (F.col("power") / F.sum("power").over(wall)).alias("share"),
        F.when(F.col("power") == F.max("power").over(wall), 1).otherwise(0).alias("dom"),
    )
    ent = sh.agg(
        _fold12(
            F.when(F.col("share") > 0, -F.col("share") * F.log2("share")).otherwise(0.0)
        ).alias("h")
    )
    return sh.crossJoin(F.broadcast(ent)).select(
        F.col("p").alias("period"),
        (F.round("share", 6) + F.lit(0.0)).alias("power_share"),
        F.col("dom").cast("int").alias("is_dominant"),
        F.round(F.col("h") / F.log2(F.lit(29.0)), 6).alias("spectral_entropy_norm"),
    )
