"""Query registry block 301-350 (mechanically split from the former
single-module registry in round 9; see ``_core`` for the decorator,
the registry dicts, and the float-determinism policy)."""

from __future__ import annotations


from phoebe_spark.operators import dedup, graph, sampling, similarity, text

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._core import ORACLE, _dec, _t, query
from .q001_050 import _COS_SQL, _TOKS_SQL
from .q151_200 import _lsh_planes
from .q201_250 import _COGRAPH_SQL, _PAIR_COS_SQL, _cograph_edges

@query(
    "q301_link_prediction",
    oracle=f"""
    WITH {_COGRAPH_SQL},
    edges AS MATERIALIZED (SELECT s1 AS src, s2 AS dst FROM co
                           UNION ALL SELECT s2, s1 FROM co),
    deg AS (SELECT src AS z, count(*) AS dg FROM edges GROUP BY 1),
    paths AS (
      SELECT e1.dst AS u, e2.dst AS w, e1.src AS z
      FROM edges e1 JOIN edges e2 ON e1.src = e2.src
      WHERE e1.dst < e2.dst
    ),
    cand AS (
      SELECT p.u, p.w,
             CAST(count(*) AS BIGINT) AS common_neighbors,
             CAST(sum(CAST(round(1.0 / ln(d.dg), 8) AS DECIMAL(32,8)))
                  AS DOUBLE) AS adamic_adar
      FROM paths p JOIN deg d ON p.z = d.z
      WHERE d.dg > 1
      GROUP BY 1, 2
    )
    SELECT cand.u, cand.w, cand.common_neighbors,
           cand.adamic_adar AS adamic_adar
    FROM cand
    LEFT JOIN co ON co.s1 = cand.u AND co.s2 = cand.w
    WHERE co.s1 IS NULL
    """,
)
def q301_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the part co-occurrence graph (Liben-Nowell &
    Kleinberg 2003): for every NON-edge pair sharing common
    neighbors (>= 1), the common-neighbor count and the Adamic-Adar score
    (sum 1/ln(deg(z)) over shared neighbors z, degree-1 hubs excluded
    since ln(1)=0) — the "parts that should co-occur but don't yet"
    recommendation feed. Candidates come from 2-hop path enumeration
    with the existing-edge set anti-joined away; AA contributions fold
    as DECIMAL(32,8) of 8-dp-rounded terms (q293 policy) and are emitted
    at full 8-dp precision — a final round(.,6) would hit exact halfway
    ties (8-dp sums can end ...5 at the 7th digit) where the engines'
    rounding modes differ. (A cn >= 2 floor empties at sf0.1's sparser
    co-graph, so the floor is the structural one: >= 1 shared neighbor.)

    100 TB story: the 2-hop join fans out per-node as deg^2, but the
    co-count >= 2 threshold bounds degree (the same arboricity argument
    as the q233 triangle join); the anti-join is edge-keyed; nothing is
    node-squared globally. The cn >= 2 floor keeps the candidate table
    recommendation-sized.
    """
    co = _cograph_edges(spark, sf_dir).localCheckpoint(eager=True)
    edges = graph.symmetrize(co)
    deg = edges.groupBy(F.col("src").alias("z")).agg(F.count(F.lit(1)).alias("dg"))
    e1 = edges.select(F.col("src").alias("z"), F.col("dst").alias("u"))
    e2 = edges.select(F.col("src").alias("z"), F.col("dst").alias("w"))
    paths = e1.join(e2, "z").filter(F.col("u") < F.col("w"))
    cand = (
        paths.join(deg.filter(F.col("dg") > 1), "z")
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum(F.round(1.0 / F.log(F.col("dg")), 8).cast("decimal(32,8)"))
            .cast("double")
            .alias("adamic_adar"),
        )
    )
    return (
        cand.join(
            co,
            (co.s1 == cand.u) & (co.s2 == cand.w),
            "left_anti",
        )
        .select("u", "w", "common_neighbors", "adamic_adar")
    )


@query(
    "q302_isotonic_calibration",
    oracle="""
    WITH s AS (
      SELECT least(CAST(floor(value / 10) AS BIGINT), 9) AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE event_type IN ('purchase', 'error', 'click')
    ),
    b AS (
      SELECT bin, count(*) AS n, sum(y) AS pos FROM s GROUP BY 1
    ),
    c AS (
      SELECT bin, n, pos,
             sum(n) OVER (ORDER BY bin) AS cn,
             sum(pos) OVER (ORDER BY bin) AS cp
      FROM b
    ),
    grid AS (
      SELECT i.bin AS b, j.bin AS j, k.bin AS k,
             (k.cp - j.cp + j.pos) * 1.0 / (k.cn - j.cn + j.n) AS avg_jk
      FROM c i JOIN c j ON j.bin <= i.bin JOIN c k ON k.bin >= i.bin
    ),
    inner_max AS (
      SELECT b, k, max(avg_jk) AS m FROM grid GROUP BY 1, 2
    ),
    iso AS (
      SELECT b AS bin, min(m) AS iso FROM inner_max GROUP BY 1
    ),
    fit AS (
      SELECT c.bin, CAST(c.n AS BIGINT) AS n,
             round(c.pos * 1.0 / c.n, 6) AS rate,
             round(iso.iso, 6) AS iso
      FROM c JOIN iso USING (bin)
    ),
    fit2 AS (
      SELECT bin, n, rate, iso,
             CASE WHEN iso >= lag(iso, 1, iso) OVER (ORDER BY bin)
                  THEN 1 ELSE 0 END AS ok
      FROM fit
    )
    SELECT bin, n, rate, iso, CAST(min(ok) OVER () AS INT) AS monotone_ok
    FROM fit2
    """,
)
def q302_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of purchase propensity against the
    10-unit value band — the PAV fit, computed by the exact minimax
    identity iso(b) = min_{k>=b} max_{j<=b} mean(y_j..y_k) (Barlow et al.
    1972), which needs NO sequential pooling loop: with 10 bins the
    (j, b, k) grid is <= 1000 rows, every block mean is a ratio of exact
    integer cumulative sums, and min/max comparisons of identical doubles
    are rounding-free — so both engines agree digit-for-digit with zero
    quantization. The monotone_ok certificate re-proves the isotonic
    property inside the hash gate. Complements q280 (calibration bins
    report raw reliability; this produces the monotone calibration MAP
    a score consumer actually applies).

    100 TB story: the corpus contributes ONE map-side-combining groupBy
    onto 10 cells; the cubic minimax runs on the 10-row frame (bounded by
    bin count, never rows). The classic O(n) PAV applies per-partition
    only after this same binning step at any scale.
    """
    e = _t(spark, sf_dir, "events")
    s = e.filter(F.col("event_type").isin("purchase", "error", "click")).select(
        F.least(F.floor(F.col("value") / 10).cast("long"), F.lit(9).cast("long")).alias(
            "bin"
        ),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    b = s.groupBy("bin").agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    wcum = Window.orderBy("bin")
    c = b.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(wcum).alias("cn"),
        F.sum("pos").over(wcum).alias("cp"),
    ).localCheckpoint(eager=True)
    i = c.select(F.col("bin").alias("b"))
    j = c.select(
        F.col("bin").alias("j"),
        F.col("pos").alias("jpos"),
        F.col("n").alias("jn"),
        F.col("cp").alias("jcp"),
        F.col("cn").alias("jcn"),
    )
    k = c.select(
        F.col("bin").alias("k"), F.col("cp").alias("kcp"), F.col("cn").alias("kcn")
    )
    grid = (
        i.join(j, F.col("j") <= F.col("b"))
        .join(k, F.col("k") >= F.col("b"))
        .select(
            "b",
            "k",
            (
                (F.col("kcp") - F.col("jcp") + F.col("jpos"))
                * 1.0
                / (F.col("kcn") - F.col("jcn") + F.col("jn"))
            ).alias("avg_jk"),
        )
    )
    inner_max = grid.groupBy("b", "k").agg(F.max("avg_jk").alias("m"))
    iso = inner_max.groupBy(F.col("b").alias("bin")).agg(F.min("m").alias("iso"))
    fit = c.join(iso, "bin").select(
        "bin",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("pos") * 1.0 / F.col("n"), 6).alias("rate"),
        F.round("iso", 6).alias("iso"),
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return fit.select(
        "bin",
        "n",
        "rate",
        "iso",
        F.min(
            F.when(
                F.col("iso")
                >= F.coalesce(
                    F.lag("iso", 1).over(Window.orderBy("bin")), F.col("iso")
                ),
                1,
            )
            .otherwise(0)
        )
        .over(wall)
        .cast("int")
        .alias("monotone_ok"),
    )


@query(
    "q303_sprt_monitor",
    oracle="""
    WITH s AS (
      SELECT epoch_ns(ts) AS ord_ns, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
      FROM events WHERE event_type IN ('purchase', 'error')
    ),
    walk AS (
      SELECT ord_ns, event_id,
             row_number() OVER w AS i,
             2 * sum(x) OVER w - row_number() OVER w AS d
      FROM s WINDOW w AS (ORDER BY ord_ns, event_id)
    ),
    crossing AS (
      SELECT i, d FROM walk WHERE abs(d) >= 15 ORDER BY i LIMIT 1
    ),
    fin AS (SELECT max(i) AS n_total FROM walk)
    SELECT CAST(coalesce(crossing.i, fin.n_total) AS BIGINT) AS n_obs,
           CAST(CASE WHEN crossing.i IS NULL THEN 0
                WHEN crossing.d > 0 THEN 1 ELSE -1 END AS INT) AS decision,
           round(coalesce(crossing.d, 0) * ln(11.0 / 9.0), 6) AS llr,
           CAST(15 AS BIGINT) AS d_threshold
    FROM fin LEFT JOIN crossing ON TRUE
    """,
)
def q303_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT sequential A/B monitor (Wald 1945) over the purchase-vs-
    error stream in arrival order: testing p0=0.45 vs p1=0.55 at
    alpha=beta=0.05, the log-likelihood ratio after i observations is
    (2*S_i - i)*ln(11/9), so the stopping rule |LLR| >= ln(19) reduces to
    the EXACT INTEGER test |2*S_i - i| >= 15 — no float enters the
    decision at all (the sequential complement of the fixed-sample Welch
    q281 / Mann-Whitney q297). Emits the stopping sample size, the
    decision (+1 accept H1, -1 accept H0, 0 still running at stream end),
    and the boundary LLR.

    100 TB story: the random walk is one cumulative window per ordered
    key-range (in production, per experiment arm — a keyed window);
    the first-crossing is a filter + global min, no iteration. The
    monitor's whole point at scale: most experiments stop after a
    PREFIX of the data, and the integer test makes early-stop decisions
    retry-stable.
    """
    e = _t(spark, sf_dir, "events")
    s = e.filter(F.col("event_type").isin("purchase", "error")).select(
        F.col("ts").alias("ord_ns"),
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    )
    # two-phase bucketed prefix sums (day buckets — offsets frame bounded
    # by the time domain): bit-identical to the naive total-order window
    # without single-partitioning the whole stream (round-9 guard fix)
    from phoebe_spark.operators.layout import global_prefix_sums

    walk = (
        global_prefix_sums(
            s,
            order_col="ord_ns",
            tie_col="event_id",
            bucket=F.expr("ord_ns div 86400000000000"),  # ns -> day
            sum_cols=["x"],
            rn_col="i",
        )
        .select("i", (2 * F.col("cum_x") - F.col("i")).alias("d"))
        .localCheckpoint(eager=True)
    )
    crossing = (
        walk.filter(F.abs("d") >= 15)
        .orderBy("i")
        .limit(1)
        .select(F.col("i").alias("ci"), F.col("d").alias("cd"))
    )
    fin = walk.agg(F.max("i").alias("n_total"))
    return (
        fin.join(F.broadcast(crossing), F.lit(True), "left")
        .select(
            F.coalesce("ci", "n_total").cast("long").alias("n_obs"),
            F.when(F.col("ci").isNull(), 0)
            .when(F.col("cd") > 0, 1)
            .otherwise(-1)
            .cast("int")
            .alias("decision"),
            F.round(
                F.coalesce("cd", F.lit(0)) * float(__import__("math").log(11.0 / 9.0)),
                6,
            ).alias("llr"),
            F.lit(15).cast("long").alias("d_threshold"),
        )
    )


def _q304_ams_oracle(n_est: int = 16) -> str:
    """Generated oracle for q304: estimator j's +-1 sign is the parity of
    the j-th hex digit of ONE md5(key) per row (16 hashes/row benched
    2x slower) — replayable in any engine with md5; the 16 sign-sums are
    exact BIGINT folds."""
    sign = (
        "CASE WHEN substr(h, {pos}, 1)"
        " IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END"
    )
    zs = ",\n           ".join(
        f"sum({sign.format(pos=j + 1)}) AS z{j}" for j in range(n_est)
    )
    ests = ", ".join(f"CAST(z{j} AS DOUBLE) * z{j}" for j in range(n_est))
    return f"""
    WITH hashed AS (
      SELECT md5(CAST(l_partkey AS VARCHAR)) AS h FROM lineitem
    ),
    signs AS (
      SELECT {zs}
      FROM hashed
    ),
    exact AS (
      SELECT CAST(sum(c * c) AS BIGINT) AS f2, CAST(count(*) AS BIGINT) AS n_keys
      FROM (SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY 1)
    ),
    est AS (
      SELECT CAST(median(x) AS DOUBLE) AS f2_est
      FROM (SELECT unnest([{ests}]) AS x FROM signs)
    )
    SELECT exact.f2, exact.n_keys, est.f2_est,
           round(abs(est.f2_est - exact.f2) / exact.f2, 6) AS rel_err
    FROM exact CROSS JOIN est
    """


@query("q304_ams_f2_sketch", oracle=_q304_ams_oracle())
def q304_ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-moment (F2) sketch over lineitem part keys (Alon-
    Matias-Szegedy 1996) — the one-pass self-join-size estimator a
    planner consults before committing to a partkey-partkey join: 16
    independent +-1 sign projections (estimator j reads the parity of hex
    digit j of ONE md5(key) per row — 16 separate hashes benched 2x
    slower — replayed exactly by the oracle), each
    Z_j = sum of signs folding as an exact BIGINT, estimate = median of
    Z_j^2, audited against the exact F2 = sum(c^2) from the full key
    groupBy. Joins the sketch family (HLL counts distinct, KMV sets, CMS
    points, q292 quantiles — this one estimates JOIN SIZES).

    100 TB story: the sketch is ONE scan with 16 map-side-combining
    integer sums — no shuffle wider than 16 cells, while the exact side
    (the audit, not the product) pays the full key-shuffle the sketch
    exists to avoid. Sign-sums are trivially mergeable across executors
    and across corpus shards (add the Z vectors).
    """
    li = _t(spark, sf_dir, "lineitem")
    odd = ("1", "3", "5", "7", "9", "b", "d", "f")
    hashed = li.select(F.md5(F.col("l_partkey").cast("string")).alias("h"))

    def sign(j: int) -> F.Column:
        return (
            F.when(F.substring("h", j + 1, 1).isin(*odd), 1).otherwise(-1)
        )

    signs = hashed.agg(
        *[F.sum(sign(j)).alias(f"z{j}") for j in range(16)]
    )
    exact = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.col("c") * F.col("c")).cast("long").alias("f2"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
        )
    )
    est = (
        signs.select(
            F.explode(
                F.array(
                    *[
                        (F.col(f"z{j}").cast("double") * F.col(f"z{j}")).alias("x")
                        for j in range(16)
                    ]
                )
            ).alias("x")
        )
        .agg(F.expr("median(x)").cast("double").alias("f2_est"))
    )
    return (
        exact.crossJoin(F.broadcast(est))
        .select(
            "f2",
            "n_keys",
            "f2_est",
            F.round(F.abs(F.col("f2_est") - F.col("f2")) / F.col("f2"), 6).alias(
                "rel_err"
            ),
        )
    )


@query(
    "q305_corpus_merkle",
    oracle="""
    WITH leaves AS (
      SELECT doc_id, doc_id % 16 AS bucket, md5(text) AS h
      FROM documents
    ),
    buckets AS (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             md5(string_agg(h, '' ORDER BY doc_id)) AS bucket_hash
      FROM leaves GROUP BY 1
    ),
    root AS (
      SELECT md5(string_agg(bucket_hash, '' ORDER BY bucket)) AS root_hash
      FROM buckets
    )
    SELECT buckets.bucket, buckets.n_docs, buckets.bucket_hash, root.root_hash
    FROM buckets CROSS JOIN root
    """,
)
def q305_corpus_merkle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level Merkle fingerprint of the document corpus: leaf =
    md5(text), 16 id-sharded bucket hashes = md5(leaf hashes concatenated
    in doc_id order), root = md5(bucket hashes in bucket order) — the
    content-addressing layer a 100 TB pipeline versions datasets with:
    two snapshots compare in O(1) at the root, and a mismatch drills down
    BUCKET-BY-BUCKET to localize the changed shard before q193's row-level
    snapshot diff runs. The ordered concatenation is deterministic in both
    engines (sort_array over (doc_id, hash) structs vs string_agg ORDER
    BY), so the fingerprint itself sits in the hash gate.

    100 TB story: one scan, one shuffle onto 16 bucket cells; per-bucket
    state is the sorted leaf-hash stream (in production, buckets are
    file-aligned so each bucket hash folds within its own partition and
    only 16 strings ever move).
    """
    d = _t(spark, sf_dir, "documents")
    leaves = d.select(
        "doc_id", (F.col("doc_id") % 16).alias("bucket"), F.md5("text").alias("h")
    )
    buckets = (
        leaves.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("doc_id"), F.col("h")))
                        ),
                        lambda s: s["h"],
                    ),
                )
            ).alias("bucket_hash"),
        )
    )
    root = buckets.agg(
        F.md5(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("bucket"), F.col("bucket_hash")))
                    ),
                    lambda s: s["bucket_hash"],
                ),
            )
        ).alias("root_hash")
    )
    return buckets.crossJoin(F.broadcast(root))


@query("q306_streaming_sprt_drain")
def q306_streaming_sprt_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SPRT drain twinning the batch monitor q303: the
    purchase-vs-error walk arrives as three sequence-ordered micro-
    batches, the integer state (n, s, frozen decision) folds across them
    (:func:`stateful.streaming_sprt`), and the drained final state must
    reproduce q303's oracle row exactly — pure-integer state makes
    micro-batch boundaries provably invisible. One sequential test, two
    execution models, one hash-checked answer; this is the form the
    monitor actually ships in (an experiment decision service watching
    the live event feed and stopping EARLY).

    Scale notes: five integers of state per experiment key; the drain
    stages narrow (8 state partitions, fresh checkpoint; see
    streaming/drain.py)."""
    import math

    from phoebe_spark.streaming import drain
    from phoebe_spark.streaming.stateful import streaming_sprt

    e = _t(spark, sf_dir, "events")
    s = e.filter(F.col("event_type").isin("purchase", "error")).select(
        F.row_number()
        .over(Window.orderBy("ts", "event_id"))
        .cast("long")
        .alias("i"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
        F.lit("exp1").alias("key"),
    )
    with drain.scratch("q306_") as work:
        src_dir = f"{work}/src"
        n_total = s.count()
        cut1, cut2 = n_total // 3, 2 * n_total // 3
        drain.stage_slices(
            (
                s.filter((F.col("i") > lo_i) & (F.col("i") <= hi_i))
                for lo_i, hi_i in ((0, cut1), (cut1, cut2), (cut2, n_total + 1))
            ),
            src_dir,
        )

        stream = (
            spark.readStream.schema("i LONG, x INT, key STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        out = streaming_sprt(stream, d_threshold=15)
        sink = drain.run(out, work, output_mode="update")

        final = drain.latest(spark.read.parquet(sink)).select(
            F.col("n_obs").cast("long").alias("n_obs"),
            F.col("decision").cast("int").alias("decision"),
            F.round(F.col("d_stop") * float(math.log(11.0 / 9.0)), 6).alias("llr"),
            F.lit(15).cast("long").alias("d_threshold"),
        )
        return final.localCheckpoint(eager=True)


# the streaming drain must reproduce the batch monitor's oracle exactly —
# the integer walk state and the batch window are two forms of one test
ORACLE["q306_streaming_sprt_drain"] = ORACLE["q303_sprt_monitor"]


@query(
    "q307_grouped_conformal",
    oracle="""
    WITH dc AS (
      SELECT event_type AS k, epoch_ns(ts) // 1000000000 // 86400 AS day,
             count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT min(day) AS lo FROM dc),
    grid AS (
      SELECT k, d, lo FROM (SELECT DISTINCT k FROM dc)
      CROSS JOIN (SELECT unnest(generate_series(0, 29)) AS d, lo FROM b)
    ),
    dense AS (
      SELECT g.k, g.d, CAST(coalesce(dc.c, 0) AS BIGINT) AS c
      FROM grid g LEFT JOIN dc ON dc.k = g.k AND dc.day = g.lo + g.d
    ),
    resid AS (
      SELECT a.k, a.d, abs(a.c - p.c) AS r
      FROM dense a JOIN dense p ON p.k = a.k AND p.d = a.d - 7
      WHERE a.d >= 7
    ),
    calib AS (
      SELECT k, r, row_number() OVER (PARTITION BY k ORDER BY r, d) AS rn,
             count(*) OVER (PARTITION BY k) AS n_cal
      FROM resid WHERE d % 2 = 0
    ),
    qh AS (
      SELECT k, r AS q_hat, n_cal FROM calib
      WHERE rn = ((n_cal + 1) * 4 + 4) // 5
    ),
    test AS (SELECT k, r FROM resid WHERE d % 2 = 1)
    SELECT qh.k AS event_type, qh.n_cal,
           CAST(count(*) AS BIGINT) AS n_test,
           qh.q_hat,
           round(avg(CASE WHEN test.r <= qh.q_hat THEN 1.0 ELSE 0.0 END), 6)
             AS coverage,
           CAST(0.8 AS DOUBLE) AS target
    FROM test JOIN qh USING (k)
    GROUP BY 1, 2, 4
    """,
)
def q307_grouped_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED split-conformal intervals — q290's distribution-free
    calibration run per event type in ONE pass (the q274 grouped-Holt
    treatment): every key gets its own calibration order statistic
    (row_number window partitioned by key, integer ceil rank) and its own
    test-split coverage. This is the million-forecasters shape the q290
    docstring promises: per-series interval calibration with NO per-key
    loop, just key-partitioned windows over the residual frame.

    100 TB story: residuals are O(keys x days) from one map-side daily
    rollup; the order statistic is a per-key window over calibration rows
    only; coverage is one grouped aggregate. Nothing is per-key
    driver-side.
    """
    e = _t(spark, sf_dir, "events")
    dc = e.groupBy(
        F.col("event_type").alias("k"),
        F.expr("(ts div 1000000000) div 86400").alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    lo = dc.agg(F.min("day").alias("lo"))
    grid = (
        dc.select("k")
        .distinct()
        .crossJoin(
            F.broadcast(
                lo.select(
                    F.explode(F.sequence(F.lit(0), F.lit(29))).alias("d"), "lo"
                )
            )
        )
    )
    dense = grid.join(
        dc, (grid.k == dc.k) & (grid.lo + grid.d == dc.day), "left"
    ).select(grid.k, grid.d.alias("d"), F.coalesce("c", F.lit(0)).cast("long").alias("c"))
    a = dense.select(F.col("k"), F.col("d").alias("ad"), F.col("c").alias("ac"))
    p = dense.select(
        F.col("k").alias("pk"), F.col("d").alias("pd"), F.col("c").alias("pc")
    )
    resid = (
        a.join(p, (F.col("pk") == F.col("k")) & (F.col("pd") == F.col("ad") - 7))
        .filter(F.col("ad") >= 7)
        .select("k", F.col("ad").alias("d"), F.abs(F.col("ac") - F.col("pc")).alias("r"))
    ).localCheckpoint(eager=True)
    wk = Window.partitionBy("k")
    calib = resid.filter(F.col("d") % 2 == 0).select(
        "k",
        "r",
        F.row_number().over(wk.orderBy("r", "d")).alias("rn"),
        F.count(F.lit(1)).over(wk).alias("n_cal"),
    )
    qh = calib.filter(F.col("rn") == F.expr("((n_cal + 1) * 4 + 4) div 5")).select(
        "k", F.col("r").alias("q_hat"), "n_cal"
    )
    test = resid.filter(F.col("d") % 2 == 1)
    return (
        test.join(F.broadcast(qh), "k")
        .groupBy(F.col("k").alias("event_type"), "n_cal", "q_hat")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.round(
                F.avg(F.when(F.col("r") <= F.col("q_hat"), 1.0).otherwise(0.0)), 6
            ).alias("coverage"),
        )
        .select(
            "event_type",
            "n_cal",
            "n_test",
            "q_hat",
            "coverage",
            F.lit(0.8).alias("target"),
        )
    )


def _q308_landmark_oracle(rounds: int = 4, n_seeds: int = 4) -> str:
    """Generated oracle for q308: per-round min-distance relaxation as
    MATERIALIZED CTEs (each round references the previous twice — the
    q291 exponential-inlining lesson)."""
    ctes = [
        "edges AS MATERIALIZED (SELECT s1 AS src, s2 AS dst FROM co UNION ALL SELECT s2, s1 FROM co)",
        f"seeds AS MATERIALIZED (SELECT DISTINCT src AS seed FROM edges ORDER BY seed LIMIT {n_seeds})",
        "d0 AS MATERIALIZED (SELECT seed, seed AS n, 0 AS dist FROM seeds)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"c{r} AS (SELECT p.seed, e.dst AS n, p.dist + 1 AS dist "
            f"FROM d{r - 1} p JOIN edges e ON e.src = p.n)"
        )
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT seed, n, min(dist) AS dist FROM "
            f"(SELECT * FROM d{r - 1} UNION ALL SELECT * FROM c{r}) GROUP BY 1, 2)"
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {_COGRAPH_SQL},
    {chain}
    SELECT seed, CAST(dist AS BIGINT) AS dist,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM d{rounds} GROUP BY 1, 2
    """


@query("q308_landmark_bfs", oracle=_q308_landmark_oracle())
def q308_landmark_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark BFS distance census over the part co-occurrence graph:
    from the 4 smallest node ids (deterministic landmarks), 4 rounds of
    synchronized min-distance relaxation give each landmark's reach
    census by hop count — the landmark-distance sketch behind graph
    diameter estimation and 2-hop-cover shortest-path indexes (and the
    distance-distribution view the closure BFS q221 doesn't report).
    All-integer distances: nothing to round, both engines agree exactly.

    100 TB story: a round is one frontier-edge equi-join + one grouped
    min shuffled on (seed, node) — frontier-sized, never node-squared;
    landmarks multiply the frame by a CONSTANT 4; localCheckpoint keeps
    plans round-count-independent.
    """
    co = _cograph_edges(spark, sf_dir)
    edges = graph.symmetrize(co).localCheckpoint(eager=True)
    seeds = (
        edges.select(F.col("src").alias("seed"))
        .distinct()
        .orderBy("seed")
        .limit(4)
    )
    d = seeds.select(
        "seed", F.col("seed").alias("n"), F.lit(0).alias("dist")
    ).localCheckpoint(eager=True)
    for _ in range(4):
        cand = d.join(edges, d.n == edges.src).select(
            "seed", F.col("dst").alias("n"), (F.col("dist") + 1).alias("dist")
        )
        d = (
            d.unionByName(cand)
            .groupBy("seed", "n")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return d.groupBy("seed", F.col("dist").cast("long").alias("dist")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


@query(
    "q309_heaps_law",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rk,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
      FROM documents WHERE trim(text) <> ''
    ),
    nn AS (SELECT count(*) AS n_docs FROM ranked),
    toks AS (
      SELECT r.rk, unnest(regexp_split_to_array(trim(d.text), '\\s+')) AS term
      FROM documents d JOIN ranked r USING (doc_id) WHERE trim(d.text) <> ''
    ),
    first_occ AS (SELECT term, min(rk) AS fr FROM toks GROUP BY 1),
    cuts AS (
      SELECT k, (nn.n_docs * k + 9) // 10 AS boundary
      FROM (SELECT unnest(generate_series(1, 10)) AS k) CROSS JOIN nn
    ),
    pts AS (
      SELECT cuts.k,
             CAST((SELECT sum(n_tok) FROM ranked WHERE rk <= cuts.boundary)
                  AS BIGINT) AS tokens,
             CAST((SELECT count(*) FROM first_occ WHERE fr <= cuts.boundary)
                  AS BIGINT) AS types
      FROM cuts
    ),
    lg AS (
      SELECT k, tokens, types,
             CAST(round(ln(tokens), 12) AS DECIMAL(38,12)) AS x,
             CAST(round(ln(types), 12) AS DECIMAL(38,12)) AS y
      FROM pts
    ),
    fit AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 12)
                  AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 12)
                  AS DECIMAL(38,12))) AS DOUBLE) AS sxx
      FROM lg
    )
    SELECT lg.k, lg.tokens, lg.types,
           round((fit.n * fit.sxy - fit.sx * fit.sy)
                 / (fit.n * fit.sxx - fit.sx * fit.sx), 6) + 0.0 AS heaps_beta,
           round(exp((fit.sy - (fit.n * fit.sxy - fit.sx * fit.sy)
                 / (fit.n * fit.sxx - fit.sx * fit.sx) * fit.sx) / fit.n), 6) + 0.0
             AS heaps_k
    FROM lg CROSS JOIN fit
    """,
)
def q309_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (Heaps 1978): distinct-type count
    vs cumulative token count at 10 document-prefix checkpoints, with the
    log-log OLS exponent beta and coefficient K — the curve that tells a
    tokenizer/vocab-sizing pass how fast NEW types keep appearing as the
    corpus grows (beta near 1 = unbounded novelty, small beta = vocabulary
    saturating). Types-at-prefix needs NO per-prefix distinct pass: each
    term's FIRST-occurrence document rank is one groupBy, and
    types(prefix) = count(first_rank <= boundary). Sums in the OLS fold
    as DECIMAL(38,12) of 12-dp-rounded terms (10 points), so both engines
    agree digit-for-digit.

    100 TB story: one tokenize pass feeds doc lengths and first
    occurrences (map-side min); checkpoints are 10 scalars; the fit runs
    on a 10-row frame. Nothing is per-prefix re-scanned.
    """
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    # two-phase bucketed rank on doc_id (1M-id buckets: offsets frame is
    # corpus/2^20-sized, within-bucket windows distributed) — bit-identical
    # to row_number over the naive global window (round-9 guard fix)
    from phoebe_spark.operators.layout import global_rank_by_value

    ranked = (
        global_rank_by_value(
            d.select(
                "doc_id", F.size(text.tokens(F.col("text"))).alias("n_tok"), "text"
            ),
            "doc_id",
            "doc_id",
            descending=False,
            out_col="rk",
            bucket=F.expr("doc_id div 1048576"),
        )
        .select("doc_id", F.col("rk").cast("int").alias("rk"), "n_tok", "text")
        .localCheckpoint(eager=True)
    )
    n_docs = ranked.count()
    toks = ranked.select("rk", F.explode(text.tokens(F.col("text"))).alias("term"))
    first_occ = toks.groupBy("term").agg(F.min("rk").alias("fr"))
    cuts = spark.range(1, 11).select(
        F.col("id").alias("k"),
        ((F.lit(n_docs) * F.col("id") + 9) / 10).cast("long").alias("boundary"),
    )
    lens = ranked.select("rk", "n_tok")
    pts = (
        cuts.join(F.broadcast(lens), F.col("rk") <= F.col("boundary"))
        .groupBy("k", "boundary")
        .agg(F.sum("n_tok").cast("long").alias("tokens"))
        .join(
            cuts.join(F.broadcast(first_occ), F.col("fr") <= F.col("boundary"))
            .groupBy(F.col("k").alias("k2"))
            .agg(F.count(F.lit(1)).cast("long").alias("types")),
            F.col("k") == F.col("k2"),
        )
        .select("k", "tokens", "types")
    )
    lg = pts.select(
        "k",
        "tokens",
        "types",
        F.round(F.log("tokens"), 12).cast("decimal(38,12)").alias("x"),
        F.round(F.log("types"), 12).cast("decimal(38,12)").alias("y"),
    ).localCheckpoint(eager=True)
    fit = lg.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(
            F.round(F.col("x").cast("double") * F.col("y").cast("double"), 12).cast(
                "decimal(38,12)"
            )
        )
        .cast("double")
        .alias("sxy"),
        F.sum(
            F.round(F.col("x").cast("double") * F.col("x").cast("double"), 12).cast(
                "decimal(38,12)"
            )
        )
        .cast("double")
        .alias("sxx"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return lg.crossJoin(F.broadcast(fit)).select(
        "k",
        "tokens",
        "types",
        (F.round(beta, 6) + F.lit(0.0)).alias("heaps_beta"),
        (
            F.round(F.exp((F.col("sy") - beta * F.col("sx")) / F.col("n")), 6)
            + F.lit(0.0)
        ).alias("heaps_k"),
    )


@query(
    "q310_ks_two_sample",
    oracle="""
    WITH s AS (
      SELECT event_type, CAST(user_id % 2 AS INT) AS arm, value AS v
      FROM events WHERE value IS NOT NULL
    ),
    g AS (
      SELECT event_type, v,
             count(*) FILTER (WHERE arm = 0) AS c0,
             count(*) FILTER (WHERE arm = 1) AS c1
      FROM s GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, v,
             sum(c0) OVER w AS f0, sum(c1) OVER w AS f1,
             sum(c0) OVER p AS n0, sum(c1) OVER p AS n1
      FROM g
      WINDOW w AS (PARTITION BY event_type ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             p AS (PARTITION BY event_type)
    ),
    top AS (
      SELECT event_type, v, n0, n1,
             abs(f0 * n1 - f1 * n0) AS dn,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(f0 * n1 - f1 * n0) DESC, v ASC)
               AS rk
      FROM cum
    )
    SELECT event_type,
           CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           round(dn * 1.0 / (n0 * n1), 6) AS ks_d,
           round(v, 6) AS ks_at,
           CASE WHEN dn * 1.0 / (n0 * n1)
                     > 1.358 * sqrt((n0 + n1) * 1.0 / (n0 * n1))
                THEN 1 ELSE 0 END AS reject_h0
    FROM top WHERE rk = 1
    """,
)
def q310_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test per event type between the two
    deterministic A/B arms (user_id parity, the q281 split): D = max over
    the pooled support of |ECDF_0 - ECDF_1|, reported with the value at
    which the gap peaks and the alpha=0.05 decision (c(0.05)=1.358
    two-sample critical value). Completes the q281/q287 two-sample ladder
    with the DISTRIBUTION-level test: Welch sees means, Mann-Whitney sees
    ranks, KS sees any shape difference — the drift test a data pipeline
    runs between yesterday's and today's corpus.

    Exactness: the ECDF gap is kept as the INTEGER cross-product
    |F0*n1 - F1*n0| until the single final division, so the argmax and
    the decision are exact in both engines; the window is a per-type
    frame over DISTINCT values (the documented distinct-value-frame
    exception to the no-global-sort rule).

    100 TB story: one map-side-combining groupBy(type, value) collapses
    the fact table to the distinct-value support before any window; the
    cumulative frame sorts support values per type, never raw rows.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.col("value").alias("v"),
    )
    g = s.groupBy("event_type", "v").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("c1"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = Window.partitionBy("event_type")
    cum = g.select(
        "event_type",
        "v",
        F.sum("c0").over(w).alias("f0"),
        F.sum("c1").over(w).alias("f1"),
        F.sum("c0").over(p).alias("n0"),
        F.sum("c1").over(p).alias("n1"),
    )
    dn = F.abs(F.col("f0") * F.col("n1") - F.col("f1") * F.col("n0"))
    top = cum.select(
        "event_type",
        "v",
        "n0",
        "n1",
        dn.alias("dn"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy(dn.desc(), F.asc("v")))
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    ks = F.col("dn") * 1.0 / (F.col("n0") * F.col("n1"))
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n0") + F.col("n1")) * 1.0 / (F.col("n0") * F.col("n1"))
    )
    return top.select(
        "event_type",
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.round(ks, 6).alias("ks_d"),
        F.round("v", 6).alias("ks_at"),
        F.when(ks > crit, 1).otherwise(0).alias("reject_h0"),
    )


@query(
    "q311_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ns(ts) // 1000000000 // 86400 AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type, sign(b.c - a.c) AS sg
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
    ),
    s AS (
      SELECT event_type, CAST(sum(sg) AS BIGINT) AS s_stat
      FROM pairs GROUP BY 1
    ),
    nn AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM daily GROUP BY 1
    ),
    ties AS (
      SELECT event_type,
             CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT event_type, c, count(*) AS t FROM daily GROUP BY 1, 2)
      WHERE t > 1 GROUP BY 1
    ),
    v AS (
      SELECT nn.event_type, nn.n, s.s_stat,
             (nn.n * (nn.n - 1) * (2 * nn.n + 5)
              - coalesce(ties.tie_term, 0)) / 18.0 AS var_s
      FROM nn JOIN s ON s.event_type = nn.event_type
      LEFT JOIN ties ON ties.event_type = nn.event_type
    )
    SELECT event_type, n AS n_days, s_stat,
           round(var_s, 6) AS var_s,
           round(CASE WHEN var_s = 0 THEN 0.0
                      WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                      WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                      ELSE 0.0 END, 6) + 0.0 AS z,
           CASE WHEN var_s > 0 AND s_stat > 0
                     AND (s_stat - 1) / sqrt(var_s) > 1.96 THEN 'increasing'
                WHEN var_s > 0 AND s_stat < 0
                     AND (s_stat + 1) / sqrt(var_s) < -1.96 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM v
    """,
)
def q311_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall nonparametric trend test (Mann 1945, Kendall 1975)
    per event type over the daily count series: S = sum of pairwise
    signs, tie-corrected variance, and the continuity-corrected normal
    z — the SIGNIFICANCE companion to the Theil-Sen slope (q86: how
    steep; this: is it real). S and the tie term are exact integers,
    var_s an exact rational/18, so both engines agree digit-for-digit.

    100 TB story: the pair join runs on the O(days) per-key AGGREGATE
    (30 rows/key -> 435 pairs/key, bounded however large the fact table
    grows); ties come from one more grouped count of the same rollup.
    """
    e = _t(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "event_type", F.expr("(ts div 1000000000) div 86400").alias("day")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    a = daily.alias("a")
    b = daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(F.sum(F.signum(F.col("b.c") - F.col("a.c")).cast("long")).alias("s_stat"))
    )
    nn = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    v = (
        nn.join(s, "event_type")
        .join(ties, "event_type", "left")
        .select(
            "event_type",
            "n",
            "s_stat",
            (
                (
                    F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                    - F.coalesce(F.col("tie_term"), F.lit(0))
                )
                / 18.0
            ).alias("var_s"),
        )
    )
    z = (
        F.when(F.col("var_s") == 0, F.lit(0.0))
        .when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt("var_s"))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt("var_s"))
        .otherwise(F.lit(0.0))
    )
    return v.select(
        "event_type",
        F.col("n").alias("n_days"),
        "s_stat",
        F.round("var_s", 6).alias("var_s"),
        (F.round(z, 6) + F.lit(0.0)).alias("z"),
        F.when((F.col("var_s") > 0) & (z > 1.96), "increasing")
        .when((F.col("var_s") > 0) & (z < -1.96), "decreasing")
        .otherwise("no_trend")
        .alias("trend"),
    )


@query(
    "q312_jsd_sources",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({_TOKS_SQL}) AS term
      FROM documents WHERE trim(text) <> ''
    ),
    st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n_st
           FROM toks GROUP BY 1, 2),
    ns AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
    ct AS (SELECT term, CAST(sum(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1),
    tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n FROM ct),
    cell AS (
      SELECT st.source,
             st.n_st * 1.0 / ns.n_s AS p,
             ct.n_t * 1.0 / tot.n AS q
      FROM st JOIN ns ON ns.source = st.source
              JOIN ct ON ct.term = st.term
              CROSS JOIN tot
    ),
    agg AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_terms,
             CAST(sum(CAST(round(p * ln(p / ((p + q) / 2)), 12)
                  AS DECIMAL(38,12))) AS DOUBLE) AS kl_p,
             CAST(sum(CAST(round(q * ln(q / ((p + q) / 2)), 12)
                  AS DECIMAL(38,12))) AS DOUBLE) AS kl_q_in,
             CAST(sum(CAST(round(q, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS q_cov
      FROM cell GROUP BY 1
    )
    SELECT agg.source, agg.n_terms, ns.n_s AS n_tokens,
           round(0.5 * kl_p + 0.5 * (kl_q_in + (1 - q_cov) * ln(2)), 6) + 0.0
             AS jsd_nats,
           round((0.5 * kl_p + 0.5 * (kl_q_in + (1 - q_cov) * ln(2))) / ln(2),
                 6) + 0.0 AS jsd_bits
    FROM agg JOIN ns ON ns.source = agg.source
    """,
)
def q312_jsd_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each source's unigram
    distribution and the whole-corpus distribution — the symmetric,
    bounded ([0, ln 2]) cousin of the KL skew signal: a curation
    dashboard ranks sources by how far their token mix sits from the
    corpus mix (high JSD = domain-shifted source worth reweighting;
    cf. the DSIR importance weights, q-family curation.py). Terms the
    source never emits contribute exactly q*ln(2) to KL(Q||M), folded
    closed-form via the source's covered corpus mass — no outer join
    over the full vocabulary per source.

    Determinism: per-term contributions are 12-dp-quantized
    DECIMAL(38,12) folds (the established big-fold policy), so the
    vocabulary-sized sums agree across engines and partitionings.

    100 TB story: three map-side-combining groupBys bounded by
    (source x term), source count, and vocabulary; the scoring join is
    key-to-key on the term — the corpus never self-joins.
    """
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    toks = d.select("source", F.explode(text.tokens(F.col("text"))).alias("term"))
    st = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("n_st"))
    ns = st.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    ct = st.groupBy("term").agg(F.sum("n_st").alias("n_t"))
    tot = ct.agg(F.sum("n_t").alias("n"))
    cell = (
        st.join(ns, "source")
        .join(ct, "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            (F.col("n_st") * 1.0 / F.col("n_s")).alias("p"),
            (F.col("n_t") * 1.0 / F.col("n")).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2
    agg = cell.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(
            F.round(F.col("p") * F.log(F.col("p") / m), 12).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("kl_p"),
        F.sum(
            F.round(F.col("q") * F.log(F.col("q") / m), 12).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("kl_q_in"),
        F.sum(F.round(F.col("q"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("q_cov"),
    )
    ln2 = F.log(F.lit(2.0))
    jsd = 0.5 * F.col("kl_p") + 0.5 * (
        F.col("kl_q_in") + (1 - F.col("q_cov")) * ln2
    )
    return agg.join(ns, "source").select(
        "source",
        "n_terms",
        F.col("n_s").alias("n_tokens"),
        (F.round(jsd, 6) + F.lit(0.0)).alias("jsd_nats"),
        (F.round(jsd / ln2, 6) + F.lit(0.0)).alias("jsd_bits"),
    )


@query(
    "q314_cramers_v",
    oracle="""
    WITH c AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS o
      FROM documents GROUP BY 1, 2
    ),
    langs AS (SELECT DISTINCT lang FROM c),
    srcs AS (SELECT DISTINCT source FROM c),
    grid AS (
      SELECT l.lang, s.source, coalesce(c.o, 0) AS o
      FROM langs l CROSS JOIN srcs s
      LEFT JOIN c ON c.lang = l.lang AND c.source = s.source
    ),
    rt AS (SELECT lang, sum(o) AS r FROM grid GROUP BY 1),
    ctot AS (SELECT source, sum(o) AS col_n FROM grid GROUP BY 1),
    n AS (SELECT sum(o) AS n,
                 CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                 CAST(count(DISTINCT source) AS BIGINT) AS n_sources
          FROM grid),
    chi AS (
      SELECT CAST(sum(CAST(round(
               (g.o - rt.r * ctot.col_n * 1.0 / n.n)
               * (g.o - rt.r * ctot.col_n * 1.0 / n.n)
               / (rt.r * ctot.col_n * 1.0 / n.n), 12)
             AS DECIMAL(38,12))) AS DOUBLE) AS chi2
      FROM grid g JOIN rt ON rt.lang = g.lang
           JOIN ctot ON ctot.source = g.source
           CROSS JOIN n
    )
    SELECT CAST(n.n AS BIGINT) AS n_docs, n.n_langs, n.n_sources,
           round(chi.chi2, 6) AS chi2,
           round(sqrt(chi.chi2 / (n.n * least(n.n_langs - 1,
                                              n.n_sources - 1))), 6)
             AS cramers_v
    FROM chi CROSS JOIN n
    """,
)
def q314_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence + Cramér's V effect size over the
    lang x source contingency table of the documents corpus — the
    one-number answer to "does language mix depend on source?" that a
    mixture-balancing pass checks before reweighting (V near 0 =
    sources share a language profile; near 1 = languages are
    source-segregated). ZERO cells matter: the grid is the full
    langs x sources cross product (bounded, tens of cells) with
    coalesce(0), because an absent pair still contributes E to chi2.

    Determinism: observed counts and marginals are exact integers;
    the per-cell (O-E)^2/E terms fold as 12-dp DECIMAL(38,12).

    100 TB story: one map-side-combining groupBy(lang, source)
    collapses the corpus; everything after runs on the tiny grid.
    """
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    langs = c.select("lang").distinct()
    srcs = c.select("source").distinct()
    grid = (
        langs.crossJoin(srcs)
        .join(c, ["lang", "source"], "left")
        .select("lang", "source", F.coalesce("o", F.lit(0)).alias("o"))
    )
    rt = grid.groupBy("lang").agg(F.sum("o").alias("r"))
    ctot = grid.groupBy("source").agg(F.sum("o").alias("col_n"))
    n = grid.agg(
        F.sum("o").alias("n"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    e_exp = F.col("r") * F.col("col_n") * 1.0 / F.col("n")
    chi = (
        grid.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ctot), "source")
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(
                F.round(
                    (F.col("o") - e_exp) * (F.col("o") - e_exp) / e_exp, 12
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("chi2")
        )
    )
    return chi.crossJoin(F.broadcast(n)).select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("n_langs").cast("long").alias("n_langs"),
        F.col("n_sources").cast("long").alias("n_sources"),
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n")
                    * F.least(F.col("n_langs") - 1, F.col("n_sources") - 1)
                )
            ),
            6,
        ).alias("cramers_v"),
    )


def _q313_ph_oracle(T: int = 30, delta: float = 5.0, lam: float = 200.0) -> str:
    """Generated oracle for q313: the Page-Hinkley recursion unrolled as
    one CTE per day (the Holt/DTW generated-chain treatment). Each step's
    nmean/nu/nminu/nalarm are lateral aliases evaluated left-to-right, so
    the float sequence is identical op for op to the engine-side
    ``aggregate`` fold (mean + (x - mean)/t, then u + x - mean_t - delta,
    both left-associated in both engines)."""
    ctes = [
        "p0_r AS (SELECT k, xs, CAST(0.0 AS DOUBLE) AS mean,"
        " CAST(0.0 AS DOUBLE) AS u, CAST(0.0 AS DOUBLE) AS minu,"
        " CAST(0 AS BIGINT) AS alarm FROM series)"
    ]
    for t in range(1, T + 1):
        ctes.append(
            f"p{t} AS (SELECT k, xs, "
            f"mean + (xs[{t}] - mean) / {t} AS nmean, "
            f"u + xs[{t}] - (mean + (xs[{t}] - mean) / {t}) - {delta} AS nu, "
            f"least(minu, u + xs[{t}] - (mean + (xs[{t}] - mean) / {t})"
            f" - {delta}) AS nminu, "
            f"CASE WHEN alarm = 0 AND (u + xs[{t}] - (mean + (xs[{t}] - mean)"
            f" / {t}) - {delta}) - least(minu, u + xs[{t}] - (mean +"
            f" (xs[{t}] - mean) / {t}) - {delta}) > {lam}"
            f" THEN {t} ELSE alarm END AS nalarm "
            f"FROM p{t - 1}_r)"
        )
        ctes.append(
            f"p{t}_r AS (SELECT k, xs, nmean AS mean, nu AS u,"
            f" nminu AS minu, CAST(nalarm AS BIGINT) AS alarm FROM p{t})"
        )
    chain = ",\n    ".join(ctes)
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
    SELECT k AS event_type, CAST({T} AS BIGINT) AS n_days,
           round(mean, 6) + 0.0 AS mean,
           round(u, 6) + 0.0 AS u,
           round(minu, 6) + 0.0 AS min_u,
           round(u - minu, 6) + 0.0 AS ph_stat,
           alarm AS alarm_day
    FROM p{T}_r
    """


@query("q313_page_hinkley", oracle=_q313_ph_oracle())
def q313_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley mean-shift detector (Page 1954; Hinkley 1971 — the
    standard drift test in streaming-ML monitoring) per event type over
    the 30-day daily count series: the cumulative deviation from the
    RUNNING mean, U_t = U_{t-1} + x_t - mean_t - delta, alarms at the
    first t where U_t - min(U) exceeds lambda — the change detector a
    data pipeline runs on ingest volume per source. The sequential
    recursion folds in ONE codegen `aggregate` over the day array
    engine-side; the oracle replays it as a generated 30-step CTE chain
    with the identical float-op order, so the statistic matches
    digit-for-digit (the q273 Holt treatment applied to drift
    detection). Complements CUSUM (known target mean) with the
    self-calibrating running-mean form.

    100 TB story: input is the O(days) per-key rollup (map-side); the
    fold is a per-row array op — a million series drift-check as one
    groupBy + one codegen aggregate, no iteration joins.
    """
    e = _t(spark, sf_dir, "events")
    T, delta, lam = 30, 5.0, 200.0
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

    def _step(acc, x):
        t = acc["t"] + 1
        nmean = acc["mean"] + (x - acc["mean"]) / t
        nu = acc["u"] + x - nmean - F.lit(delta)
        nminu = F.least(acc["minu"], nu)
        nalarm = (
            F.when((acc["alarm"] == 0) & (nu - nminu > F.lit(lam)), t.cast("long"))
            .otherwise(acc["alarm"])
        )
        return F.struct(
            t.alias("t"),
            nmean.alias("mean"),
            nu.alias("u"),
            nminu.alias("minu"),
            nalarm.alias("alarm"),
        )

    state = F.aggregate(
        F.col("xs"),
        F.struct(
            F.lit(0).cast("long").alias("t"),
            F.lit(0.0).alias("mean"),
            F.lit(0.0).alias("u"),
            F.lit(0.0).alias("minu"),
            F.lit(0).cast("long").alias("alarm"),
        ),
        _step,
    )
    out = series.select(F.col("k").alias("event_type"), state.alias("st"))
    return out.select(
        "event_type",
        F.lit(T).cast("long").alias("n_days"),
        (F.round(F.col("st.mean"), 6) + F.lit(0.0)).alias("mean"),
        (F.round(F.col("st.u"), 6) + F.lit(0.0)).alias("u"),
        (F.round(F.col("st.minu"), 6) + F.lit(0.0)).alias("min_u"),
        (F.round(F.col("st.u") - F.col("st.minu"), 6) + F.lit(0.0)).alias(
            "ph_stat"
        ),
        F.col("st.alarm").alias("alarm_day"),
    )


@query("q315_streaming_page_hinkley_drain", oracle=None)
def q315_streaming_page_hinkley_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Page-Hinkley drift detection drained in the hash-checked
    gate — q313's recursion as a stateful operator
    (:func:`stateful.streaming_page_hinkley`): the per-key daily series
    arrives as three sequence-ordered micro-batches (days 0-9, 10-19,
    20-29), the (t, mean, U, min U, alarm) state folds ACROSS batches,
    and the final state must match q313's generated CTE-chain oracle
    digit-for-digit. Batch array fold and cross-batch stateful stream:
    two execution forms, one drift answer — the q273/q275 equivalence
    class applied to change detection, which is exactly how a corpus
    ingest monitor runs PH continuously instead of re-scanning history.

    Scale: state is 5 scalars per key; each micro-batch does O(new
    rows) work — drift monitoring over unbounded streams at O(1) memory
    per series.
    """
    from phoebe_spark.streaming import drain
    from phoebe_spark.streaming.stateful import streaming_page_hinkley

    e = _t(spark, sf_dir, "events")
    T, delta, lam = 30, 5.0, 200.0
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
    ).select(
        grid.k, grid.d.cast("int").alias("d"), F.coalesce("c", F.lit(0.0)).alias("c")
    )

    with drain.scratch("q315_") as work:
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
        out = streaming_page_hinkley(stream, delta=delta, lam=lam, key_col="k")
        sink = drain.run(out, work, output_mode="update")
        final = drain.latest(spark.read.parquet(sink)).select(
            F.col("key").alias("event_type"),
            F.col("n").alias("n_days"),
            (F.round("mean", 6) + F.lit(0.0)).alias("mean"),
            (F.round("u", 6) + F.lit(0.0)).alias("u"),
            (F.round("min_u", 6) + F.lit(0.0)).alias("min_u"),
            (F.round(F.col("u") - F.col("min_u"), 6) + F.lit(0.0)).alias("ph_stat"),
            F.col("alarm").alias("alarm_day"),
        )
        return final.localCheckpoint(eager=True)


# the streaming drain must reproduce the batch detector's oracle exactly —
# batch array fold and cross-batch state are two forms of one computation
ORACLE["q315_streaming_page_hinkley_drain"] = ORACLE["q313_page_hinkley"]


@query(
    "q316_embedding_isotropy",
    oracle=f"""
    WITH s AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id % 13 = 0 AND vec_id < 130000),
    pr AS (
      SELECT {_PAIR_COS_SQL} AS cs
      FROM s a JOIN s b ON a.vec_id < b.vec_id
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CAST(round(cs, 12) AS DECIMAL(38,12))) AS DOUBLE) AS s1,
             CAST(sum(CAST(round(cs * cs, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS s2,
             CAST(sum(CASE WHEN abs(cs) > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_high
      FROM pr
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_vecs,
           n_pairs,
           round(s1 / n_pairs, 6) + 0.0 AS mean_cos,
           round(sqrt(s2 / n_pairs - (s1 / n_pairs) * (s1 / n_pairs)), 6)
             AS sd_cos,
           round(n_high * 1.0 / n_pairs, 6) AS frac_high
    FROM agg
    """,
)
def q316_embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space isotropy audit (Ethayarajh 2019's anisotropy
    diagnostic): mean, spread, and high-similarity mass of the pairwise
    cosine over a deterministic 1-in-13 id sample — a healthy embedding
    space has mean pairwise cosine near 0; a collapsed/anisotropic one
    (bad pooling, undertrained encoder) drifts toward 1, which silently
    breaks every cosine-thresholded dedup and ANN recall assumption
    downstream. The sample is a modulus cut (no RNG, reproducible),
    HARD-CAPPED at 10k vectors (vec_id < 130000) so the sampled side
    stays broadcastable at ANY corpus size — a rate-only cut would grow
    with the corpus and break the broadcast contract at 100 TB. Per-pair
    cosines fold as 12-dp DECIMAL(38,12) so the quadratic-in-sample
    aggregate is engine- and partitioning-exact.

    100 TB story: the audit is quadratic only in the SAMPLE (154 vecs ->
    ~12k pairs here; the sample rate is the knob) and the sample is tiny
    enough to broadcast — one corpus scan to cut it, zero shuffles on the
    full table.
    """
    emb = _t(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") % 13 == 0) & (F.col("vec_id") < 130000)
    )
    s = emb.select("vec_id", "embedding").localCheckpoint(eager=True)
    a = s.alias("a")
    b = s.alias("b")
    cs = similarity.cosine(F.col("a.embedding"), F.col("b.embedding"))
    pr = a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id")).select(
        cs.alias("cs")
    )
    agg = pr.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.round(F.col("cs"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("s1"),
        F.sum(F.round(F.col("cs") * F.col("cs"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("s2"),
        F.sum(F.when(F.abs("cs") > 0.5, 1).otherwise(0)).alias("n_high"),
    )
    mean = F.col("s1") / F.col("n_pairs")
    return agg.crossJoin(F.broadcast(s.agg(F.count(F.lit(1)).alias("n_vecs")))).select(
        "n_vecs",
        "n_pairs",
        (F.round(mean, 6) + F.lit(0.0)).alias("mean_cos"),
        F.round(F.sqrt(F.col("s2") / F.col("n_pairs") - mean * mean), 6).alias(
            "sd_cos"
        ),
        F.round(F.col("n_high") * 1.0 / F.col("n_pairs"), 6).alias("frac_high"),
    )


def _q317_markov_oracle(K: int = 5, iters: int = 20) -> str:
    """Generated oracle for q317: the power iteration v <- vP unrolled as
    one CTE per round with K literal inner-product chains (left-assoc, so
    the float sequence matches the engine's explicit-sum fold), each
    component 12-dp-rounded per round so drift cannot compound."""
    ctes = [
        "s0 AS (SELECT parr, ["
        + ", ".join([f"CAST({1.0 / K} AS DOUBLE)"] * K)
        + "] AS v FROM pm)"
    ]
    for t in range(1, iters + 1):
        comps = []
        for j in range(1, K + 1):
            chain = " + ".join(
                f"v[{i}] * parr[{(i - 1) * K + j}]" for i in range(1, K + 1)
            )
            comps.append(f"round({chain}, 12)")
        ctes.append(
            f"s{t} AS (SELECT parr, [" + ", ".join(comps) + f"] AS v FROM s{t - 1})"
        )
    chain_sql = ",\n    ".join(ctes)
    return f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_ns(ts), event_id) AS nxt
      FROM events
    ),
    tc AS (SELECT event_type AS src, nxt AS dst, CAST(count(*) AS BIGINT) AS c
           FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
    types AS (SELECT t, row_number() OVER (ORDER BY t) AS idx
              FROM (SELECT DISTINCT event_type AS t FROM events)),
    grid AS (
      SELECT i.idx AS i, j.idx AS j, coalesce(tc.c, 0) AS c
      FROM types i CROSS JOIN types j
      LEFT JOIN tc ON tc.src = i.t AND tc.dst = j.t
    ),
    rowtot AS (SELECT i, sum(c) AS tot FROM grid GROUP BY 1),
    cells AS (SELECT g.i, g.j, g.c * 1.0 / r.tot AS p,
                     (g.i - 1) * {K} + g.j AS pos
              FROM grid g JOIN rowtot r ON r.i = g.i),
    pm AS (SELECT list(p ORDER BY pos) AS parr FROM cells),
    {chain_sql},
    freq AS (SELECT event_type AS t, count(*) * 1.0 AS cnt FROM events GROUP BY 1),
    ftot AS (SELECT sum(cnt) AS n FROM freq)
    SELECT types.t AS event_type,
           round(v[types.idx], 6) + 0.0 AS stationary_prob,
           round(freq.cnt / ftot.n, 6) AS empirical_share
    FROM s{iters} CROSS JOIN types
    JOIN freq ON freq.t = types.t CROSS JOIN ftot
    """


@query("q317_markov_stationary", oracle=_q317_markov_oracle())
def q317_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain:
    transition counts from each user's time-ordered event sequence (the
    q130 matrix), then 20 rounds of the power iteration v <- vP folded in
    ONE codegen `aggregate` over a 5x5 row-stochastic matrix carried as a
    25-element array — the long-run behavioral mix the chain converges
    to, reported beside the raw empirical share (a gap between them
    flags non-ergodic usage: states over-represented by heavy sessions
    vs states that are sticky in the dynamics). Each component is
    12-dp-rounded per round (the graph-ladder determinism policy), so
    20 iterations stay engine-exact; the oracle replays the identical
    left-associated inner-product chains.

    100 TB story: ONE corpus-scale window (user, time) builds the
    transition pairs; everything after runs on the K x K aggregate —
    the iteration is a single-row array fold, corpus-size-independent.
    """
    e = _t(spark, sf_dir, "events")
    K, iters = 5, 20
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
    # the fold and the generated oracle both bake K into their literal
    # expression chains — fail loudly if the fixture's support drifts,
    # instead of both sides computing identically mis-indexed vectors
    # and parity staying green on a wrong statistic (ADVICE r8)
    n_types = types.count()
    if n_types != K:
        raise ValueError(
            f"q317 assumes exactly K={K} event types; fixture has {n_types}"
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
    cells = grid.join(rowtot, "i").select(
        ((F.col("i") - 1) * K + F.col("j")).alias("pos"),
        (F.col("c") * 1.0 / F.col("tot")).alias("p"),
    )
    pm = cells.agg(
        F.array_sort(F.collect_list(F.struct("pos", "p"))).getField("p").alias("parr")
    )

    def _step(acc, _):
        comps = []
        for j in range(1, K + 1):
            expr = F.element_at(acc, 1) * F.element_at(F.col("parr"), j)
            for i in range(2, K + 1):
                expr = expr + F.element_at(acc, i) * F.element_at(
                    F.col("parr"), (i - 1) * K + j
                )
            comps.append(F.round(expr, 12))
        return F.array(*comps)

    v = F.aggregate(
        F.sequence(F.lit(1), F.lit(iters)),
        F.array(*[F.lit(1.0 / K)] * K),
        _step,
    )
    st = pm.select(v.alias("v"))
    freq = (
        e.groupBy(F.col("event_type").alias("t"))
        .agg((F.count(F.lit(1)) * 1.0).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    ftot = freq.agg(F.sum("cnt").alias("n"))
    return (
        st.crossJoin(F.broadcast(types))
        .join(F.broadcast(freq), "t")
        .crossJoin(F.broadcast(ftot))
        .select(
            F.col("t").alias("event_type"),
            (F.round(F.element_at(F.col("v"), F.col("idx")), 6) + F.lit(0.0)).alias(
                "stationary_prob"
            ),
            F.round(F.col("cnt") / F.col("n"), 6).alias("empirical_share"),
        )
    )


@query(
    "q318_psi_drift",
    oracle="""
    WITH s AS (
      SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
             least(greatest(CAST(floor(value / 50) AS INT), 0), 9) AS bin
      FROM events WHERE value IS NOT NULL
    ),
    bins AS (SELECT unnest(generate_series(0, 9)) AS bin),
    keys AS (SELECT DISTINCT event_type FROM s),
    grid AS (
      SELECT k.event_type, b.bin,
             coalesce(sum(CASE WHEN s.arm = 0 THEN 1 ELSE 0 END), 0) + 0.5
               AS c0,
             coalesce(sum(CASE WHEN s.arm = 1 THEN 1 ELSE 0 END), 0) + 0.5
               AS c1
      FROM keys k CROSS JOIN bins b
      LEFT JOIN s ON s.event_type = k.event_type AND s.bin = b.bin
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, sum(c0) AS n0, sum(c1) AS n1 FROM grid GROUP BY 1
    ),
    contrib AS (
      SELECT g.event_type,
             (g.c0 / t.n0 - g.c1 / t.n1)
               * ln((g.c0 / t.n0) / (g.c1 / t.n1)) AS x
      FROM grid g JOIN tot t ON t.event_type = g.event_type
    )
    SELECT event_type,
           CAST(10 AS BIGINT) AS n_bins,
           round(CAST(sum(CAST(round(x, 12) AS DECIMAL(38,12))) AS DOUBLE), 6)
             + 0.0 AS psi,
           CASE WHEN CAST(sum(CAST(round(x, 12) AS DECIMAL(38,12))) AS DOUBLE)
                     > 0.2 THEN 1 ELSE 0 END AS drifted
    FROM contrib GROUP BY 1
    """,
)
def q318_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type between the two
    deterministic A/B arms — the standard production drift score for a
    feature distribution (PSI < 0.1 stable, > 0.2 drifted): fixed-width
    bins over the value domain (10 x 50, clamped — fixed edges keep both
    engines' binning exact-integer, where quantile edges would hang
    engine-specific interpolation into the gate), 0.5 Laplace smoothing
    so empty bins stay finite, per-bin contributions folded as 12-dp
    DECIMAL(38,12). Completes the drift ladder: KS (q310) tests, PSI
    scores, Page-Hinkley (q313/q315) watches.

    100 TB story: one map-side-combining groupBy(type, arm, bin) is the
    only corpus-scale shuffle; the PSI fold runs on the 10-cell grid.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.least(
            F.greatest(F.floor(F.col("value") / 50).cast("int"), F.lit(0)),
            F.lit(9),
        ).alias("bin"),
    )
    keys = s.select("event_type").distinct()
    bins = spark.range(0, 10).select(F.col("id").cast("int").alias("bin"))
    counted = s.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("r0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("r1"),
    )
    grid = (
        keys.crossJoin(F.broadcast(bins))
        .join(counted, ["event_type", "bin"], "left")
        .select(
            "event_type",
            "bin",
            (F.coalesce("r0", F.lit(0)) + 0.5).alias("c0"),
            (F.coalesce("r1", F.lit(0)) + 0.5).alias("c1"),
        )
        .localCheckpoint(eager=True)
    )
    tot = grid.groupBy("event_type").agg(
        F.sum("c0").alias("n0"), F.sum("c1").alias("n1")
    )
    j = grid.join(tot, "event_type")
    p = F.col("c0") / F.col("n0")
    q = F.col("c1") / F.col("n1")
    x = (p - q) * F.log(p / q)
    psi = (
        F.sum(F.round(x, 12).cast("decimal(38,12)")).cast("double")
    )
    return j.groupBy("event_type").agg(
        F.lit(10).cast("long").alias("n_bins"),
        (F.round(psi, 6) + F.lit(0.0)).alias("psi"),
        F.when(psi > 0.2, 1).otherwise(0).alias("drifted"),
    )


@query(
    "q319_cramer_von_mises",
    oracle="""
    WITH s AS (
      SELECT event_type, CAST(user_id % 2 AS INT) AS arm, value AS v
      FROM events WHERE value IS NOT NULL
    ),
    g AS (
      SELECT event_type, v,
             count(*) FILTER (WHERE arm = 0) AS c0,
             count(*) FILTER (WHERE arm = 1) AS c1
      FROM s GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, c0 + c1 AS cnt,
             sum(c0) OVER w AS f0, sum(c1) OVER w AS f1,
             sum(c0) OVER p AS n0, sum(c1) OVER p AS n1
      FROM g
      WINDOW w AS (PARTITION BY event_type ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             p AS (PARTITION BY event_type)
    ),
    agg AS (
      SELECT event_type, n0, n1,
             CAST(sum(CAST(round(
               cnt * ((f0 * n1 - f1 * n0) * 1.0 / (n0 * n1))
                   * ((f0 * n1 - f1 * n0) * 1.0 / (n0 * n1)), 12)
             AS DECIMAL(38,12))) AS DOUBLE) AS s2
      FROM cum GROUP BY 1, 2, 3
    )
    SELECT event_type,
           CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           round(n0 * n1 * 1.0 / ((n0 + n1) * (n0 + n1)) * s2, 6) AS cvm_t
    FROM agg
    """,
)
def q319_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises statistic per event type between the
    A/B arms (Anderson 1962): T = n0*n1/N^2 * sum over pooled
    observations of (ECDF_0 - ECDF_1)^2 — the L2 companion to q310's
    sup-norm KS, more sensitive to distributed (non-local) shape
    differences. The ECDF gap stays the exact integer cross-product
    f0*n1 - f1*n0 until one division; per-value contributions (weighted
    by pooled multiplicity) fold as 12-dp DECIMAL(38,12).

    100 TB story: identical shape to q310 — one map-side-combining
    groupBy(type, value) to the distinct-value support, one per-type
    cumulative frame over that support, one grouped fold.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.col("value").alias("v"),
    )
    g = s.groupBy("event_type", "v").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("c1"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = Window.partitionBy("event_type")
    cum = g.select(
        "event_type",
        (F.col("c0") + F.col("c1")).alias("cnt"),
        F.sum("c0").over(w).alias("f0"),
        F.sum("c1").over(w).alias("f1"),
        F.sum("c0").over(p).alias("n0"),
        F.sum("c1").over(p).alias("n1"),
    )
    gap = (F.col("f0") * F.col("n1") - F.col("f1") * F.col("n0")) * 1.0 / (
        F.col("n0") * F.col("n1")
    )
    agg = cum.groupBy("event_type", "n0", "n1").agg(
        F.sum(F.round(F.col("cnt") * gap * gap, 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("s2")
    )
    return agg.select(
        "event_type",
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.round(
            F.col("n0")
            * F.col("n1")
            * 1.0
            / ((F.col("n0") + F.col("n1")) * (F.col("n0") + F.col("n1")))
            * F.col("s2"),
            6,
        ).alias("cvm_t"),
    )


@query(
    "q320_hybrid_retrieval",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
                  WHERE trim(text) <> ''),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, round(avg(dl), 6) AS avgdl FROM dl),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           WHERE term IN ('spark', 'window', 'hash') GROUP BY 1, 2),
    dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    sc AS (SELECT tf.doc_id,
                  CAST(round(ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                       * tf.tf * (1.2 + 1)
                       / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl)), 6)
                       AS DECIMAL(18,6)) AS c
           FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s),
    bm AS (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS bm25 FROM sc GROUP BY 1),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT bm.doc_id, bm.bm25, {_COS_SQL} AS cs
      FROM bm JOIN embeddings e ON e.vec_id = bm.doc_id CROSS JOIN q
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(bm25, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sb,
             CAST(sum(CAST(round(bm25 * bm25, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sb2,
             CAST(sum(CAST(round(cs, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sc1,
             CAST(sum(CAST(round(cs * cs, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sc2
      FROM cand
    ),
    z AS (
      SELECT c.doc_id, c.bm25, c.cs,
             0.5 * ((c.bm25 - m.sb / m.n)
                    / sqrt(greatest(m.sb2 / m.n - (m.sb / m.n) * (m.sb / m.n), 1e-300)))
             + 0.5 * ((c.cs - m.sc1 / m.n)
                    / sqrt(greatest(m.sc2 / m.n - (m.sc1 / m.n) * (m.sc1 / m.n), 1e-300)))
               AS hybrid
      FROM cand c CROSS JOIN mom m
    ),
    rk AS (SELECT doc_id, bm25, cs, hybrid,
                  row_number() OVER (ORDER BY hybrid DESC, doc_id ASC) AS rank
           FROM z)
    SELECT CAST(rank AS INT) AS rank, doc_id,
           round(bm25, 6) AS bm25,
           round(cs, 6) + 0.0 AS cos_sim,
           round(hybrid, 6) + 0.0 AS hybrid
    FROM rk WHERE rank <= 10
    """,
)
def q320_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical-dense retrieval with z-score fusion: Okapi BM25 for
    the literal query {spark, window, hash} and cosine similarity to the
    vec_id=0 query embedding (docs paired to vectors by doc_id = vec_id,
    the corpus convention), each z-normalized over the candidate set and
    averaged 50/50 — the calibrated-score alternative to q90's
    rank-based RRF, sensitive to score MARGINS where RRF only sees
    order. Candidates are docs matching >= 1 query term that have an
    embedding; score moments fold as 12-dp DECIMAL(38,12) so the
    normalization is engine- and partitioning-exact; top-10 with
    doc_id tiebreak.

    100 TB story: BM25's shuffles are bounded by matched postings and
    the vocabulary; the dense score is one equi-join on the candidate
    ids (never a corpus self-join); the fusion normalizes over the
    candidate aggregate only. TakeOrdered handles the top-k without a
    global sort.
    """
    d = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    bm = text.bm25_scores(d, terms=("spark", "window", "hash"))
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cand = (
        bm.join(emb, bm.doc_id == emb.vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            "bm25",
            similarity.cosine(F.col("embedding"), F.col("qv")).alias("cs"),
        )
        .localCheckpoint(eager=True)
    )
    mom = cand.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("bm25", 12).cast("decimal(38,12)")).cast("double").alias("sb"),
        F.sum(F.round(F.col("bm25") * F.col("bm25"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sb2"),
        F.sum(F.round("cs", 12).cast("decimal(38,12)")).cast("double").alias("sc1"),
        F.sum(F.round(F.col("cs") * F.col("cs"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sc2"),
    )
    mb = F.col("sb") / F.col("n")
    mc = F.col("sc1") / F.col("n")
    sdb = F.sqrt(F.greatest(F.col("sb2") / F.col("n") - mb * mb, F.lit(1e-300)))
    sdc = F.sqrt(F.greatest(F.col("sc2") / F.col("n") - mc * mc, F.lit(1e-300)))
    hybrid = 0.5 * ((F.col("bm25") - mb) / sdb) + 0.5 * ((F.col("cs") - mc) / sdc)
    z = cand.crossJoin(F.broadcast(mom)).select(
        "doc_id", "bm25", "cs", hybrid.alias("hybrid")
    )
    # distributed top-k (TakeOrdered), then rank the 10-row result — a
    # global rank window over the candidate set would single-partition
    # sort a corpus-rate frame at scale
    top10 = z.orderBy(F.col("hybrid").desc(), F.asc("doc_id")).limit(10)
    rk = top10.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("hybrid").desc(), F.asc("doc_id")))
        .alias("rank"),
    )
    return rk.select(
        F.col("rank").cast("int").alias("rank"),
        "doc_id",
        F.round("bm25", 6).alias("bm25"),
        (F.round("cs", 6) + F.lit(0.0)).alias("cos_sim"),
        (F.round("hybrid", 6) + F.lit(0.0)).alias("hybrid"),
    )


def _q321_mmr_oracle(K: int = 20, picks: int = 10, lam: float = 0.7) -> str:
    """Generated oracle for q321: the greedy MMR selection unrolled as one
    CTE per pick. Each step computes the K candidate scores as LITERAL
    expressions (selected candidates masked with a -1e308 sentinel; the
    max-sim-to-selected term is a single-level list_transform over the
    sel list), takes their greatest, and picks the FIRST index attaining
    it (explicit CASE chain = smallest-index tie-break) — the identical
    expression set the engine fold evaluates, so every float compare
    matches."""

    def score(i: int) -> str:
        return (
            f"CASE WHEN list_contains(sel, {i}) THEN -1e308 ELSE "
            f"{lam} * rel[{i}] - {1 - lam} * coalesce(list_max("
            f"list_transform(sel, j -> sim[{(i - 1) * K} + j])), 0.0) END"
        )

    ctes = ["m0 AS (SELECT rel, sim, ids, CAST([] AS INT[]) AS sel FROM mat)"]
    for t in range(1, picks + 1):
        sc = ", ".join(f"{score(i)} AS s{i}" for i in range(1, K + 1))
        gr = "greatest(" + ", ".join(f"s{i}" for i in range(1, K + 1)) + ")"
        pick = (
            "CASE "
            + " ".join(f"WHEN s{i} = m THEN {i}" for i in range(1, K + 1))
            + " END"
        )
        ctes.append(f"m{t}a AS (SELECT rel, sim, ids, sel, {sc} FROM m{t - 1})")
        ctes.append(f"m{t}b AS (SELECT rel, sim, ids, sel, {gr} AS m, * FROM m{t}a)")
        ctes.append(
            f"m{t} AS (SELECT rel, sim, ids,"
            f" list_append(sel, {pick}) AS sel FROM m{t}b)"
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    relv AS (
      SELECT e.vec_id, e.embedding, {_COS_SQL} AS rel
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
    ),
    cand AS (
      SELECT vec_id, embedding, rel,
             row_number() OVER (ORDER BY rel DESC, vec_id ASC) AS idx
      FROM relv QUALIFY idx <= {K}
    ),
    pairs AS (
      SELECT a.idx AS i, b.idx AS j, {_PAIR_COS_SQL} AS s
      FROM cand a CROSS JOIN cand b
    ),
    mat AS (
      SELECT (SELECT list(rel ORDER BY idx) FROM cand) AS rel,
             (SELECT list(s ORDER BY i * {K} + j) FROM pairs) AS sim,
             (SELECT list(vec_id ORDER BY idx) FROM cand) AS ids
    ),
    {chain}
    SELECT CAST(u.pos AS INT) AS rank,
           ids[sel[u.pos]] AS vec_id,
           round(rel[sel[u.pos]], 6) AS relevance
    FROM m{picks}, unnest(generate_series(1, {picks})) AS u(pos)
    """


@query("q321_mmr_rerank", oracle=_q321_mmr_oracle())
def q321_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
    of the vec_id=0 query's top-20 cosine candidates: greedily pick 10,
    each step maximizing lambda*relevance - (1-lambda)*max-similarity-to-
    already-selected (lambda=0.7) — the diversity-aware re-rank a RAG
    stack runs so the context window isn't five copies of the same
    passage. The greedy recursion folds in ONE codegen `aggregate` over a
    10-step sequence, carrying the selected-index list; candidate scores
    are the same literal expression set the generated oracle chain
    evaluates (selected mask = -1e308 sentinel, greatest(), first-index
    tie-break), so every pick matches digit-for-digit.

    100 TB story: relevance is one corpus scan + TakeOrdered(20); the
    20x20 similarity matrix and the 10-step greedy run on a single-row
    array — re-ranking cost is independent of corpus size, the standard
    two-stage retrieve-then-rerank shape.
    """
    K, picks, lam = 20, 10, 0.7
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    relv = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            similarity.cosine(F.col("embedding"), F.col("qv")).alias("rel"),
        )
    )
    # distributed top-K (TakeOrderedAndProject), then rank the K-row
    # result — q320's exact shape; a global rank window over the
    # corpus-rate relevance frame would single-partition sort every
    # embedding row at scale (round-8 verdict fix)
    top = relv.orderBy(F.col("rel").desc(), F.asc("vec_id")).limit(K)
    cand = (
        top.select(
            "*",
            F.row_number()
            .over(Window.orderBy(F.col("rel").desc(), F.asc("vec_id")))
            .alias("idx"),
        )
        .localCheckpoint(eager=True)
    )
    a = cand.alias("a")
    b = cand.alias("b")
    pairs = a.join(F.broadcast(b), how="cross").select(
        F.col("a.idx").alias("i"),
        F.col("b.idx").alias("j"),
        similarity.cosine(F.col("a.embedding"), F.col("b.embedding")).alias("s"),
    )
    mat = (
        cand.agg(
            F.array_sort(F.collect_list(F.struct("idx", "rel")))
            .getField("rel")
            .alias("rel"),
            F.array_sort(F.collect_list(F.struct("idx", F.col("vec_id"))))
            .getField("vec_id")
            .alias("ids"),
        )
        .crossJoin(
            F.broadcast(
                pairs.agg(
                    F.array_sort(
                        F.collect_list(F.struct((F.col("i") * K + F.col("j")).alias("pos"), "s"))
                    )
                    .getField("s")
                    .alias("sim")
                )
            )
        )
    )

    def _score(sel, i: int):
        max_sim = F.array_max(
            F.transform(
                sel, lambda j: F.element_at(F.col("sim"), F.lit((i - 1) * K) + j)
            )
        )
        return F.when(F.array_contains(sel, i), F.lit(-1e308)).otherwise(
            F.lit(lam) * F.element_at(F.col("rel"), i)
            - F.lit(1 - lam) * F.coalesce(max_sim, F.lit(0.0))
        )

    def _step(sel, _):
        scores = [_score(sel, i) for i in range(1, K + 1)]
        m = F.greatest(*scores)
        pick = None
        for i in range(1, K + 1):
            cond = scores[i - 1] == m
            pick = F.when(cond, i) if pick is None else pick.when(cond, i)
        return F.concat(sel, F.array(pick))

    sel = F.aggregate(
        F.sequence(F.lit(1), F.lit(picks)),
        F.array().cast("array<int>"),
        _step,
    )
    out = mat.select("rel", "ids", sel.alias("sel"))
    return out.select(
        F.explode(F.sequence(F.lit(1), F.lit(picks))).alias("rank"),
        "rel",
        "ids",
        "sel",
    ).select(
        F.col("rank").cast("int").alias("rank"),
        F.element_at(F.col("ids"), F.element_at(F.col("sel"), F.col("rank"))).alias(
            "vec_id"
        ),
        F.round(
            F.element_at(F.col("rel"), F.element_at(F.col("sel"), F.col("rank"))), 6
        ).alias("relevance"),
    )


@query(
    "q322_mahalanobis_outliers",
    oracle="""
    WITH s AS (
      SELECT event_id, event_type, value AS x1,
             CAST((epoch_ns(ts) // 1000000000 // 3600) % 24 AS DOUBLE) AS x2
      FROM events WHERE value IS NOT NULL
    ),
    mom AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(x1, 12) AS DECIMAL(38,12))) AS DOUBLE) AS s1,
             CAST(sum(CAST(round(x2, 12) AS DECIMAL(38,12))) AS DOUBLE) AS s2,
             CAST(sum(CAST(round(x1 * x1, 12) AS DECIMAL(38,12))) AS DOUBLE) AS s11,
             CAST(sum(CAST(round(x2 * x2, 12) AS DECIMAL(38,12))) AS DOUBLE) AS s22,
             CAST(sum(CAST(round(x1 * x2, 12) AS DECIMAL(38,12))) AS DOUBLE) AS s12
      FROM s GROUP BY 1
    ),
    cov AS (
      SELECT event_type, n,
             s1 / n AS m1, s2 / n AS m2,
             s11 / n - (s1 / n) * (s1 / n) AS c11,
             s22 / n - (s2 / n) * (s2 / n) AS c22,
             s12 / n - (s1 / n) * (s2 / n) AS c12
      FROM mom
    ),
    d AS (
      SELECT s.event_type, c.n,
             ((s.x1 - c.m1) * (c.c22 * (s.x1 - c.m1) - c.c12 * (s.x2 - c.m2))
              + (s.x2 - c.m2) * (c.c11 * (s.x2 - c.m2) - c.c12 * (s.x1 - c.m1)))
             / (c.c11 * c.c22 - c.c12 * c.c12) AS d2
      FROM s JOIN cov c ON c.event_type = s.event_type
    )
    SELECT event_type, n,
           CAST(sum(CASE WHEN d2 > 13.8155 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           round(max(d2), 6) AS max_d2
    FROM d GROUP BY 1, 2
    """,
)
def q322_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outlier census per event type: squared Mahalanobis
    distance of each event's (value, hour-of-day) pair from the type's
    own 2D distribution, counted against the chi-square(2, 0.999) cut
    13.8155 — the correlation-aware anomaly gate (a value normal at 14:00
    can be an outlier at 03:00) that completes the per-feature z-score
    family. The covariance comes from 12-dp DECIMAL-folded moments (one
    pass); the 2x2 inverse is closed-form inside the distance expression,
    written identically in both engines.

    100 TB story: one map-side-combining moments pass, one broadcast of
    the 5-row covariance table back over the scan — two corpus scans,
    zero corpus-scale shuffles, no per-row matrix library.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.select(
        "event_type",
        F.col("value").alias("x1"),
        (F.expr("((ts div 1000000000) div 3600) % 24")).cast("double").alias("x2"),
    )
    mom = s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("x1", 12).cast("decimal(38,12)")).cast("double").alias("s1"),
        F.sum(F.round("x2", 12).cast("decimal(38,12)")).cast("double").alias("s2"),
        F.sum(F.round(F.col("x1") * F.col("x1"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("s11"),
        F.sum(F.round(F.col("x2") * F.col("x2"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("s22"),
        F.sum(F.round(F.col("x1") * F.col("x2"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("s12"),
    )
    cov = mom.select(
        "event_type",
        "n",
        (F.col("s1") / F.col("n")).alias("m1"),
        (F.col("s2") / F.col("n")).alias("m2"),
        (F.col("s11") / F.col("n") - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n"))).alias("c11"),
        (F.col("s22") / F.col("n") - (F.col("s2") / F.col("n")) * (F.col("s2") / F.col("n"))).alias("c22"),
        (F.col("s12") / F.col("n") - (F.col("s1") / F.col("n")) * (F.col("s2") / F.col("n"))).alias("c12"),
    )
    j = s.join(F.broadcast(cov), "event_type")
    dx1 = F.col("x1") - F.col("m1")
    dx2 = F.col("x2") - F.col("m2")
    d2 = (
        dx1 * (F.col("c22") * dx1 - F.col("c12") * dx2)
        + dx2 * (F.col("c11") * dx2 - F.col("c12") * dx1)
    ) / (F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12"))
    return j.select("event_type", "n", d2.alias("d2")).groupBy(
        "event_type", "n"
    ).agg(
        F.sum(F.when(F.col("d2") > 13.8155, 1).otherwise(0)).alias("n_outliers"),
        F.round(F.max("d2"), 6).alias("max_d2"),
    )


@query(
    "q323_robust_zscore_mad",
    oracle="""
    WITH s AS (
      SELECT event_type, value AS v FROM events WHERE value IS NOT NULL
    ),
    g AS (SELECT event_type, v, count(*) AS cnt FROM s GROUP BY 1, 2),
    cum AS (
      SELECT event_type, v, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM g
    ),
    med AS (
      SELECT event_type, min(v) AS median, min(n) AS n
      FROM cum WHERE cum >= (n + 1) // 2 GROUP BY 1
    ),
    a AS (
      SELECT g.event_type, abs(g.v - m.median) AS av, g.cnt
      FROM g JOIN med m ON m.event_type = g.event_type
    ),
    ag AS (SELECT event_type, av, sum(cnt) AS cnt FROM a GROUP BY 1, 2),
    acum AS (
      SELECT event_type, av, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY av
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM ag
    ),
    mad AS (
      SELECT event_type, min(av) AS mad
      FROM acum WHERE cum >= (n + 1) // 2 GROUP BY 1
    )
    SELECT m.event_type,
           CAST(m.n AS BIGINT) AS n,
           round(m.median, 6) AS median,
           round(d.mad, 6) AS mad,
           CAST(CASE WHEN d.mad = 0 THEN 0 ELSE (
             SELECT sum(CASE WHEN abs(0.6745 * (g.v - m.median) / d.mad) > 3.5
                             THEN g.cnt ELSE 0 END)
             FROM g WHERE g.event_type = m.event_type
           ) END AS BIGINT) AS n_outliers
    FROM med m JOIN mad d ON d.event_type = m.event_type
    """,
)
def q323_robust_zscore_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per event type by modified z-score
    (Iglewicz & Hoaglin 1993): 0.6745 * (x - median) / MAD with the
    |z| > 3.5 cut — the anomaly gate that, unlike mean/stddev (q322's
    moment-based cousin), does not let the outliers it hunts inflate
    their own threshold. Median and MAD are LOWER order statistics read
    off cumulative counts over the distinct-value support (exact
    integers, no interpolation to diverge between engines — disclosed
    lower-median convention).

    100 TB story: the fact table collapses to (type, value) counts once
    (map-side combine); medians come from cumulative frames over that
    distinct-value support (the documented distinct-value-frame
    exception), and the outlier count re-uses the same counted support —
    no raw-row sorting anywhere.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = (
        e.groupBy("event_type", F.col("value").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = Window.partitionBy("event_type")
    cum = g.select(
        "event_type",
        "v",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(p).alias("n"),
    )
    med = (
        cum.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("event_type")
        .agg(F.min("v").alias("median"), F.min("n").alias("n"))
        .localCheckpoint(eager=True)
    )
    a = g.join(F.broadcast(med), "event_type").groupBy(
        "event_type", F.abs(F.col("v") - F.col("median")).alias("av")
    ).agg(F.sum("cnt").alias("cnt"))
    wa = (
        Window.partitionBy("event_type")
        .orderBy("av")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    acum = a.select(
        "event_type",
        "av",
        "cnt",
        F.sum("cnt").over(wa).alias("cum"),
        F.sum("cnt").over(p).alias("n"),
    )
    mad = (
        acum.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("event_type")
        .agg(F.min("av").alias("mad"))
    )
    stats = med.join(mad, "event_type")
    z = F.abs(
        F.lit(0.6745) * (F.col("v") - F.col("median")) / F.col("mad")
    )
    outl = (
        g.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    (F.col("mad") != 0) & (z > 3.5), F.col("cnt")
                ).otherwise(0)
            ).alias("n_outliers")
        )
    )
    return stats.join(outl, "event_type").select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("median", 6).alias("median"),
        F.round("mad", 6).alias("mad"),
        F.col("n_outliers").cast("long").alias("n_outliers"),
    )


@query("q324_streaming_psi_drain", oracle=None)
def q324_streaming_psi_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Population Stability Index drained in the hash-checked
    gate — q318's bin counts accumulated ACROSS micro-batches in the
    state store (:func:`stateful.streaming_bin_counts`): the per-(type,
    bin, arm) pre-counts arrive as three event-time-sliced micro-batches,
    the two 10-bin count vectors ADD per key across batches, and the
    final drained vectors feed the identical PSI arithmetic — hash-
    matching q318's DuckDB oracle. Where the Holt/Page-Hinkley drains
    certify ORDER-SENSITIVE cross-batch recursions, this one certifies
    the COMMUTATIVE-state contract: batch boundaries and arrival order
    provably cannot move the score, which is why a PSI monitor can run
    continuously on a shuffled feed.

    Scale: state is 20 longs per key; each micro-batch does O(new bins)
    work — continuous drift scoring at O(1) memory per monitored stream.
    """
    from phoebe_spark.streaming import drain
    from phoebe_spark.streaming.stateful import streaming_bin_counts

    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.select(
        F.col("event_type"),
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.least(
            F.greatest(F.floor(F.col("value") / 50).cast("int"), F.lit(0)),
            F.lit(9),
        ).alias("bin"),
        F.expr("(ts div 1000000000) div 86400").alias("day"),
    )
    lo_hi = s.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).collect()[0]
    lo, hi = lo_hi["lo"], lo_hi["hi"]
    third = max(1, (hi - lo + 1) // 3)

    with drain.scratch("q324_") as work:
        src_dir = f"{work}/src"
        drain.stage_slices(
            (
                s.filter((F.col("day") >= lo + d_lo) & (F.col("day") < lo + d_hi))
                .groupBy("event_type", "bin", "arm")
                .agg(F.count(F.lit(1)).alias("cnt"))
                for d_lo, d_hi in ((0, third), (third, 2 * third), (2 * third, 10**9))
            ),
            src_dir,
        )

        stream = (
            spark.readStream.schema("event_type STRING, bin INT, arm INT, cnt LONG")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        out = streaming_bin_counts(stream, n_bins=10, key_col="event_type")
        sink = drain.run(out, work, output_mode="update")
        final = drain.latest(spark.read.parquet(sink)).select(
            F.col("key").alias("event_type"), "c0", "c1"
        )
        grid = final.select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("bin"),
            "c0",
            "c1",
        ).select(
            "event_type",
            (F.element_at(F.col("c0"), F.col("bin") + 1) + 0.5).alias("c0"),
            (F.element_at(F.col("c1"), F.col("bin") + 1) + 0.5).alias("c1"),
        ).localCheckpoint(eager=True)
        tot = grid.groupBy("event_type").agg(
            F.sum("c0").alias("n0"), F.sum("c1").alias("n1")
        )
        j = grid.join(F.broadcast(tot), "event_type")
        p = F.col("c0") / F.col("n0")
        qq = F.col("c1") / F.col("n1")
        x = (p - qq) * F.log(p / qq)
        psi = F.sum(F.round(x, 12).cast("decimal(38,12)")).cast("double")
        res = j.groupBy("event_type").agg(
            F.lit(10).cast("long").alias("n_bins"),
            (F.round(psi, 6) + F.lit(0.0)).alias("psi"),
            F.when(psi > 0.2, 1).otherwise(0).alias("drifted"),
        )
        return res.localCheckpoint(eager=True)


# the streaming drain must reproduce the batch PSI's oracle exactly —
# commutative bin-count state makes batch boundaries provably invisible
ORACLE["q324_streaming_psi_drain"] = ORACLE["q318_psi_drift"]


@query(
    "q325_rake_keyphrases",
    oracle=f"""
    WITH arr AS (
      SELECT doc_id, {_TOKS_SQL} AS ts FROM documents WHERE trim(text) <> ''
    ),
    toks AS (
      SELECT doc_id, unnest(ts) AS term, generate_subscripts(ts, 1) AS pos
      FROM arr
    ),
    ns AS (
      SELECT doc_id, term, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
      FROM toks WHERE term NOT IN ('the', 'a', 'of', 'and', 'to')
    ),
    ph AS (
      SELECT doc_id, island,
             string_agg(term, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS n_words
      FROM ns GROUP BY 1, 2
    ),
    ws AS (
      SELECT ns.term,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(ph.n_words) AS BIGINT) AS deg
      FROM ns JOIN ph ON ph.doc_id = ns.doc_id AND ph.island = ns.island
      GROUP BY 1
    ),
    psc AS (
      SELECT ph.doc_id, ph.island, ph.phrase, ph.n_words,
             CAST(sum(CAST(round(ws.deg * 1.0 / ws.freq, 12)
                  AS DECIMAL(38,12))) AS DOUBLE) AS score
      FROM ph JOIN ns ON ns.doc_id = ph.doc_id AND ns.island = ph.island
              JOIN ws ON ws.term = ns.term
      GROUP BY 1, 2, 3, 4
    ),
    census AS (
      SELECT phrase, min(n_words) AS n_words,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             min(score) AS score
      FROM psc GROUP BY 1
    ),
    top AS (
      SELECT phrase, n_words, n_occurrences, round(score, 6) AS score,
             row_number() OVER (ORDER BY score DESC, phrase ASC) AS rank
      FROM census
    )
    SELECT CAST(rank AS INT) AS rank, phrase, n_words, n_occurrences, score
    FROM top WHERE rank <= 15
    """,
)
def q325_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) over the corpus:
    candidate phrases are maximal stopword-free token runs — segmented by
    the gaps-and-islands identity pos - row_number() so both engines
    split identically with NO regex-dialect dependence — scored by the
    classic degree/frequency word metric summed per phrase (12-dp DECIMAL
    folds, order-free), reported as the top-15 corpus keyphrases. The
    metadata-enrichment operator of a curation pipeline: cluster labels,
    dataset cards, and topic drill-downs all start from exactly this
    census.

    100 TB story: one tokenize pass feeds islands; phrase assembly is one
    (doc, island) shuffle; word stats are vocabulary-bounded; identical
    phrases share the corpus-global word scores, so the census
    deduplicates BEFORE ranking and the final top-15 is a
    WindowGroupLimit over the phrase census, not the corpus.
    """
    stop = ("the", "a", "of", "and", "to")
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    toks = d.select(
        "doc_id",
        F.posexplode(text.tokens(F.col("text"))).alias("pos0", "term"),
    ).select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))
    ns = (
        toks.filter(~F.col("term").isin(*stop))
        .select(
            "doc_id",
            "term",
            "pos",
            (
                F.col("pos")
                - F.row_number().over(
                    Window.partitionBy("doc_id").orderBy("pos")
                )
            ).alias("island"),
        )
        .localCheckpoint(eager=True)
    )
    ph = (
        ns.groupBy("doc_id", "island")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list(F.struct("pos", "term"))).getField(
                    "term"
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .localCheckpoint(eager=True)
    )
    ws = (
        ns.join(ph, ["doc_id", "island"])
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("n_words").alias("deg"),
        )
    )
    psc = (
        ph.join(ns, ["doc_id", "island"])
        .join(ws, "term")
        .groupBy("doc_id", "island", "phrase", F.col("n_words"))
        .agg(
            F.sum(
                F.round(F.col("deg") * 1.0 / F.col("freq"), 12).cast(
                    "decimal(38,12)"
                )
            )
            .cast("double")
            .alias("score")
        )
    )
    census = psc.groupBy("phrase").agg(
        F.min("n_words").alias("n_words"),
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min("score").alias("score"),
    )
    # distributed top-k (TakeOrdered) over the phrase census, then rank
    # the 15-row result — the census is vocabulary-scale, not top-k-scale
    top = census.orderBy(F.col("score").desc(), F.asc("phrase")).limit(15).select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.asc("phrase")))
        .alias("rank"),
    )
    return top.select(
        F.col("rank").cast("int").alias("rank"),
        "phrase",
        "n_words",
        "n_occurrences",
        F.round("score", 6).alias("score"),
    )


def _q326_croston_oracle(T: int = 30, a: float = 0.2) -> str:
    """Generated oracle for q326: Croston's conditional SES recursion
    unrolled as one CTE per day (the Holt treatment with CASE branches —
    integer demand counts make every branch decision engine-exact)."""
    ctes = [
        "c0_r AS (SELECT k, xs, CAST(NULL AS DOUBLE) AS z,"
        " CAST(NULL AS DOUBLE) AS p, CAST(0 AS BIGINT) AS q,"
        " CAST(0 AS BIGINT) AS started FROM series)"
    ]
    for t in range(1, T + 1):
        ctes.append(
            f"c{t} AS (SELECT k, xs, q + 1 AS qn, z, p, started FROM c{t - 1}_r)"
        )
        ctes.append(
            f"c{t}_r AS (SELECT k, xs, "
            f"CASE WHEN xs[{t}] > 0 THEN "
            f"  CASE WHEN started = 0 THEN xs[{t}]"
            f"       ELSE {a} * xs[{t}] + {1 - a} * z END "
            f"ELSE z END AS z, "
            f"CASE WHEN xs[{t}] > 0 THEN "
            f"  CASE WHEN started = 0 THEN CAST(qn AS DOUBLE)"
            f"       ELSE {a} * qn + {1 - a} * p END "
            f"ELSE p END AS p, "
            f"CASE WHEN xs[{t}] > 0 THEN 0 ELSE qn END AS q, "
            f"CASE WHEN xs[{t}] > 0 THEN 1 ELSE started END AS started "
            f"FROM c{t})"
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH hc AS (
      SELECT event_type AS k,
             epoch_ns(ts) // 1000000000 // 86400 AS day,
             CAST(count(*) FILTER (WHERE value > 480) AS DOUBLE) AS c
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
    {chain},
    nd AS (
      SELECT k, CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_demands
      FROM dense GROUP BY 1
    )
    SELECT r.k AS event_type, CAST({T} AS BIGINT) AS n_periods,
           nd.n_demands,
           round(r.z, 6) + 0.0 AS demand_size,
           round(r.p, 6) + 0.0 AS interval_est,
           round(r.z / r.p, 6) + 0.0 AS croston_f,
           round({1 - a / 2} * r.z / r.p, 6) + 0.0 AS sba_f
    FROM c{T}_r r JOIN nd ON nd.k = r.k
    """


@query("q326_croston_intermittent", oracle=_q326_croston_oracle())
def q326_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for INTERMITTENT demand (Croston 1972) with the
    Syntetos-Boylan bias correction: over each type's daily count of
    rare high-value events (value > 480 — a sparse series with real zero
    days), separate SES recursions track nonzero demand SIZE and
    inter-demand INTERVAL, updated only at demand points; forecast =
    size/interval (SBA multiplies by 1 - alpha/2). The forecaster the
    Holt family mis-serves: smoothing a mostly-zero series drives Holt's
    level to noise, while Croston models the sparsity itself. The
    conditional recursion folds in ONE codegen `aggregate`; the oracle
    replays it as a generated CTE chain whose CASE branches decide on
    exact integer counts, so both engines take identical paths.

    100 TB story: the input is the O(days) per-key filtered rollup
    (map-side, predicate in the scan); the fold is a single-row array
    op — a million sparse series forecast as one groupBy + one aggregate.
    """
    e = _t(spark, sf_dir, "events")
    T, a = 30, 0.2
    hc = (
        e.groupBy(
            F.col("event_type").alias("k"),
            F.expr("(ts div 1000000000) div 86400").alias("day"),
        )
        .agg(
            F.sum(F.when(F.col("value") > 480, 1).otherwise(0))
            .cast("double")
            .alias("c")
        )
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
        F.array_sort(F.collect_list(F.struct("d", "c"))).getField("c").alias("xs"),
        F.sum(F.when(F.col("c") > 0, 1).otherwise(0)).alias("n_demands"),
    )

    def _step(acc, x):
        qn = acc["q"] + 1
        nz = x > 0
        z = F.when(
            nz,
            F.when(acc["started"] == 0, x).otherwise(
                F.lit(a) * x + F.lit(1 - a) * acc["z"]
            ),
        ).otherwise(acc["z"])
        p = F.when(
            nz,
            F.when(acc["started"] == 0, qn.cast("double")).otherwise(
                F.lit(a) * qn + F.lit(1 - a) * acc["p"]
            ),
        ).otherwise(acc["p"])
        q = F.when(nz, F.lit(0).cast("long")).otherwise(qn)
        started = F.when(nz, F.lit(1).cast("long")).otherwise(acc["started"])
        return F.struct(
            z.alias("z"), p.alias("p"), q.alias("q"), started.alias("started")
        )

    st = F.aggregate(
        F.col("xs"),
        F.struct(
            F.lit(None).cast("double").alias("z"),
            F.lit(None).cast("double").alias("p"),
            F.lit(0).cast("long").alias("q"),
            F.lit(0).cast("long").alias("started"),
        ),
        _step,
    )
    out = series.select(
        F.col("k").alias("event_type"), "n_demands", st.alias("st")
    )
    return out.select(
        "event_type",
        F.lit(T).cast("long").alias("n_periods"),
        F.col("n_demands").cast("long").alias("n_demands"),
        (F.round(F.col("st.z"), 6) + F.lit(0.0)).alias("demand_size"),
        (F.round(F.col("st.p"), 6) + F.lit(0.0)).alias("interval_est"),
        (F.round(F.col("st.z") / F.col("st.p"), 6) + F.lit(0.0)).alias(
            "croston_f"
        ),
        (
            F.round(F.lit(1 - a / 2) * F.col("st.z") / F.col("st.p"), 6)
            + F.lit(0.0)
        ).alias("sba_f"),
    )


def _q327_dbscan_oracle(tau: float = 0.3, min_neighbors: int = 2) -> str:
    """Generated oracle for q327: the LSH candidate pairs with the q170
    literal planes, core marking by degree, a recursive reachability
    fixpoint over the core-core subgraph, and border assignment — the
    q53 CC-oracle treatment applied to density clustering."""
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
    WITH RECURSIVE n AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
             {bucket} AS bucket
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {pair_dot} / (a.nrm * b.nrm) >= {tau}
    ),
    sym AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    deg AS (SELECT s, count(*) AS dg FROM sym GROUP BY 1),
    core AS (SELECT s FROM deg WHERE dg >= {min_neighbors}),
    ce AS (
      SELECT sym.s, sym.d FROM sym
      JOIN core c1 ON c1.s = sym.s JOIN core c2 ON c2.s = sym.d
    ),
    reach(doc, lbl) AS (
      SELECT s, s FROM core
      UNION
      SELECT e.s, r.lbl FROM ce e JOIN reach r ON r.doc = e.d
    ),
    comp AS (SELECT doc, min(lbl) AS cluster FROM reach GROUP BY 1),
    border AS (
      SELECT sym.s AS doc, min(comp.cluster) AS cluster
      FROM sym JOIN comp ON comp.doc = sym.d
      WHERE sym.s NOT IN (SELECT s FROM core)
      GROUP BY 1
    ),
    census AS (
      SELECT cluster,
             CAST(count(*) AS BIGINT) AS n_core,
             CAST(0 AS BIGINT) AS n_border
      FROM comp GROUP BY 1
    ),
    bc AS (SELECT cluster, CAST(count(*) AS BIGINT) AS nb FROM border GROUP BY 1),
    cl AS (
      SELECT census.cluster AS cluster_id, census.n_core,
             coalesce(bc.nb, 0) AS n_border,
             census.n_core + coalesce(bc.nb, 0) AS size
      FROM census LEFT JOIN bc ON bc.cluster = census.cluster
    ),
    tot AS (SELECT count(*) AS n FROM embeddings)
    SELECT cluster_id, n_core, n_border, CAST(size AS BIGINT) AS size FROM cl
    UNION ALL
    SELECT -1, 0, 0,
           CAST(tot.n - (SELECT coalesce(sum(size), 0) FROM cl) AS BIGINT)
    FROM tot
    """


@query("q327_dbscan_lite", oracle=_q327_dbscan_oracle())
def q327_dbscan_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based semantic clustering (DBSCAN, Ester et al. 1996,
    under the LSH candidate contract): neighbors are the deterministic
    random-hyperplane candidate pairs at cosine >= 0.3 (q170's literal
    planes, so the neighborhood graph is engine-exact and sub-quadratic),
    CORE points have >= 2 such neighbors, clusters are connected
    components of the core-core subgraph (min-label propagation, the q53
    fixpoint treatment), BORDER points attach to their lowest adjacent
    core cluster, everything else is NOISE (the -1 row) — the topic-
    discovery step between flat k-means (q242) and per-cluster semantic
    pruning (q234): clusters of arbitrary shape, no k chosen up front,
    outliers left unassigned instead of polluting a centroid.

    100 TB story: ONE shuffle on the LSH bucket key bounds the pair
    work; degree/core/census are grouped aggregates on the edge list;
    each CC round is one equi-join + grouped min on node ids. The
    LSH-neighborhood approximation IS the scale contract (recall tested
    separately in test_similarity).
    """
    tau, min_neighbors = 0.3, 2
    emb = _t(spark, sf_dir, "embeddings")
    pairs = similarity.lsh_bucketed_pairs(emb, _lsh_planes(), threshold=tau).select(
        "id_a", "id_b"
    ).localCheckpoint(eager=True)
    sym = (
        pairs.union(
            pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
        )
        .distinct()
        .select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
        .localCheckpoint(eager=True)
    )
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("dg"))
    core = deg.filter(F.col("dg") >= min_neighbors).select("s").localCheckpoint(
        eager=True
    )
    ce = (
        sym.join(core.withColumnRenamed("s", "cs"), F.col("s") == F.col("cs"))
        .join(core.withColumnRenamed("s", "cd"), F.col("d") == F.col("cd"))
        .select("s", "d")
    )
    # isolated cores (no core neighbor) must still form singleton clusters:
    # seed every core as its own edge-free node by uniting self-loops
    comp = dedup.dedup_components(
        ce.union(core.select(F.col("s"), F.col("s").alias("d"))),
        id_col_a="s",
        id_col_b="d",
    ).localCheckpoint(eager=True)
    border = (
        sym.join(core.withColumnRenamed("s", "cs"), F.col("s") == F.col("cs"), "left_anti")
        .join(comp.withColumnRenamed("doc", "d2"), F.col("d") == F.col("d2"))
        .groupBy(F.col("s").alias("doc"))
        .agg(F.min("component").alias("cluster"))
    )
    census = comp.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_core")
    )
    bc = border.groupBy(F.col("cluster").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    cl = (
        census.join(bc, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_core",
            F.coalesce("nb", F.lit(0)).alias("n_border"),
            (F.col("n_core") + F.coalesce("nb", F.lit(0))).alias("size"),
        )
        .localCheckpoint(eager=True)
    )
    tot = emb.agg(F.count(F.lit(1)).alias("n"))
    assigned = cl.agg(F.coalesce(F.sum("size"), F.lit(0)).alias("a"))
    noise = tot.crossJoin(F.broadcast(assigned)).select(
        F.lit(-1).cast("long").alias("cluster_id"),
        F.lit(0).cast("long").alias("n_core"),
        F.lit(0).cast("long").alias("n_border"),
        (F.col("n") - F.col("a")).cast("long").alias("size"),
    )
    return cl.select(
        "cluster_id",
        F.col("n_core").cast("long").alias("n_core"),
        F.col("n_border").cast("long").alias("n_border"),
        F.col("size").cast("long").alias("size"),
    ).unionAll(noise)


def _q328_negatives_oracle(lo: float = 0.1, hi: float = 0.3, k: int = 5) -> str:
    """Generated oracle for q328: the q170 literal-plane bucket assignment,
    a similarity band filter, and a per-anchor top-k window."""
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
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
             {bucket} AS bucket
      FROM embeddings
    ),
    pr AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {pair_dot} / (a.nrm * b.nrm) AS cs
      FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {pair_dot} / (a.nrm * b.nrm) >= {lo}
        AND {pair_dot} / (a.nrm * b.nrm) < {hi}
    ),
    sym AS (
      SELECT id_a AS anchor, id_b AS neg_id, cs FROM pr
      UNION ALL
      SELECT id_b, id_a, cs FROM pr
    ),
    rk AS (
      SELECT anchor, neg_id, cs,
             row_number() OVER (PARTITION BY anchor
                                ORDER BY cs DESC, neg_id ASC) AS rank
      FROM sym
    )
    SELECT anchor, CAST(rank AS INT) AS rank, neg_id,
           round(cs, 6) AS cos_sim
    FROM rk WHERE rank <= {k}
    """


@query("q328_hard_negatives", oracle=_q328_negatives_oracle())
def q328_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for each
    anchor vector, the top-5 SAME-LSH-BUCKET neighbors in the similarity
    band 0.1 <= cos < 0.3 — close enough to collide in the hash (that is
    what makes them HARD) but below the near-duplicate band, i.e. exactly
    the negatives a contrastive loss learns the most from (in-batch
    random negatives are trivially far; near-dups would be false
    negatives). Deterministic: q170's literal hyperplanes, band filter,
    smallest-id tie-break — the mined pairs are reproducible across
    runs, partitionings, and engines.

    100 TB story: identical shape to q170 — one shuffle on the bucket
    key, within-bucket pair work bounded by bucket size (2^k planes the
    knob), then a WindowGroupLimit top-5 per anchor on the surviving
    band pairs only.
    """
    lo, hi, k = 0.1, 0.3, 5
    emb = _t(spark, sf_dir, "embeddings")
    pr = (
        similarity.lsh_bucketed_pairs(emb, _lsh_planes(), threshold=lo)
        .filter(F.col("cos_sim") < hi)
        .localCheckpoint(eager=True)
    )
    sym = pr.select(
        F.col("id_a").alias("anchor"),
        F.col("id_b").alias("neg_id"),
        F.col("cos_sim").alias("cs"),
    ).unionAll(
        pr.select(
            F.col("id_b").alias("anchor"),
            F.col("id_a").alias("neg_id"),
            F.col("cos_sim").alias("cs"),
        )
    )
    rk = sym.select(
        "*",
        F.row_number()
        .over(
            Window.partitionBy("anchor").orderBy(
                F.col("cs").desc(), F.asc("neg_id")
            )
        )
        .alias("rank"),
    ).filter(F.col("rank") <= k)
    return rk.select(
        "anchor",
        F.col("rank").cast("int").alias("rank"),
        "neg_id",
        F.round("cs", 6).alias("cos_sim"),
    )


@query(
    "q329_kneser_ney_lm",
    oracle=f"""
    WITH arr AS (
      SELECT doc_id, source, {_TOKS_SQL} AS ts
      FROM documents WHERE trim(text) <> ''
    ),
    toks AS (
      SELECT doc_id, source, unnest(ts) AS term,
             generate_subscripts(ts, 1) AS pos
      FROM arr
    ),
    bg AS (
      SELECT a.source, a.term AS v, b.term AS w
      FROM toks a JOIN toks b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    ),
    c_vw AS (SELECT v, w, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
    c_v AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv,
                   CAST(count(*) AS BIGINT) AS n1_fwd
            FROM c_vw GROUP BY 1),
    cont AS (SELECT w, CAST(count(*) AS BIGINT) AS n1_bwd FROM c_vw GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_bigram_types FROM c_vw),
    scored AS (
      SELECT bg.source,
             ln(greatest(c_vw.c - 0.75, 0) / c_v.cv
                + (0.75 * c_v.n1_fwd / c_v.cv)
                  * (cont.n1_bwd * 1.0 / tot.n_bigram_types)) AS lp
      FROM bg JOIN c_vw ON c_vw.v = bg.v AND c_vw.w = bg.w
              JOIN c_v ON c_v.v = bg.v
              JOIN cont ON cont.w = bg.w
              CROSS JOIN tot
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(CAST(sum(CAST(round(lp, 12) AS DECIMAL(38,12))) AS DOUBLE)
                 / count(*), 6) + 0.0 AS mean_logprob,
           round(exp(-CAST(sum(CAST(round(lp, 12) AS DECIMAL(38,12))) AS DOUBLE)
                 / count(*)), 6) AS perplexity
    FROM scored GROUP BY 1
    """,
)
def q329_kneser_ney_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram language model (Kneser & Ney 1995,
    d=0.75) fit on the corpus and applied back per source: P(w|v) =
    max(c(vw)-d, 0)/c(v) + lambda(v) * Pcont(w), where the continuation
    probability counts DISTINCT contexts (the "how many things does w
    follow" insight that beats raw-frequency backoff on burst-heavy
    corpora) — the modern-smoothing tier above q285's Jelinek-Mercer
    interpolation, reported as per-source mean log-prob and perplexity.
    Every count is an exact integer (bigram counts, context totals,
    forward/backward type counts), so both engines compute identical
    probabilities; per-bigram log-probs fold as 12-dp DECIMAL(38,12).

    100 TB story: counts are map-side-combining groupBys bounded by the
    bigram vocabulary; scoring joins the bigram stream to those count
    frames on their keys — no corpus self-join, the classic shape shared
    with q285.
    """
    d_disc = 0.75
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    toks = d.select(
        "doc_id",
        "source",
        F.posexplode(text.tokens(F.col("text"))).alias("pos0", "term"),
    )
    a = toks.select("doc_id", "source", "term", F.col("pos0").alias("p"))
    b = toks.select(
        F.col("doc_id").alias("doc_id2"),
        F.col("term").alias("w"),
        (F.col("pos0") - 1).alias("p2"),
    )
    bg = a.join(
        b, (F.col("doc_id") == F.col("doc_id2")) & (F.col("p") == F.col("p2"))
    ).select("source", F.col("term").alias("v"), "w")
    c_vw = bg.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c")).localCheckpoint(
        eager=True
    )
    c_v = c_vw.groupBy("v").agg(
        F.sum("c").alias("cv"), F.count(F.lit(1)).alias("n1_fwd")
    )
    cont = c_vw.groupBy("w").agg(F.count(F.lit(1)).alias("n1_bwd"))
    tot = c_vw.agg(F.count(F.lit(1)).alias("n_bigram_types"))
    lp = F.log(
        F.greatest(F.col("c") - d_disc, F.lit(0.0)) / F.col("cv")
        + (F.lit(d_disc) * F.col("n1_fwd") / F.col("cv"))
        * (F.col("n1_bwd") * 1.0 / F.col("n_bigram_types"))
    )
    scored = (
        bg.join(c_vw, ["v", "w"])
        .join(c_v, "v")
        .join(cont, "w")
        .crossJoin(F.broadcast(tot))
        .select("source", lp.alias("lp"))
    )
    mean_lp = (
        F.sum(F.round("lp", 12).cast("decimal(38,12)")).cast("double")
        / F.count(F.lit(1))
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (F.round(mean_lp, 6) + F.lit(0.0)).alias("mean_logprob"),
        F.round(F.exp(-mean_lp), 6).alias("perplexity"),
    )


@query(
    "q330_mde_power",
    oracle="""
    WITH s AS (
      SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
             CASE WHEN value > 150 THEN 1 ELSE 0 END AS conv
      FROM events WHERE value IS NOT NULL
    ),
    g AS (
      SELECT event_type,
             CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n0,
             CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n1,
             CAST(sum(conv) FILTER (WHERE arm = 0) AS BIGINT) AS c0
      FROM s GROUP BY 1
    )
    SELECT event_type, n0, n1,
           round(c0 * 1.0 / n0, 6) AS baseline_rate,
           round((1.959963984540054 + 0.8416212335729143)
                 * sqrt((c0 * 1.0 / n0) * (1 - c0 * 1.0 / n0)
                        * (1.0 / n0 + 1.0 / n1)), 6) AS mde_abs,
           round((1.959963984540054 + 0.8416212335729143)
                 * sqrt((c0 * 1.0 / n0) * (1 - c0 * 1.0 / n0)
                        * (1.0 / n0 + 1.0 / n1)) / (c0 * 1.0 / n0), 6)
             AS mde_rel
    FROM g
    """,
)
def q330_mde_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect for the A/B arms at alpha=0.05 (two-
    sided) and 80% power: MDE = (z_{0.975} + z_{0.8}) * sqrt(p(1-p) *
    (1/n0 + 1/n1)) over the threshold-conversion rate per event type —
    the pre-experiment sizing answer ("how small a lift CAN this split
    even see?") that belongs next to the post-hoc tests (q281 Welch,
    q297 Mann-Whitney, q303 SPRT). The normal quantiles are 17-digit
    literals embedded identically on both sides (the q237 RBO treatment
    — no inverse-CDF libm dependence); counts are exact integers, so the
    two engines compute identical rates and identical MDEs.

    100 TB story: one map-side-combining groupBy(event_type) computing
    both arms' counts in a single pass — the cheapest query in the
    experimentation ladder, and the one you run FIRST.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.when(F.col("value") > 150, 1).otherwise(0).alias("conv"),
    )
    g = s.groupBy("event_type").agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("n0"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv"))).alias("c0"),
    )
    p = F.col("c0") * 1.0 / F.col("n0")
    z = F.lit(1.959963984540054) + F.lit(0.8416212335729143)
    mde = z * F.sqrt(p * (1 - p) * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    return g.select(
        "event_type",
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.round(p, 6).alias("baseline_rate"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / p, 6).alias("mde_rel"),
    )


@query(
    "q331_srm_check",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS n0,
             CAST(count(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS n1
      FROM events GROUP BY 1
    )
    SELECT event_type, n0, n1,
           round((n0 - n1) * (n0 - n1) * 1.0 / (n0 + n1), 6) AS chi2,
           CASE WHEN (n0 - n1) * (n0 - n1) * 1.0 / (n0 + n1) > 3.841458820694124
                THEN 1 ELSE 0 END AS srm
    FROM g
    """,
)
def q331_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check for the A/B split (the FIRST gate an
    experimentation platform runs — a biased assignment invalidates every
    downstream test): chi-square with 1 df against the expected 50/50,
    chi2 = (n0-n1)^2/(n0+n1), flagged above the 0.05 critical value
    (17-digit literal, no inverse-CDF dependence). Counts are exact
    integers; one division. Completes the experimentation ladder:
    SRM -> MDE (q330) -> Welch/Mann-Whitney/KS/CvM -> SPRT.

    100 TB story: one map-side-combining groupBy computing both arm
    counts in a single pass.
    """
    e = _t(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.count(F.when(F.col("user_id") % 2 == 0, 1)).alias("n0"),
        F.count(F.when(F.col("user_id") % 2 == 1, 1)).alias("n1"),
    )
    chi2 = (
        (F.col("n0") - F.col("n1"))
        * (F.col("n0") - F.col("n1"))
        * 1.0
        / (F.col("n0") + F.col("n1"))
    )
    return g.select(
        "event_type",
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.round(chi2, 6).alias("chi2"),
        F.when(chi2 > 3.841458820694124, 1).otherwise(0).alias("srm"),
    )


@query(
    "q332_seasonal_strength",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ns(ts) // 1000000000 // 86400 AS day,
             CAST(count(*) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2),
    tr AS (
      SELECT event_type, day, v,
             avg(v) OVER w AS trend, count(*) OVER w AS wn
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    dt AS (
      SELECT event_type, CAST(day % 7 AS INT) AS dow, v - trend AS d
      FROM tr WHERE wn = 7),
    se AS (
      SELECT event_type, dow,
             CAST(sum(CAST(round(d, 12) AS DECIMAL(38,12))) AS DOUBLE)
               / count(*) AS s
      FROM dt GROUP BY 1, 2),
    r AS (
      SELECT dt.event_type, dt.d, dt.d - se.s AS rem
      FROM dt JOIN se ON se.event_type = dt.event_type AND se.dow = dt.dow),
    v AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(d, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sd,
             CAST(sum(CAST(round(d * d, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sd2,
             CAST(sum(CAST(round(rem, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sr,
             CAST(sum(CAST(round(rem * rem, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sr2
      FROM r GROUP BY 1)
    SELECT event_type, n,
           round(greatest(0.0, 1 - (sr2 / n - (sr / n) * (sr / n))
                               / (sd2 / n - (sd / n) * (sd / n))), 6) + 0.0
             AS seasonal_strength
    FROM v
    """,
)
def q332_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman's seasonal-strength diagnostic F_S = max(0, 1 -
    Var(remainder)/Var(detrended)) over the q191 decomposition (trend =
    centered 7-day MA on full windows, seasonal = day-of-week mean of the
    detrended series, remainder = detrended - seasonal): the one-number
    answer to "does this series HAVE a weekly cycle worth modeling",
    which decides between the seasonal-naive (q270), Holt (q273), and
    Holt-Winters (q284) forecasters. All moments fold as 12-dp
    DECIMAL(38,12); variances are identical ratios of identical sums.

    100 TB story: q191's shape — one (type, day) rollup, one days-sized
    window per type, one dow-profile join, one grouped moment fold.
    """
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.expr("(ts div 1000000000) div 86400").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    dt = (
        daily.select(
            "event_type",
            "day",
            "v",
            F.avg("v").over(w).alias("trend"),
            F.count(F.lit(1)).over(w).alias("wn"),
        )
        .filter(F.col("wn") == 7)
        .select(
            "event_type",
            (F.col("day") % 7).cast("int").alias("dow"),
            (F.col("v") - F.col("trend")).alias("d"),
        )
        .localCheckpoint(eager=True)
    )
    se = dt.groupBy("event_type", "dow").agg(
        (
            F.sum(F.round("d", 12).cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("s")
    )
    r = dt.join(F.broadcast(se), ["event_type", "dow"]).select(
        "event_type", "d", (F.col("d") - F.col("s")).alias("rem")
    )
    v = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("d", 12).cast("decimal(38,12)")).cast("double").alias("sd"),
        F.sum(F.round(F.col("d") * F.col("d"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sd2"),
        F.sum(F.round("rem", 12).cast("decimal(38,12)")).cast("double").alias("sr"),
        F.sum(F.round(F.col("rem") * F.col("rem"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sr2"),
    )
    var_r = F.col("sr2") / F.col("n") - (F.col("sr") / F.col("n")) * (
        F.col("sr") / F.col("n")
    )
    var_d = F.col("sd2") / F.col("n") - (F.col("sd") / F.col("n")) * (
        F.col("sd") / F.col("n")
    )
    return v.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        (
            F.round(F.greatest(F.lit(0.0), 1 - var_r / var_d), 6) + F.lit(0.0)
        ).alias("seasonal_strength"),
    )


@query(
    "q333_hill_tail_index",
    oracle="""
    WITH g AS (
      SELECT event_type, value AS v, CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE value IS NOT NULL AND value > 0 GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, v, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY v DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM g
    ),
    xk AS (
      SELECT event_type, min(v) AS x_k
      FROM cum WHERE cum >= 100 GROUP BY 1
    ),
    taken AS (
      SELECT c.event_type,
             least(c.cnt, 100 - (c.cum - c.cnt)) AS take, c.v, k.x_k
      FROM cum c JOIN xk k ON k.event_type = c.event_type
      WHERE c.cum - c.cnt < 100 AND c.v >= k.x_k
    )
    SELECT event_type,
           CAST(100 AS BIGINT) AS k,
           round(min(x_k), 6) AS x_k,
           round(CAST(sum(CAST(round(take * ln(v / x_k), 12)
                 AS DECIMAL(38,12))) AS DOUBLE) / 100, 6) + 0.0 AS hill_gamma,
           round(100.0 / CAST(sum(CAST(round(take * ln(v / x_k), 12)
                 AS DECIMAL(38,12))) AS DOUBLE), 6) AS tail_alpha
    FROM taken GROUP BY 1
    """,
)
def q333_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the value distribution's tail index (Hill 1975,
    k=100): gamma = (1/k) * sum over the k largest observations of
    ln(x_(i) / x_(k)), alpha = 1/gamma — the heavy-tail diagnostic that
    tells a pipeline whether its latency/size/cost column even HAS a
    finite variance (alpha < 2: plan for extremes, winsorize, budget by
    quantiles not means). The top-k comes from cumulative counts over the
    DESCENDING distinct-value support with exact multiplicity splitting
    at the k-boundary — no raw-row sort, no sampling; per-value terms
    fold as 12-dp DECIMAL(38,12).

    100 TB story: one map-side-combining groupBy(type, value), one
    distinct-value cumulative frame per type (the documented exception),
    one grouped fold — the tail census costs the same as any quantile.
    """
    k = 100
    e = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    g = e.groupBy("event_type", F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("v").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = g.select(
        "event_type", "v", "cnt", F.sum("cnt").over(w).alias("cum")
    ).localCheckpoint(eager=True)
    xk = (
        cum.filter(F.col("cum") >= k)
        .groupBy("event_type")
        .agg(F.min("v").alias("x_k"))
    )
    taken = (
        cum.join(F.broadcast(xk), "event_type")
        .filter((F.col("cum") - F.col("cnt") < k) & (F.col("v") >= F.col("x_k")))
        .select(
            "event_type",
            F.least(F.col("cnt"), F.lit(k) - (F.col("cum") - F.col("cnt"))).alias(
                "take"
            ),
            "v",
            "x_k",
        )
    )
    s = F.sum(
        F.round(F.col("take") * F.log(F.col("v") / F.col("x_k")), 12).cast(
            "decimal(38,12)"
        )
    ).cast("double")
    return taken.groupBy("event_type").agg(
        F.lit(k).cast("long").alias("k"),
        F.round(F.min("x_k"), 6).alias("x_k"),
        (F.round(s / k, 6) + F.lit(0.0)).alias("hill_gamma"),
        F.round(F.lit(float(k)) / s, 6).alias("tail_alpha"),
    )


@query(
    "q334_odds_ratio",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(sum(CASE WHEN user_id % 2 = 0 AND value > 150
                           THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN user_id % 2 = 0 AND value <= 150
                           THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN user_id % 2 = 1 AND value > 150
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN user_id % 2 = 1 AND value <= 150
                           THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT event_type, a, b, c, d,
           round((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)), 6)
             AS odds_ratio,
           round(exp(ln((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)))
                 - 1.959963984540054
                   * sqrt(1.0/(a + 0.5) + 1.0/(b + 0.5)
                          + 1.0/(c + 0.5) + 1.0/(d + 0.5))), 6) AS ci_lo,
           round(exp(ln((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)))
                 + 1.959963984540054
                   * sqrt(1.0/(a + 0.5) + 1.0/(b + 0.5)
                          + 1.0/(c + 0.5) + 1.0/(d + 0.5))), 6) AS ci_hi,
           CASE WHEN exp(ln((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)))
                     - 1.959963984540054
                       * sqrt(1.0/(a + 0.5) + 1.0/(b + 0.5)
                              + 1.0/(c + 0.5) + 1.0/(d + 0.5))) > 1
                  OR exp(ln((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)))
                     + 1.959963984540054
                       * sqrt(1.0/(a + 0.5) + 1.0/(b + 0.5)
                              + 1.0/(c + 0.5) + 1.0/(d + 0.5))) < 1
                THEN 1 ELSE 0 END AS significant
    FROM s
    """,
)
def q334_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio of threshold conversion between the A/B arms with the
    Wald 95% confidence interval (log OR +/- z*sqrt(1/a+1/b+1/c+1/d)) —
    the effect-SIZE report beside the yes/no tests (q281 Welch, q331
    SRM): a significant-but-OR=1.01 result and an OR=2 result read very
    differently to whoever acts on the experiment. The 2x2 table is
    exact integers from one conditional-aggregation pass with the
    Haldane-Anscombe +0.5 correction (rare cells can be empty — a raw
    OR would divide by zero); the z quantile is a 17-digit literal on
    both sides.

    100 TB story: one map-side-combining groupBy computing all four
    cells in a single pass — same shape as q281/q330/q331.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    arm0 = F.col("user_id") % 2 == 0
    conv = F.col("value") > 150
    s = e.groupBy("event_type").agg(
        F.sum(F.when(arm0 & conv, 1).otherwise(0)).alias("a"),
        F.sum(F.when(arm0 & ~conv, 1).otherwise(0)).alias("b"),
        F.sum(F.when(~arm0 & conv, 1).otherwise(0)).alias("c"),
        F.sum(F.when(~arm0 & ~conv, 1).otherwise(0)).alias("d"),
    )
    a, b, c, d = (F.col(x) + 0.5 for x in ("a", "b", "c", "d"))
    orr = a * d / (b * c)
    se = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    z = F.lit(1.959963984540054)
    lo = F.exp(F.log(orr) - z * se)
    hi = F.exp(F.log(orr) + z * se)
    return s.select(
        "event_type",
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("c").cast("long").alias("c"),
        F.col("d").cast("long").alias("d"),
        F.round(orr, 6).alias("odds_ratio"),
        F.round(lo, 6).alias("ci_lo"),
        F.round(hi, 6).alias("ci_hi"),
        F.when((lo > 1) | (hi < 1), 1).otherwise(0).alias("significant"),
    )


@query(
    "q335_term_burstiness",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
      WHERE trim(text) <> ''
    ),
    st AS (
      SELECT term,
             CAST(count(*) AS BIGINT) AS cf,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM toks GROUP BY 1
    ),
    top AS (
      SELECT term, cf, df,
             round(cf * 1.0 / df, 6) AS burstiness,
             round((cf - df) * 1.0 / cf, 6) AS p_repeat
      FROM st WHERE cf >= 10
      ORDER BY cf * 1.0 / df DESC, term ASC LIMIT 20
    )
    SELECT term, cf, df, burstiness, p_repeat FROM top
    """,
)
def q335_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale term burstiness (Church & Gale 1995): collection
    frequency over document frequency per term, with the adaptation
    probability P(repeat | occurred) = (cf-df)/cf — the top-20 burstiest
    terms (cf >= 10 support) are the templated/boilerplate vocabulary a
    curation pass inspects first: a term that appears 40 times in 3
    documents is structure, not language. Pure integer counts; the top-k
    is a distributed TakeOrdered over the vocabulary-bounded stats.

    100 TB story: one map-side-combining groupBy(term) computing cf and
    df together; everything after runs on the vocabulary.
    """
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    toks = d.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("term"))
    st = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("cf"),
        F.countDistinct("doc_id").alias("df"),
    )
    b = F.col("cf") * 1.0 / F.col("df")
    return (
        st.filter(F.col("cf") >= 10)
        .orderBy(b.desc(), F.asc("term"))
        .limit(20)
        .select(
            "term",
            F.col("cf").cast("long").alias("cf"),
            F.col("df").cast("long").alias("df"),
            F.round(b, 6).alias("burstiness"),
            F.round((F.col("cf") - F.col("df")) * 1.0 / F.col("cf"), 6).alias(
                "p_repeat"
            ),
        )
    )


@query(
    "q336_gini_simpson",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({_TOKS_SQL}) AS term FROM documents
      WHERE trim(text) <> ''
    ),
    st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n
           FROM toks GROUP BY 1, 2),
    agg AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(n) AS BIGINT) AS n_tokens,
             CAST(sum(n * (n - 1)) AS BIGINT) AS pair_mass
      FROM st GROUP BY 1
    )
    SELECT source, n_types, n_tokens,
           round(1.0 - pair_mass * 1.0 / (n_tokens * (n_tokens - 1)), 6)
             AS gini_simpson,
           round((n_tokens * (n_tokens - 1)) * 1.0 / pair_mass, 6)
             AS inv_simpson
    FROM agg
    """,
)
def q336_gini_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased Gini-Simpson lexical diversity per source (Simpson 1949,
    Hurlbert's finite-sample form): 1 - sum n_i(n_i-1) / (N(N-1)) — the
    probability two tokens drawn WITHOUT replacement differ — plus the
    inverse-Simpson effective vocabulary size. The estimator's core is
    EXACT INTEGER arithmetic (pair mass over pair count), so unlike the
    entropy profile (q93) there is no per-term float fold to quantize at
    all: both engines divide the same two BIGINTs. Low diversity with
    high token count flags templated sources the Zipf/entropy signals
    corroborate.

    100 TB story: one map-side-combining groupBy(source, term), one
    source-level rollup — vocabulary-bounded, like every corpus-health
    signal in the text family.
    """
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    toks = d.select("source", F.explode(text.tokens(F.col("text"))).alias("term"))
    st = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("n"))
    agg = st.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("n").alias("n_tokens"),
        F.sum(F.col("n") * (F.col("n") - 1)).alias("pair_mass"),
    )
    nn = F.col("n_tokens") * (F.col("n_tokens") - 1)
    return agg.select(
        "source",
        F.col("n_types").cast("long").alias("n_types"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(1.0 - F.col("pair_mass") * 1.0 / nn, 6).alias("gini_simpson"),
        F.round(nn * 1.0 / F.col("pair_mass"), 6).alias("inv_simpson"),
    )


@query(
    "q337_lift_gain_curve",
    oracle="""
    WITH s AS (
      SELECT value AS score,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
    ),
    g AS (SELECT score, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS pos
          FROM s GROUP BY 1),
    cum AS (
      SELECT score, n, pos,
             sum(n) OVER w - n AS cum_before,
             sum(n) OVER (ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING) AS total,
             sum(pos) OVER (ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING) AS total_pos
      FROM g
      WINDOW w AS (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    dec AS (
      SELECT least(CAST(cum_before * 10 // total AS INT), 9) AS decile,
             n, pos, total, total_pos
      FROM cum
    ),
    agg AS (
      SELECT decile, CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS conversions,
             min(total) AS total, min(total_pos) AS total_pos
      FROM dec GROUP BY 1
    )
    SELECT CAST(decile AS INT) AS decile, n, conversions,
           round(conversions * 1.0 / n, 6) AS conv_rate,
           round((conversions * 1.0 / n)
                 / (total_pos * 1.0 / total), 6) AS lift,
           round(sum(conversions) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 1.0 / total_pos, 6) AS cum_gain
    FROM agg
    """,
)
def q337_lift_gain_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift and cumulative-gain curve for a score against a binary
    outcome (score = value, outcome = purchase event): rank the
    population by score descending, cut into 10 population deciles, and
    report each decile's conversion rate, lift over the base rate, and
    cumulative gain — the model-eval table behind every 'top-decile
    targeting' decision, next to ROC-AUC (q279) and calibration (q280).
    Deciles are cut on cumulative counts over the DESCENDING distinct-
    score support with ties kept together (a tied score never straddles
    a decile — deterministic in both engines, disclosed), so all counts
    are exact integers and the only floats are final ratios of identical
    BIGINTs.

    100 TB story: one map-side-combining groupBy(score) collapses the
    population to the score support; the decile cut is a cumulative
    frame over that support (the documented distinct-value exception);
    the report is a 10-row rollup.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    g = s.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    w = (
        Window.orderBy(F.col("score").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = g.select(
        "n",
        "pos",
        (F.sum("n").over(w) - F.col("n")).alias("cum_before"),
        F.sum("n").over(tot).alias("total"),
        F.sum("pos").over(tot).alias("total_pos"),
    )
    dec = cum.select(
        F.least(
            F.expr("(cum_before * 10) div total").cast("int"), F.lit(9)
        ).alias("decile"),
        "n",
        "pos",
        "total",
        "total_pos",
    )
    agg = dec.groupBy("decile").agg(
        F.sum("n").alias("n"),
        F.sum("pos").alias("conversions"),
        F.min("total").alias("total"),
        F.min("total_pos").alias("total_pos"),
    )
    cw = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return agg.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n").cast("long").alias("n"),
        F.col("conversions").cast("long").alias("conversions"),
        F.round(F.col("conversions") * 1.0 / F.col("n"), 6).alias("conv_rate"),
        F.round(
            (F.col("conversions") * 1.0 / F.col("n"))
            / (F.col("total_pos") * 1.0 / F.col("total")),
            6,
        ).alias("lift"),
        F.round(
            F.sum("conversions").over(cw) * 1.0 / F.col("total_pos"), 6
        ).alias("cum_gain"),
    )


@query(
    "q338_chao1_richness",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKS_SQL}) AS term FROM documents
      WHERE trim(text) <> ''
    ),
    c AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1),
    f AS (
      SELECT CAST(count(*) AS BIGINT) AS s_obs,
             CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
             CAST(sum(n) AS BIGINT) AS n_tokens
      FROM c
    )
    SELECT s_obs, f1, f2, n_tokens,
           round(s_obs + f1 * (f1 - 1) / (2.0 * (f2 + 1)), 6) AS chao1,
           round(s_obs / (s_obs + f1 * (f1 - 1) / (2.0 * (f2 + 1))), 6)
             AS coverage_frac,
           round(1.0 - f1 * 1.0 / n_tokens, 6) AS good_turing_coverage
    FROM f
    """,
)
def q338_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 species-richness estimate of the TOTAL vocabulary (Chao
    1984, bias-corrected form S_obs + f1(f1-1)/(2(f2+1))) from the hapax
    and doubleton counts, plus Good-Turing sample coverage 1 - f1/N —
    the "how many types exist that we have not seen yet" companion to
    the Heaps'-law growth fit (q309): Heaps says how fast new types
    arrive, Chao1 says how many remain, and together they size a
    tokenizer vocabulary before committing to it. Every input is an
    exact integer (type count, singleton/doubleton counts, token total);
    the only floats are three final ratios of identical BIGINTs.

    100 TB story: one map-side-combining groupBy(term), one 4-number
    rollup over the vocabulary — the cheapest possible corpus-coverage
    certificate.
    """
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    c = (
        d.select(F.explode(text.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    f = c.agg(
        F.count(F.lit(1)).alias("s_obs"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("n") == 2, 1).otherwise(0)).alias("f2"),
        F.sum("n").alias("n_tokens"),
    )
    chao1 = F.col("s_obs") + F.col("f1") * (F.col("f1") - 1) / (
        2.0 * (F.col("f2") + 1)
    )
    return f.select(
        F.col("s_obs").cast("long").alias("s_obs"),
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(chao1, 6).alias("chao1"),
        F.round(F.col("s_obs") / chao1, 6).alias("coverage_frac"),
        F.round(1.0 - F.col("f1") * 1.0 / F.col("n_tokens"), 6).alias(
            "good_turing_coverage"
        ),
    )


@query(
    "q339_median_ci",
    oracle="""
    WITH s AS (
      SELECT event_type, value AS v FROM events WHERE value IS NOT NULL
    ),
    g AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS cnt
          FROM s GROUP BY 1, 2),
    cum AS (
      SELECT event_type, v, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM g
    ),
    ranks AS (
      SELECT event_type, min(n) AS n,
             CAST(floor((min(n) + 1) / 2.0
                  - 1.959963984540054 * sqrt(min(n) / 4.0)) AS BIGINT) AS r_lo,
             CAST(ceil((min(n) + 1) / 2.0
                  + 1.959963984540054 * sqrt(min(n) / 4.0)) AS BIGINT) AS r_hi
      FROM cum GROUP BY 1
    ),
    med AS (
      SELECT c.event_type, min(c.v) AS median
      FROM cum c WHERE c.cum >= (c.n + 1) // 2 GROUP BY 1
    ),
    lo AS (
      SELECT c.event_type, min(c.v) AS ci_lo
      FROM cum c JOIN ranks r ON r.event_type = c.event_type
      WHERE c.cum >= r.r_lo GROUP BY 1
    ),
    hi AS (
      SELECT c.event_type, min(c.v) AS ci_hi
      FROM cum c JOIN ranks r ON r.event_type = c.event_type
      WHERE c.cum >= r.r_hi GROUP BY 1
    )
    SELECT m.event_type, CAST(r.n AS BIGINT) AS n,
           round(m.median, 6) AS median,
           round(lo.ci_lo, 6) AS ci_lo,
           round(hi.ci_hi, 6) AS ci_hi
    FROM med m JOIN ranks r ON r.event_type = m.event_type
    JOIN lo ON lo.event_type = m.event_type
    JOIN hi ON hi.event_type = m.event_type
    """,
)
def q339_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the median by the
    order-statistic (binomial) method: the interval is the pair of
    sample values at ranks (n+1)/2 -/+ z*sqrt(n)/4*2 (the normal
    approximation to Binomial(n, 1/2) rank bounds, z as a 17-digit
    literal) — no bootstrap, no RNG, no distributional assumption: the
    inference tier of the robust-statistics family (q323 gives the
    point estimates, this bounds them). Ranks are exact integers
    (floor/ceil of identical doubles), order statistics read off
    cumulative counts over the distinct-value support.

    100 TB story: the q323 shape — one (type, value) rollup, per-type
    cumulative frames over the support, three rank probes that reuse
    the same frame.
    """
    z = 1.959963984540054
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = e.groupBy("event_type", F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = Window.partitionBy("event_type")
    cum = g.select(
        "event_type",
        "v",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(p).alias("n"),
    ).localCheckpoint(eager=True)
    ranks = cum.groupBy("event_type").agg(
        F.min("n").alias("n"),
        F.floor(
            (F.min("n") + 1) / 2.0 - z * F.sqrt(F.min("n") / 4.0)
        ).cast("long").alias("r_lo"),
        F.ceil(
            (F.min("n") + 1) / 2.0 + z * F.sqrt(F.min("n") / 4.0)
        ).cast("long").alias("r_hi"),
    )
    med = (
        cum.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("event_type")
        .agg(F.min("v").alias("median"))
    )
    lo = (
        cum.join(F.broadcast(ranks), "event_type")
        .filter(F.col("cum") >= F.col("r_lo"))
        .groupBy("event_type")
        .agg(F.min("v").alias("ci_lo"))
    )
    hi = (
        cum.join(F.broadcast(ranks), "event_type")
        .filter(F.col("cum") >= F.col("r_hi"))
        .groupBy("event_type")
        .agg(F.min("v").alias("ci_hi"))
    )
    return (
        med.join(ranks, "event_type")
        .join(lo, "event_type")
        .join(hi, "event_type")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round("median", 6).alias("median"),
            F.round("ci_lo", 6).alias("ci_lo"),
            F.round("ci_hi", 6).alias("ci_hi"),
        )
    )


@query(
    "q340_simpsons_paradox",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(sum(CASE WHEN user_id % 2 = 0 AND value > 150
                           THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN user_id % 2 = 0 AND value <= 150
                           THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN user_id % 2 = 1 AND value > 150
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN user_id % 2 = 1 AND value <= 150
                           THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    strata AS (
      SELECT event_type, a, b, c, d,
             CASE WHEN a * 1.0 * (c + d) > c * 1.0 * (a + b) THEN 1
                  WHEN a * 1.0 * (c + d) < c * 1.0 * (a + b) THEN -1
                  ELSE 0 END AS direction
      FROM s
    ),
    pooled AS (
      SELECT sum(a) AS a, sum(b) AS b, sum(c) AS c, sum(d) AS d,
             CASE WHEN sum(a) * 1.0 * (sum(c) + sum(d))
                       > sum(c) * 1.0 * (sum(a) + sum(b)) THEN 1
                  WHEN sum(a) * 1.0 * (sum(c) + sum(d))
                       < sum(c) * 1.0 * (sum(a) + sum(b)) THEN -1
                  ELSE 0 END AS direction
      FROM s
    )
    SELECT st.event_type,
           round(st.a * 1.0 / (st.a + st.b), 6) AS rate_arm0,
           round(st.c * 1.0 / (st.c + st.d), 6) AS rate_arm1,
           CAST(st.direction AS INT) AS stratum_direction,
           CAST(p.direction AS INT) AS pooled_direction,
           CASE WHEN st.direction <> 0 AND p.direction <> 0
                     AND st.direction <> p.direction
                THEN 1 ELSE 0 END AS reversed
    FROM strata st CROSS JOIN pooled p
    """,
)
def q340_simpsons_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit of the A/B conversion comparison: per
    stratum (event type), which arm converts better — and does the
    POOLED comparison point the same way? A `reversed=1` row is the
    classic aggregation trap (Simpson 1951): the pooled table says arm 1
    wins while this stratum says arm 0 does, meaning the pooled
    conclusion is confounded by the stratum mix and must not ship. The
    direction compare is EXACT integer cross-multiplication
    (a*(c+d) vs c*(a+b) — no rate division before the decision), so the
    flag cannot flip on float noise.

    100 TB story: one conditional-aggregation pass builds every 2x2
    stratum table; the pooled table is a 1-row rollup of the strata
    broadcast back over the 5-row frame.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    arm0 = F.col("user_id") % 2 == 0
    conv = F.col("value") > 150
    s = e.groupBy("event_type").agg(
        F.sum(F.when(arm0 & conv, 1).otherwise(0)).alias("a"),
        F.sum(F.when(arm0 & ~conv, 1).otherwise(0)).alias("b"),
        F.sum(F.when(~arm0 & conv, 1).otherwise(0)).alias("c"),
        F.sum(F.when(~arm0 & ~conv, 1).otherwise(0)).alias("d"),
    ).localCheckpoint(eager=True)

    def direction(a, b, c, d):
        lhs = a * 1.0 * (c + d)
        rhs = c * 1.0 * (a + b)
        return F.when(lhs > rhs, 1).when(lhs < rhs, -1).otherwise(0)

    strata = s.select(
        "event_type",
        "a",
        "b",
        "c",
        "d",
        direction(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias(
            "direction"
        ),
    )
    pooled = s.agg(
        F.sum("a").alias("pa"),
        F.sum("b").alias("pb"),
        F.sum("c").alias("pc"),
        F.sum("d").alias("pd"),
    ).select(
        direction(F.col("pa"), F.col("pb"), F.col("pc"), F.col("pd")).alias(
            "p_direction"
        )
    )
    return strata.crossJoin(F.broadcast(pooled)).select(
        "event_type",
        F.round(F.col("a") * 1.0 / (F.col("a") + F.col("b")), 6).alias(
            "rate_arm0"
        ),
        F.round(F.col("c") * 1.0 / (F.col("c") + F.col("d")), 6).alias(
            "rate_arm1"
        ),
        F.col("direction").cast("int").alias("stratum_direction"),
        F.col("p_direction").cast("int").alias("pooled_direction"),
        F.when(
            (F.col("direction") != 0)
            & (F.col("p_direction") != 0)
            & (F.col("direction") != F.col("p_direction")),
            1,
        )
        .otherwise(0)
        .alias("reversed"),
    )


@query(
    "q341_burrows_delta",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({_TOKS_SQL}) AS term FROM documents
      WHERE trim(text) <> ''
    ),
    topw AS (
      SELECT term FROM (
        SELECT term, count(*) AS n FROM toks GROUP BY 1
        ORDER BY n DESC, term ASC LIMIT 50
      )
    ),
    st AS (
      SELECT t.source, t.term, CAST(count(*) AS BIGINT) AS n
      FROM toks t JOIN topw w ON w.term = t.term
      GROUP BY 1, 2
    ),
    ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
           FROM toks GROUP BY 1),
    grid AS (
      SELECT ns.source, w.term,
             coalesce(st.n, 0) * 1000000.0 / ns.n_s AS fpm
      FROM ns CROSS JOIN topw w
      LEFT JOIN st ON st.source = ns.source AND st.term = w.term
    ),
    mom AS (
      SELECT term,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CAST(round(fpm, 12) AS DECIMAL(38,12))) AS DOUBLE) AS s1,
             CAST(sum(CAST(round(fpm * fpm, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS s2
      FROM grid GROUP BY 1
    ),
    z AS (
      SELECT g.source, g.term,
             (g.fpm - m.s1 / m.k)
             / sqrt(greatest(m.s2 / m.k - (m.s1 / m.k) * (m.s1 / m.k),
                             1e-300)) AS zv
      FROM grid g JOIN mom m ON m.term = g.term
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(sum(CAST(round(abs(a.zv - b.zv), 12)
                  AS DECIMAL(38,12))) AS DOUBLE) / 50 AS delta
      FROM z a JOIN z b ON a.term = b.term AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, round(delta, 6) AS burrows_delta
    FROM pairs
    """,
)
def q341_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between sources (Burrows 2002,
    the standard authorship-attribution measure): per-source frequencies
    per million of the corpus's top-50 words, z-scored ACROSS sources per
    word, pairwise mean |z_a - z_b| — near-zero Delta between two
    'different' sources is the syndication/laundering fingerprint
    content-level dedup misses when the texts differ but the WRITING
    doesn't. Function-word profiles are the signal precisely because
    no copy-editor changes them.

    Determinism: top-50 by (count desc, term asc); fpm and moments fold
    as 12-dp DECIMAL(38,12); the z and delta arithmetic is identical
    ratios of identical sums; absent (source, word) cells contribute
    fpm=0 via the full grid.

    100 TB story: one tokenize pass feeds the word census and the
    per-source counts of 50 words; the grid/z/delta all run on the
    sources x 50 frame — pair work is sources-squared, not corpus
    anything.
    """
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    toks = d.select("source", F.explode(text.tokens(F.col("text"))).alias("term"))
    topw = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.asc("term"))
        .limit(50)
        .select("term")
        .localCheckpoint(eager=True)
    )
    st = (
        toks.join(F.broadcast(topw), "term")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ns = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    grid = (
        ns.crossJoin(F.broadcast(topw))
        .join(st, ["source", "term"], "left")
        .select(
            "source",
            "term",
            (F.coalesce("n", F.lit(0)) * 1000000.0 / F.col("n_s")).alias("fpm"),
        )
        .localCheckpoint(eager=True)
    )
    mom = grid.groupBy("term").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.round("fpm", 12).cast("decimal(38,12)")).cast("double").alias("s1"),
        F.sum(F.round(F.col("fpm") * F.col("fpm"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("k")
    sd = F.sqrt(F.greatest(F.col("s2") / F.col("k") - mean * mean, F.lit(1e-300)))
    z = grid.join(F.broadcast(mom), "term").select(
        "source", "term", ((F.col("fpm") - mean) / sd).alias("zv")
    )
    a = z.alias("a")
    b = z.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(
            (
                F.sum(
                    F.round(F.abs(F.col("a.zv") - F.col("b.zv")), 12).cast(
                        "decimal(38,12)"
                    )
                ).cast("double")
                / 50
            ).alias("delta")
        )
    )
    return pairs.select("src_a", "src_b", F.round("delta", 6).alias("burrows_delta"))


# ---------------------------------------------------------------------------
# Round-9: multiple testing, drift distances, agreement, and the
# experimentation ladder's stratified/adjusted tier
# ---------------------------------------------------------------------------


def _p2_sql(x: str) -> str:
    """Two-sided normal p-value erfc(x) for x = |z|/sqrt(2) as a DuckDB
    expression — Abramowitz & Stegun 7.1.26 (public handbook, |err| <
    1.5e-7), evaluated with the IDENTICAL Horner chain and literals as
    the engine column so both sides agree bit-for-bit (same IEEE ops in
    the same order; statistical accuracy disclosed, parity exact)."""
    t = f"(1.0/(1.0 + 0.3275911*({x})))"
    return (
        f"({t}*(0.254829592 + {t}*(-0.284496736 + {t}*(1.421413741 + "
        f"{t}*(-1.453152027 + {t}*1.061405429)))) * exp(-({x})*({x})))"
    )


def _p2_col(x: F.Column) -> F.Column:
    """Engine twin of :func:`_p2_sql` — same Horner order, same literals."""
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    return (
        t
        * (
            F.lit(0.254829592)
            + t
            * (
                F.lit(-0.284496736)
                + t
                * (
                    F.lit(1.421413741)
                    + t * (F.lit(-1.453152027) + t * F.lit(1.061405429))
                )
            )
        )
        * F.exp(-(x * x))
    )


_INV_SQRT2 = 0.7071067811865476  # 1/sqrt(2), correctly rounded literal

_Q342_Z_SQL = """
    g AS (
      SELECT event_type,
             CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n0,
             CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n1,
             CAST(sum(conv) FILTER (WHERE arm = 0) AS BIGINT) AS c0,
             CAST(sum(conv) FILTER (WHERE arm = 1) AS BIGINT) AS c1
      FROM (SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
                   CASE WHEN value > 150 THEN 1 ELSE 0 END AS conv
            FROM events WHERE value IS NOT NULL)
      GROUP BY event_type
    ),
    z AS (
      SELECT event_type, n0, n1,
             (c1 * 1.0 / n1 - c0 * 1.0 / n0)
             / sqrt(((c0 + c1) * 1.0 / (n0 + n1)) * (1.0 - (c0 + c1) * 1.0 / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)) AS zs
      FROM g
    )
"""


@query(
    "q342_bh_fdr",
    oracle=f"""
    WITH {_Q342_Z_SQL},
    p AS (
      SELECT event_type, n0, n1, zs,
             {_p2_sql(f"abs(zs) * {_INV_SQRT2}")} AS pv
      FROM z
    ),
    r AS (
      SELECT *, row_number() OVER (ORDER BY pv ASC, event_type ASC) AS rk,
             count(*) OVER () AS m
      FROM p
    ),
    k AS (SELECT coalesce(max(CASE WHEN pv <= rk * 0.05 / m THEN rk END), 0) AS kmax FROM r)
    SELECT event_type, n0, n1,
           round(zs, 6) + 0.0 AS z,
           round(pv, 6) + 0.0 AS p_value,
           CAST(rk AS INT) AS bh_rank,
           round(rk * 0.05 / m, 6) AS bh_threshold,
           CAST(CASE WHEN rk <= k.kmax THEN 1 ELSE 0 END AS INT) AS reject
    FROM r CROSS JOIN k
    """,
)
def q342_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control (Benjamini & Hochberg 1995)
    over the per-event-type two-proportion z-tests (arm = user parity,
    conversion = value > 150, q330's construction): rank the m p-values
    ascending, find the largest k with p_(k) <= k*alpha/m (alpha=0.05),
    reject hypotheses 1..k — the multiple-testing guard every metrics
    platform needs once it tests five event types at once (pairs the
    single-test tier q330/q331/q334). p-values via the Abramowitz-Stegun
    erfc polynomial evaluated with IDENTICAL literals/order in both
    engines, so ranks and rejections match exactly.

    100 TB story: the corpus collapses to m per-type count rows in ONE
    map-side-combining aggregate; z/p/BH all run on the m-row frame (the
    rank window is over m = #event-types rows — the audited aggregated-
    support exception)."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = e.groupBy("event_type").agg(
        F.count(F.when(F.col("user_id") % 2 == 0, 1)).alias("n0"),
        F.count(F.when(F.col("user_id") % 2 == 1, 1)).alias("n1"),
        F.sum(
            F.when((F.col("user_id") % 2 == 0) & (F.col("value") > 150), 1).otherwise(0)
        ).alias("c0"),
        F.sum(
            F.when((F.col("user_id") % 2 == 1) & (F.col("value") > 150), 1).otherwise(0)
        ).alias("c1"),
    )
    ph = (F.col("c0") + F.col("c1")) * 1.0 / (F.col("n0") + F.col("n1"))
    zc = (F.col("c1") * 1.0 / F.col("n1") - F.col("c0") * 1.0 / F.col("n0")) / F.sqrt(
        ph * (F.lit(1.0) - ph) * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
    )
    p = g.select(
        "event_type", "n0", "n1", zc.alias("zs")
    ).select(
        "*", _p2_col(F.abs(F.col("zs")) * F.lit(_INV_SQRT2)).alias("pv")
    )
    w = Window.orderBy(F.col("pv").asc(), F.col("event_type").asc())
    r = p.select(
        "*",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("m"),
    ).localCheckpoint(eager=True)
    k = r.agg(
        F.coalesce(
            F.max(F.when(F.col("pv") <= F.col("rk") * 0.05 / F.col("m"), F.col("rk"))),
            F.lit(0),
        ).alias("kmax")
    )
    return r.crossJoin(F.broadcast(k)).select(
        "event_type",
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        (F.round("zs", 6) + F.lit(0.0)).alias("z"),
        (F.round("pv", 6) + F.lit(0.0)).alias("p_value"),
        F.col("rk").cast("int").alias("bh_rank"),
        F.round(F.col("rk") * 0.05 / F.col("m"), 6).alias("bh_threshold"),
        F.when(F.col("rk") <= F.col("kmax"), 1).otherwise(0).cast("int").alias("reject"),
    )


@query(
    "q343_wasserstein_drift",
    oracle="""
    WITH s AS (
      SELECT event_type, CAST(user_id % 2 AS INT) AS arm, value
      FROM events WHERE value IS NOT NULL
    ),
    sup AS (
      SELECT event_type, value AS v,
             CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS c0,
             CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS c1
      FROM s GROUP BY event_type, value
    ),
    cum AS (
      SELECT event_type, v,
             sum(c0) OVER (PARTITION BY event_type ORDER BY v) AS f0,
             sum(c1) OVER (PARTITION BY event_type ORDER BY v) AS f1,
             sum(c0) OVER (PARTITION BY event_type) AS n0,
             sum(c1) OVER (PARTITION BY event_type) AS n1,
             lead(v) OVER (PARTITION BY event_type ORDER BY v) AS nv
      FROM sup
    )
    SELECT event_type,
           CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           CAST(round(sum(CAST(round(abs(f0 * 1.0 / n0 - f1 * 1.0 / n1) * (nv - v), 12) AS DECIMAL(38,12))), 6) AS DOUBLE) + 0.0 AS w1
    FROM cum WHERE nv IS NOT NULL
    GROUP BY event_type, n0, n1
    """,
)
def q343_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth mover's) distance between the two arms'
    value distributions per event type: W1 = integral of |F0 - F1| dv,
    exact on the merged distinct-value support as sum over support gaps
    of |cdf gap| * (next_v - v) — the drift distance with UNITS (how far
    mass moved, in value units) completing the drift ladder's
    supremum-norm (KS q310), quadratic-norm (CvM q319), and
    likelihood-ratio (PSI q318 / JSD q312) tiers. Terms fold as 12-dp
    DECIMAL(38,12), so engines agree digit-for-digit.

    100 TB story: q310's exact shape — the fact table collapses to the
    (type, value) support with a map-side partial aggregate BEFORE any
    window; cumulative frames and the lead() gap run per-type on the
    support only."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    sup = e.groupBy("event_type", F.col("value").alias("v")).agg(
        F.count(F.when(F.col("user_id") % 2 == 0, 1)).alias("c0"),
        F.count(F.when(F.col("user_id") % 2 == 1, 1)).alias("c1"),
    )
    wo = Window.partitionBy("event_type").orderBy("v")
    wp = Window.partitionBy("event_type")
    cum = sup.select(
        "event_type",
        "v",
        F.sum("c0").over(wo).alias("f0"),
        F.sum("c1").over(wo).alias("f1"),
        F.sum("c0").over(wp).alias("n0"),
        F.sum("c1").over(wp).alias("n1"),
        F.lead("v").over(wo).alias("nv"),
    )
    term = F.abs(F.col("f0") * 1.0 / F.col("n0") - F.col("f1") * 1.0 / F.col("n1")) * (
        F.col("nv") - F.col("v")
    )
    return (
        cum.filter(F.col("nv").isNotNull())
        .groupBy("event_type", "n0", "n1")
        .agg(
            (
                F.round(
                    F.sum(F.round(term, 12).cast("decimal(38,12)")), 6
                ).cast("double")
                + F.lit(0.0)
            ).alias("w1")
        )
        .select(
            "event_type",
            F.col("n0").cast("long").alias("n0"),
            F.col("n1").cast("long").alias("n1"),
            "w1",
        )
    )


@query(
    "q344_kendall_tau",
    oracle="""
    WITH d AS (
      SELECT (epoch_ns(ts) // 1000000000) // 86400 AS day,
             CAST(count(*) AS BIGINT) AS x,
             CAST(round(sum(CAST(value AS DECIMAL(18,4))) * 100, 0) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    p AS (
      SELECT CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END AS con,
             CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END AS dis,
             CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
             CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
      FROM d a JOIN d b ON a.day < b.day
    ),
    s AS (
      SELECT CAST(sum(con) AS BIGINT) AS c, CAST(sum(dis) AS BIGINT) AS dd,
             CAST(sum(tx) AS BIGINT) AS n1, CAST(sum(ty) AS BIGINT) AS n2,
             CAST(count(*) AS BIGINT) AS n0
      FROM p
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_days,
           c AS concordant, dd AS discordant, n1 AS ties_x, n2 AS ties_y,
           round((c - dd) / sqrt((n0 - n1) * 1.0 * (n0 - n2)), 6) + 0.0 AS tau_b
    FROM s
    """,
)
def q344_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation (Kendall 1938, tie-corrected)
    between daily event VOLUME and daily total VALUE (exact cents) — do
    busier days move more money, measured without assuming linearity?
    The bivariate cousin of q311's Mann-Kendall (which is tau of a series
    against TIME; disclosed kinship): concordant/discordant/tie counts
    are exact integers over day pairs, so tau matches digit-for-digit.

    100 TB story: the corpus collapses to the O(days) daily rollup in
    ONE map-side-combining aggregate; the pair join is O(days^2) on a
    calendar-bounded frame (~30 rows here, 365 at a year) — never
    corpus-sized."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = e.groupBy(F.expr("(ts div 1000000000) div 86400").alias("day")).agg(
        F.count(F.lit(1)).alias("x"),
        F.round(F.sum(_dec("value")) * 100, 0).cast("long").alias("y"),
    ).localCheckpoint(eager=True)
    a, b = d.alias("a"), d.alias("b")
    pr = a.join(b, F.col("a.day") < F.col("b.day")).select(
        ((F.col("b.x") - F.col("a.x")) * (F.col("b.y") - F.col("a.y"))).alias("s"),
        (F.col("a.x") == F.col("b.x")).cast("int").alias("tx"),
        (F.col("a.y") == F.col("b.y")).cast("int").alias("ty"),
    )
    s = pr.agg(
        F.sum(F.when(F.col("s") > 0, 1).otherwise(0)).alias("c"),
        F.sum(F.when(F.col("s") < 0, 1).otherwise(0)).alias("dd"),
        F.sum("tx").alias("n1"),
        F.sum("ty").alias("n2"),
        F.count(F.lit(1)).alias("n0"),
    )
    nd = d.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    tau = (F.col("c") - F.col("dd")) / F.sqrt(
        (F.col("n0") - F.col("n1")) * 1.0 * (F.col("n0") - F.col("n2"))
    )
    return nd.crossJoin(F.broadcast(s)).select(
        "n_days",
        F.col("c").cast("long").alias("concordant"),
        F.col("dd").cast("long").alias("discordant"),
        F.col("n1").cast("long").alias("ties_x"),
        F.col("n2").cast("long").alias("ties_y"),
        (F.round(tau, 6) + F.lit(0.0)).alias("tau_b"),
    )


@query(
    "q345_cmh_test",
    oracle=f"""
    WITH s AS (
      SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
             CASE WHEN value > 150 THEN 1 ELSE 0 END AS conv
      FROM events WHERE value IS NOT NULL
    ),
    t AS (
      SELECT event_type,
             CAST(sum(conv) FILTER (WHERE arm = 1) AS BIGINT) AS a,
             CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) - CAST(sum(conv) FILTER (WHERE arm = 1) AS BIGINT) AS b,
             CAST(sum(conv) FILTER (WHERE arm = 0) AS BIGINT) AS c,
             CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) - CAST(sum(conv) FILTER (WHERE arm = 0) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM s GROUP BY event_type
    ),
    f AS (
      SELECT CAST(sum(a) AS BIGINT) AS sa,
             CAST(round(sum(CAST(round((a + b) * 1.0 * (a + c) / n, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS se,
             CAST(round(sum(CAST(round((a + b) * 1.0 * (c + d) * (a + c) * (b + d) / (n * 1.0 * n * (n - 1)), 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS sv,
             CAST(round(sum(CAST(round(a * 1.0 * d / n, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS sad,
             CAST(round(sum(CAST(round(b * 1.0 * c / n, 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS sbc,
             CAST(count(*) AS INT) AS k
      FROM t
    )
    SELECT k AS k_strata,
           round((sa - se) * (sa - se) / sv, 6) + 0.0 AS cmh_stat,
           round({_p2_sql(f"sqrt((sa - se) * (sa - se) / sv) * {_INV_SQRT2}")}, 6) + 0.0 AS p_value,
           round(sad / sbc, 6) AS mh_odds_ratio
    FROM f
    """,
)
def q345_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified 2x2 test (Mantel & Haenszel
    1959, no continuity correction — disclosed) of arm-vs-conversion
    ACROSS event-type strata, plus the Mantel-Haenszel pooled odds
    ratio: the stratum-adjusted answer to the confounding q340's
    Simpson's-paradox audit detects (q334 reports per-stratum odds
    ratios; this pools them the right way instead of collapsing the
    table). Per-stratum E/V terms are 12-dp DECIMAL folds over the
    O(types) frame; the chi-square(1) p-value reuses the A&S erfc
    polynomial, identical literals both engines.

    100 TB story: one map-side-combining aggregate collapses the corpus
    to K = #strata rows; everything downstream is a K-row fold."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    conv = F.when(F.col("value") > 150, 1).otherwise(0)
    arm1 = F.col("user_id") % 2 == 1
    t = e.groupBy("event_type").agg(
        F.sum(F.when(arm1, conv).otherwise(0)).alias("a"),
        (F.count(F.when(arm1, 1)) - F.sum(F.when(arm1, conv).otherwise(0))).alias("b"),
        F.sum(F.when(~arm1, conv).otherwise(0)).alias("c"),
        (F.count(F.when(~arm1, 1)) - F.sum(F.when(~arm1, conv).otherwise(0))).alias("d"),
        F.count(F.lit(1)).alias("n"),
    )
    e_i = (F.col("a") + F.col("b")) * 1.0 * (F.col("a") + F.col("c")) / F.col("n")
    v_i = (
        (F.col("a") + F.col("b"))
        * 1.0
        * (F.col("c") + F.col("d"))
        * (F.col("a") + F.col("c"))
        * (F.col("b") + F.col("d"))
        / (F.col("n") * 1.0 * F.col("n") * (F.col("n") - 1))
    )
    def _fold(x):
        return F.round(F.sum(F.round(x, 12).cast("decimal(38,12)")), 12).cast("double")
    f = t.agg(
        F.sum("a").alias("sa"),
        _fold(e_i).alias("se"),
        _fold(v_i).alias("sv"),
        _fold(F.col("a") * 1.0 * F.col("d") / F.col("n")).alias("sad"),
        _fold(F.col("b") * 1.0 * F.col("c") / F.col("n")).alias("sbc"),
        F.count(F.lit(1)).cast("int").alias("k"),
    )
    stat = (F.col("sa") - F.col("se")) * (F.col("sa") - F.col("se")) / F.col("sv")
    return f.select(
        F.col("k").alias("k_strata"),
        (F.round(stat, 6) + F.lit(0.0)).alias("cmh_stat"),
        (F.round(_p2_col(F.sqrt(stat) * F.lit(_INV_SQRT2)), 6) + F.lit(0.0)).alias(
            "p_value"
        ),
        F.round(F.col("sad") / F.col("sbc"), 6).alias("mh_odds_ratio"),
    )


@query(
    "q346_cohens_kappa",
    oracle="""
    WITH g AS (
      SELECT source,
             CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS ga,
             CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) >= 40 THEN 1 ELSE 0 END AS gb
      FROM documents WHERE trim(text) <> ''
    ),
    s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN ga = 1 AND gb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
             CAST(sum(CASE WHEN ga = 0 AND gb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
             CAST(sum(ga) AS BIGINT) AS na, CAST(sum(gb) AS BIGINT) AS nb
      FROM g GROUP BY source
    )
    SELECT source, n,
           round((n11 + n00) * 1.0 / n, 6) AS p_observed,
           round((na * 1.0 / n) * (nb * 1.0 / n) + (1.0 - na * 1.0 / n) * (1.0 - nb * 1.0 / n), 6) AS p_expected,
           CASE WHEN 1.0 - ((na * 1.0 / n) * (nb * 1.0 / n) + (1.0 - na * 1.0 / n) * (1.0 - nb * 1.0 / n)) = 0.0
                THEN 0.0
                ELSE round(((n11 + n00) * 1.0 / n - ((na * 1.0 / n) * (nb * 1.0 / n) + (1.0 - na * 1.0 / n) * (1.0 - nb * 1.0 / n)))
                           / (1.0 - ((na * 1.0 / n) * (nb * 1.0 / n) + (1.0 - na * 1.0 / n) * (1.0 - nb * 1.0 / n))), 6) + 0.0
           END AS kappa
    FROM s
    """,
)
def q346_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa chance-corrected agreement (Cohen 1960) between two
    binary quality gates — a char-length gate (n_chars >= 200) and a
    token-count gate (>= 40 whitespace tokens) — per source: the
    "do independent filters actually agree beyond what base rates force"
    check a curation pipeline runs before OR-ing gates into a keep
    decision (the chance-corrected tier above q216's rank agreement;
    disclosed kinship). Degenerate pe = 1 strata emit kappa 0 by the
    same CASE in both engines.

    100 TB story: both gates are pure column expressions inside ONE
    map-side-combining per-source aggregate; kappa arithmetic runs on
    the O(sources) frame."""
    d = _t(spark, sf_dir, "documents").filter(F.trim("text") != "")
    ga = F.when(F.col("n_chars") >= 200, 1).otherwise(0)
    gb = F.when(F.size(text.tokens(F.col("text"))) >= 40, 1).otherwise(0)
    s = d.select("source", ga.alias("ga"), gb.alias("gb")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when((F.col("ga") == 1) & (F.col("gb") == 1), 1).otherwise(0)).alias("n11"),
        F.sum(F.when((F.col("ga") == 0) & (F.col("gb") == 0), 1).otherwise(0)).alias("n00"),
        F.sum("ga").alias("na"),
        F.sum("gb").alias("nb"),
    )
    pa = F.col("na") * 1.0 / F.col("n")
    pb = F.col("nb") * 1.0 / F.col("n")
    po = (F.col("n11") + F.col("n00")) * 1.0 / F.col("n")
    pe = pa * pb + (F.lit(1.0) - pa) * (F.lit(1.0) - pb)
    return s.select(
        "source",
        F.col("n").cast("long").alias("n"),
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.when(F.lit(1.0) - pe == 0.0, F.lit(0.0))
        .otherwise(F.round((po - pe) / (F.lit(1.0) - pe), 6) + F.lit(0.0))
        .alias("kappa"),
    )


@query(
    "q347_brier_decomposition",
    oracle="""
    WITH s AS (
      SELECT CAST(least(greatest(CAST(floor(value * 100) AS BIGINT), 0), 19999) AS BIGINT) AS pq,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS o
      FROM events WHERE value IS NOT NULL
    ),
    b AS (
      SELECT pq // 2000 AS bin, CAST(count(*) AS BIGINT) AS nk,
             CAST(sum(pq) AS BIGINT) AS s1, CAST(sum(pq * pq) AS BIGINT) AS s2,
             CAST(sum(pq * o) AS BIGINT) AS spo, CAST(sum(o) AS BIGINT) AS so
      FROM s GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(nk) AS BIGINT) AS n, CAST(sum(so) AS BIGINT) AS sot,
             CAST(sum(s2) AS BIGINT) AS s2t, CAST(sum(spo) AS BIGINT) AS spot
      FROM b
    ),
    terms AS (
      SELECT
        CAST(round(sum(CAST(round(nk * (s1 / (20000.0 * nk) - so * 1.0 / nk) * (s1 / (20000.0 * nk) - so * 1.0 / nk), 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS rel_n,
        CAST(round(sum(CAST(round(nk * (so * 1.0 / nk - (SELECT sot * 1.0 / n FROM tot)) * (so * 1.0 / nk - (SELECT sot * 1.0 / n FROM tot)), 12) AS DECIMAL(38,12))), 12) AS DOUBLE) AS res_n
      FROM b
    )
    SELECT n,
           round((s2t / (20000.0 * 20000.0) - 2.0 * spot / 20000.0 + sot) / n, 6) AS brier,
           round(rel_n / n, 6) AS reliability,
           round(res_n / n, 6) AS resolution,
           round((sot * 1.0 / n) * (1.0 - sot * 1.0 / n), 6) AS uncertainty,
           round((s2t / (20000.0 * 20000.0) - 2.0 * spot / 20000.0 + sot) / n
                 - (rel_n / n - res_n / n + (sot * 1.0 / n) * (1.0 - sot * 1.0 / n)), 6) + 0.0 AS within_bin_term
    FROM tot CROSS JOIN terms
    """,
)
def q347_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score (Murphy 1973): treating
    value/200 (clamped to [0,1), CENTS-quantized so every moment is an
    exact integer sum) as a purchase-probability forecast, split mean
    squared error into reliability (calibration), resolution
    (discrimination), and uncertainty (base-rate entropy) over 10
    forecast bins — the diagnostic tier above q280's calibration table
    and q302's isotonic recalibration (disclosed kinship): REL says how
    far bin means sit from bin outcomes, RES how much the bins separate
    the base rate, and the residual column is the within-bin forecast
    variance the 10-bin coarsening leaves behind (reported, not hidden,
    so the identity is auditable). Brier itself comes from the exact
    integer moments (sum pq, sum pq^2, sum pq*o), never a float mean
    over corpus-ordered terms.

    100 TB story: ONE map-side-combining aggregate to 10 bin rows
    carrying integer moments; every statistic is a 10-row 12-dp DECIMAL
    fold; no second corpus pass, no window."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.select(
        F.least(
            F.greatest(F.floor(F.col("value") * 100).cast("long"), F.lit(0)),
            F.lit(19999),
        ).alias("pq"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("o"),
    )
    b = s.groupBy(F.expr("pq div 2000").alias("bin")).agg(
        F.count(F.lit(1)).alias("nk"),
        F.sum("pq").alias("s1"),
        F.sum(F.col("pq") * F.col("pq")).alias("s2"),
        F.sum(F.col("pq") * F.col("o")).alias("spo"),
        F.sum("o").alias("so"),
    ).localCheckpoint(eager=True)
    tot = b.agg(
        F.sum("nk").alias("n"),
        F.sum("so").alias("sot"),
        F.sum("s2").alias("s2t"),
        F.sum("spo").alias("spot"),
    )
    obar = F.col("sot") * 1.0 / F.col("n")
    pbark = F.col("s1") / (F.lit(20000.0) * F.col("nk"))
    obark = F.col("so") * 1.0 / F.col("nk")
    def _fold12(x):
        return F.round(F.sum(F.round(x, 12).cast("decimal(38,12)")), 12).cast("double")
    terms = b.crossJoin(F.broadcast(tot)).agg(
        _fold12(F.col("nk") * (pbark - obark) * (pbark - obark)).alias("rel_n"),
        _fold12(F.col("nk") * (obark - obar) * (obark - obar)).alias("res_n"),
    )
    brier = (
        F.col("s2t") / (F.lit(20000.0) * F.lit(20000.0))
        - F.lit(2.0) * F.col("spot") / F.lit(20000.0)
        + F.col("sot")
    ) / F.col("n")
    unc = obar * (F.lit(1.0) - obar)
    return tot.crossJoin(F.broadcast(terms)).select(
        F.col("n").cast("long").alias("n"),
        F.round(brier, 6).alias("brier"),
        F.round(F.col("rel_n") / F.col("n"), 6).alias("reliability"),
        F.round(F.col("res_n") / F.col("n"), 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        (
            F.round(
                brier
                - (F.col("rel_n") / F.col("n") - F.col("res_n") / F.col("n") + unc),
                6,
            )
            + F.lit(0.0)
        ).alias("within_bin_term"),
    )


# chi-square 95% critical values for df = 1..7 (literal handbook
# constants, identical in both engines)
_CHI2_95 = (3.841459, 5.991465, 7.814728, 9.487729, 11.070498, 12.591587, 14.067140)
