"""Query registry block 201-250 (mechanically split from the former
single-module registry in round 9; see ``_core`` for the decorator,
the registry dicts, and the float-determinism policy)."""

from __future__ import annotations


from phoebe_spark.operators import dedup, graph, sampling, similarity, text

from pyspark.sql import DataFrame, SparkSession, Window
from phoebe_spark.timeseries import core as ts_core
from pyspark.sql import functions as F

from ._core import EPOCH_SQL, ORACLE, _dec, _dim, _dsum2, _epoch, _t, query
from .q001_050 import _MD5H_SQL, _PREFIX_FP_SQL, _TOKS_SQL, _prefix_fp

@query(
    "q201_tpch_q4_semi",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q201_tpch_q4_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): orders in a quarter with
    at least one LATE line item, counted per priority. The reference
    corpus has no l_commitdate/l_receiptdate, so lateness is the
    disclosed proxy ``l_shipdate > o_orderdate + 90 days`` (same policy
    as the Q9 cost proxy) — the SHAPE under test is the decorrelated
    EXISTS: a LEFT SEMI join, never a count-then-filter materialization.

    Scale shape: the quarter filter prunes orders at the scan
    (PushedFilters); the semi join shuffles on orderkey and short-
    circuits per probe row — no lineitem aggregation state, no
    duplicate-elimination afterthought. Catalyst plans EXISTS exactly
    this way, which is why the DataFrame side writes left_semi
    explicitly."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "q202_kmv_set_ops",
    oracle="""
    WITH h AS (
      SELECT DISTINCT source,
             CAST(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS DOUBLE)
               / 1152921504606846976 AS u
      FROM documents
    ),
    sk AS (
      SELECT source, u
      FROM (SELECT source, u,
                   row_number() OVER (PARTITION BY source ORDER BY u) AS rn
            FROM h)
      WHERE rn <= 32
    ),
    pairs AS (SELECT a.source AS source_a, b.source AS source_b
              FROM (SELECT DISTINCT source FROM sk) a
              JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
    merged AS (
      SELECT p.source_a, p.source_b, s.u,
             max(CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN sk s ON s.source IN (p.source_a, p.source_b)
      GROUP BY p.source_a, p.source_b, s.u
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY source_a, source_b ORDER BY u) AS rn
      FROM merged
    ),
    kset AS (SELECT * FROM ranked WHERE rn <= 32),
    agg AS (
      SELECT source_a, source_b,
             count(*) AS m,
             max(u) AS u_k,
             sum(in_a * in_b) AS n_both
      FROM kset GROUP BY source_a, source_b
    )
    SELECT source_a, source_b,
           CAST(n_both AS BIGINT) AS n_both,
           round(CASE WHEN m < 32 THEN m * 1.0 ELSE (32 - 1) / u_k END, 6)
             AS union_est,
           round(n_both * 1.0 / m, 6) AS jaccard_est
    FROM agg
    """,
)
def q202_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) sketch SET OPERATIONS between sources: estimate
    pairwise union cardinality and Jaccard overlap from 32-value
    bottom-k sketches of each source's document-hash set — the
    mergeable-sketch algebra (Beyer et al. 2007) that lets a 100 TB
    corpus answer "how much does crawl A overlap crawl B" from
    kilobytes of state. Hashes map to the unit interval via the first
    60 bits of md5 (2^60 divides exactly, so the double scaling is
    lossless); under-filled sketches (|merged| < k) fall back to the
    exact count, so the small-SF fixtures exercise the exact path and
    sf0.1 the estimator path — both engines replay both branches
    digit-for-digit.

    Scale shape: per-source sketches are a rank-k window over the
    distinct (source, hash) projection (k rows per source survive);
    the pair algebra runs on sources x k rows — corpus size never
    appears after the first aggregation."""
    d = _t(spark, sf_dir, "documents")
    h = d.select(
        "source",
        (
            F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long").cast("double")
            / F.lit(1152921504606846976)
        ).alias("u"),
    ).distinct()
    w = Window.partitionBy("source").orderBy("u")
    sk = h.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 32).drop("rn")
    srcs = sk.select("source").distinct()
    pairs = srcs.select(F.col("source").alias("source_a")).join(
        srcs.select(F.col("source").alias("source_b")),
        F.col("source_a") < F.col("source_b"),
    )
    # sketches are sources x k rows — broadcast both sides of the algebra
    merged = (
        F.broadcast(pairs)
        .join(
            F.broadcast(sk),
            (F.col("source") == F.col("source_a"))
            | (F.col("source") == F.col("source_b")),
        )
        .groupBy("source_a", "source_b", "u")
        .agg(
            F.max(F.when(F.col("source") == F.col("source_a"), 1).otherwise(0)).alias(
                "in_a"
            ),
            F.max(F.when(F.col("source") == F.col("source_b"), 1).otherwise(0)).alias(
                "in_b"
            ),
        )
    )
    wk = Window.partitionBy("source_a", "source_b").orderBy("u")
    kset = merged.withColumn("rn", F.row_number().over(wk)).filter(F.col("rn") <= 32)
    agg = kset.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("m"),
        F.max("u").alias("u_k"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
    )
    return agg.select(
        "source_a",
        "source_b",
        F.col("n_both").cast("long").alias("n_both"),
        F.round(
            F.when(F.col("m") < 32, F.col("m").cast("double")).otherwise(
                F.lit(31.0) / F.col("u_k")
            ),
            6,
        ).alias("union_est"),
        F.round(F.col("n_both") / F.col("m"), 6).alias("jaccard_est"),
    )


@query(
    "q203_session_window_drain",
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
def q203_session_window_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING session windows inside the hash-checked gate: the events
    table replayed as a stream through ``session_window(event_time,
    '30 minutes')`` — Spark's native merging-session-state operator —
    drained in complete mode and summarized per user exactly like the
    BATCH gaps-and-islands sessionization (q46). The two
    implementations share nothing (stateful window merge vs lag/window
    SQL) and must produce identical session counts, sizes, and
    durations; ``session_window.end`` is last-event + gap, so duration
    subtracts the 30-minute tail before comparing.

    Scale notes: complete mode is the DRAIN contract only; production
    session aggregation runs append + watermark so closed sessions emit
    and state stays bounded by open sessions per key. The drain runs
    with 8 state partitions (streaming/drain.py)."""
    from phoebe_spark.streaming import drain

    ev = _t(spark, sf_dir, "events")
    with drain.scratch("q203_") as work:
        ev.select(
            "user_id", F.expr("timestamp_micros(ts div 1000)").alias("event_time")
        ).write.parquet(f"{work}/src")

        stream = spark.readStream.schema("user_id LONG, event_time TIMESTAMP").parquet(
            f"{work}/src"
        )
        sessions = stream.groupBy(
            "user_id", F.session_window("event_time", "30 minutes").alias("sw")
        ).agg(F.count(F.lit(1)).alias("ev"))
        sink = drain.run(sessions, work, output_mode="complete")

        out = (
            spark.read.parquet(sink)
            .select(
                "user_id",
                "ev",
                (
                    F.col("sw.end").cast("long")
                    - F.col("sw.start").cast("long")
                    - F.lit(1800)
                ).alias("dur"),
            )
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_sessions"),
                F.sum("ev").cast("long").alias("n_events"),
                F.round(F.avg("ev"), 6).alias("avg_session_events"),
                F.round(F.avg("dur"), 6).alias("avg_session_dur_s"),
            )
        )
        return out.localCheckpoint(eager=True)


@query(
    "q204_image_ahash_gate",
    oracle="""
    WITH px AS (
      SELECT doc_id, unnest(generate_series(0, 63)) AS i,
             (doc_id * 31 + unnest(generate_series(0, 63)) * 7) % 256 AS p
      FROM documents
    ),
    bits AS (
      SELECT doc_id, i,
             CASE WHEN p * 64 > sum(p) OVER (PARTITION BY doc_id) THEN 1 ELSE 0 END AS b
      FROM px
    ),
    halves AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN i < 32 THEN b * (CAST(1 AS BIGINT) << (31 - i)) ELSE 0 END) AS BIGINT) AS hi,
             CAST(sum(CASE WHEN i >= 32 THEN b * (CAST(1 AS BIGINT) << (63 - i)) ELSE 0 END) AS BIGINT) AS lo,
             CAST(sum(b) AS BIGINT) AS n_on
      FROM bits GROUP BY doc_id
    )
    SELECT doc_id,
           CAST((hi - 2147483648) * 4294967296 + lo AS BIGINT) AS ahash,
           n_on
    FROM halves
    """,
)
def q204_image_ahash_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IMAGE pipeline certification in the hash-checked gate:
    every doc synthesizes a REAL 8x8 PNG (zlib-deflated, filter-0
    scanlines) whose gray pixel ``i`` is the closed form
    ``(doc_id*31 + i*7) % 256``, runs the real decoder
    (:func:`multimodal.png_decode`) and the real perceptual average-hash
    (:func:`multimodal.image_features`), and the oracle predicts the
    final 64-bit hash ANALYTICALLY from the pixel formula — no image
    library on either side. Any defect in PNG framing, filter handling,
    channel order, the 8x8 downsample stride, or the bit packing flips
    a bit and fails the hash (the audio twin is q185). The mean
    threshold compares ``p*64 > sum(p)`` so both engines decide each
    bit in exact integer arithmetic, and the signed-int64 packing goes
    through 32-bit halves so the oracle never overflows BIGINT.

    Scale shape: generation, decode, and hashing are Arrow-batched
    mapInPandas kernels; blobs never leave the executor — the gate
    moves only (doc_id, 8-byte hash)."""
    from phoebe_spark.operators import multimodal

    def _gen(it):
        import struct
        import zlib

        import numpy as np
        import pandas as pd

        def _png(gray: np.ndarray) -> bytes:
            h, w = gray.shape
            raw = b"".join(
                b"\x00" + bytes(np.repeat(gray[r], 3).astype(np.uint8))
                for r in range(h)
            )
            def chunk(tag: bytes, body: bytes) -> bytes:
                return (
                    struct.pack(">I", len(body))
                    + tag
                    + body
                    + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
                )
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
            return (
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b"")
            )

        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = np.arange(64, dtype=np.int64)
                gray = ((int(doc_id) * 31 + i * 7) % 256).reshape(8, 8)
                png = _png(gray.astype(np.uint8))
                rows.append(
                    {
                        "media_id": int(doc_id),
                        "content": png,
                        "width": 8,
                        "height": 8,
                    }
                )
            yield pd.DataFrame(rows)

    d = _t(spark, sf_dir, "documents").select("doc_id")
    blobs = d.mapInPandas(
        _gen, "media_id LONG, content BINARY, width INT, height INT"
    )
    feats = multimodal.image_features(blobs, decoder=multimodal.png_decode)
    # ahash is the unsigned 64-bit hash re-biased into signed int64 by
    # subtracting 2^63 (= flipping the top bit of the two's-complement
    # pattern), so flipping it back with XOR min-long recovers the raw
    # bit pattern and its popcount
    return feats.select(
        F.col("media_id").alias("doc_id"),
        "ahash",
        F.bit_count(F.col("ahash").bitwiseXOR(F.lit(-9223372036854775808)))
        .cast("long")
        .alias("n_on"),
    )


@query(
    "q205_watermark_drop_audit",
    oracle="""
    WITH e AS (
      SELECT event_type, epoch_ns(ts) // 1000 AS us, (event_id % 4) + 1 AS b
      FROM events
    ),
    fm AS (SELECT b, max(us) AS mx FROM e GROUP BY b),
    cm AS (SELECT b, max(mx) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS m
           FROM fm),
    kept AS (
      SELECT e.event_type, (e.us // 3600000000) * 3600 AS ws
      FROM e LEFT JOIN cm ON cm.b = e.b - 2
      WHERE cm.m IS NULL
         OR ((e.us // 3600000000) * 3600 + 3600) * 1000000 > cm.m - 3600000000
    ),
    fin AS (SELECT max(us) - 3600000000 AS we FROM e)
    SELECT event_type, ws AS win_start, count(*) AS n_events
    FROM kept, fin
    WHERE (ws + 3600) * 1000000 <= fin.we
    GROUP BY event_type, ws
    """,
)
def q205_watermark_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK LATE-DATA SEMANTICS inside the hash-checked gate: the
    events table is sliced into 4 interleaved files (``event_id % 4``,
    so every micro-batch spans the full time range and later batches
    carry genuinely late rows), replayed one file per micro-batch
    (``maxFilesPerTrigger=1``, mtime-ordered), and run through an
    append-mode 1-hour tumbling window with a 1-hour watermark. The
    oracle replays Spark's micro-batch watermark mechanics EXACTLY,
    validated empirically against this engine (Spark 4.x):

    - the late-row filter of batch *i* uses the watermark planned
      before the batch ran: ``M(i-2) - delay`` where ``M(j)`` is the
      cumulative max event time through batch *j* — one batch MORE
      lagged than the end-of-batch eviction watermark;
    - a row is dropped iff its window end <= that watermark
      (boundary inclusive — verified with an exact-equality probe);
    - availableNow runs one final empty batch, so the emitted set is
      every window with end <= M(n) - delay (also inclusive), counting
      only rows that survived their batch's filter.

    Counts are integers, so the certification is exact — any future
    engine change to watermark lag, drop inclusivity, or the final
    finalization batch flips a count and fails the hash.

    Scale notes: this IS the production late-data contract (state
    evicted at the watermark, bounded by in-flight windows x keys);
    the drain's slice staging is one sorted write (q188's pattern)."""
    from phoebe_spark.streaming import drain

    ev = _t(spark, sf_dir, "events")
    with drain.scratch("q205_") as work:
        src_dir = f"{work}/src"
        stage = f"{work}/stage"
        (
            ev.select(
                F.expr("timestamp_micros(ts div 1000)").alias("event_time"),
                "event_type",
                (F.col("event_id") % 4 + 1).alias("_slice"),
            )
            .repartition(1)
            .write.partitionBy("_slice")
            .parquet(stage)
        )
        drain.stage_files(f"{stage}/_slice=*/part-*.parquet", src_dir)

        stream = (
            spark.readStream.schema("event_time TIMESTAMP, event_type STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .withWatermark("event_time", "1 hour")
        )
        agg = stream.groupBy(
            F.window("event_time", "1 hour"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n_events"))
        sink = drain.run(agg, work, output_mode="append")

        out = spark.read.parquet(sink).select(
            "event_type",
            F.col("window.start").cast("long").alias("win_start"),
            "n_events",
        )
        return out.localCheckpoint(eager=True)


@query(
    "q206_naive_bayes_source",
    oracle="""
    WITH split AS (
      SELECT doc_id, source, text,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|v1'), 1, 15)) AS BIGINT)
               % 10000 AS bucket
      FROM documents
    ),
    tok AS (
      SELECT doc_id, source, bucket < 9000 AS is_train, w
      FROM split, unnest(string_split(text, ' ')) AS u(w)
      WHERE w <> ''
    ),
    vocab AS (
      SELECT w FROM tok WHERE is_train GROUP BY w HAVING count(*) >= 5
    ),
    vsize AS (SELECT count(*) AS v FROM vocab),
    cls AS (
      SELECT source AS c, count(*) AS n_docs
      FROM split WHERE bucket < 9000 GROUP BY source
    ),
    ntrain AS (SELECT sum(n_docs) AS n FROM cls),
    wc AS (
      SELECT t.w, t.source AS c, count(*) AS n
      FROM tok t JOIN vocab v USING (w)
      WHERE t.is_train GROUP BY t.w, t.source
    ),
    ctot AS (SELECT c, sum(n) AS t FROM wc GROUP BY c),
    model AS (
      SELECT wc.w, wc.c,
             CAST(floor(1e6 * ln((wc.n + 1.0) / (ctot.t + vsize.v))) AS BIGINT) AS l
      FROM wc JOIN ctot USING (c), vsize
    ),
    clsinfo AS (
      SELECT cls.c,
             CAST(floor(1e6 * ln(cls.n_docs * 1.0 / ntrain.n)) AS BIGINT) AS prior,
             CAST(floor(1e6 * ln(1.0 / (ctot.t + vsize.v))) AS BIGINT) AS l0
      FROM cls JOIN ctot ON ctot.c = cls.c, ntrain, vsize
    ),
    testtok AS (
      SELECT t.doc_id, t.source, t.w
      FROM tok t JOIN vocab USING (w) WHERE NOT t.is_train
    ),
    doctot AS (SELECT doc_id, source, count(*) AS m FROM testtok GROUP BY 1, 2),
    delta AS (
      SELECT tt.doc_id, m.c, sum(m.l - ci.l0) AS d
      FROM testtok tt JOIN model m USING (w) JOIN clsinfo ci ON ci.c = m.c
      GROUP BY 1, 2
    ),
    scores AS (
      SELECT dt.doc_id, dt.source AS true_source, ci.c AS cand,
             ci.prior + dt.m * ci.l0 + coalesce(d.d, 0) AS score
      FROM doctot dt CROSS JOIN clsinfo ci
      LEFT JOIN delta d ON d.doc_id = dt.doc_id AND d.c = ci.c
    ),
    pred AS (
      SELECT doc_id, true_source, cand AS pred_source,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand ASC) AS rn
      FROM scores
    )
    SELECT true_source, pred_source, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1 GROUP BY 1, 2
    """,
)
def q206_naive_bayes_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained IN-ENGINE and certified exactly:
    fit on the deterministic md5 train split (add-one smoothing over a
    min-count-5 vocabulary), score the held-out docs, emit the
    source-vs-predicted confusion matrix. Every log-probability is
    floor-quantized to an integer (``floor(1e6 * ln(p))``) BEFORE any
    summation, so scores are exact integer sums in both engines and the
    argmax (ties broken by class name) cannot drift with float
    accumulation order — the fasttext-style quality/source classifier
    step of a curation pipeline as two shuffles plus broadcast joins.

    Scale shape: the fit is one map-side-combining groupBy(word, class)
    over the train token stream (vocabulary-bounded output); the model,
    class table, and vocab are broadcast to the scoring side, which is
    one groupBy(doc, class) over test tokens. The corpus shuffles on
    doc_id once; no all-pairs anything."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    bucket = sampling.hash_bucket(F.col("doc_id"), "v1", 10000)
    tok = (
        d.withColumn("is_train", bucket < 9000)
        .select(
            "doc_id",
            "source",
            "is_train",
            F.explode(F.split("text", " ")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    train = tok.filter("is_train")
    vocab = train.groupBy("w").count().filter("count >= 5").select("w")
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    cls = (
        d.withColumn("bucket", bucket)
        .filter("bucket < 9000")
        .groupBy(F.col("source").alias("c"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    ntrain = cls.agg(F.sum("n_docs").alias("n"))
    wc = (
        train.join(F.broadcast(vocab), "w")
        .groupBy("w", F.col("source").alias("c"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ctot = wc.groupBy("c").agg(F.sum("n").alias("t"))
    model = (
        wc.join(F.broadcast(ctot), "c")
        .crossJoin(F.broadcast(vsize))
        .select(
            "w",
            "c",
            F.floor(1e6 * F.log((F.col("n") + 1.0) / (F.col("t") + F.col("v"))))
            .cast("long")
            .alias("l"),
        )
    )
    clsinfo = (
        cls.join(F.broadcast(ctot), "c")
        .crossJoin(F.broadcast(ntrain))
        .crossJoin(F.broadcast(vsize))
        .select(
            "c",
            F.floor(1e6 * F.log(F.col("n_docs") * 1.0 / F.col("n")))
            .cast("long")
            .alias("prior"),
            F.floor(1e6 * F.log(1.0 / (F.col("t") + F.col("v"))))
            .cast("long")
            .alias("l0"),
        )
    )
    testtok = tok.filter(~F.col("is_train")).join(F.broadcast(vocab), "w")
    doctot = testtok.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("m")
    )
    delta = (
        testtok.join(F.broadcast(model), "w")
        .join(F.broadcast(clsinfo), "c")
        .groupBy("doc_id", "c")
        .agg(F.sum(F.col("l") - F.col("l0")).alias("d"))
    )
    scores = (
        doctot.crossJoin(F.broadcast(clsinfo))
        .join(delta, ["doc_id", "c"], "left")
        .select(
            "doc_id",
            F.col("source").alias("true_source"),
            F.col("c").alias("cand"),
            (
                F.col("prior")
                + F.col("m") * F.col("l0")
                + F.coalesce(F.col("d"), F.lit(0))
            ).alias("score"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand").asc()
    )
    pred = scores.withColumn("rn", F.row_number().over(w_rank)).filter("rn = 1")
    return pred.groupBy(
        "true_source", F.col("cand").alias("pred_source")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


@query(
    "q207_blocking_er_join",
    oracle="""
    WITH names AS (
      SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY p_name
    ),
    blocked AS (
      SELECT p_name, n_parts, split_part(p_name, ' ', 2) AS blk
      FROM names
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev,
           a.n_parts AS n_a, b.n_parts AS n_b
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def q207_blocking_er_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution blocking join: canonicalize part names to their
    DISTINCT spellings first (the pigeonhole move — candidate generation
    runs over entities, not rows), block on the head-noun token so the
    self-join is an equi-join within bounded blocks, then verify only
    the candidates with exact Levenshtein <= 3. Emits matched name
    pairs with their edit distance and per-spelling row support.

    Scale shape: the O(n^2) edit-distance verify never sees the fact
    table — it runs on distinct spellings within a block (block count
    grows with the name vocabulary, block size with spellings per noun);
    the only full-table work is the distinct+count groupBy. The same
    generate-then-verify contract as the chunk dedup path
    (operators/dedup.py)."""
    names = (
        _t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .withColumn("blk", F.split("p_name", " ").getItem(1))
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_a"),
        "blk",
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_b"),
        "blk",
    )
    pairs = a.join(_dim(b), "blk").filter(F.col("name_a") < F.col("name_b"))
    return (
        pairs.withColumn("lev", F.levenshtein("name_a", "name_b").cast("long"))
        .filter("lev <= 3")
        .select("name_a", "name_b", "lev", "n_a", "n_b")
    )


def _q208_oracle() -> str:
    # Embed the u<4 rows of the quantized DCT basis as literals so DuckDB
    # replays the integer DCT exactly (same table the engine kernel uses).
    from phoebe_spark.operators.multimodal import dct_basis_q

    t = dct_basis_q(8)
    vals = ", ".join(
        f"({u}, {x}, {t[u][x]})" for u in range(4) for x in range(8)
    )
    return f"""
    WITH px AS (
      SELECT doc_id,
             unnest(generate_series(0, 63)) // 8 AS r,
             unnest(generate_series(0, 63)) % 8 AS c,
             (doc_id * 37 + unnest(generate_series(0, 63)) * 11) % 256 AS p
      FROM documents
    ),
    tq(u, x, cv) AS (VALUES {vals}),
    coef AS (
      SELECT px.doc_id, t1.u AS u, t2.u AS v,
             sum(px.p * t1.cv * t2.cv) AS cval
      FROM px
      JOIN tq t1 ON t1.x = px.r
      JOIN tq t2 ON t2.x = px.c
      GROUP BY 1, 2, 3
    ),
    low AS (SELECT doc_id, u, v, cval FROM coef WHERE NOT (u = 0 AND v = 0)),
    tot AS (SELECT doc_id, sum(cval) AS s FROM low GROUP BY 1),
    bits AS (
      SELECT l.doc_id, l.u, l.v,
             CASE WHEN 15 * l.cval > t.s THEN 1 ELSE 0 END AS b
      FROM low l JOIN tot t USING (doc_id)
    )
    SELECT doc_id,
           CAST(sum(b * (CAST(1 AS BIGINT) << (14 - (u * 4 + v - 1)))) AS BIGINT)
             AS phash,
           CAST(sum(b) AS BIGINT) AS n_on
    FROM bits GROUP BY doc_id
    """


@query("q208_image_phash_gate", oracle=_q208_oracle())
def q208_image_phash_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT perceptual-hash certification — the frequency-domain sibling
    of q204's average-hash: every doc synthesizes a REAL 8x8 PNG whose
    gray pixel at (row r, col c) is ``(doc_id*37 + (r*8+c)*11) % 256``,
    runs the real PNG decoder and :func:`multimodal.image_dct_phash`
    (integer-quantized DCT basis, mean-threshold bits over the 4x4
    low-frequency block minus DC), and the oracle recomputes the SAME
    integer DCT analytically from the pixel formula with the basis
    embedded as literals. Every coefficient is an exact integer in both
    engines, so any defect in decode, the subsample, the basis, or the
    bit packing flips the 15-bit hash. pHash survives brightness shifts
    that break ahash — together they certify the two standard
    image-dedup fingerprints.

    Scale shape: Arrow mapInPandas kernels end-to-end; only (doc_id,
    15-bit hash) leaves the executors."""
    from phoebe_spark.operators import multimodal

    def _gen(it):
        import struct
        import zlib

        import numpy as np
        import pandas as pd

        def _png(gray: np.ndarray) -> bytes:
            h, w = gray.shape
            raw = b"".join(
                b"\x00" + bytes(np.repeat(gray[r], 3).astype(np.uint8))
                for r in range(h)
            )

            def chunk(tag: bytes, body: bytes) -> bytes:
                return (
                    struct.pack(">I", len(body))
                    + tag
                    + body
                    + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
                )

            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
            return (
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b"")
            )

        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = np.arange(64, dtype=np.int64)
                gray = ((int(doc_id) * 37 + i * 11) % 256).reshape(8, 8)
                rows.append(
                    {
                        "media_id": int(doc_id),
                        "content": _png(gray.astype(np.uint8)),
                        "width": 8,
                        "height": 8,
                    }
                )
            yield pd.DataFrame(rows)

    d = _t(spark, sf_dir, "documents").select("doc_id")
    blobs = d.mapInPandas(
        _gen, "media_id LONG, content BINARY, width INT, height INT"
    )
    out = multimodal.image_dct_phash(blobs, decoder=multimodal.png_decode)
    return out.select(F.col("media_id").alias("doc_id"), "phash", "n_on")


@query(
    "q209_streaming_cusum_drain",
    oracle=f"""
    WITH e AS (
      SELECT event_type, value, {EPOCH_SQL.format(c='ts')} * 1000000000
               + (epoch_ns(ts) % 1000000000) AS tsn, event_id
      FROM events WHERE value IS NOT NULL
    ),
    o AS (
      SELECT event_type,
             CAST(floor(value * 1000000.0) AS BIGINT) - 50000000 AS dev,
             row_number() OVER (ORDER BY tsn, event_id) AS ord,
             ntile(4) OVER (ORDER BY tsn, event_id) AS slice
      FROM e
    ),
    p AS (
      SELECT event_type, ord, slice,
             sum(dev) OVER (PARTITION BY event_type ORDER BY ord) AS psum,
             row_number() OVER (PARTITION BY event_type ORDER BY ord) AS rn
      FROM o
    ),
    s AS (
      SELECT event_type, ord, slice, rn,
             psum - least(CAST(0 AS HUGEINT),
                          min(psum) OVER (PARTITION BY event_type ORDER BY ord))
               AS s
      FROM p
    ),
    be AS (SELECT event_type, slice, max(ord) AS mo FROM o GROUP BY 1, 2),
    bs AS (
      SELECT s.event_type, s.slice, s.rn, s.s
      FROM s JOIN be ON be.event_type = s.event_type AND be.mo = s.ord
    )
    SELECT event_type,
           CAST(arg_max(s, slice) AS BIGINT) AS final_stat,
           CAST(max(rn) AS BIGINT) AS n_obs,
           CAST(sum(CASE WHEN s > 200000000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarm_batches
    FROM bs GROUP BY event_type
    """,
)
def q209_streaming_cusum_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CUSUM drift detector inside the hash-checked gate
    (:func:`stateful.keyed_cusum`): per-event-type deviations stream
    through 4 sequenced micro-batches and fold ``s = max(0, s + dev)``
    in the state store; the oracle replays the recursion CLOSED-FORM —
    ``S_n = P_n - min(0, min_j P_j)`` over prefix sums — at every
    micro-batch boundary. Deviations are floor-quantized to integers
    BEFORE streaming (``floor(1e6*value) - 50e6``), so the float state
    variable only ever holds exact integers (< 2^53) and the drain is
    bit-reproducible: the 4 batch-end probes per key certify the carried
    state, the observation counter, and the ``s > 200e6`` alarm line.

    The staging global sort is drain scaffolding (the production source
    is a Kafka topic, arrival order = partition order); state is two
    scalars per key. The closed form is also WHY the offline/online
    split is safe at 100 TB: thresholds tuned on the batch prefix-sum
    window plan transfer unchanged to the streaming fold."""
    from phoebe_spark.streaming import drain, stateful

    with drain.scratch("q209_") as work:
        stage, src_dir = f"{work}/stage", f"{work}/src"
        e = (
            _t(spark, sf_dir, "events")
            .filter(F.col("value").isNotNull())
            .select(
                F.col("event_type").alias("key"),
                (F.floor(F.col("value") * 1e6).cast("long") - 50000000)
                .cast("double")
                .alias("dev"),
                "ts",
                "event_id",
            )
        )
        w_ord = Window.orderBy("ts", "event_id")
        staged = e.select(
            "key",
            "dev",
            F.row_number().over(w_ord).alias("ord"),
            F.ntile(4).over(w_ord).alias("_slice"),
        )
        staged.repartition(1).write.partitionBy("_slice").parquet(stage)
        drain.stage_files(f"{stage}/_slice=*/part-*.parquet", src_dir)

        stream = (
            spark.readStream.schema("key STRING, dev DOUBLE, ord LONG")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        monitored = stateful.keyed_cusum(
            stream,
            k=0.0,
            h=200_000_000.0,
            key_col="key",
            ts_col="ord",
            value_col="dev",
        )
        sink = drain.run(monitored, work, output_mode="update")

        out = (
            spark.read.parquet(sink)
            .groupBy(F.col("key").alias("event_type"))
            .agg(
                F.max_by("stat", "n_obs").cast("long").alias("final_stat"),
                F.max("n_obs").alias("n_obs"),
                F.sum(F.col("alarm").cast("long")).alias("n_alarm_batches"),
            )
        )
        return out.localCheckpoint(eager=True)


@query(
    "q210_streaming_topk_drain",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_total,
           TRUE AS within_k, TRUE AS mass_exact, TRUE AS lower_ok,
           TRUE AS bound_ok, TRUE AS hh_tracked
    FROM events GROUP BY event_type
    """,
)
def q210_streaming_topk_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Misra-Gries heavy hitters inside the hash-checked gate
    (:func:`stateful.keyed_heavy_hitters`, k=10): per event type, user
    activity streams through 4 sequenced micro-batches into an O(k)
    summary, then the drained FINAL summary is audited against the exact
    batch counts with the Misra-Gries guarantees as EXACT integer
    checks (boolean-oracle treatment, like the q116/q117 sketch gates —
    summary content is fold-order-dependent, the invariants are not):

    - ``within_k``: at most k tracked items per key;
    - ``mass_exact``: (n_total - sum of counters) is divisible by k+1 —
      every decrement event retires exactly k+1 occurrences, so the
      retired mass is an exact multiple (a sharp algebra check on the
      carried state, not just an inequality);
    - ``lower_ok``: every counter is a lower bound on its true count;
    - ``bound_ok``: every undercount (and every untracked item's true
      count) is at most D = retired/(k+1);
    - ``hh_tracked``: every item with true count > D is tracked.

    Scale shape: O(k) state per key vs the unbounded groupBy a naive
    top-k would carry; the exact-count audit side is sf-test scaffolding
    (at 100 TB you'd audit a sampled key subset)."""
    from phoebe_spark.streaming import drain, stateful

    K = 10
    with drain.scratch("q210_") as work:
        stage, src_dir = f"{work}/stage", f"{work}/src"
        ev = _t(spark, sf_dir, "events")
        e = ev.select(
            F.col("event_type").alias("key"),
            F.col("user_id").cast("string").alias("item"),
            "ts",
            "event_id",
        )
        w_ord = Window.orderBy("ts", "event_id")
        staged = e.select(
            "key", "item", F.ntile(4).over(w_ord).alias("_slice")
        )
        staged.repartition(1).write.partitionBy("_slice").parquet(stage)
        drain.stage_files(f"{stage}/_slice=*/part-*.parquet", src_dir)

        stream = (
            spark.readStream.schema("key STRING, item STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        hh = stateful.keyed_heavy_hitters(stream, k=K)
        sink = drain.run(hh, work, output_mode="update")

        emitted = spark.read.parquet(sink)
        w_last = Window.partitionBy("key")
        final = emitted.withColumn(
            "max_nt", F.max("n_total").over(w_last)
        ).filter("n_total = max_nt")
        exact = ev.groupBy(
            F.col("event_type").alias("key"),
            F.col("user_id").cast("string").alias("item"),
        ).agg(F.count(F.lit(1)).alias("exact"))
        j = exact.join(final.select("key", "item", "count_lb", "n_total"),
                       ["key", "item"], "left")
        per_key = j.groupBy("key").agg(
            F.sum("exact").alias("nt_exact"),
            F.sum(F.when(F.col("count_lb").isNotNull(), 1).otherwise(0))
            .alias("n_tracked"),
            F.sum(F.coalesce(F.col("count_lb"), F.lit(0))).alias("mass"),
            F.min(
                F.when(F.col("count_lb").isNotNull(),
                       (F.col("count_lb") <= F.col("exact")).cast("int"))
            ).alias("lower_min"),
            F.max(F.col("n_total")).alias("nt_emitted"),
        )
        audit = (
            j.join(per_key.select(
                "key", "nt_exact", "n_tracked", "mass", "lower_min"
            ), "key")
            .withColumn("d", ((F.col("nt_exact") - F.col("mass")) / (K + 1))
                        .cast("long"))
            .groupBy("key")
            .agg(
                F.max("nt_exact").alias("n_total"),
                (F.max("n_tracked") <= K).alias("within_k"),
                (F.max((F.col("nt_exact") - F.col("mass")) % (K + 1)) == 0)
                .alias("mass_exact"),
                (F.max("lower_min") == 1).alias("lower_ok"),
                F.min(
                    F.when(
                        F.col("count_lb").isNotNull(),
                        (F.col("exact") - F.col("count_lb") <= F.col("d"))
                        .cast("int"),
                    ).otherwise((F.col("exact") <= F.col("d")).cast("int"))
                ).cast("boolean").alias("bound_ok"),
                F.min(
                    F.when(
                        F.col("exact") * (K + 1) > F.col("nt_exact"),
                        F.col("count_lb").isNotNull().cast("int"),
                    ).otherwise(F.lit(1))
                ).cast("boolean").alias("hh_tracked"),
            )
            .withColumnRenamed("key", "event_type")
        )
        return audit.localCheckpoint(eager=True)


@query(
    "q211_dominant_supplier",
    oracle="""
    WITH small_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'small %'
    ),
    sp AS (
      SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS qty
      FROM lineitem JOIN small_parts ON p_partkey = l_partkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT l_partkey, sum(qty) AS tq, count(*) AS ns FROM sp GROUP BY 1),
    dom AS (
      SELECT sp.l_suppkey, sp.l_partkey, sp.qty
      FROM sp JOIN tot USING (l_partkey)
      WHERE sp.qty * tot.ns > 2 * tot.tq
    )
    SELECT s.s_name, n.n_name,
           CAST(count(*) AS BIGINT) AS n_dominant_parts,
           CAST(sum(dom.qty) AS BIGINT) AS dominated_qty
    FROM dom
    JOIN supplier s ON s.s_suppkey = dom.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY 1, 2
    """,
)
def q211_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (excess-stock suppliers) on this corpus — closes
    the Q2-Q22 ladder modulo data limits. DISCLOSED PROXY: there is no
    partsupp table (no ps_availqty), so 'supplier holding more than half
    the forecast demand' becomes 'supplier who SHIPPED more than half of
    a small-part's total quantity' — the identical plan shape (filtered
    part semi-join, two-level quantity rollup, threshold compare,
    supplier/nation lookup) with 'ships more than TWICE the part's
    fair per-supplier share' as the dominance test (absolute-majority
    thresholds are vacuous on this corpus: small-part supply is spread
    near-uniformly across suppliers). Quantities are small integers, so double sums are
    exact and the BIGINT casts are lossless in both engines.

    Scale shape: the part filter prunes the lineitem join via broadcast;
    the (part, supplier) rollup is one map-side-combining shuffle; the
    part-total is a second, strictly smaller rollup joined back
    broadcast; nation/supplier lookups are bounded-dim broadcasts."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").startswith("small "))
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    sp = (
        li.join(F.broadcast(part.select("p_partkey")),
                li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").cast("long").alias("qty"))
        # parts x suppliers sized; checkpoint so the lineitem scan+rollup
        # subtree is not recomputed for the per-part total branch
        .localCheckpoint(eager=True)
    )
    tot = sp.groupBy("l_partkey").agg(
        F.sum("qty").alias("tq"), F.count(F.lit(1)).alias("ns")
    )
    dom = sp.join(_dim(tot), "l_partkey").filter(
        F.col("qty") * F.col("ns") > 2 * F.col("tq")
    )
    s = _dim(_t(spark, sf_dir, "supplier"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        dom.join(s, dom.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .groupBy("s_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_dominant_parts"),
            F.sum("qty").alias("dominated_qty"),
        )
    )


# Benford first-digit expectations, quantized once in Python and embedded
# as literals on BOTH sides — no runtime transcendentals to drift.
_BENFORD_MILLI = {d: round(1_000_000 * __import__("math").log10(1 + 1 / d)) for d in range(1, 10)}


def _q212_oracle() -> str:
    cases = " ".join(
        f"WHEN {d} THEN {p}" for d, p in _BENFORD_MILLI.items()
    )
    return f"""
    WITH m AS (
      SELECT 'o_totalprice' AS measure,
             CAST(substring(CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
      UNION ALL
      SELECT 'l_extendedprice' AS measure,
             CAST(substring(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM lineitem WHERE l_extendedprice > 0
    ),
    obs AS (
      SELECT measure, digit, CAST(count(*) AS BIGINT) AS n_obs
      FROM m GROUP BY 1, 2
    ),
    tot AS (SELECT measure, sum(n_obs) AS n FROM obs GROUP BY 1)
    SELECT obs.measure, obs.digit, obs.n_obs,
           CAST(tot.n * (CASE obs.digit {cases} END) AS BIGINT) AS exp_milli,
           CAST(obs.n_obs * 1000000 - tot.n * (CASE obs.digit {cases} END) AS BIGINT)
             AS dev_milli
    FROM obs JOIN tot USING (measure)
    """


@query("q212_benford_audit", oracle=_q212_oracle())
def q212_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit data-quality audit over the two money columns:
    observed leading-digit counts vs the Benford expectation, with the
    expected probabilities quantized to millionths ONCE in Python and
    embedded as literals in both engines (no runtime log10 to drift).
    Deviations are exact integers (obs*1e6 - n*p_milli) — synthetic or
    fabricated financial columns jump out as large |dev_milli| mass.
    The leading digit is taken from the DECIMAL(18,4) rendering so both
    engines agree on formatting (no scientific notation).

    Scale shape: pure column expressions into a 9-digit-per-measure
    groupBy — one scan per measure, vocabulary-bounded output."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter("o_totalprice > 0")
        .select(
            F.lit("o_totalprice").alias("measure"),
            F.substring(F.col("o_totalprice").cast("decimal(18,4)").cast("string"), 1, 1)
            .cast("long")
            .alias("digit"),
        )
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter("l_extendedprice > 0")
        .select(
            F.lit("l_extendedprice").alias("measure"),
            F.substring(F.col("l_extendedprice").cast("decimal(18,4)").cast("string"), 1, 1)
            .cast("long")
            .alias("digit"),
        )
    )
    obs = o.unionByName(li).groupBy("measure", "digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    p = F.create_map(
        *[F.lit(x) for d, pm in _BENFORD_MILLI.items() for x in (d, pm)]
    )
    # per-measure total as a window over the 18-row aggregate — the scans
    # run ONCE (a groupBy+join-back would duplicate both subtrees)
    return (
        obs.withColumn("n", F.sum("n_obs").over(Window.partitionBy("measure")))
        .withColumn("p_milli", p[F.col("digit")])
        .select(
            "measure",
            "digit",
            "n_obs",
            (F.col("n") * F.col("p_milli")).alias("exp_milli"),
            (F.col("n_obs") * 1_000_000 - F.col("n") * F.col("p_milli"))
            .alias("dev_milli"),
        )
    )


@query(
    "q213_ushaped_attribution",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, event_id,
             epoch_ns(ts) // 1000000000 AS sec,
             CAST(floor(coalesce(value, 0) * 1000000.0) AS BIGINT) AS val_milli
      FROM events
    ),
    nxt AS (
      SELECT user_id, event_type, event_id, sec,
             last_value(CASE WHEN event_type = 'purchase' THEN sec END IGNORE NULLS)
               OVER w AS psec,
             last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
               OVER w AS pid,
             last_value(CASE WHEN event_type = 'purchase' THEN val_milli END IGNORE NULLS)
               OVER w AS pval
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY sec DESC, event_id DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    touches AS (
      SELECT user_id, event_type, event_id, sec, pid, pval
      FROM nxt
      WHERE event_type IN ('view', 'click')
        AND pid IS NOT NULL AND psec - sec <= 86400
    ),
    ranked AS (
      SELECT event_type, pid, pval,
             row_number() OVER (PARTITION BY user_id, pid ORDER BY sec, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id, pid) AS n
      FROM touches
    ),
    credited AS (
      SELECT event_type,
             CASE WHEN n = 1 THEN 'only'
                  WHEN rn = 1 THEN 'first'
                  WHEN rn = n THEN 'last'
                  ELSE 'middle' END AS position_class,
             CASE WHEN n = 1 THEN 1000000
                  WHEN n = 2 THEN 500000
                  WHEN rn = 1 OR rn = n THEN 400000
                  ELSE 200000 // (n - 2) END AS w_milli,
             pval
      FROM ranked
    )
    SELECT event_type AS touch_type, position_class,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(w_milli * pval) AS BIGINT) AS credit_micro2
    FROM credited GROUP BY 1, 2
    """,
)
def q213_ushaped_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution — the
    multi-touch sibling of q103's last-touch: each view/click within the
    24 h before a user's NEXT purchase earns credit by journey position
    (only: 100%, first/last: 40% each — 50/50 for 2-touch journeys —
    middles: floor-split of the remaining 20%). The next-purchase
    binding is an IGNORE-NULLS carried window over the descending
    (sec, id) order — one user_id shuffle, no event-table self-join,
    however many purchases. Purchase values and position weights are
    floor-quantized to integer millionths BEFORE multiplication, so
    every credit is an exact integer product and the per-(channel,
    position) rollup is order-independent in both engines.

    Scale shape: two windows over one user_id partitioning (Catalyst
    reuses the exchange), then a tiny groupBy; state per user is a
    3-scalar carry, never a journey buffer."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        _epoch().alias("sec"),
        F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 1e6)
        .cast("long")
        .alias("val_milli"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("sec").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_p = F.col("event_type") == "purchase"
    nxt = e.select(
        "user_id",
        "event_type",
        "event_id",
        "sec",
        F.last(F.when(is_p, F.col("sec")), ignorenulls=True).over(w).alias("psec"),
        F.last(F.when(is_p, F.col("event_id")), ignorenulls=True).over(w).alias("pid"),
        F.last(F.when(is_p, F.col("val_milli")), ignorenulls=True).over(w).alias("pval"),
    )
    touches = nxt.filter(
        F.col("event_type").isin("view", "click")
        & F.col("pid").isNotNull()
        & (F.col("psec") - F.col("sec") <= 86400)
    )
    w_j = Window.partitionBy("user_id", "pid").orderBy("sec", "event_id")
    w_n = Window.partitionBy("user_id", "pid")
    ranked = touches.select(
        "event_type",
        "pid",
        "pval",
        F.row_number().over(w_j).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    credited = ranked.select(
        "event_type",
        F.when(F.col("n") == 1, "only")
        .when(F.col("rn") == 1, "first")
        .when(F.col("rn") == F.col("n"), "last")
        .otherwise("middle")
        .alias("position_class"),
        F.when(F.col("n") == 1, 1000000)
        .when(F.col("n") == 2, 500000)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), 400000)
        .otherwise(F.floor(200000 / (F.col("n") - 2)).cast("long"))
        .alias("w_milli"),
        "pval",
    )
    return credited.groupBy(
        F.col("event_type").alias("touch_type"), "position_class"
    ).agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum(F.col("w_milli") * F.col("pval")).alias("credit_micro2"),
    )


def _q214_oracle(max_piece_len: int = 4, max_word_len: int = 8) -> str:
    # Generated CTE chain replaying the Viterbi DP step by step — the
    # same treatment as the BPE-trainer oracles (q145/q160): the oracle
    # RE-RUNS the algorithm, it doesn't trust the engine's answer.
    steps = []
    prev_ub = "ub0"
    for i in range(1, max_word_len + 1):
        steps.append(f"""
    best{i} AS (
      SELECT w, pos, score, seg FROM (
        SELECT b.w, {i} AS pos, b.score + s.l AS score,
               list_append(b.seg, s.piece) AS seg,
               row_number() OVER (PARTITION BY b.w
                                  ORDER BY b.score + s.l DESC, b.pos ASC) AS rn
        FROM {prev_ub} b JOIN so s ON s.w = b.w AND s.j = b.pos AND s.i = {i}
      ) WHERE rn = 1
    ),
    ub{i} AS (SELECT * FROM {prev_ub} UNION ALL SELECT * FROM best{i})""")
        prev_ub = f"ub{i}"
    chain = ",".join(steps)
    return f"""
    WITH tok AS (
      SELECT w FROM documents, unnest(string_split(text, ' ')) AS u(w)
      WHERE w <> ''
    ),
    words AS (
      SELECT w, CAST(count(*) AS BIGINT) AS cw, length(w) AS wlen
      FROM tok GROUP BY 1 HAVING length(w) <= {max_word_len}
    ),
    occ AS (
      SELECT w, cw, wlen, j, i, substring(w, j + 1, i - j) AS piece
      FROM words,
           generate_series(0, {max_word_len} - 1) AS g1(j),
           generate_series(1, {max_word_len}) AS g2(i)
      WHERE j < i AND i <= wlen AND i - j <= {max_piece_len}
    ),
    c0 AS (SELECT piece, sum(cw) AS c FROM occ GROUP BY 1),
    t0 AS (SELECT sum(c) AS t FROM c0),
    l0 AS (
      SELECT piece, CAST(floor(1e6 * ln(c * 1.0 / t)) AS BIGINT) AS l
      FROM c0, t0
    ),
    so AS (
      SELECT occ.w, occ.j, occ.i, occ.piece, l0.l
      FROM occ JOIN l0 USING (piece)
    ),
    ub0 AS (
      SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS score,
             CAST([] AS VARCHAR[]) AS seg
      FROM words
    ),{chain},
    fin AS (
      SELECT u.w, u.seg, wd.cw
      FROM {prev_ub} u JOIN words wd ON wd.w = u.w AND u.pos = wd.wlen
    ),
    rc AS (SELECT piece, cw, w FROM fin, unnest(seg) AS s(piece)),
    n1 AS (
      SELECT piece, CAST(sum(cw) AS BIGINT) AS n1,
             CAST(count(DISTINCT w) AS BIGINT) AS n_words
      FROM rc GROUP BY 1
    ),
    tot1 AS (SELECT sum(n1) AS t, count(*) AS p FROM n1)
    SELECT piece, n1, n_words,
           CAST(floor(1e6 * ln((n1 + 1.0) / (t + p))) AS BIGINT) AS l1_milli
    FROM n1, tot1
    """


@query("q214_unigram_lm_tokenizer", oracle=_q214_oracle())
def q214_unigram_lm_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style UNIGRAM-LM tokenizer EM round
    (:func:`text.unigram_lm_fit`) certified digit-for-digit: all-substring
    seeding, integer-quantized Viterbi segmentation of every distinct
    word (ties broken (score desc, split asc)), and the weighted M-step
    recount — the oracle REPLAYS the whole DP as a generated CTE chain,
    one step per word position, exactly like the q145/q160 BPE oracles.
    Together with BPE train/encode this completes the tokenizer ladder:
    greedy bottom-up merges AND top-down likelihood pruning.

    Scale shape: one map-side-combining word count over the corpus; the
    EM machinery runs entirely on the distinct-word frame (vocabulary-
    bounded), and the whole Viterbi DP folds inside ONE codegen
    ``aggregate`` higher-order expression per word — a single shuffle,
    no iterative job chain."""
    return text.unigram_lm_fit(_t(spark, sf_dir, "documents"))


def _q215_oracle(vocab_size: int = 200, max_piece_len: int = 4, max_word_len: int = 8) -> str:
    # Generated step chain replaying the greedy longest-match loop, one
    # CTE per cursor tick — the q145/q160/q214 oracle treatment: DuckDB
    # re-learns the vocab and re-applies the matching rule itself.
    def mk(length: int) -> str:
        s = f"substring(w, pos + 1, {length})"
        return f"CASE WHEN pos = 0 THEN {s} ELSE '##' || {s} END"

    arms = " ".join(
        f"WHEN pos + {l} <= wlen AND {mk(l)} IN (SELECT piece FROM vocab) THEN {mk(l)}"
        for l in range(max_piece_len, 1, -1)
    )
    pick = f"CASE {arms} ELSE {mk(1)} END"
    steps = []
    prev = "st0"
    for t in range(1, max_word_len + 1):
        steps.append(f"""
    st{t} AS (
      SELECT w, cw, wlen,
        CASE WHEN pos >= wlen THEN pos
             ELSE pos + length(pick) - CASE WHEN pos > 0 THEN 2 ELSE 0 END
        END AS pos,
        CASE WHEN pos >= wlen THEN seg ELSE list_append(seg, pick) END AS seg
      FROM (SELECT *, {pick} AS pick FROM {prev})
    )""")
        prev = f"st{t}"
    chain = ",".join(steps)
    return f"""
    WITH tok AS (
      SELECT w FROM documents, unnest(string_split(text, ' ')) AS u(w)
      WHERE w <> ''
    ),
    words AS (
      SELECT w, CAST(count(*) AS BIGINT) AS cw, length(w) AS wlen
      FROM tok GROUP BY 1 HAVING length(w) <= {max_word_len}
    ),
    occ AS (
      SELECT w, cw, wlen, j, i,
             CASE WHEN j = 0 THEN substring(w, j + 1, i - j)
                  ELSE '##' || substring(w, j + 1, i - j) END AS piece
      FROM words,
           generate_series(0, {max_word_len} - 1) AS g1(j),
           generate_series(1, {max_word_len}) AS g2(i)
      WHERE j < i AND i <= wlen AND i - j <= {max_piece_len}
    ),
    pc AS (SELECT piece, sum(cw) AS cnt FROM occ GROUP BY 1),
    topv AS (
      SELECT piece FROM (
        SELECT piece, row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
        FROM pc
      ) WHERE rn <= {vocab_size}
    ),
    singles AS (SELECT DISTINCT piece FROM occ WHERE i - j = 1),
    vocab AS (SELECT piece FROM topv UNION SELECT piece FROM singles),
    st0 AS (
      SELECT w, cw, wlen, 0 AS pos, CAST([] AS VARCHAR[]) AS seg FROM words
    ),{chain},
    rc AS (SELECT piece, cw, w FROM {prev}, unnest(seg) AS s(piece))
    SELECT piece, CAST(sum(cw) AS BIGINT) AS n_uses,
           CAST(count(DISTINCT w) AS BIGINT) AS n_words
    FROM rc GROUP BY 1
    """


@query("q215_wordpiece_encode", oracle=_q215_oracle())
def q215_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy longest-match-first encoding census
    (:func:`text.wordpiece_encode_census`) certified digit-for-digit:
    the top-200 marked substrings (continuations carry ``##``) plus the
    full single-char alphabet form the vocab, and every distinct word is
    encoded by the BERT-tokenizer rule — repeatedly take the longest
    matching vocab piece at the cursor. The oracle RE-LEARNS the vocab
    and RE-APPLIES the greedy loop as a generated CTE chain, one tick
    per cursor step — the q145/q160/q214 treatment. Completes the
    tokenizer ladder: BPE merge replay, unigram-LM Viterbi, WordPiece
    greedy longest-match.

    Scale shape: one map-side-combining word count; bounded vocab rides
    as a broadcast one-row map; the greedy loop folds inside ONE codegen
    ``aggregate`` HOF per word — a single shuffle, no job chain."""
    return text.wordpiece_encode_census(_t(spark, sf_dir, "documents"))


_Q216_ORACLE = r"""
    WITH d AS (
      SELECT source AS g, length(text) AS x,
             len(regexp_split_to_array(trim(text), '\s+')) AS y
      FROM documents
    ),
    r AS (
      SELECT g,
        CAST(2 * rank() OVER (PARTITION BY g ORDER BY x)
             + count(*) OVER (PARTITION BY g, x) - 1 AS BIGINT) AS rx,
        CAST(2 * rank() OVER (PARTITION BY g ORDER BY y)
             + count(*) OVER (PARTITION BY g, y) - 1 AS BIGINT) AS ry
      FROM d
    ),
    s AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
             CAST(sum(rx * ry) AS BIGINT) AS sxy,
             CAST(sum(rx * rx) AS BIGINT) AS sxx,
             CAST(sum(ry * ry) AS BIGINT) AS syy
      FROM r GROUP BY 1
    )
    SELECT g AS source, n AS n_docs,
      round(CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                      * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
        THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
        ELSE 0.0 END, 6) AS spearman_rho
    FROM s
"""


@query("q216_quality_signal_agreement", oracle=_Q216_ORACLE)
def q216_quality_signal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Spearman rank agreement between two quality signals
    (:func:`curation.quality_signal_agreement`): char length vs
    whitespace token count. The curation sanity check that independent
    scorers agree before their thresholds gate a corpus. Average ranks
    with standard tie handling are carried as INTEGER doubled-ranks and
    all correlation sums as exact BIGINTs; only the final Pearson-on-
    ranks combination runs in (identically-ordered) double — so the
    oracle matches digit-for-digit, not to-an-ulp.

    Scale shape: two per-source rank windows + one grouped sum; no
    joins, no global sort."""
    from phoebe_spark.operators import curation

    return curation.quality_signal_agreement(_t(spark, sf_dir, "documents"))


_Q217_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, (doc_id % 7 = 0) AS is_bench, {_TOKS_SQL} AS t
      FROM documents
      WHERE trim(text) <> '' AND len({_TOKS_SQL}) >= 3
    ),
    post AS (
      SELECT doc_id, is_bench,
             unnest(list_distinct(list_transform(generate_series(1, len(t) - 2),
                                  i -> array_to_string(t[i:i+2], ' ')))) AS g
      FROM toks
    ),
    hp AS (
      SELECT doc_id, is_bench,
             {_MD5H_SQL.format(x='g')} % 2147483647 AS h1,
             CAST(('0x' || substring(md5(g), 17, 15)) AS BIGINT) % 2147483646 + 1 AS h2
      FROM post
    ),
    mh AS (
      SELECT doc_id, is_bench, i, min((h1 + i * h2) % 2147483647) AS h
      FROM hp CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS i) seeds
      GROUP BY 1, 2, 3
    ),
    sig AS (SELECT doc_id, is_bench, list(h ORDER BY i) AS s FROM mh GROUP BY 1, 2),
    banded AS (
      SELECT doc_id, is_bench, b,
             array_to_string(list_transform(s[b*4+1:b*4+4],
                                            x -> CAST(x AS VARCHAR)), ',') AS bucket
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) bands
    ),
    cand AS (
      SELECT DISTINCT c.doc_id AS corpus_doc, e.doc_id AS bench_doc
      FROM banded c JOIN banded e ON c.b = e.b AND c.bucket = e.bucket
      WHERE NOT c.is_bench AND e.is_bench
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM post GROUP BY 1),
    inter AS (
      SELECT c.doc_id AS corpus_doc, e.doc_id AS bench_doc, count(*) AS n_i
      FROM post c JOIN post e USING (g)
      WHERE NOT c.is_bench AND e.is_bench
      GROUP BY 1, 2
    )
    SELECT corpus_doc, bench_doc,
           round(n_i * 1.0 / (sc.n + se.n - n_i), 6) AS jaccard
    FROM cand
    JOIN inter USING (corpus_doc, bench_doc)
    JOIN sizes sc ON sc.doc_id = corpus_doc
    JOIN sizes se ON se.doc_id = bench_doc
    WHERE round(n_i * 1.0 / (sc.n + se.n - n_i), 6) >= 0.2
"""


@query("q217_neardup_decontamination", oracle=_Q217_ORACLE)
def q217_neardup_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate train/eval decontamination
    (:func:`dedup.neardup_decontaminate`): documents with
    ``doc_id % 7 = 0`` stand in as the benchmark suite; cross-corpus
    banded MinHash-LSH (md5 double hashing, 32 hashes / 8 bands)
    generates candidates with the benchmark side BROADCAST, and the
    exact 3-gram Jaccard verifies them — the paraphrase-leakage rung the
    exact/Bloom decontamination passes (q58/q73) can't catch. The oracle
    replays every hash, band, and the verify join in SQL.

    Scale shape: the corpus contributes one signature shuffle and never
    self-joins; both probe joins broadcast the eval side."""
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 7 == 0)
    corpus = d.filter(F.col("doc_id") % 7 != 0)
    return dedup.neardup_decontaminate(corpus, bench, threshold=0.2)


@query(
    "q218_stream_outer_join_drain",
    oracle=f"""
    WITH l AS (
      SELECT user_id, ts, epoch_ns(ts) // 1000 AS lt_us
      FROM events WHERE event_id % 2 = 0
    ),
    r AS (
      SELECT user_id, ts, epoch_ns(ts) // 1000 AS rt_us,
             CAST(value AS DECIMAL(18,4)) AS rv
      FROM events WHERE event_id % 2 = 1
    ),
    wm AS (
      SELECT least((SELECT max(lt_us) FROM l), (SELECT max(rt_us) FROM r)) AS w
    ),
    pairs AS (
      SELECT l.user_id, r.rv
      FROM l JOIN r ON l.user_id = r.user_id
        AND r.rt_us >= l.lt_us AND r.rt_us <= l.lt_us + 1800000000
    ),
    expired AS (
      -- unmatched lefts whose join window closed STRICTLY below the
      -- final watermark emit one null row in the finalization batch
      -- (boundary empirically pinned: lt + 30min = wm does NOT emit)
      SELECT l.user_id
      FROM l, wm
      WHERE NOT EXISTS (
        SELECT 1 FROM r WHERE r.user_id = l.user_id
          AND r.rt_us >= l.lt_us AND r.rt_us <= l.lt_us + 1800000000
      ) AND l.lt_us + 1800000000 < wm.w
    ),
    per_user AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(round(sum(rv), 2) AS DOUBLE) AS matched_value,
             CAST(0 AS BIGINT) AS n_expired_null
      FROM pairs GROUP BY user_id
      UNION ALL
      SELECT user_id, CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE),
             CAST(count(*) AS BIGINT)
      FROM expired GROUP BY user_id
    )
    SELECT user_id,
           CAST(sum(n_pairs) AS BIGINT) AS n_pairs,
           CAST(round(sum(CAST(matched_value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS matched_value,
           CAST(sum(n_expired_null) AS BIGINT) AS n_expired_null
    FROM per_user GROUP BY user_id
    """,
)
def q218_stream_outer_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM event-time LEFT OUTER interval join drained inside
    the hash-checked gate — certifying the subtlest streaming semantics
    in the join family: NULL-side emission at watermark expiry. The
    events table splits into a left (even event_ids) and right (odd)
    stream, joined per user on a [0, 30 min] event-time range with
    0-second watermarks. Matched pairs emit in the data micro-batch;
    an unmatched left emits exactly one null-matched row in the
    availableNow FINALIZATION batch iff its join window closed STRICTLY
    below the final watermark ``min(max(left_time), max(right_time))``
    — boundary behavior empirically pinned (a window closing exactly AT
    the watermark is withheld, and never emits in an availableNow
    drain). The oracle replays the matched pairs as a batch interval
    join and the null set by that exact watermark rule.

    Scale notes: both sides are watermarked so join state is
    eviction-bounded exactly as in production; per-user aggregation
    happens before anything leaves the executors; the drain runs with 8
    state partitions and a fresh checkpoint (streaming/drain.py)."""
    from phoebe_spark.streaming import drain

    ev = _t(spark, sf_dir, "events")
    with drain.scratch("q218_") as work:
        staged = ev.select(
            "event_id",
            "user_id",
            F.expr("timestamp_micros(ts div 1000)").alias("event_time"),
            _dec("value").alias("v"),
        )
        staged.filter(F.col("event_id") % 2 == 0).write.parquet(f"{work}/left")
        staged.filter(F.col("event_id") % 2 == 1).write.parquet(f"{work}/right")

        schema = "event_id LONG, user_id LONG, event_time TIMESTAMP, v DECIMAL(18,4)"
        left = (
            spark.readStream.schema(schema)
            .parquet(f"{work}/left")
            .withWatermark("event_time", "0 seconds")
            .select("user_id", F.col("event_time").alias("a_time"))
        )
        right = (
            spark.readStream.schema(schema)
            .parquet(f"{work}/right")
            .withWatermark("event_time", "0 seconds")
            .select(
                F.col("user_id").alias("r_user"),
                F.col("event_time").alias("b_time"),
                "v",
            )
        )
        joined = left.join(
            right,
            F.expr(
                "user_id = r_user AND b_time >= a_time "
                "AND b_time <= a_time + INTERVAL 30 MINUTES"
            ),
            "leftOuter",
        ).select("user_id", "v", F.col("r_user").isNotNull().alias("matched"))
        sink = drain.run(joined, work, output_mode="append")

        out = (
            spark.read.parquet(sink)
            .groupBy("user_id")
            .agg(
                F.count(F.when(F.col("matched"), 1)).alias("n_pairs"),
                F.round(F.sum(F.when(F.col("matched"), F.col("v")).otherwise(F.lit(0).cast("decimal(18,4)"))), 2)
                .cast("double")
                .alias("matched_value"),
                F.count(F.when(~F.col("matched"), 1)).alias("n_expired_null"),
            )
        )
        return out.localCheckpoint(eager=True)


def _q219_oracle(iterations: int = 2, scale: int = 1_000_000) -> str:
    # Generated CTE chain replaying the integer power iteration, one
    # (w, m, v) triple per iteration — the q187 k-means treatment.
    steps = []
    prev = "v0"
    for k in range(1, iterations + 1):
        steps.append(f"""
    w{k} AS (
      SELECT g.i, CAST(sum(g.g2 * v.v) AS BIGINT) AS w
      FROM g2 g JOIN {prev} v ON v.dim = g.j GROUP BY 1
    ),
    m{k} AS (SELECT CAST(max(abs(w)) // {scale} AS BIGINT) AS d FROM w{k}),
    v{k} AS (
      SELECT i AS dim,
             CAST(CASE WHEN w < 0 THEN -(abs(w) // d) ELSE w // d END AS BIGINT) AS v
      FROM w{k}, m{k}
    )""")
        prev = f"v{k}"
    chain = ",".join(steps)
    return f"""
    WITH flat AS (
      SELECT vec_id,
             unnest(generate_series(1, len(embedding))) AS dim,
             unnest(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT))) AS q
      FROM embeddings
    ),
    gram AS (
      SELECT a.dim AS i, b.dim AS j, CAST(sum(a.q * b.q) AS BIGINT) AS g
      FROM flat a JOIN flat b USING (vec_id) GROUP BY 1, 2
    ),
    g2 AS (
      SELECT i, j,
             CAST(CASE WHEN g < 0 THEN -(abs(g) // {scale})
                       ELSE g // {scale} END AS BIGINT) AS g2
      FROM gram
    ),
    v0 AS (SELECT DISTINCT i AS dim, CAST({scale} AS BIGINT) AS v FROM g2),{chain}
    SELECT dim, v AS v_milli FROM {prev}
    """


@query("q219_pca_power_iteration", oracle=_q219_oracle())
def q219_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant singular direction of the embedding corpus
    (:func:`similarity.dominant_direction`): 2 rounds of power iteration
    on the Gram matrix, every step integer-quantized (scan-side
    floor(1e6*v), exact BIGINT Gram sums, sign-split TRUNCATING
    divisions — pinned because Spark's ``div`` truncates on negatives)
    and replayed by a generated CTE chain, one (multiply, max-norm,
    renormalize) triple per iteration — the q187 k-means treatment
    applied to spectral structure. The curation use: the top principal
    direction of an embedding table is the first thing an
    embedding-health audit inspects (a runaway dominant direction means
    collapsed representations).

    Scale shape: the corpus contributes ONE map-side-combining
    Gram aggregate (dims² = 4096 cells regardless of row count); the
    iterations run on dims-sized frames with broadcast joins — X is
    never materialized."""
    from phoebe_spark.operators import similarity as sim

    return sim.dominant_direction(_t(spark, sf_dir, "embeddings"))


def _q220_oracle(n_slices: int = 4, delay_s: int = 61) -> str:
    # Replay the engine's exact cross-batch dedup-within-watermark state
    # machine, one CTE per micro-batch. Mechanics pinned with boundary
    # probes (see the query docstring): no late-row filter; a state
    # entry from batch i blocks a duplicate in batch k iff it survived
    # every end-of-batch eviction, i.e. iff t_i + delay >= wm_{k-1}
    # where wm_j = max(event seconds of batches < j) - delay; the
    # minute grid + 61 s delay make expiry == watermark impossible, so
    # boundary strictness never engages.
    steps = ["e1 AS (SELECT DISTINCT fp, tsec FROM rows WHERE slice = 0)"]
    for k in range(2, n_slices + 1):
        prior = " UNION ALL ".join(
            f"SELECT fp, tsec FROM e{j}" for j in range(1, k)
        )
        # the blocking test for batch k uses wm_{k-1} = max(tsec of
        # batches < k-1, i.e. slices < k-2) - delay; coalesce(-inf)
        # because wm_1 is unset (every prior entry is alive for batch 2)
        steps.append(f"""
    e{k} AS (
      SELECT DISTINCT r.fp, r.tsec
      FROM rows r
      WHERE r.slice = {k - 1}
        AND NOT EXISTS (
          SELECT 1 FROM ({prior}) p
          WHERE p.fp = r.fp
            AND p.tsec + {delay_s} >=
                coalesce((SELECT max(tsec) FROM rows WHERE slice < {k - 2}),
                         -922337203685477) - {delay_s}
        )
    )""")
    admits = " UNION ALL ".join(
        f"SELECT fp FROM e{j}" for j in range(1, n_slices + 1)
    )
    return f"""
    WITH base AS (
      SELECT {_PREFIX_FP_SQL} AS fp, doc_id % {n_slices} AS slice
      FROM documents
    ),
    rows AS (
      SELECT fp, slice,
             ((CAST(('0x' || substring(md5(fp), 1, 4)) AS BIGINT) % 50)
              + slice * 37) * 60 AS tsec
      FROM base
    ),
    {",".join(steps)},
    admits AS (SELECT fp, CAST(count(*) AS BIGINT) AS n_admits FROM ({admits}) GROUP BY 1),
    copies AS (SELECT fp, CAST(count(*) AS BIGINT) AS n_copies FROM base GROUP BY 1)
    SELECT c.fp, coalesce(a.n_admits, 0) AS n_admits,
           c.n_copies - coalesce(a.n_admits, 0) AS n_dropped
    FROM copies c LEFT JOIN admits a USING (fp)
    """


@query("q220_dedup_within_watermark_drain", oracle=_q220_oracle())
def q220_dedup_within_watermark_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ``dropDuplicatesWithinWatermark`` inside the
    hash-checked gate — the built-in TTL dedup operator's exact
    cross-batch state machine certified against a replaying oracle. The
    documents table replays as 4 sequenced files (slice = doc_id % 4,
    one file per trigger); each fingerprint's event time is a stable
    function of (fp, slice) so the state content is deterministic.

    Mechanics empirically pinned with boundary probes (this is the
    entire value of the entry — none of this is in the docs):
      - there is NO late-row filter: a row below the watermark is still
        admitted if its key is absent from state;
      - a dropped duplicate does NOT re-arm the state expiry (expiry
        stays first-emission time + delay);
      - eviction happens at END of each batch with that batch's
        watermark, so a duplicate in batch k is blocked iff the prior
        emission survived through wm_{k-1} = max(event time of batches
        < k-1) - delay — re-admission of a key AFTER its state expired
        is real and exercised (dup groups straddle non-adjacent slices);
      - the minute event-time grid with a 61 s delay makes expiry ==
        watermark unrepresentable, so boundary strictness is moot by
        construction.

    Scale: state is per-fingerprint with watermark-bounded TTL — the
    production ingest-dedup shape; per-fp aggregation before output."""
    from phoebe_spark.streaming import drain

    d = _t(spark, sf_dir, "documents")
    with drain.scratch("q220_") as work:
        src_dir = f"{work}/src"
        base = d.select(
            _prefix_fp().alias("fp"),
            (F.col("doc_id") % 4).alias("slice"),
        )
        rows = base.select(
            "fp",
            "slice",
            F.expr(
                "timestamp'2026-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, "
                "((CAST(conv(substring(md5(fp), 1, 4), 16, 10) AS BIGINT) % 50)"
                " + slice * 37) * 60)"
            ).alias("event_time"),
        )
        rows.repartition(1).write.partitionBy("slice").parquet(f"{work}/stage")
        drain.stage_files(f"{work}/stage/slice=*/part-*.parquet", src_dir)

        stream = (
            spark.readStream.schema("fp STRING, event_time TIMESTAMP")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .withWatermark("event_time", "61 seconds")
            .dropDuplicatesWithinWatermark(["fp"])
        )
        sink = drain.run(stream, work, output_mode="append")

        admits = (
            spark.read.parquet(sink)
            .groupBy("fp")
            .agg(F.count(F.lit(1)).alias("n_admits"))
        )
        copies = base.groupBy("fp").agg(F.count(F.lit(1)).alias("n_copies"))
        out = copies.join(admits, "fp", "left").select(
            "fp",
            F.coalesce("n_admits", F.lit(0)).alias("n_admits"),
            (F.col("n_copies") - F.coalesce("n_admits", F.lit(0))).alias(
                "n_dropped"
            ),
        )
        return out.localCheckpoint(eager=True)


def _q221_oracle(seed_mod: int = 11, rounds: int = 2, num_hashes: int = 8, bands: int = 8) -> str:
    rpb = num_hashes // bands
    steps = []
    prev = "d0"
    for k in range(1, rounds + 1):
        steps.append(f"""
    b{k} AS (
      SELECT e.bkey, CAST(min(d.dist) + 1 AS BIGINT) AS bdist
      FROM edges e JOIN {prev} d USING (doc) GROUP BY 1
    ),
    r{k} AS (
      SELECT e.doc, CAST(min(b.bdist) + 1 AS BIGINT) AS dist
      FROM edges e JOIN b{k} b USING (bkey) GROUP BY 1
    ),
    d{k} AS (
      SELECT doc, CAST(min(dist) AS BIGINT) AS dist
      FROM (SELECT * FROM {prev} UNION ALL SELECT * FROM r{k}) GROUP BY 1
    )""")
        prev = f"d{k}"
    chain = ",".join(steps)
    return f"""
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
      FROM hp CROSS JOIN (SELECT unnest(generate_series(0, {num_hashes - 1})) AS i) seeds
      GROUP BY 1, 2
    ),
    sig AS (SELECT doc_id, list(h ORDER BY i) AS s FROM mh GROUP BY 1),
    edges AS (
      SELECT doc_id AS doc,
             CAST(b AS VARCHAR) || ':' ||
             array_to_string(list_transform(s[b*{rpb}+1:b*{rpb}+{rpb}],
                                            x -> CAST(x AS VARCHAR)), ',') AS bkey
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {bands - 1})) AS b) bands
    ),
    d0 AS (
      SELECT doc_id AS doc, CAST(0 AS BIGINT) AS dist FROM documents
      WHERE doc_id % {seed_mod} = 0
    ),{chain}
    SELECT doc, dist // 2 AS dist FROM {prev}
    """


@query("q221_contamination_closure_bfs", oracle=_q221_oracle())
def q221_contamination_closure_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive contamination closure (:func:`dedup.lsh_cobucket_bfs`):
    BFS from seed documents (doc_id % 11 = 0) through the LSH doc <->
    (band, bucket) BIPARTITE graph (SINGLE-minhash bands — the
    recall-heavy banding a transitive sweep wants: loose candidate
    edges, verification downstream), two co-bucket hops deep — "every
    document within two near-dup hops of a known-contaminated seed",
    the cleanup sweep that catches syndicated near-dups-of-near-dups
    direct probing (q217) misses. The oracle replays the md5 banding
    (the q24 machinery) and each BFS expansion as a CTE chain.

    Scale shape: hub expansion keeps every step an equi-join LINEAR in
    the edge table (8 bands x docs) — the co-bucket PAIR set, quadratic
    in a hot bucket, is never materialized. Distances are min-combined
    per round, checkpointed like the connected-components loop."""
    d = _t(spark, sf_dir, "documents")
    seeds = d.filter(F.col("doc_id") % 11 == 0)
    return dedup.lsh_cobucket_bfs(d, seeds, num_hashes=8, bands=8)


@query(
    "q222_csv_roundtrip",
    oracle=r"""
    SELECT doc_id,
           md5('pre,"fix' || chr(10) || text || chr(9) || 'suf\fix,"')
             AS content_md5
    FROM documents
    """,
)
def q222_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless CSV round-trip under ADVERSARIAL content — each document
    is wrapped with embedded quotes, commas, a newline, a tab, and a
    backslash before being written to CSV and read back (multiLine +
    matching quote/escape). The oracle hashes the constructed payload
    directly: the only way the engine matches is if the CSV writer's
    quoting and the reader's parse are exact inverses, byte for byte.
    Completes the sink/format ladder next to the JSONL (q139) and ORC
    (q143) round-trips with the format that actually breaks pipelines.

    Scale notes: CSV is a line-oriented splittable format only WITHOUT
    embedded newlines; multiLine forces single-file parsing per file, so
    the production guidance (docstring contract) is: quote-heavy text
    columns belong in parquet, CSV is an interchange edge — which is
    exactly what this entry demonstrates by needing multiLine."""
    from phoebe_spark.streaming import drain

    d = _t(spark, sf_dir, "documents")
    payload = F.concat(
        F.lit('pre,"fix\n'), F.col("text"), F.lit('\tsuf\\fix,"')
    )
    with drain.scratch("q222_") as work:
        (
            d.select("doc_id", payload.alias("content"))
            .write.option("header", True)
            .option("quoteAll", True)
            .csv(f"{work}/csv")
        )
        back = (
            spark.read.option("header", True)
            .option("multiLine", True)
            .option("inferSchema", False)
            .schema("doc_id LONG, content STRING")
            .csv(f"{work}/csv")
        )
        out = back.select("doc_id", F.md5("content").alias("content_md5"))
        return out.localCheckpoint(eager=True)


@query(
    "q223_schema_evolution_read",
    oracle="""
    WITH unioned AS (
      SELECT source, NULL::BIGINT AS quality FROM documents WHERE doc_id % 3 <> 0
      UNION ALL
      SELECT source, n_chars AS quality FROM documents WHERE doc_id % 3 = 0
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(quality) AS BIGINT) AS n_with_quality,
           CAST(sum(CASE WHEN quality IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing_quality,
           CAST(coalesce(sum(quality), 0) AS BIGINT) AS quality_total
    FROM unioned GROUP BY source
    """,
)
def q223_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: an old snapshot (doc_id % 3 != 0, no
    ``quality`` column) and a new snapshot (doc_id % 3 = 0, with it)
    live side by side in one dataset directory; ``mergeSchema=true``
    reconciles the footers and old rows surface NULL quality — the
    data-lake migration read every long-lived table eventually needs.
    The per-source census (rows / with / missing / total) is the audit a
    pipeline runs before trusting the evolved column. The oracle builds
    the same union with explicit NULLs.

    Scale notes: schema merge is a FOOTER-level operation (per-file, no
    data scan); the census itself is one map-side-combining groupBy.
    Guidance encoded here: evolved columns must be added nullable-only —
    exactly what parquet merge enforces."""
    from phoebe_spark.streaming import drain

    d = _t(spark, sf_dir, "documents")
    with drain.scratch("q223_") as work:
        d.filter(F.col("doc_id") % 3 != 0).select("doc_id", "source").write.parquet(
            f"{work}/data/v=1"
        )
        d.filter(F.col("doc_id") % 3 == 0).select(
            "doc_id", "source", F.col("n_chars").alias("quality")
        ).write.parquet(f"{work}/data/v=2")
        merged = spark.read.option("mergeSchema", True).parquet(f"{work}/data")
        out = merged.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("quality").alias("n_with_quality"),
            F.count(F.when(F.col("quality").isNull(), 1)).alias("n_missing_quality"),
            F.coalesce(F.sum("quality"), F.lit(0)).cast("long").alias("quality_total"),
        )
        return out.localCheckpoint(eager=True)


@query(
    "q224_quantile_normalize",
    oracle="""
    WITH d AS (
      SELECT doc_id, source AS g, CAST(length(text) AS BIGINT) AS score
      FROM documents
    ),
    r AS (
      SELECT doc_id, g, score,
             CAST(row_number() OVER (PARTITION BY g ORDER BY score, doc_id)
                  AS BIGINT) AS k,
             CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS ns,
             CAST(count(*) OVER () AS BIGINT) AS n_total
      FROM d
    ),
    vh AS (
      SELECT score, CAST(sum(count(*)) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM d GROUP BY score
    ),
    t AS (
      SELECT doc_id, g, score,
             CASE WHEN ns = 1 THEN 1 + ((2 * (n_total - 1) + 2) // 4)
                  ELSE 1 + ((2 * (n_total - 1) * (k - 1) + (ns - 1))
                            // (2 * (ns - 1))) END AS t
      FROM r
    )
    SELECT doc_id, g AS source, score,
           (SELECT min(vh.score) FROM vh WHERE vh.cum >= t.t) AS norm_score
    FROM t
    """,
)
def q224_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization
    (:func:`curation.quantile_normalize`): every document's length score
    is replaced by the GLOBAL distribution's value at the document's
    within-source quantile — the calibration that makes per-source
    quality thresholds comparable before one cut gates a mixed corpus.
    Exact nearest-rank integer arithmetic (round-half-up rank mapping in
    BIGINTs, single-doc sources map to the median) — no interpolation
    floats, so the oracle matches digit-for-digit.

    Scale shape: one rank window per source + a value-domain-bounded
    histogram carried as a single broadcast sorted-array row, probed
    with a codegen filter/size bisect — no global row sort, no
    per-row correlated lookup shuffle."""
    from phoebe_spark.operators import curation

    return curation.quantile_normalize(_t(spark, sf_dir, "documents"))


@query(
    "q225_market_basket",
    oracle="""
    WITH baskets AS (
      SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS parts
      FROM lineitem GROUP BY 1
    ),
    n_orders AS (SELECT CAST(count(*) AS BIGINT) AS n FROM baskets),
    pairs AS (
      SELECT l_orderkey, a, b
      FROM baskets,
           unnest(parts) AS ua(a),
           unnest(parts) AS ub(b)
      WHERE a < b
    ),
    pair_cnt AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
      FROM pairs GROUP BY 1, 2
    ),
    part_cnt AS (
      SELECT part, CAST(count(*) AS BIGINT) AS n_p FROM (
        SELECT l_orderkey, unnest(parts) AS part FROM baskets
      ) GROUP BY 1
    )
    SELECT p.a AS part_a, p.b AS part_b, p.n_ab, ca.n_p AS n_a, cb.n_p AS n_b,
           round(CAST(p.n_ab AS DOUBLE) * n_orders.n / ca.n_p / cb.n_p, 6)
             AS lift
    FROM pair_cnt p
    JOIN part_cnt ca ON ca.part = p.a
    JOIN part_cnt cb ON cb.part = p.b
    CROSS JOIN n_orders
    WHERE p.n_ab >= 3
    """,
)
def q225_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining over order baskets: co-occurrence
    counts and LIFT for every part pair appearing in >= 3 orders — the
    association-rule primitive (Agrawal & Srikant 1994, public) that in
    a training-data pipeline doubles as a co-occurrence prior for
    document-bundle dedup. Pair expansion happens INSIDE each basket
    (combinations of a <= 13-line order, never a part-keyed self-join),
    so the shuffle is one groupBy(order) + one groupBy(pair) — bounded
    by sum(basket²), not corpus². Lift's float division is written with
    the identical operation order in both engines; every count is
    BIGINT.

    Scale shape: the classic a-priori first pass as two skew-free
    shuffles; a part-keyed self-join (the naive shape) would explode on
    popular parts — baskets bound it instead."""
    li = _t(spark, sf_dir, "lineitem")
    # basket frame materialized once: three consumers (pair expansion,
    # part counts, order total) would otherwise each re-run the
    # scan+groupBy(order) subtree (verified: 4 FileScans without this)
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .localCheckpoint(eager=True)
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n"))
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("parts"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("parts"),
                            i + 2,
                            F.greatest(F.size("parts") - i - 1, F.lit(0)),
                        ),
                        lambda b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    pair_cnt = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab"))
    part_cnt = (
        baskets.select(F.explode("parts").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_p"))
    )
    ca = part_cnt.select(F.col("part").alias("a"), F.col("n_p").alias("n_a"))
    cb = part_cnt.select(F.col("part").alias("b"), F.col("n_p").alias("n_b"))
    return (
        pair_cnt.filter(F.col("n_ab") >= 3)
        .join(F.broadcast(ca), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.col("n_ab").cast("double") * F.col("n") / F.col("n_a") / F.col("n_b"),
                6,
            ).alias("lift"),
        )
    )


@query(
    "q226_delta_encoding_audit",
    oracle=f"""
    WITH s AS (
      SELECT user_id, {EPOCH_SQL.format(c='ts')} AS t,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS k,
             lag({EPOCH_SQL.format(c='ts')}, 1) OVER w AS t1,
             lag({EPOCH_SQL.format(c='ts')}, 2) OVER w AS t2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    bits AS (
      SELECT user_id,
             CASE WHEN k = 1 THEN 64
                  WHEN k = 2 THEN 14
                  ELSE (
                    CASE WHEN (t - t1) - (t1 - t2) = 0 THEN 1
                         WHEN (t - t1) - (t1 - t2) BETWEEN -63 AND 64 THEN 9
                         WHEN (t - t1) - (t1 - t2) BETWEEN -255 AND 256 THEN 12
                         WHEN (t - t1) - (t1 - t2) BETWEEN -2047 AND 2048 THEN 16
                         ELSE 36 END)
             END AS b
      FROM s
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(b) AS BIGINT) AS bits_total,
           CAST((sum(b) * 1000) // count(*) AS BIGINT) AS bits_per_sample_milli,
           CAST((sum(b) * 1000) // (64 * count(*)) AS BIGINT)
             AS compression_ratio_milli
    FROM bits GROUP BY user_id
    """,
)
def q226_delta_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla-style timestamp delta-of-delta compressibility audit
    (Pelkonen et al. 2015 "Gorilla", VLDB — public, §4.1): per user
    series ordered by (ts, event_id), second differences of the epoch
    seconds are bucketed into the Gorilla bit classes (0 -> 1 bit,
    ±63/64 -> 9, ±255/256 -> 12, ±2047/2048 -> 16, else 36; first
    sample 64, first delta 14) and summed into per-series storage
    estimates — the "should this series be delta-encoded" decision a
    time-series store makes at ingest, and the cadence-regularity
    fingerprint of an event feed. Pure integer arithmetic end to end.

    Scale shape: two lags over one per-user window (uniform key), one
    grouped sum; nothing leaves codegen."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        F.expr("ts div 1000000000").alias("t"),
        F.row_number().over(w).alias("k"),
        F.lag(F.expr("ts div 1000000000"), 1).over(w).alias("t1"),
        F.lag(F.expr("ts div 1000000000"), 2).over(w).alias("t2"),
    )
    dod = (F.col("t") - F.col("t1")) - (F.col("t1") - F.col("t2"))
    b = (
        F.when(F.col("k") == 1, 64)
        .when(F.col("k") == 2, 14)
        .when(dod == 0, 1)
        .when(dod.between(-63, 64), 9)
        .when(dod.between(-255, 256), 12)
        .when(dod.between(-2047, 2048), 16)
        .otherwise(36)
    )
    return (
        s.select("user_id", b.alias("b"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("b").alias("bits_total"),
            F.expr("(sum(b) * 1000) div count(*)").alias("bits_per_sample_milli"),
            F.expr("(sum(b) * 1000) div (64 * count(*))").alias(
                "compression_ratio_milli"
            ),
        )
    )


@query(
    "q227_token_waterfill",
    oracle="""
    WITH src AS (
      SELECT source,
             CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ),
    ordered AS (
      SELECT source, n_tokens,
             CAST(row_number() OVER (ORDER BY n_tokens, source) AS BIGINT) AS i,
             CAST(count(*) OVER () AS BIGINT) AS m,
             CAST(sum(n_tokens) OVER (ORDER BY n_tokens, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum
      FROM src
    ),
    scal AS (
      SELECT CAST(max(cum) AS BIGINT) AS total,
             CAST(max(cum) / 2 AS BIGINT) AS b,
             CAST(max(m) AS BIGINT) AS m
      FROM ordered
    ),
    -- i0 = largest fully-taken prefix: cum_i + (m-i)*n_i <= budget
    pick AS (
      SELECT coalesce(max(o.i), 0) AS i0
      FROM ordered o, scal
      WHERE o.cum + (scal.m - o.i) * o.n_tokens <= scal.b
    ),
    tau AS (
      SELECT CASE WHEN scal.total <= scal.b THEN NULL
                  ELSE (scal.b - coalesce(
                          (SELECT cum FROM ordered WHERE i = pick.i0), 0))
                       // (scal.m - pick.i0)
             END AS tau
      FROM pick, scal
    )
    SELECT o.source, o.n_tokens,
           CAST(CASE WHEN tau.tau IS NULL THEN o.n_tokens
                     ELSE least(o.n_tokens, tau.tau) END AS BIGINT) AS alloc
    FROM ordered o, tau
    """,
)
def q227_token_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget WATERFILL allocation across sources: with a budget
    of half the corpus, cap every source at the common level tau such
    that sum(min(n_tokens_s, tau)) fills the budget — small sources are
    taken whole, large ones cut to tau (max-min fairness, the classic
    water-filling rule, applied to mixture balancing when one feed
    dwarfs the rest). Exact integers: i0 = the largest prefix with
    ``cum_i + (m-i)*n_i <= budget``; ``tau = (budget - cum_i0) div
    (m - i0)``; floor(tau) >= every prefix size, so ``min(n, tau)``
    needs no prefix special-case (proved in the docstring test).

    Scale shape: ONE map-side-combining token count over the corpus;
    the waterfill solve is two windows over the sources-sized frame."""
    d = _t(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).cast("long").alias("n_tokens")
    )
    w = Window.orderBy("n_tokens", "source")
    ordered = src.select(
        "source",
        "n_tokens",
        F.row_number().over(w).cast("long").alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("m"),
        F.sum("n_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum"),
    ).localCheckpoint(eager=True)
    scal = ordered.agg(
        F.max("cum").alias("total"),
        (F.max("cum") / 2).cast("long").alias("b"),
        F.max("m").alias("ms"),
    )
    pick = (
        ordered.drop("m").crossJoin(F.broadcast(scal))
        .filter(F.col("cum") + (F.col("ms") - F.col("i")) * F.col("n_tokens") <= F.col("b"))
        .agg(F.coalesce(F.max("i"), F.lit(0)).alias("i0"))
    )
    cum_i0 = (
        ordered.join(F.broadcast(pick), F.col("i") == F.col("i0"))
        .agg(F.coalesce(F.max("cum"), F.lit(0)).alias("cum0"))
    )
    tau = (
        scal.crossJoin(F.broadcast(pick))
        .crossJoin(F.broadcast(cum_i0))
        .select(
            F.when(F.col("total") <= F.col("b"), F.lit(None).cast("long"))
            .otherwise(
                F.expr("(b - cum0) div (ms - i0)")
            )
            .alias("tau")
        )
    )
    return ordered.crossJoin(F.broadcast(tau)).select(
        "source",
        "n_tokens",
        F.when(F.col("tau").isNull(), F.col("n_tokens"))
        .otherwise(F.least(F.col("n_tokens"), F.col("tau")))
        .alias("alloc"),
    )


@query(
    "q228_interleaved_epoch_order",
    oracle="""
    WITH r AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS r
      FROM documents
    )
    SELECT doc_id, source, r,
           CAST(row_number() OVER (ORDER BY r, source, doc_id) - 1 AS BIGINT)
             AS pos
    FROM r
    """,
)
def q228_interleaved_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ROUND-ROBIN INTERLEAVED dataloader order: documents
    are shuffled within source (md5 hash order) and sources interleaved
    round-robin — the epoch order a mixture dataloader feeds the trainer
    so no source clumps. The engine computes each document's global
    position with a CLOSED FORM instead of a global sort:

        pos(s, r) = sum_s' min(n_s', r-1) + |{s' < s : n_s' >= r}|

    (everything strictly earlier in round-robin order), evaluated as a
    codegen HOF over the broadcast per-source count table. The ORACLE
    computes the actual global ``row_number() OVER (ORDER BY r, source)``
    — so the hash match PROVES the closed form equals the real global
    rank at every row. Within-source ranking is the only shuffle; the
    interleave itself costs nothing at any scale (this is why real
    dataloaders use rank arithmetic, not sorts).

    Money/typing: all BIGINT."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    r = d.select(
        "doc_id", "source", F.row_number().over(w).cast("long").alias("r")
    )
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    arrs = counts.agg(
        F.array_sort(F.collect_list(F.struct("source", "n"))).alias("sn")
    )
    pos = F.expr(
        """
        aggregate(sn, CAST(0 AS BIGINT),
          (acc, e) -> acc
            + least(e.n, r - 1)
            + CASE WHEN e.source < source AND e.n >= r THEN 1 ELSE 0 END)
        """
    )
    return r.crossJoin(F.broadcast(arrs)).select(
        "doc_id", "source", "r", pos.alias("pos")
    )


_Q229_GAP_MS = 50_000_001  # ODD, against the even synthetic-ms grid


@query(
    "q229_event_timer_sessions_drain",
    oracle=f"""
    WITH t AS (
      SELECT user_id AS key,
             2 * (({EPOCH_SQL.format(c='ts')}) * 1000 + event_id % 1000) AS tm
      FROM events
    ),
    s AS (
      SELECT key, tm,
             CASE WHEN lag(tm) OVER w IS NULL
                       OR tm - lag(tm) OVER w > {_Q229_GAP_MS} THEN 1
                  ELSE 0 END AS brk
      FROM t WINDOW w AS (PARTITION BY key ORDER BY tm)
    ),
    g AS (
      SELECT key, tm,
             sum(brk) OVER (PARTITION BY key ORDER BY tm
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ),
    sess AS (
      SELECT key, sid,
             CAST(min(tm) AS BIGINT) AS session_start,
             CAST(max(tm) AS BIGINT) AS session_end,
             CAST(count(*) AS BIGINT) AS n_events
      FROM g GROUP BY 1, 2
    ),
    wm AS (SELECT max(tm) AS w FROM t),
    last AS (SELECT key, max(sid) AS ls FROM sess GROUP BY 1)
    SELECT CAST(sess.key AS VARCHAR) AS key, session_start, session_end, n_events
    FROM sess JOIN last USING (key), wm
    WHERE sid < ls OR session_end + {_Q229_GAP_MS} < wm.w
    """,
)
def q229_event_timer_sessions_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING custom sessionization with EVENT-TIME TIMERS drained
    inside the hash-checked gate (:func:`stateful.session_close_event_time`):
    the applyInPandasWithState timer path (``EventTimeTimeout`` +
    ``setTimeoutTimestamp`` + ``hasTimedOut``) certified end to end —
    sessions close by in-batch gap splits when the next same-key event
    arrives, or by WATERMARK-driven timer firings (including the
    availableNow finalization batch, which is what lets the drain
    self-terminate — unlike processing-time timers, documented at
    :func:`stateful.streaming_session_finalizer`).

    The fixture makes every divergence class unrepresentable:
      - synthetic EVEN-millisecond event times ``2*(epoch_s*1000 +
        event_id%1000)`` keep range-staged slices value-monotone (ties
        may straddle files, but an equal-time same-key arrival always
        merges in-handler, and the odd gap keeps the timer threshold off
        every tie), so a timer-vs-data race in one batch is
        emission-equivalent either way;
      - the ODD gap keeps ``session_end + gap`` off the even watermark
        grid, so fire-boundary strictness never engages.
    The oracle is the batch gaps-and-islands sessionization minus each
    key's final session unless its close passed the final watermark —
    all three paths (splits, merges, withheld lasts) are exercised at
    every SF (asserted in tests).

    Scale: state is three scalars per OPEN session; emission is
    exactly-once append."""
    from phoebe_spark.streaming import drain
    from phoebe_spark.streaming.stateful import session_close_event_time

    ev = _t(spark, sf_dir, "events")
    with drain.scratch("q229_") as work:
        src_dir = f"{work}/src"
        staged = ev.select(
            F.col("user_id"),
            F.expr(
                "timestamp_millis(2 * ((ts div 1000000000) * 1000 + event_id % 1000))"
            ).alias("event_time"),
        )
        # 3 time-range slices (round-11 optimization, was 4): each staged
        # file is one micro-batch and every batch pays the fixed
        # applyInPandasWithState per-key protocol cost (~1.4 s per
        # micro-batch END-TO-END at 8 state partitions on this fixture;
        # the trivial-handler floor experiment in OPTIMIZATION_r11.md
        # measured ~0.64 s/stateful task on an EMPTY batch — two
        # configurations, both measured), so one fewer value-monotone slice is one
        # fewer fixed-cost batch. Output is staging-invariant by fixture
        # design (monotone slices + the odd-gap/tie rules above); 3 data
        # batches + the finalization batch still exercise cross-batch
        # state handoff and the timer paths (nonvacuity asserted in
        # tests/test_plans.py against the staging-independent oracle).
        staged.repartitionByRange(3, "event_time").write.parquet(f"{work}/stage")
        drain.stage_files(f"{work}/stage/part-*.parquet", src_dir)

        stream = (
            spark.readStream.schema("user_id LONG, event_time TIMESTAMP")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .withWatermark("event_time", "0 seconds")
        )
        sessions = session_close_event_time(
            stream, gap_ms=_Q229_GAP_MS, key_col="user_id"
        )
        sink = drain.run(sessions, work, output_mode="append")

        out = spark.read.parquet(sink).select(
            "key", "session_start", "session_end", "n_events"
        )
        return out.localCheckpoint(eager=True)


@query(
    "q230_weighted_median",
    oracle="""
    WITH d AS (
      SELECT source, CAST(length(text) AS BIGINT) AS v,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS w,
             doc_id
      FROM documents
    ),
    c AS (
      SELECT source, v, w,
             CAST(sum(w) OVER (PARTITION BY source ORDER BY v, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cw,
             CAST(sum(w) OVER (PARTITION BY source) AS BIGINT) AS tw
      FROM d
    )
    SELECT source,
           CAST(min(CASE WHEN 2 * cw >= tw THEN v END) AS BIGINT)
             AS weighted_median,
           CAST(max(tw) AS BIGINT) AS total_weight
    FROM c GROUP BY source
    """,
)
def q230_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source WEIGHTED median: the smallest value whose
    cumulative weight reaches half the total (weights = token counts, so
    this is "the document length at which half the source's TOKENS sit
    in shorter docs" — the length cut a token-budgeted sampler actually
    cares about, where the unweighted median answers the wrong
    question). Lower-weighted-median convention, pure BIGINT cumulative
    arithmetic with a doc_id tie-break — digit-exact against the oracle.
    Completes the robust-stats ladder: median/MAD (q77), winsorized
    (q199-family), weighted median.

    Scale shape: one per-source cumulative window + one grouped min —
    no joins, no value-domain assumptions."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "source",
        F.length("text").cast("long").alias("v"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("w"),
        "doc_id",
    )
    wcum = Window.partitionBy("source").orderBy("v", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = base.select(
        "source",
        "v",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(Window.partitionBy("source")).alias("tw"),
    )
    return c.groupBy("source").agg(
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("v"))).alias(
            "weighted_median"
        ),
        F.max("tw").alias("total_weight"),
    )


@query(
    "q231_eval_apportionment",
    oracle="""
    WITH src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(200 AS BIGINT) AS b FROM src),
    q AS (
      SELECT source, n,
             CAST((tot.b * n) // tot.nt AS BIGINT) AS fl,
             CAST((tot.b * n) % tot.nt AS BIGINT) AS rem
      FROM src, tot
    ),
    ranked AS (
      SELECT source, n, fl, rem,
             CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rr,
             CAST((SELECT b FROM tot) - sum(fl) OVER () AS BIGINT) AS leftover
      FROM q
    )
    SELECT source, n AS n_docs, fl + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
             AS quota
    FROM ranked
    """,
)
def q231_eval_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) APPORTIONMENT of a fixed eval budget
    (200 docs) across sources: floor quotas ``(b*n_s) div N`` plus one
    extra seat to the largest remainders until the budget is exact —
    the standard way an eval set is cut proportionally without
    fractional documents (and the method whose paradoxes are
    disclosed textbook material — public classic). Pure BIGINT: floors,
    modular remainders, a remainder rank with a source tie-break.
    Sums exactly to the budget by construction (invariant-tested).
    Pairs with the waterfill allocator (q227): waterfill caps dominant
    sources, Hamilton splits a fixed budget proportionally.

    Scale shape: one map-side-combining count; the apportionment runs
    on the sources-sized frame."""
    d = _t(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = src.agg(F.sum("n").alias("nt"), F.lit(200).cast("long").alias("b"))
    q = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        F.expr("(b * n) div nt").alias("fl"),
        F.expr("(b * n) % nt").alias("rem"),
        "b",
    )
    w = Window.orderBy(F.col("rem").desc(), "source")
    ranked = q.select(
        "source",
        "n",
        "fl",
        F.row_number().over(w).cast("long").alias("rr"),
        (F.col("b") - F.sum("fl").over(Window.partitionBy())).alias("leftover"),
    )
    return ranked.select(
        "source",
        F.col("n").alias("n_docs"),
        (F.col("fl") + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)).alias(
            "quota"
        ),
    )


# ---------------------------------------------------------------------------
# Round 6: graph analytics, semantic dedup, RAG prep, batch packing
# ---------------------------------------------------------------------------

# Part co-occurrence graph shared by q232/q233: undirected edge between two
# parts that appear together in >= 2 distinct orders. TPC-H bounds lines per
# order (<= 7), so the pair fan-out per order is O(1) and the edge build is
# LINEAR in lineitem at any scale factor — the graph never densifies into
# an all-pairs blow-up the way a naive similarity graph would.
_COGRAPH_SQL = """
    os AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    co AS (
      SELECT a.l_partkey AS s1, b.l_partkey AS s2
      FROM os a JOIN os b USING (l_orderkey)
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
"""


def _cograph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (s1 < s2) co-occurrence edges; see _COGRAPH_SQL.

    Shape (optimization round 11): ONE shuffle on l_orderkey collects each
    order's distinct part set (bounded: TPC-H caps lines per order at 7),
    the i<j pair fan-out is a per-row array expression over that <=7-element
    set, and the pair census is the second (map-side-combining) shuffle.
    The previous self-join form scanned lineitem twice, ran the DISTINCT
    shuffle twice (once per join side), and at plan-estimate sizes beyond
    the broadcast bound would shuffle both sides a third time for the join
    — this form is scan-once / two-shuffle at every scale, with no
    broadcast of a corpus-sized side. Pair set is identical: collect_set ==
    DISTINCT, sort_array + (i<j) == the a.l_partkey < b.l_partkey theta."""
    li = _t(spark, sf_dir, "lineitem")
    per_order = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .filter(F.size("ps") >= 2)
    )
    pairs = per_order.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ps",
                    lambda x, i: F.transform(
                        F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                        lambda y: F.struct(x.alias("s1"), y.alias("s2")),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
        .count()
        .filter(F.col("count") >= 2)
        .select("s1", "s2")
    )


@query(
    "q232_part_pagerank",
    oracle=f"""
    WITH {_COGRAPH_SQL},
    edges AS (SELECT s1 AS src, s2 AS dst FROM co
              UNION ALL SELECT s2, s1 FROM co),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM deg),
    we AS (SELECT e.src, e.dst, 1.0 / d.outdeg AS w
           FROM edges e JOIN deg d USING (src)),
    r0 AS (SELECT src AS node, 1.0 / (SELECT cnt FROM n) AS r FROM deg),
    r1 AS (SELECT we.dst AS node,
                  0.15 / (SELECT cnt FROM n) + 0.85 * sum(we.w * r0.r) AS r
           FROM we JOIN r0 ON we.src = r0.node GROUP BY 1),
    r2 AS (SELECT we.dst AS node,
                  0.15 / (SELECT cnt FROM n) + 0.85 * sum(we.w * r1.r) AS r
           FROM we JOIN r1 ON we.src = r1.node GROUP BY 1),
    r3 AS (SELECT we.dst AS node,
                  0.15 / (SELECT cnt FROM n) + 0.85 * sum(we.w * r2.r) AS r
           FROM we JOIN r2 ON we.src = r2.node GROUP BY 1),
    r4 AS (SELECT we.dst AS node,
                  0.15 / (SELECT cnt FROM n) + 0.85 * sum(we.w * r3.r) AS r
           FROM we JOIN r3 ON we.src = r3.node GROUP BY 1),
    r5 AS (SELECT we.dst AS node,
                  0.15 / (SELECT cnt FROM n) + 0.85 * sum(we.w * r4.r) AS r
           FROM we JOIN r4 ON we.src = r4.node GROUP BY 1)
    SELECT node AS part, round(r * (SELECT cnt FROM n), 6) AS pr_scaled
    FROM r5
    """,
)
def q232_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 5 iterations, uniform start) over the part
    co-occurrence graph — "which parts sit at the center of the purchase
    graph". The iterative-join shape is the canonical Spark graph recipe:
    contributions = edges ⋈ ranks, grouped on dst; `localCheckpoint` per
    iteration truncates the lineage so the plan does not grow 5 joins deep
    (and a retry cannot recompute the whole chain). The graph is
    symmetrized, so every node has in-edges and there is no dangling-mass
    term. Output is rank × N (O(1) magnitude), rounded to 6dp.

    100 TB story: edge build is linear (bounded lines/order); each
    iteration is one shuffle on dst, sized by edges, not nodes²; ranks and
    degrees co-partition on the join key across iterations.
    """
    co = _cograph_edges(spark, sf_dir)
    # materialize the symmetrized edge list ONCE: the node count, the
    # degree aggregate, and the weighted-edge join would otherwise each
    # re-run the lineitem self-join that builds the co-graph
    edges = graph.symmetrize(co).localCheckpoint(eager=True)
    n_nodes = float(edges.select("src").distinct().count())
    ranks = graph.pagerank(edges, iters=5, damping=0.85)
    return ranks.select(
        F.col("node").alias("part"),
        F.round(F.col("r") * F.lit(n_nodes), 6).alias("pr_scaled"),
    )


@query(
    "q233_triangle_census",
    oracle=f"""
    WITH {_COGRAPH_SQL},
    tri AS (
      SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
      FROM co e1
      JOIN co e2 ON e1.s2 = e2.s1
      JOIN co e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
    ),
    nodes AS (
      SELECT a AS part FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT part, count(*) AS n_triangles
    FROM nodes GROUP BY 1
    """,
)
def q233_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation on the part co-occurrence graph —
    the clustering-structure audit behind community detection and
    link-spam checks. Uses the oriented-edge (a<b<c) enumeration: every
    triangle is generated exactly once from its canonical vertex order, so
    there is no /6 correction and no duplicate work.

    100 TB story: two equi-joins on edge endpoints; with edges canonically
    oriented toward the higher-degree endpoint the join fan-out is bounded
    by arboricity (here the co-count >= 2 threshold already bounds degree).
    No node ever materializes its full neighborhood cross-product outside
    the join.
    """
    co = _cograph_edges(spark, sf_dir).localCheckpoint(eager=True)
    return graph.triangle_counts(co)


# Pairwise cosine between two aliased embedding rows (a / b), all-DOUBLE.
_PAIR_COS_SQL = """
      list_sum(list_transform(generate_series(1, len(a.embedding)),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""


@query(
    "q234_semdedup_prune",
    oracle=f"""
    WITH pr AS (
      SELECT a.label, b.vec_id AS pruned
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round({_PAIR_COS_SQL}, 6) >= 0.3
      GROUP BY 1, 2
    )
    SELECT e.label,
           count(*) AS n_vecs,
           CAST(count(pr.pruned) AS BIGINT) AS n_pruned,
           CAST(count(*) - count(pr.pruned) AS BIGINT) AS n_kept
    FROM embeddings e
    LEFT JOIN pr ON pr.label = e.label AND pr.pruned = e.vec_id
    GROUP BY 1
    """,
)
def q234_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023): inside each
    cluster, drop every vector that has a LOWER-id neighbor with cosine
    >= tau — keeping exactly one representative per near-duplicate chain
    head. The `label` column plays the cluster role (the real pipeline
    would feed k-means assignments, q187). Cosine is rounded to 6dp BEFORE
    the threshold so the boundary predicate is engine-stable.

    100 TB story: the self-join is CLUSTER-LOCAL (equi-join on label), so
    pair count is sum over clusters of |c|^2, not corpus^2 — the whole
    point of clustering before the pairwise pass; one shuffle on label.
    """
    e = _t(spark, sf_dir, "embeddings")
    pruned = (
        similarity.cluster_local_pairs(e, threshold=0.3)
        .select("label", F.col("id_b").alias("pruned"))
        .distinct()
    )
    return (
        e.join(
            pruned,
            (pruned.label == e.label) & (pruned.pruned == e.vec_id),
            "left",
        )
        .groupBy(e.label)
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count("pruned").alias("n_pruned"),
            (F.count(F.lit(1)) - F.count("pruned")).alias("n_kept"),
        )
    )


@query(
    "q235_rag_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t, len({_TOKS_SQL}) AS n
      FROM documents WHERE trim(text) <> ''
    ),
    ch AS (
      SELECT doc_id, n, t,
             unnest(generate_series(0,
               CASE WHEN n <= 32 THEN 0 ELSE (n - 32 + 23) // 24 END)) AS i
      FROM toks
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_id,
           CAST(least(32, n - i * 24) AS BIGINT) AS n_tok_chunk,
           array_to_string(t[i * 24 + 1 : i * 24 + 32], ' ') AS chunk_text
    FROM ch
    """,
)
def q235_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG ingestion chunking: overlapping token windows (W=32, stride=24,
    8-token overlap) with stable (doc_id, chunk_id) keys — the standard
    retrieval-corpus prep step. Chunk count per doc is closed-form
    (1 + ceil((n-W)/S)), the window is materialized by exploding a
    `sequence`, and the text is re-joined with single spaces (both engines
    slice the same whitespace token array, so the text matches exactly).

    100 TB story: pure per-row narrow ops — no shuffle at all; output
    size is input x (1 + overlap fraction), and the generated chunk_id is
    deterministic so re-runs upsert cleanly.
    """
    d = _t(spark, sf_dir, "documents")
    toks = d.filter(F.trim("text") != "").select(
        "doc_id",
        F.split(F.trim("text"), r"\s+").alias("t"),
    ).withColumn("n", F.size("t"))
    ch = toks.select(
        "doc_id",
        "n",
        "t",
        F.explode(
            F.sequence(
                F.lit(0),
                F.when(F.col("n") <= 32, F.lit(0)).otherwise(
                    F.expr("CAST((n - 32 + 23) div 24 AS INT)")
                ),
            )
        ).alias("i"),
    )
    return ch.select(
        "doc_id",
        F.col("i").cast("long").alias("chunk_id"),
        F.least(F.lit(32), F.col("n") - F.col("i") * 24)
        .cast("long")
        .alias("n_tok_chunk"),
        F.array_join(F.slice("t", F.col("i") * 24 + 1, 32), " ").alias("chunk_text"),
    )


@query(
    "q236_length_bucket_batches",
    oracle=f"""
    WITH lens AS (
      SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tok
      FROM documents WHERE trim(text) <> ''
    ),
    ranked AS (
      SELECT doc_id, n_tok,
             row_number() OVER (ORDER BY n_tok DESC, doc_id) AS rn
      FROM lens
    )
    SELECT CAST((rn - 1) // 32 AS BIGINT) AS batch_id,
           count(*) AS n_docs,
           max(n_tok) AS max_tok,
           CAST(sum(n_tok) AS BIGINT) AS sum_tok,
           CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS pad_waste,
           round(1.0 - sum(n_tok) * 1.0 / (count(*) * max(n_tok)), 6)
             AS pad_frac
    FROM ranked GROUP BY 1
    """,
)
def q236_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly: sort docs by token count (desc,
    doc_id tie-break), cut into fixed batches of 32, and report the padding
    waste each batch pays (batch tensor is n x max_len; waste = padding
    cells). Sorting before batching is THE standard trick that turns
    ~50% padding into a few percent — this query quantifies it per batch.

    100 TB story: a global sort by a scalar (Spark range-partitions it —
    no single-reducer bottleneck), then a batch-local aggregate; row_number
    over the global order is the one sequential construct, and at scale the
    same assembly is done per-partition (interleaved epoch order, q228).
    """
    from phoebe_spark.operators.layout import global_rank_by_value

    d = _t(spark, sf_dir, "documents")
    lens = d.filter(F.trim("text") != "").select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tok"),
    )
    # value-bucketed two-phase rank: no single-reducer global window
    ranked = global_rank_by_value(lens, "n_tok", "doc_id", out_col="rn")
    return (
        ranked.groupBy(F.expr("(rn - 1) div 32").alias("batch_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tok").alias("max_tok"),
            F.sum("n_tok").alias("sum_tok"),
        )
        .select(
            "batch_id",
            "n_docs",
            "max_tok",
            "sum_tok",
            (F.col("n_docs") * F.col("max_tok") - F.col("sum_tok")).alias("pad_waste"),
            F.round(
                F.lit(1.0)
                - F.col("sum_tok") / (F.col("n_docs") * F.col("max_tok")),
                6,
            ).alias("pad_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Round 6: time-series diagnostics and audits on the events stream
# ---------------------------------------------------------------------------


@query(
    "q237_hourly_acf",
    oracle=f"""
    WITH hc AS (
      SELECT {EPOCH_SQL.format(c='ts')} // 3600 AS hr,
             CAST(count(*) AS DOUBLE) AS c
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(generate_series(1, 10)) AS lag),
    j AS (
      SELECT l.lag, a.c AS ca, b.c AS cb
      FROM lags l
      JOIN hc a ON true
      JOIN hc b ON b.hr = a.hr + l.lag
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(ca, cb), 6) AS acf
    FROM j GROUP BY 1
    """,
)
def q237_hourly_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly event-count series at lags 1..10 —
    the seasonality probe that tells a forecaster (reference workload
    models, SURVEY §2.8) which AR terms matter. Sample ACF here is the
    Pearson correlation over observed (t, t+lag) pairs, so hour gaps are
    skipped rather than zero-filled. Counts are integers, so both engines
    correlate IDENTICAL doubles; only corr's internal sums differ, well
    under the 6dp rounding.

    100 TB story: the hourly rollup is a map-side-combining groupBy
    (O(hours) rows out); the lag join replicates that TINY series 10x and
    self-joins on hr+lag — all post-aggregation, never on raw events.
    """
    e = _t(spark, sf_dir, "events")
    hc = (
        e.groupBy((_epoch() / 3600).cast("long").alias("hr"))
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .localCheckpoint(eager=True)
    )
    lags = spark.range(1, 11).select(F.col("id").alias("lag"))
    a = hc.select(F.col("hr").alias("ha"), F.col("c").alias("ca")).crossJoin(
        F.broadcast(lags)
    )
    b = hc.select(F.col("hr").alias("hb"), F.col("c").alias("cb"))
    j = a.join(b, a.ha + a.lag == b.hb)
    return j.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.corr("ca", "cb"), 6).alias("acf"),
    )


@query(
    "q238_changepoint",
    oracle=f"""
    WITH hc AS (
      SELECT {EPOCH_SQL.format(c='ts')} // 3600 AS hr,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    pre AS (
      SELECT hr, c,
             CAST(row_number() OVER w AS BIGINT) AS i,
             CAST(sum(c) OVER w AS BIGINT) AS s,
             CAST(sum(c * c) OVER w AS BIGINT) AS s2,
             CAST(count(*) OVER () AS BIGINT) AS nn,
             CAST(sum(c) OVER () AS BIGINT) AS st,
             CAST(sum(c * c) OVER () AS BIGINT) AS s2t
      FROM hc
      WINDOW w AS (ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    sse AS (
      SELECT hr, i, nn, st, s2t,
             round((s2 - s * s / CAST(i AS DOUBLE))
                 + ((s2t - s2) - (st - s) * (st - s) / CAST(nn - i AS DOUBLE)), 6)
               AS sse_split,
             round(s / CAST(i AS DOUBLE), 6) AS mean_left,
             round((st - s) / CAST(nn - i AS DOUBLE), 6) AS mean_right
      FROM pre WHERE i < nn
    )
    SELECT hr AS split_hour, sse_split, mean_left, mean_right,
           round(s2t - st * st / CAST(nn AS DOUBLE), 6) AS sse_nosplit
    FROM sse
    QUALIFY row_number() OVER (ORDER BY sse_split, hr) = 1
    """,
)
def q238_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection on the hourly event-count series:
    the split minimizing total within-segment SSE (the first step of
    binary segmentation / PELT). All moments are EXACT BIGINT prefix sums
    of integer counts — the only floats are the final divisions, so both
    engines compute bit-identical SSE values and the argmin cannot flip
    on float noise; ties break on earliest hour.

    100 TB story: counts are a map-side-combining rollup; the prefix
    sums run over the O(hours) series, not raw events. The argmin is a
    window-min over that same tiny frame.
    """
    e = _t(spark, sf_dir, "events")
    hc = e.groupBy((_epoch() / 3600).cast("long").alias("hr")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    pre = hc.select(
        "hr",
        F.row_number().over(Window.orderBy("hr")).cast("long").alias("i"),
        F.sum("c").over(w).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("s2"),
        F.count(F.lit(1)).over(wall).alias("nn"),
        F.sum("c").over(wall).alias("st"),
        F.sum(F.col("c") * F.col("c")).over(wall).alias("s2t"),
    )
    sse = pre.filter(F.col("i") < F.col("nn")).select(
        "hr",
        F.round(
            (F.col("s2") - F.col("s") * F.col("s") / F.col("i").cast("double"))
            + (
                (F.col("s2t") - F.col("s2"))
                - (F.col("st") - F.col("s"))
                * (F.col("st") - F.col("s"))
                / (F.col("nn") - F.col("i")).cast("double")
            ),
            6,
        ).alias("sse_split"),
        F.round(F.col("s") / F.col("i").cast("double"), 6).alias("mean_left"),
        F.round(
            (F.col("st") - F.col("s")) / (F.col("nn") - F.col("i")).cast("double"), 6
        ).alias("mean_right"),
        F.round(
            F.col("s2t") - F.col("st") * F.col("st") / F.col("nn").cast("double"), 6
        ).alias("sse_nosplit"),
    )
    best = sse.withColumn(
        "rk", F.row_number().over(Window.orderBy("sse_split", "hr"))
    )
    return best.filter(F.col("rk") == 1).select(
        F.col("hr").alias("split_hour"),
        "sse_split",
        "mean_left",
        "mean_right",
        "sse_nosplit",
    )


@query(
    "q239_k_anonymity",
    oracle="""
    SELECT source, lang,
           CAST(n_chars // 500 AS BIGINT) AS len_band,
           count(*) AS group_size,
           CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS INT) AS at_risk
    FROM documents
    GROUP BY 1, 2, 3
    """,
)
def q239_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (source, lang,
    length band): any equivalence class smaller than k=5 re-identifies its
    members — the privacy screen a training corpus runs before release.
    Generalization (banding n_chars to 500-char buckets) is part of the
    audit: the band IS the generalized QI.

    100 TB story: one map-side-combining groupBy on a low-cardinality
    composite key; no joins, no skew (bands are bounded).
    """
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(
        "source",
        "lang",
        F.expr("n_chars div 500").alias("len_band"),
    ).agg(
        F.count(F.lit(1)).alias("group_size"),
        F.when(F.count(F.lit(1)) < 5, 1).otherwise(0).cast("int").alias("at_risk"),
    )


@query(
    "q240_time_weighted_avg",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, value,
             epoch_ns(ts) AS tns,
             lead(epoch_ns(ts)) OVER w AS next_tns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
    )
    SELECT user_id,
           CAST(count(next_tns) AS BIGINT) AS n_intervals,
           CAST(sum(next_tns - tns) AS BIGINT) AS span_ns,
           round(sum(value * (next_tns - tns) / 1e9)
                 / (sum(next_tns - tns) / 1e9), 6) AS twa
    FROM seq WHERE next_tns IS NOT NULL
    GROUP BY 1
    """,
)
def q240_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TIME-weighted average of `value` under last-observation-
    carried-forward weighting (TimescaleDB's `time_weight('LOCF')`): each
    observation holds until the next one, so its weight is the interval
    length — the honest mean for irregularly sampled gauges, where the
    plain avg over-counts bursts. Span accounting stays exact BIGINT
    nanos; only the final weighted mean is float (rounded 6dp). Same-ts
    duplicates contribute zero weight regardless of intra-tie order, so
    the (ts, event_id) ordering is fully deterministic.

    100 TB story: one shuffle on user_id (the window), then a grouped
    agg on the same key — Spark reuses the partitioning; no join.
    """
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "value",
        F.col("ts").alias("tns"),
        F.lead("ts").over(w).alias("next_tns"),
    ).filter(F.col("next_tns").isNotNull())
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.col("next_tns") - F.col("tns")).alias("span_ns"),
        F.round(
            F.sum(F.col("value") * (F.col("next_tns") - F.col("tns")) / F.lit(1e9))
            / (F.sum(F.col("next_tns") - F.col("tns")) / F.lit(1e9)),
            6,
        ).alias("twa"),
    )


@query(
    "q241_band_join",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('micro',    0,  50000),
             ('small',    50000, 150000),
             ('mid',     150000, 300000),
             ('large',   300000, 600000)
    )
    SELECT b.band,
           count(o.o_orderkey) AS n_orders,
           CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_price
    FROM orders o
    JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY 1
    """,
)
def q241_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join rewritten as an equi-join: each NON-UNIFORM price
    band is exploded into the fixed-width 50k buckets it covers, facts map
    to their bucket with one arithmetic expression, and the join becomes
    `fact.bucket = band.bucket` plus a residual BETWEEN check. The oracle
    states the declarative BETWEEN join; this plan is the scalable shape.

    100 TB story: a naive theta-join (BETWEEN) forces
    broadcast-nested-loop — O(rows x bands) comparisons; the bucketed
    rewrite is a broadcast HASH join: one probe per row. The residual
    predicate keeps semantics exact for bands that don't align to bucket
    edges, and the bucket explosion is bounded by band width / bucket
    width (here <= 6 rows per band).
    """
    bands = [
        ("micro", 0, 50_000),
        ("small", 50_000, 150_000),
        ("mid", 150_000, 300_000),
        ("large", 300_000, 600_000),
    ]
    bucket_w = 50_000
    rows = []
    for name, lo, hi in bands:
        for bkt in range(lo // bucket_w, (hi - 1) // bucket_w + 1):
            rows.append((name, lo, hi, bkt))
    band_df = spark.createDataFrame(rows, "band string, lo long, hi long, bkt long")
    o = _t(spark, sf_dir, "orders")
    fact = o.select(
        "o_orderkey",
        "o_totalprice",
        F.floor(F.col("o_totalprice") / bucket_w).cast("long").alias("bkt"),
    )
    j = fact.join(F.broadcast(band_df), "bkt").filter(
        (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi"))
    )
    return j.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum2(_dec("o_totalprice")).alias("sum_price"),
    )


@query(
    "q242_ndcg_eval",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qemb, label AS qlabel
      FROM embeddings WHERE vec_id < 10
    ),
    scored AS (
      SELECT q.query_id, q.qlabel, b.vec_id AS neighbor_id, b.label,
             round(
               list_sum(list_transform(generate_series(1, len(b.embedding)),
                 i -> CAST(b.embedding[i] AS DOUBLE) * CAST(q.qemb[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qemb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               6) AS cs
      FROM q JOIN embeddings b ON b.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, qlabel, label,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, neighbor_id) AS rank
      FROM scored
    ),
    rel_total AS (
      SELECT q.query_id,
             least(10, count(*) FILTER (WHERE b.label = q.qlabel)) AS r_tot
      FROM q JOIN embeddings b ON b.vec_id <> q.query_id
      GROUP BY 1
    ),
    dcg AS (
      SELECT query_id,
             CAST(count(*) FILTER (WHERE label = qlabel) AS BIGINT) AS n_rel_at10,
             sum(CASE WHEN label = qlabel
                      THEN 1.0 / log2(rank + 1) ELSE 0 END) AS dcg10
      FROM ranked WHERE rank <= 10 GROUP BY 1
    ),
    idcg_rows AS (
      SELECT query_id, unnest(generate_series(1, r_tot)) AS k
      FROM rel_total WHERE r_tot > 0
    ),
    idcg AS (
      SELECT query_id, sum(1.0 / log2(k + 1)) AS idcg10
      FROM idcg_rows GROUP BY 1
    )
    SELECT d.query_id, d.n_rel_at10,
           round(d.dcg10, 6) AS dcg10,
           round(coalesce(i.idcg10, 0), 6) AS idcg10,
           round(CASE WHEN coalesce(i.idcg10, 0) > 0
                      THEN d.dcg10 / i.idcg10 ELSE 0 END, 6) AS ndcg10
    FROM dcg d LEFT JOIN idcg i USING (query_id)
    """,
)
def q242_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality eval: NDCG@10 for the first 10 vectors as queries
    against the rest of the corpus, binary relevance = label match (the
    standard recall-proxy when embeddings carry class labels). Ranking
    ties break on 6dp-rounded cosine then neighbor_id, so rank order is
    engine-stable. IDCG uses min(total relevant, 10) — the full-corpus
    ideal, not top-10-local — so NDCG is comparable across queries.

    100 TB story: the query set broadcasts (it's tiny by construction);
    the corpus is scanned once per eval; per-query top-k is a window over
    k-bounded groups. This is the eval harness for the IVF/PQ indexes
    (q44/q149/q156) — same contract, exact baseline.
    """
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qemb"),
        F.col("label").alias("qlabel"),
    )
    scored = e.join(F.broadcast(q), e.vec_id != q.query_id).select(
        "query_id",
        "qlabel",
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.round(similarity.cosine(F.col("embedding"), F.col("qemb")), 6).alias("cs"),
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("cs").desc(), "neighbor_id"
            )
        ),
    )
    rel = F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0)
    dcg = (
        ranked.filter(F.col("rank") <= 10)
        .groupBy("query_id")
        .agg(
            F.sum(rel).cast("long").alias("n_rel_at10"),
            F.sum(rel / F.log2(F.col("rank") + 1)).alias("dcg10_raw"),
        )
    )
    r_tot = scored.groupBy("query_id").agg(
        F.least(F.lit(10), F.sum(rel)).cast("int").alias("r_tot")
    )
    idcg = (
        r_tot.filter(F.col("r_tot") > 0)
        .select(
            "query_id", F.explode(F.sequence(F.lit(1), F.col("r_tot"))).alias("k")
        )
        .groupBy("query_id")
        .agg(F.sum(F.lit(1.0) / F.log2(F.col("k") + 1)).alias("idcg10_raw"))
    )
    return (
        dcg.join(idcg, "query_id", "left")
        .select(
            "query_id",
            "n_rel_at10",
            F.round("dcg10_raw", 6).alias("dcg10"),
            F.round(F.coalesce("idcg10_raw", F.lit(0.0)), 6).alias("idcg10"),
            F.round(
                F.when(
                    F.coalesce("idcg10_raw", F.lit(0.0)) > 0,
                    F.col("dcg10_raw") / F.col("idcg10_raw"),
                ).otherwise(0.0),
                6,
            ).alias("ndcg10"),
        )
    )


@query(
    "q243_label_propagation",
    oracle=f"""
    WITH {_COGRAPH_SQL},
    edges AS (SELECT s1 AS src, s2 AS dst FROM co
              UNION ALL SELECT s2, s1 FROM co),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    seeds AS (
      SELECT n.node, p.p_brand AS label
      FROM nodes n JOIN part p ON p.p_partkey = n.node
      WHERE n.node % 10 = 0
    ),
    lab0 AS (
      SELECT n.node, s.label FROM nodes n LEFT JOIN seeds s USING (node)
    ),
    v1 AS (SELECT e.dst AS node, l.label, count(*) AS c
           FROM edges e JOIN lab0 l ON e.src = l.node
           WHERE l.label IS NOT NULL GROUP BY 1, 2),
    m1 AS (SELECT node, label FROM v1
           QUALIFY row_number() OVER (PARTITION BY node ORDER BY c DESC, label) = 1),
    lab1 AS (SELECT n.node, coalesce(s.label, m.label, p.label) AS label
             FROM nodes n LEFT JOIN seeds s USING (node)
             LEFT JOIN m1 m USING (node) LEFT JOIN lab0 p USING (node)),
    v2 AS (SELECT e.dst AS node, l.label, count(*) AS c
           FROM edges e JOIN lab1 l ON e.src = l.node
           WHERE l.label IS NOT NULL GROUP BY 1, 2),
    m2 AS (SELECT node, label FROM v2
           QUALIFY row_number() OVER (PARTITION BY node ORDER BY c DESC, label) = 1),
    lab2 AS (SELECT n.node, coalesce(s.label, m.label, p.label) AS label
             FROM nodes n LEFT JOIN seeds s USING (node)
             LEFT JOIN m2 m USING (node) LEFT JOIN lab1 p USING (node)),
    v3 AS (SELECT e.dst AS node, l.label, count(*) AS c
           FROM edges e JOIN lab2 l ON e.src = l.node
           WHERE l.label IS NOT NULL GROUP BY 1, 2),
    m3 AS (SELECT node, label FROM v3
           QUALIFY row_number() OVER (PARTITION BY node ORDER BY c DESC, label) = 1),
    lab3 AS (SELECT n.node, coalesce(s.label, m.label, p.label) AS label
             FROM nodes n LEFT JOIN seeds s USING (node)
             LEFT JOIN m3 m USING (node) LEFT JOIN lab2 p USING (node))
    SELECT l.node AS part, l.label,
           CAST(CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_seed
    FROM lab3 l LEFT JOIN seeds s USING (node)
    WHERE l.label IS NOT NULL
    """,
)
def q243_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the part co-occurrence
    graph: 10% of nodes are seeded with their brand, then 3 SYNCHRONOUS
    rounds of neighbor majority vote (count desc, label asc tie-break)
    spread labels to unseeded nodes; seeds stay clamped, and a node with
    no labeled neighbor carries its previous label. Distinct from
    connected components (q53): CC converges to a set min, LP takes a
    VOTE — it can assign different labels inside one component.

    100 TB story: each round is one edges-to-labels equi-join + one
    grouped argmax, all partitioned on node id; `localCheckpoint` per
    round truncates lineage exactly like q232. Votes shuffle O(edges),
    never O(nodes x labels).
    """
    co = _cograph_edges(spark, sf_dir)
    edges = graph.symmetrize(co).localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    part = _t(spark, sf_dir, "part")
    seeds = (
        nodes.filter(F.col("node") % 10 == 0)
        .join(part, nodes.node == part.p_partkey)
        .select("node", F.col("p_brand").alias("slabel"))
        .localCheckpoint(eager=True)
    )
    lab = graph.label_propagation(edges, seeds, rounds=3)
    return (
        lab.filter(F.col("label").isNotNull())
        .join(seeds, "node", "left")
        .select(
            F.col("node").alias("part"),
            "label",
            F.when(F.col("slabel").isNotNull(), 1).otherwise(0).cast("int").alias("is_seed"),
        )
    )


@query(
    "q244_minhash_merge_cert",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS_SQL} AS t FROM documents
      WHERE trim(text) <> '' AND len({_TOKS_SQL}) >= 3
    ),
    sh AS (
      SELECT source,
             unnest(list_transform(generate_series(1, len(t) - 2),
                                   i -> array_to_string(t[i:i+2], ' '))) AS g
      FROM toks
    ),
    hp AS (
      SELECT source,
             {_MD5H_SQL.format(x='g')} % 2147483647 AS h1,
             CAST(('0x' || substring(md5(g), 17, 15)) AS BIGINT) % 2147483646 + 1 AS h2
      FROM sh
    )
    SELECT source, CAST(i AS BIGINT) AS slot,
           min((h1 + i * h2) % 2147483647) AS sig,
           CAST(1 AS INT) AS merge_ok
    FROM hp CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) seeds
    GROUP BY 1, 2
    """,
)
def q244_minhash_merge_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-MERGEABILITY certificate for per-source MinHash signatures:
    computes each source's 16-slot signature TWICE — directly over all its
    documents, and as an elementwise-min MERGE of two half-corpus partial
    signatures (split on doc_id parity) — and emits ``merge_ok`` per slot.
    The oracle replays only the direct path and expects merge_ok=1, so a
    broken merge (any non-distributive step sneaking into the sketch)
    hash-fails the gate.

    Why it matters at 100 TB: mergeability is THE property that lets a
    sketch run as map-side partial aggregation and combine across
    executors/days/snapshots without touching raw text twice — this query
    pins it as a tested contract, not an assumption.
    """
    d = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        d, id_col="doc_id", text_col="text", num_hashes=16, shingle_n=3,
        hash_fn="md5",
    )
    src = d.select(F.col("doc_id").alias("doc"), "source", (F.col("doc_id") % 2).alias("half"))
    # Materialize the per-doc signatures once: BOTH the direct and the
    # half-merge paths consume this frame, and without the checkpoint each
    # would re-run the whole shingle+hash subtree (the module-wide
    # recompute trap — see minhash_lsh_pairs).
    per_doc = sigs.join(src, "doc").localCheckpoint(eager=True)
    slot_cols = [F.col("signature")[i].alias(f"s{i}") for i in range(16)]
    direct = (
        per_doc.select("source", *slot_cols)
        .groupBy("source")
        .agg(*[F.min(f"s{i}").alias(f"d{i}") for i in range(16)])
    )
    halves = (
        per_doc.select("source", "half", *slot_cols)
        .groupBy("source", "half")
        .agg(*[F.min(f"s{i}").alias(f"h{i}") for i in range(16)])
    )
    merged = halves.groupBy("source").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(16)]
    )
    j = direct.join(merged, "source")
    long_form = j.select(
        "source",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("long").alias("slot"),
                        F.col(f"d{i}").alias("sig"),
                        F.when(F.col(f"d{i}") == F.col(f"m{i}"), 1)
                        .otherwise(0)
                        .cast("int")
                        .alias("merge_ok"),
                    )
                    for i in range(16)
                ]
            )
        ).alias("e"),
    )
    return long_form.select("source", "e.slot", "e.sig", "e.merge_ok")


@query(
    "q245_key_skew_gini",
    oracle="""
    WITH audits AS (
      SELECT 'lineitem.l_partkey' AS key_name, l_partkey AS k FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_suppkey', l_suppkey FROM lineitem
      UNION ALL
      SELECT 'events.user_id', user_id FROM events
    ),
    cnts AS (
      SELECT key_name, k, CAST(count(*) AS BIGINT) AS c
      FROM audits GROUP BY 1, 2
    ),
    ranked AS (
      SELECT key_name, c,
             CAST(row_number() OVER (PARTITION BY key_name ORDER BY c, k)
               AS BIGINT) AS i
      FROM cnts
    )
    SELECT key_name,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(max(c) AS BIGINT) AS top1_cnt,
           round(2.0 * sum(i * c) / (count(*) * sum(c))
                 - (count(*) + 1.0) / count(*), 6) AS gini
    FROM ranked GROUP BY 1
    """,
)
def q245_key_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic: per join/groupBy key column, the Gini
    coefficient of the per-key row-count distribution plus the hottest
    key's count — the numbers that decide whether a key needs salting
    (operators/skew.py) BEFORE the job OOMs. Gini uses the exact sorted
    cumulative formula (2*sum(i*c_i)/(n*sum c) - (n+1)/n); all moments are
    BIGINT, only the final ratio is float. Ties in c are order-insensitive
    for the formula, so the (c, k) sort is engine-stable.

    100 TB story: one map-side-combining count per audited key, then the
    per-key-name window over the (much smaller) distinct-key frame; audits
    union BEFORE aggregation so the whole report is one job.
    """
    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")
    # Both lineitem keys come out of ONE scan via an explode — a union of
    # two selects would read the fact table twice (the plan test pins it).
    audits = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("lineitem.l_partkey").alias("key_name"),
                    F.col("l_partkey").alias("k"),
                ),
                F.struct(
                    F.lit("lineitem.l_suppkey").alias("key_name"),
                    F.col("l_suppkey").alias("k"),
                ),
            )
        ).alias("e")
    ).select("e.key_name", "e.k").unionAll(
        ev.select(F.lit("events.user_id").alias("key_name"), F.col("user_id").alias("k"))
    )
    cnts = audits.groupBy("key_name", "k").agg(F.count(F.lit(1)).alias("c"))
    ranked = cnts.select(
        "key_name",
        "c",
        F.row_number()
        .over(Window.partitionBy("key_name").orderBy("c", "k"))
        .cast("long")
        .alias("i"),
    )
    return ranked.groupBy("key_name").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("top1_cnt"),
        F.round(
            F.lit(2.0) * F.sum(F.col("i") * F.col("c"))
            / (F.count(F.lit(1)) * F.sum("c"))
            - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


_Q246_WINDOW_MS = 21_600_000  # 6 h pattern window


@query(
    "q246_stream_first_match_drain",
    oracle=f"""
    WITH t AS (
      SELECT user_id, event_type,
             ({EPOCH_SQL.format(c='ts')}) * 1000 + event_id % 1000 AS tm
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    wm AS (SELECT max(tm) AS w FROM t),
    a AS (SELECT DISTINCT user_id, tm FROM t WHERE event_type = 'view'),
    b AS (SELECT user_id, tm FROM t WHERE event_type = 'purchase'),
    m AS (
      SELECT a.user_id, a.tm AS a_time, CAST(min(b.tm) AS BIGINT) AS b_time
      FROM a JOIN b ON b.user_id = a.user_id
                   AND b.tm >= a.tm AND b.tm <= a.tm + {_Q246_WINDOW_MS}
      GROUP BY 1, 2
    )
    SELECT CAST(user_id AS VARCHAR) AS key,
           CAST(a_time AS BIGINT) AS a_time, b_time,
           CAST(b_time - a_time AS BIGINT) AS lag_ms
    FROM m, wm WHERE a_time + {_Q246_WINDOW_MS} < wm.w
    """,
)
def q246_stream_first_match_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CEP first-match drained inside the hash-checked gate:
    'view followed by purchase within 6 h' per user, each view matched to
    the EARLIEST qualifying purchase (:func:`stateful.first_match_within`
    — applyInPandasWithState, event-time timers, watermark-pruned A/B
    buffers). The oracle is the batch min-join; views whose window has
    not closed at the final watermark are withheld by BOTH sides (the
    q229 last-session rule, applied per pattern window), so the drain's
    event-time finalization logic — not just its join math — is what the
    hash certifies.

    Scale: state per user is the live-window event times only (watermark
    pruned both sides); one shuffle on the key; exactly-once append.
    """
    from phoebe_spark.streaming import drain
    from phoebe_spark.streaming.stateful import first_match_within

    ev = _t(spark, sf_dir, "events")
    with drain.scratch("q246_") as work:
        src_dir = f"{work}/src"
        staged = ev.filter(F.col("event_type").isin("view", "purchase")).select(
            F.col("user_id"),
            F.col("event_type"),
            F.expr(
                "timestamp_millis((ts div 1000000000) * 1000 + event_id % 1000)"
            ).alias("event_time"),
        )
        # 3 time-range slices (round-11 optimization, was 4): each staged
        # file is one micro-batch and every batch pays the fixed
        # applyInPandasWithState per-key protocol cost (~1.4 s per
        # micro-batch END-TO-END at 8 state partitions on this fixture;
        # the trivial-handler floor experiment in OPTIMIZATION_r11.md
        # measured ~0.64 s/stateful task on an EMPTY batch — two
        # configurations, both measured), so one fewer value-monotone slice is one
        # fewer fixed-cost batch. Output is staging-invariant by fixture
        # design (monotone slices + the odd-gap/tie rules above); 3 data
        # batches + the finalization batch still exercise cross-batch
        # state handoff and the timer paths (nonvacuity asserted in
        # tests/test_plans.py against the staging-independent oracle).
        staged.repartitionByRange(3, "event_time").write.parquet(f"{work}/stage")
        drain.stage_files(f"{work}/stage/part-*.parquet", src_dir)

        stream = (
            spark.readStream.schema(
                "user_id LONG, event_type STRING, event_time TIMESTAMP"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .withWatermark("event_time", "0 seconds")
        )
        matches = first_match_within(
            stream,
            window_ms=_Q246_WINDOW_MS,
            a_type="view",
            b_type="purchase",
            key_col="user_id",
        )
        sink = drain.run(matches, work, output_mode="append")

        out = spark.read.parquet(sink).select("key", "a_time", "b_time", "lag_ms")
        return out.localCheckpoint(eager=True)


@query(
    "q247_partition_overwrite",
    oracle=f"""
    WITH base AS (
      SELECT CAST({EPOCH_SQL.format(c='ts')} // 86400 AS BIGINT) AS day,
             value
      FROM events
    ),
    final AS (
      SELECT day,
             CASE WHEN day % 10 = 3 THEN value * 2.0 ELSE value END AS value
      FROM base
    )
    SELECT day, count(*) AS n_rows,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS day_sum
    FROM final GROUP BY 1
    """,
)
def q247_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite lifecycle: a day-partitioned fact table
    receives a restatement batch covering only the days with day%10==3
    (values doubled), written with the writer option
    ``partitionOverwriteMode=dynamic`` — so ONLY the
    restated day directories are replaced and every other partition's
    files are untouched (verified by reading the final table back; the
    oracle states the expected post-restatement content). This is the
    idempotent-backfill primitive every batch pipeline needs: re-running a
    day's job replaces that day, never truncates the table.

    100 TB story: the overwrite is partition-granular — a 1-day backfill
    into a 3-year table rewrites 1/1000th of the data; STATIC mode (the
    default!) would drop every partition first, which is the
    footgun this query pins the guard against.
    """
    from phoebe_spark.streaming import drain

    e = _t(spark, sf_dir, "events")
    base = e.select(
        (F.expr("ts div 1000000000") / 86400).cast("long").alias("day"),
        "value",
    )
    with drain.scratch("q247_") as work:
        tbl = f"{work}/facts"
        base.write.partitionBy("day").parquet(tbl)
        restate = base.filter(F.col("day") % 10 == 3).select(
            "day", (F.col("value") * 2.0).alias("value")
        )
        (
            restate.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day")
            .parquet(tbl)
        )
        out = (
            spark.read.parquet(tbl)
            .groupBy("day")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                _dsum2(_dec("value")).alias("day_sum"),
            )
        )
        return out.localCheckpoint(eager=True)


@query(
    "q248_bucketed_join",
    oracle="""
    SELECT c.c_nationkey AS nation,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def q248_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKETED co-located join: orders and customer are both written as
    bucketed tables (8 buckets on the join key), so the sort-merge join
    reads bucket i against bucket i directly — ZERO Exchange in the plan
    (asserted in tests). The ``merge`` hint pins SMJ so the demonstration
    doesn't silently degrade to a broadcast at bench scale.

    100 TB story: bucketing is THE amortization for repeated fact-fact
    joins — the shuffle is paid once at write time and every subsequent
    join on the key is shuffle-free; at 1000 executors that removes the
    single largest network cost of the pipeline. (Bucket count is a
    layout decision: 8 here for the test corpus; production picks
    buckets ~ cluster cores so every bucket pair is one task.)
    """
    import uuid

    e_orders = _t(spark, sf_dir, "orders")
    e_cust = _t(spark, sf_dir, "customer")
    suffix = uuid.uuid4().hex[:8]
    t_o, t_c = f"q248_orders_{suffix}", f"q248_cust_{suffix}"
    try:
        (
            e_orders.select("o_orderkey", "o_custkey", "o_totalprice")
            .write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .mode("overwrite")
            .saveAsTable(t_o)
        )
        (
            e_cust.select("c_custkey", "c_nationkey")
            .write.bucketBy(8, "c_custkey")
            .sortBy("c_custkey")
            .mode("overwrite")
            .saveAsTable(t_c)
        )
        o = spark.table(t_o)
        c = spark.table(t_c).hint("merge")
        out = (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy(F.col("c_nationkey").alias("nation"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                _dsum2(_dec("o_totalprice")).alias("revenue"),
            )
        )
        # freeze JVM-side: eager localCheckpoint materializes every partition
        # before the temp sink is deleted (round-11 optimization: the former
        # collect+createDataFrame ferried all rows driver-side and re-shipped
        # them through Python on every downstream action)
        return out.localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_c}")


def _q249_oracle() -> str:
    # identical final-state census to q194: the streaming upsert loop must
    # converge to the same table state as the batch CDC collapse
    return ORACLE["q194_cdc_apply"]


@query("q249_streaming_cdc_upsert_drain", oracle=_q249_oracle())
def q249_streaming_cdc_upsert_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental CDC upsert drained in the hash-checked gate:
    q194's exact changelog (I at v1, U at v2 for %5==0, D tombstones at
    v3 for %7==0) replayed one VERSION per micro-batch through a
    ``foreachBatch`` merge loop that maintains a versioned parquet store —
    each batch reads the previous snapshot, last-writer-wins-merges the
    change set, and writes snapshot N+1 (never overwriting the snapshot it
    is reading — the self-overwrite trap). The final snapshot's census
    must hash-match the batch CDC apply oracle: one operator, two
    execution models, one answer (the q180 principle applied to table
    maintenance).

    100 TB story: the merge is one window over store+delta keyed on the
    change key (in production a partitioned MERGE touching only impacted
    partitions); tombstones ride in-band so no base-table join ever
    happens; snapshot versioning gives exactly-once semantics under batch
    replay (a re-run of batch N deterministically rewrites snapshot N+1).
    """
    import glob

    from phoebe_spark.streaming import drain

    o = _t(spark, sf_dir, "orders")
    log_parts = [
        o.select(
            F.col("o_orderkey").alias("k"),
            F.lit(1).alias("version"),
            F.lit("I").alias("op"),
            F.col("o_orderstatus").alias("status"),
            _dec("o_totalprice").alias("price"),
        ),
        o.filter(F.col("o_orderkey") % 5 == 0).select(
            F.col("o_orderkey").alias("k"),
            F.lit(2).alias("version"),
            F.lit("U").alias("op"),
            F.col("o_orderstatus").alias("status"),
            # re-cast: decimal addition widens to (19,4), and the staged
            # files must all carry the stream schema's exact (18,4)
            (_dec("o_totalprice") + F.lit(10).cast("decimal(18,4)"))
            .cast("decimal(18,4)")
            .alias("price"),
        ),
        o.filter(F.col("o_orderkey") % 7 == 0).select(
            F.col("o_orderkey").alias("k"),
            F.lit(3).alias("version"),
            F.lit("D").alias("op"),
            F.col("o_orderstatus").alias("status"),
            F.lit(None).cast("decimal(18,4)").alias("price"),
        ),
    ]
    with drain.scratch("q249_") as work:
        src_dir = f"{work}/src"
        store = f"{work}/store"
        drain.stage_slices(log_parts, src_dir)

        def _merge(batch_df, batch_id: int) -> None:
            snaps = sorted(glob.glob(f"{store}/v*"))
            if snaps:
                cur = batch_df.sparkSession.read.parquet(snaps[-1])
                merged_src = cur.unionByName(batch_df)
            else:
                merged_src = batch_df
            merged = drain.latest(merged_src, key="k", order="version")
            merged.write.mode("overwrite").parquet(f"{store}/v{batch_id:05d}")

        stream = (
            spark.readStream.schema(
                "k LONG, version INT, op STRING, status STRING, price DECIMAL(18,4)"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        # no stateful exchange for the override to narrow: the merge job's
        # own shuffle keeps the session width (8 partitions measured slower)
        drain.run(
            stream, work, output_mode="append", sink=_merge, state_partitions=None
        )
        snaps = sorted(glob.glob(f"{store}/v*"))
        final = spark.read.parquet(snaps[-1])
        out = (
            final.filter(F.col("op") != "D")
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).alias("n_live"),
                F.round(F.sum("price"), 2).cast("double").alias("total_price"),
            )
        )
        return out.localCheckpoint(eager=True)


@query(
    "q250_scd2_pit_join",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, {EPOCH_SQL.format(c='ts')} AS es,
                      event_id, value
               FROM events),
    dsrc AS (SELECT * FROM e WHERE event_type <> 'purchase'),
    m AS (
      SELECT user_id, event_type, es, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM dsrc WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
    isl AS (
      SELECT user_id, event_type, es,
             sum(chg) OVER (PARTITION BY user_id ORDER BY es, event_id
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM m),
    runs AS (
      SELECT user_id, island, min(event_type) AS state, min(es) AS valid_from
      FROM isl GROUP BY 1, 2),
    dim AS (
      SELECT user_id, valid_from, state FROM runs
      QUALIFY row_number() OVER (PARTITION BY user_id, valid_from
                                 ORDER BY island DESC) = 1),
    f AS (SELECT user_id, es, event_id, value FROM e
          WHERE event_type = 'purchase'),
    pit AS (
      SELECT f.user_id, f.value, d.state
      FROM f JOIN dim d ON d.user_id = f.user_id AND d.valid_from <= f.es
      QUALIFY row_number() OVER (PARTITION BY f.user_id, f.es, f.event_id
                                 ORDER BY d.valid_from DESC) = 1)
    SELECT state,
           count(*) AS n_purchases,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_value
    FROM pit GROUP BY 1
    """,
)
def q250_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 POINT-IN-TIME join — the warehouse op q129 builds toward:
    every purchase fact joins the dimension version VALID AT ITS TIME
    (the user's state run active when the purchase happened). Because
    SCD2 intervals are gapless by construction (valid_to = next
    valid_from), PIT is exactly a backward AS-OF join on valid_from —
    so this runs through :func:`ts_core.asof_join` (union-tag carry,
    ONE shuffle on user_id, no interval cross-product), with same-second
    dimension flips pre-collapsed to the latest island so the carry is
    deterministic.

    100 TB story: the naive BETWEEN join is a range theta-join
    (nested-loop per user); the as-of carry is one sort per key —
    the same machinery as q54, now certified on the SCD2 shape.
    """
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", _epoch().alias("es"), "event_id", "value"
    )
    dsrc = e.filter(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    m = dsrc.withColumn(
        "chg",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0),
    )
    isl = m.withColumn(
        "island",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    runs = isl.groupBy("user_id", "island").agg(
        F.min("event_type").alias("state"), F.min("es").alias("valid_from")
    )
    dim = (
        runs.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("user_id", "valid_from").orderBy(
                    F.col("island").desc()
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("valid_from").alias("es"), "state")
    )
    facts = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "es", "event_id", "value"
    )
    pit = ts_core.asof_join(facts, dim, on="es", by=["user_id"], value_cols=["state"])
    return (
        pit.filter(F.col("state_asof").isNotNull())
        .groupBy(F.col("state_asof").alias("state"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.countDistinct("user_id").alias("n_users"),
            _dsum2(_dec("value")).alias("total_value"),
        )
    )


# RBO depth weights (1-p)*p^(d-1), p=0.9, k=20 — computed ONCE in Python
# and embedded as identical double literals in both engines, so no pow()
# libm divergence can enter the comparison.
_RBO_W = [(d, (1 - 0.9) * 0.9 ** (d - 1)) for d in range(1, 21)]
_RBO_W_SQL = ", ".join(f"({d}, {w!r})" for d, w in _RBO_W)
