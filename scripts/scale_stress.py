"""Scale-stress harness: does each scale-critical operator grow ~linearly?

Generates seeded synthetic corpora at SCALE x the sf0.1 row counts
(documents 5k, embeddings 2k x 64, events 100k) ENTIRELY inside Spark
(`spark.range` + hash arithmetic — no driver-side data), with planted
exact/near duplicates, then times the production paths (xxhash64 hash
family, LSH/IVF approximations) of the operators whose cost could go
super-linear: dedup family, similarity family, as-of join.

Usage: python scripts/scale_stress.py [scale ...]   (default: 1 10)

Prints one JSON line per scale: {"scale": N, "rows": {...}, "sec": {...}}.
A healthy result grows each op's time ~O(scale) (pair emitters may grow
with planted-dup pair count, which is itself linear here by construction).
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import DataFrame, functions as F

sys.path.insert(0, "/root/repo")

from phoebe_spark.operators import curation, dedup, similarity, text  # noqa: E402
from phoebe_spark.session import get_spark  # noqa: E402
from phoebe_spark.timeseries import anomaly as ts_anom  # noqa: E402
from phoebe_spark.timeseries.core import asof_join, savgol_smooth  # noqa: E402

WORDS = [
    "batch", "spark", "line", "column", "order", "small", "sort", "fast",
    "query", "join", "data", "agg", "window", "shuffle", "plan", "scan",
    "merge", "hash", "key", "value", "stream", "state", "time", "series",
    "model", "fit", "predict", "scale", "out", "rate", "lag", "load",
]


def gen_documents(spark, n: int) -> DataFrame:
    """n docs of 40-100 words drawn by hash from a small vocab. Every
    50th doc is an EXACT copy of its predecessor; every 25th appends one
    token to its predecessor's text (a near dup). Generated from a
    `base` id so copies need no join."""
    vocab = F.array(*[F.lit(w) for w in WORDS])
    base = F.when(F.col("id") % 50 == 1, F.col("id") - 1).otherwise(
        F.when(F.col("id") % 25 == 1, F.col("id") - 1).otherwise(F.col("id"))
    )
    nwords = (F.pmod(F.xxhash64(base), F.lit(61)) + 40).cast("int")
    words = F.transform(
        F.sequence(F.lit(1), nwords),
        lambda j: F.element_at(vocab, (F.pmod(F.xxhash64(base * 1009 + j), F.lit(len(WORDS))) + 1).cast("int")),
    )
    text = F.concat_ws(" ", words)
    text = F.when((F.col("id") % 25 == 1) & (F.col("id") % 50 != 1), F.concat(text, F.lit(" extra"))).otherwise(text)
    return spark.range(n).select(F.col("id").alias("doc_id"), text.alias("text"))


def gen_embeddings(spark, n: int, dim: int = 64) -> DataFrame:
    """n unit-ish vectors from hash noise; every 40th vector is a tiny
    perturbation of its predecessor (a planted near dup)."""
    base = F.when(F.col("id") % 40 == 1, F.col("id") - 1).otherwise(F.col("id"))
    perturb = F.when(F.col("id") % 40 == 1, F.lit(0.01)).otherwise(F.lit(0.0))
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda j: (F.pmod(F.xxhash64(base * 131 + j), F.lit(2000)) - 1000) / 1000.0
        + perturb * (F.pmod(F.xxhash64(F.col("id") * 31 + j), F.lit(100))) / 100.0,
    )
    return spark.range(n).select(F.col("id").alias("vec_id"), vec.cast("array<float>").alias("embedding"))


def gen_events(spark, n: int) -> DataFrame:
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.lit(1_700_000_000) + F.pmod(F.xxhash64("id"), F.lit(n // 10))).alias("ts"),
        F.pmod(F.xxhash64(F.col("id") + 7), F.lit(max(100, n // 1000))).alias("user_id"),
        (F.pmod(F.xxhash64(F.col("id") + 13), F.lit(1000)) / 10.0).alias("value"),
    )


def run_scale(spark, scale: int) -> dict:
    n_docs, n_emb, n_ev = 5000 * scale, 2000 * scale, 100_000 * scale
    # materialize inputs once so op timings measure the op, not generation
    docs = gen_documents(spark, n_docs).localCheckpoint(eager=True)
    emb = gen_embeddings(spark, n_emb).localCheckpoint(eager=True)
    ev = gen_events(spark, n_ev).localCheckpoint(eager=True)
    quotes = ev.select("ts", "user_id", F.col("value").alias("quote"))

    sec: dict[str, float] = {}

    def t(name: str, df: DataFrame) -> None:
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        sec[name] = round(time.time() - t0, 2)

    def t_build(name: str, build) -> None:
        # for operators that execute jobs at CONSTRUCTION time (eager
        # localCheckpoint rounds in dedup_components): time build + write
        t0 = time.time()
        build().write.format("noop").mode("overwrite").save()
        sec[name] = round(time.time() - t0, 2)

    t("exact_dedup", dedup.exact_dedup(docs))
    t("minhash_lsh", dedup.minhash_lsh_pairs(docs, num_hashes=64, bands=16, shingle_n=3))
    t("simhash", dedup.simhash(docs))
    t("winnow", dedup.winnow_fingerprints(docs, k=8, window=4))
    t("ngram_jaccard", dedup.ngram_jaccard_pairs(docs, n=5, threshold=0.2, max_shingle_freq=1000))
    t("decontaminate", dedup.contamination_flags(docs, docs.limit(200), n=5))
    t("repetition", curation.repetition_stats(docs))
    t("allpairs_gemm", similarity.all_pairs_cosine(emb, threshold=0.95))
    t(
        "lsh_pairs",
        similarity.lsh_bucketed_pairs(
            emb, planes=[[((i * 37 + j * 11) % 19 - 9) / 9.0 for j in range(64)] for i in range(12)], threshold=0.95
        ),
    )

    # worst-case LSH skew: an empty plane list = ONE bucket holding the
    # whole corpus; the salt-split census must shard it into a per-bucket
    # 2D block-pair schedule, so cost tracks total pair work (quadratic in
    # rows by contract) spread across even tasks instead of one straggler
    t_build(
        "lsh_hot_salted",
        lambda: similarity.lsh_bucketed_pairs(
            emb, planes=[], threshold=0.95, target_bucket_rows=1024
        ),
    )
    t("ivf_topk", similarity.ivf_topk(emb, emb.limit(64), k=10, n_centroids=max(16, scale * 4), n_probe=4))

    # PQ/ADC: codebook size is FIXED (model state), so encode+score cost
    # must grow ~linearly with the corpus and the window shuffle with
    # queries x corpus — codes-only scoring never re-reads the vectors
    def _pq():
        pivots = emb.filter(F.col("vec_id").between(20, 27)).orderBy("vec_id").collect()
        cbs = [
            [list(r["embedding"])[j * 16 : (j + 1) * 16] for r in pivots]
            for j in range(4)
        ]
        return similarity.pq_topk(emb, emb.limit(16), cbs, k=10)

    t_build("pq_adc_topk", _pq)
    t("asof_join", asof_join(ev.select("event_id", "ts", "user_id"), quotes, on="ts", by=["user_id"]))
    t("bloom_decontaminate", dedup.contamination_flags_bloom(docs, docs.limit(200), n=5))
    t("unigram_lm", text.unigram_logprob_scores(docs))
    t("chunk_census", dedup.chunk_dedup_stats(docs))
    t(
        "chunk_pairs_verify",
        dedup.edit_distance_verify(docs, dedup.chunk_pairs(docs), min_sim=0.5),
    )
    t_build(
        "dedup_components",
        lambda: dedup.dedup_components(dedup.chunk_pairs(docs), id_col_a="id_a", id_col_b="id_b"),
    )
    t(
        "prefix_ssjoin",
        dedup.prefix_filter_jaccard_pairs(docs, n=5, threshold=0.5),
    )

    # q150 shape: posting pass + gram census + scoring join — all keyed on
    # doc or gram, so cost must track corpus size
    t_build("dup_substring", lambda: dedup.dup_substring_ratio(docs, "doc_id", "text", n=8))
    t("bm25", text.bm25_scores(docs, terms=("spark", "hash", "key")))
    t("token_entropy", text.token_entropy(docs))
    t(
        "cusum",
        ts_anom.cusum(
            ev.select(F.pmod("user_id", F.lit(64)).alias("k"), "event_id", "value"),
            "k",
            "event_id",
            "value",
            k=50.0,
            h=500.0,
        ),
    )
    # skyline over per-user event summaries: the local prune must keep the
    # global pass survivor-set-sized regardless of user count
    from phoebe_spark.operators.skyline import skyline_2d

    users = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")) * 100, 0)
        .cast("long")
        .alias("cents"),
    )
    t("skyline", skyline_2d(users, x="n_events", y="cents", id_cols=["user_id"]))

    # BPE trainer: rounds run on the distinct-word vocab, so time should be
    # dominated by the initial corpus collapse and grow ~O(scale) only there
    def _bpe():
        words = docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w")).filter(
            F.length("w") >= 1
        )
        text.bpe_train(words, rounds=3)
        return docs.limit(1)  # merges already materialized by the collects

    t_build("bpe_train_3r", _bpe)

    t(
        "savgol_jvm",
        savgol_smooth(
            ev.select(F.pmod("user_id", F.lit(64)).alias("k"), "ts", "event_id", "value"),
            window=51,
            polyorder=3,
            keys=["k"],
            order_col="ts",
            tiebreak_cols=["event_id"],
        ),
    )

    # round-5 ops: scrub+rebuild is census+join+one doc groupBy; k-means is
    # iters x (one scan + kxd agg); stitching is two censuses + a capped join
    t("chunk_scrub", dedup.chunk_scrub_rebuild(docs, chunk_words=4, min_docs=2))
    t_build("kmeans_2it", lambda: similarity.kmeans_lloyd(emb, k=8, iters=2))
    t("stitch_audit", dedup.stitch_candidates(docs, k=3, max_df=64))

    # tokenizer ladder: both fold the whole per-word loop into one HOF
    # aggregate, so beyond the corpus word count (linear) the EM/greedy
    # machinery runs on the distinct-word vocab (flat here by design —
    # the synthetic vocab is fixed)
    t("unigram_lm_fit", text.unigram_lm_fit(docs))
    t("wordpiece_census", text.wordpiece_encode_census(docs))
    # cross-corpus LSH decontamination: corpus side is one signature
    # shuffle, both probe joins broadcast the fixed-size bench slice
    t(
        "neardup_decon",
        dedup.neardup_decontaminate(
            docs.filter(F.col("doc_id") % 7 != 0),
            docs.filter(F.col("doc_id") % 7 == 0).limit(200),
            threshold=0.2,
        ),
    )
    # Gram power iteration: dims^2 aggregate regardless of row count
    t("pca_power", similarity.dominant_direction(emb))
    # bipartite BFS: every hop an equi-join linear in the 8x-docs edges
    t_build(
        "cobucket_bfs",
        lambda: dedup.lsh_cobucket_bfs(
            docs, docs.filter(F.col("doc_id") % 11 == 0),
            num_hashes=8, bands=8, hash_fn="xxhash64",
        ),
    )
    # two-phase bucketed ranks + bucketed band join (rewritten round 11;
    # the old per-source raw-row rank window measured 6.2x at 10x)
    t("quantile_norm", curation.quantile_normalize(
        docs.withColumn("source", F.pmod("doc_id", F.lit(8)).cast("string"))
    ))

    # q441 structural shape (VERDICT r10 ask #4): trigram-type vocabulary
    # probe join — explode + distinct collapses both md5-split slices to
    # Heaps-bounded trigram-type frames BEFORE the join, so the join key
    # space is the vocabulary, not the token stream; time must track the
    # corpus-linear explode, not any pair term
    def _tri_novelty():
        toks = text.tokens(F.col("text"))
        base = (
            docs.withColumn("source", F.pmod("doc_id", F.lit(8)).cast("string"))
            .filter(F.size(toks) >= 3)
            .select(
                "source",
                F.when(
                    F.conv(
                        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                        16, 10,
                    ).cast("long") % 5 == 0, 1,
                ).otherwise(0).alias("is_test"),
                F.explode(text.adjacent_trigrams(toks)).alias("w"),
            )
        )
        tri = base.distinct().localCheckpoint(eager=True)
        test_t = tri.filter(F.col("is_test") == 1).select("source", "w")
        train_t = tri.filter(F.col("is_test") == 0).select("w").distinct()
        return (
            test_t.join(
                train_t.withColumnRenamed("w", "tw"), F.col("w") == F.col("tw"), "left"
            )
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("test_types"),
                F.sum(F.when(F.col("tw").isNull(), 1).otherwise(0)).alias("novel_types"),
            )
        )

    t_build("trigram_novelty", _tri_novelty)

    # q428 structural shape (VERDICT r10 ask #4): co-occurrence edge build
    # (bounded items/group -> linear) + TWO hash joins of the edge list
    # against the O(nodes) z frame + one aggregate; time must track edges
    def _morans_edges():
        n_orders, n_parts = 3000 * scale, 1000 * scale
        li = spark.range(n_orders * 4).select(
            (F.col("id") % n_orders).alias("ok"),
            F.pmod(F.xxhash64("id"), F.lit(n_parts)).alias("pk"),
        ).distinct()
        px = spark.range(n_parts).select(
            F.col("id").alias("node"),
            F.pmod(F.xxhash64(F.col("id") + 3), F.lit(100_000)).alias("x"),
        )
        a, b = li.alias("a"), li.alias("b")
        co = (
            a.join(b, "ok")
            .filter(F.col("a.pk") < F.col("b.pk"))
            .select(F.col("a.pk").alias("s1"), F.col("b.pk").alias("s2"))
            .distinct()
        )
        mom = px.agg(
            F.count(F.lit(1)).alias("nn"), F.sum("x").alias("s")
        )
        z = px.crossJoin(F.broadcast(mom)).select(
            "node",
            (
                F.col("nn").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
                - F.col("s").cast("decimal(19,0)")
            ).cast("decimal(38,0)").alias("zz"),
        ).localCheckpoint(eager=True)
        za = z.select(F.col("node").alias("s1"), F.col("zz").alias("za"))
        zb = z.select(F.col("node").alias("s2"), F.col("zz").alias("zb"))
        return co.join(za, "s1").join(zb, "s2").agg(
            F.count(F.lit(1)).alias("ne"),
            F.sum(
                F.col("za").cast("decimal(19,0)") * F.col("zb").cast("decimal(19,0)")
            ).cast("decimal(38,0)").alias("nu"),
        )

    t_build("morans_edges", _morans_edges)

    # q489 structural shape (round 11b): edge-neighborhood Jaccard — the
    # wedge join (edge list vs adjacency on node keys, never all-pairs)
    # + degree join + TakeOrdered top-10; time must track wedge count,
    # which is bounded by edges x max-degree (linear here: bounded
    # items/group keeps degrees flat as scale grows)
    def _edge_jaccard():
        n_orders, n_parts = 3000 * scale, 1000 * scale
        li = spark.range(n_orders * 4).select(
            (F.col("id") % n_orders).alias("ok"),
            F.pmod(F.xxhash64("id"), F.lit(n_parts)).alias("pk"),
        ).distinct()
        a, b = li.alias("a"), li.alias("b")
        co = (
            a.join(b, "ok")
            .filter(F.col("a.pk") < F.col("b.pk"))
            .select(F.col("a.pk").alias("s1"), F.col("b.pk").alias("s2"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        und = co.select(F.col("s1").alias("u"), F.col("s2").alias("w")).unionAll(
            co.select(F.col("s2").alias("u"), F.col("s1").alias("w"))
        )
        deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("dg"))
        e1 = und.select(F.col("u").alias("a1"), F.col("w").alias("w1"))
        e2 = und.select(F.col("u").alias("a2"), F.col("w").alias("w2"))
        common = (
            co.join(e1, F.col("a1") == F.col("s1"))
            .join(e2, (F.col("a2") == F.col("s2")) & (F.col("w2") == F.col("w1")))
            .groupBy("s1", "s2")
            .agg(F.count(F.lit(1)).alias("cn"))
        )
        da = deg.select(F.col("u").alias("s1"), F.col("dg").alias("d1"))
        db = deg.select(F.col("u").alias("s2"), F.col("dg").alias("d2"))
        return (
            co.join(common, ["s1", "s2"], "left")
            .join(da, "s1")
            .join(db, "s2")
            .select(
                "s1",
                "s2",
                (
                    F.coalesce("cn", F.lit(0)).cast("double")
                    / (F.col("d1") + F.col("d2") - F.coalesce("cn", F.lit(0)))
                ).alias("jr"),
            )
            .orderBy(F.col("jr").desc(), "s1", "s2")
            .limit(10)
        )

    t_build("edge_jaccard", _edge_jaccard)

    # round-6 graph ops on a synthetic bounded-degree graph (linear in
    # scale): every iteration is one edge-sized join, so time must track
    # edge count, not node-pair count
    from phoebe_spark.operators import graph

    n_nodes = 2000 * scale
    canon = (
        spark.range(n_nodes * 6)
        .select(
            (F.col("id") % n_nodes).alias("s1"),
            F.pmod(F.xxhash64("id"), F.lit(n_nodes)).alias("s2"),
        )
        .filter(F.col("s1") < F.col("s2"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = graph.symmetrize(canon).localCheckpoint(eager=True)
    t_build("pagerank_5it", lambda: graph.pagerank(edges, iters=5))
    t("triangles", graph.triangle_counts(canon))
    seeds = edges.select(F.col("src").alias("node")).distinct().filter(
        F.col("node") % 10 == 0
    ).select("node", F.pmod("node", F.lit(7)).cast("string").alias("slabel"))
    t_build("label_prop_3r", lambda: graph.label_propagation(edges, seeds, rounds=3))

    # round-7 graph ladder: peeling and power iteration are per-round
    # edge-join + grouped-agg shapes, so time must track the edge count
    t_build("kcore_6r", lambda: graph.kcore_peel(edges, k=2, rounds=6)[2])
    t_build("eigencentrality_5r", lambda: graph.eigencentrality(edges, iters=5))

    # round-7 link prediction: 2-hop candidate fan-out is sum(deg^2);
    # with hash-uniform degree ~6 that is ~linear in nodes by design
    deg = edges.groupBy(F.col("src").alias("z")).agg(F.count(F.lit(1)).alias("dg"))
    e1 = edges.select(F.col("src").alias("z"), F.col("dst").alias("u"))
    e2 = edges.select(F.col("src").alias("z"), F.col("dst").alias("w"))
    t(
        "linkpred_aa",
        e1.join(e2, "z")
        .filter(F.col("u") < F.col("w"))
        .join(deg.filter(F.col("dg") > 1), "z")
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(F.round(1.0 / F.log(F.col("dg")), 8).cast("decimal(32,8)"))
            .cast("double")
            .alias("aa"),
        )
        .join(canon, (canon.s1 == F.col("u")) & (canon.s2 == F.col("w")), "left_anti"),
    )

    # round-7 centered PCA: the integer Gram is ONE shuffle onto dims^2
    # cells — cost is the corpus scan, never dims^2 x rows joins downstream
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select(
        "vec_id",
        F.col("i").cast("long").alias("i"),
        F.floor(F.col("xf").cast("double") * 10000).cast("long").alias("q"),
    )
    fa = flat.select("vec_id", "i", F.col("q").alias("qa"))
    fb = flat.select("vec_id", F.col("i").alias("j"), F.col("q").alias("qb"))
    t(
        "pca_gram",
        fa.join(fb, "vec_id").groupBy("i", "j").agg(F.sum(F.col("qa") * F.col("qb")).alias("g")),
    )

    # round-6 cluster-local semantic pruning: label cardinality grows with
    # the corpus, so within-cluster pair work stays ~linear by design
    n_labels = max(16, n_emb // 125)
    emb_lab = emb.withColumn("label", F.pmod("vec_id", F.lit(n_labels)))
    a, b = emb_lab.alias("a"), emb_lab.alias("b")
    t(
        "semdedup_pairs",
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        ).select(
            F.col("a.label").alias("label"),
            F.round(
                similarity.cosine(F.col("a.embedding"), F.col("b.embedding")), 6
            ).alias("cs"),
        ),
    )

    # round-6: containment shares q13's single-posting-pass census; the
    # two-phase rank must track rows (offsets frame is value-bounded)
    t(
        "containment_pairs",
        dedup.containment_pairs(docs, n=5, threshold=0.3, max_shingle_freq=1000),
    )
    from phoebe_spark.operators.layout import global_rank_by_value

    lens = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tok"),
    )
    t("two_phase_rank", global_rank_by_value(lens, "n_tok", "doc_id"))

    # round-9: DBSCAN-lite (q327 shape) — pair work bounded by the LSH
    # candidate contract (planted near-dup density scales with the
    # corpus), each CC round ONE edge equi-join + grouped min; cost must
    # track candidate-pair count, never node-pair count
    def _dbscan():
        planes = [
            [((i * 37 + j * 11) % 19 - 9) / 9.0 for j in range(64)]
            for i in range(12)
        ]
        pairs = similarity.lsh_bucketed_pairs(emb, planes, threshold=0.3).select(
            "id_a", "id_b"
        )
        sym = (
            pairs.union(
                pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
            )
            .distinct()
            .select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
        )
        deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("dg"))
        core = deg.filter(F.col("dg") >= 2).select("s")
        ce = (
            sym.join(core.withColumnRenamed("s", "cs"), F.col("s") == F.col("cs"))
            .join(core.withColumnRenamed("s", "cd"), F.col("d") == F.col("cd"))
            .select("s", "d")
        )
        return dedup.dedup_components(
            ce.union(core.select("s", F.col("s").alias("d"))),
            id_col_a="s",
            id_col_b="d",
        )

    t_build("dbscan_lite", _dbscan)

    # round-9: Kneser-Ney bigram LM (q329 shape) — count frames bounded
    # by the bigram VOCABULARY (fixed synthetic vocab => flat), the
    # scoring join linear in corpus bigrams; time must track the corpus
    # scan, never vocab^2 or a corpus self-join
    def _kn():
        toks = docs.select(
            "doc_id",
            F.posexplode(F.split(F.trim("text"), r"\s+")).alias("p", "term"),
        )
        b2 = toks.select(
            F.col("doc_id").alias("doc_id2"),
            F.col("term").alias("w"),
            (F.col("p") - 1).alias("p2"),
        )
        bg = toks.join(
            b2, (F.col("doc_id") == F.col("doc_id2")) & (F.col("p") == F.col("p2"))
        ).select(F.col("term").alias("v"), "w")
        c_vw = bg.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c"))
        c_v = c_vw.groupBy("v").agg(
            F.sum("c").alias("cv"), F.count(F.lit(1)).alias("n1_fwd")
        )
        cont = c_vw.groupBy("w").agg(F.count(F.lit(1)).alias("n1_bwd"))
        tot = c_vw.agg(F.count(F.lit(1)).alias("n_bigram_types"))
        lp = F.log(
            F.greatest(F.col("c") - 0.75, F.lit(0.0)) / F.col("cv")
            + (F.lit(0.75) * F.col("n1_fwd") / F.col("cv"))
            * (F.col("n1_bwd") * 1.0 / F.col("n_bigram_types"))
        )
        return (
            bg.join(c_vw, ["v", "w"])
            .join(c_v, "v")
            .join(cont, "w")
            .crossJoin(F.broadcast(tot))
            .agg(F.sum(lp).alias("sum_lp"), F.count(F.lit(1)).alias("n"))
        )

    t_build("kneser_ney", _kn)

    # round-9: sample-entropy band join (q385 shape) — hourly template
    # pairs found via an r-width bucket join; the hourly frame is
    # TIME-bounded, so cost must track the corpus SCAN (one collapse),
    # never the corpus pair count. The events generator's time range
    # grows with n (n//10 seconds), so the hourly frame grows ~linearly
    # too — the band join must stay linear in it.
    def _sampen():
        h = ev.groupBy((F.col("ts") / 3600).cast("long").alias("hr")).agg(
            F.avg("value").alias("x")
        )
        from pyspark.sql import Window as W

        ser = h.select("x", F.row_number().over(W.orderBy("hr")).alias("pos"))
        mom = ser.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("s1"),
            F.sum(F.col("x") * F.col("x")).alias("s2"),
        )
        rr = mom.select(
            (0.2 * F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / F.col("n"))).alias("r")
        )
        wp = W.orderBy("pos")
        t_ = ser.crossJoin(F.broadcast(rr)).select(
            F.col("pos").alias("i"),
            F.col("x").alias("x1"),
            F.lead("x", 1).over(wp).alias("x2"),
            F.floor(F.col("x") / F.col("r")).cast("long").alias("bk"),
        ).filter(F.col("x2").isNotNull())
        ex = t_.select(
            "i", "x1", "x2",
            F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("o"), "bk",
        ).select("i", "x1", "x2", (F.col("bk") + F.col("o")).alias("bk"))
        b = t_.select(
            F.col("i").alias("j"), F.col("x1").alias("b1"),
            F.col("x2").alias("b2"), F.col("bk").alias("bbk"),
        )
        return (
            ex.join(b, (F.col("bk") == F.col("bbk")) & (F.col("i") < F.col("j")))
            .crossJoin(F.broadcast(rr))
            .filter(
                (F.abs(F.col("x1") - F.col("b1")) <= F.col("r"))
                & (F.abs(F.col("x2") - F.col("b2")) <= F.col("r"))
            )
            .agg(F.count(F.lit(1)).alias("b_count"))
        )

    t_build("sampen_band_join", _sampen)

    # round-9: cluster-validity distance stage (q397/q398 shape) — the
    # point-to-centroid pass is a k-row broadcast against one linear
    # scan; cost must track n_emb, never n_emb^2
    def _validity():
        pts = emb.select(
            "vec_id",
            F.pmod("vec_id", F.lit(10)).alias("label"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("x"),
        )
        flat = pts.select("label", F.posexplode("x").alias("dim", "v"))
        cent = (
            flat.groupBy("label", "dim")
            .agg(F.avg("v").alias("m"))
            .groupBy("label")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).getField("m").alias("c"))
        )
        sqd = F.aggregate(
            F.zip_with(F.col("x"), F.col("c"), lambda p, q: (p - q) * (p - q)),
            F.lit(0.0),
            lambda acc, t2: acc + t2,
        )
        d = pts.crossJoin(F.broadcast(cent.select(F.col("label").alias("cl"), "c"))).select(
            "vec_id", "label", "cl", F.sqrt(sqd).alias("d")
        )
        return d.groupBy("vec_id", "label").agg(
            F.min(F.when(F.col("cl") == F.col("label"), F.col("d"))).alias("a"),
            F.min(F.when(F.col("cl") != F.col("label"), F.col("d"))).alias("b"),
        ).agg(F.avg((F.col("b") - F.col("a")) / F.greatest("a", "b")).alias("sil"))

    t_build("cluster_validity", _validity)

    # q401/q404 duel fixture: the (user, hour, type) cell self-join fans
    # out at most K(K-1)/2 pairs per cell, so total duel work must stay
    # ~linear in events no matter the corpus size
    def _bt_duels():
        cells = (
            ev.select(
                "user_id",
                (F.col("ts") - F.pmod(F.col("ts"), F.lit(3600))).alias("hr"),
                F.pmod(F.xxhash64(F.col("event_id") + 29), F.lit(5)).alias("etype"),
                F.round(F.col("value") * 100).cast("long").alias("yc"),
            )
            .groupBy("user_id", "hr", "etype")
            .agg(F.sum("yc").alias("s"), F.count(F.lit(1)).alias("c"))
        )
        a, b = cells.alias("a"), cells.alias("b")
        duel = a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.hr") == F.col("b.hr"))
            & (F.col("a.etype") < F.col("b.etype")),
        ).select(
            F.col("a.etype").alias("ta"),
            F.col("b.etype").alias("tb"),
            F.when(F.col("a.s") * F.col("b.c") > F.col("b.s") * F.col("a.c"), 1)
            .when(F.col("a.s") * F.col("b.c") < F.col("b.s") * F.col("a.c"), -1)
            .otherwise(0)
            .alias("w"),
        )
        return duel.filter(F.col("w") != 0).groupBy("ta", "tb").agg(
            F.sum(F.when(F.col("w") == 1, 1).otherwise(0)).alias("wab"),
            F.sum(F.when(F.col("w") == -1, 1).otherwise(0)).alias("wba"),
        )

    t_build("bt_duels", _bt_duels)

    # round-10: q413 vocabulary-overlap self-join — the corpus collapses
    # to its distinct (source, token) vocabulary FIRST (types, not
    # tokens: bounded by Heaps' law, here by the synthetic vocab), then
    # self-joins on the token key where fan-out per token is at most
    # #sources. Cost must track the corpus scan (explode + distinct),
    # never the corpus pair count; the pair frame itself is
    # O(sources^2) and the per-token fan-out is sources-bounded even
    # when every source shares the whole vocabulary (the worst case for
    # shared-vocab density, which this fixed-vocab corpus maximizes).
    def _vocab_overlap():
        src = docs.select(
            F.pmod("doc_id", F.lit(10)).alias("source"),
            F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"),
        )
        v = src.distinct()
        sz = v.groupBy("source").agg(F.count(F.lit(1)).alias("vsz"))
        a, b = v.alias("a"), v.alias("b")
        px = (
            a.join(
                b,
                (F.col("a.tok") == F.col("b.tok"))
                & (F.col("a.source") < F.col("b.source")),
            )
            .groupBy(F.col("a.source").alias("s1"), F.col("b.source").alias("s2"))
            .agg(F.count(F.lit(1)).alias("inter"))
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
                "s1", "s2", "inter",
                (F.col("inter") * 1.0 / (F.col("v1") + F.col("v2") - F.col("inter"))).alias("jaccard"),
            )
        )

    t_build("vocab_overlap", _vocab_overlap)

    rows = {"documents": n_docs, "embeddings": n_emb, "events": n_ev}
    return {"scale": scale, "rows": rows, "sec": sec, "total_sec": round(sum(sec.values()), 2)}



def run_streaming_scale(spark, n_keys: int, days: int = 30) -> dict:
    """Streaming-drain scaling: stage a dense per-key daily series for
    ``n_keys`` series (days fixed) as three sequence-ordered micro-batch
    files, drain the stateful operators, and report wall time and state
    rows. The contract under test: STATE is O(keys) (the emitted final
    states count exactly n_keys) and drain time grows ~linearly in
    keys x days (the rows processed), NOT super-linearly — micro-batch
    machinery is a constant, per-row folding is the variable cost."""
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    from phoebe_spark.streaming.stateful import streaming_holt, streaming_page_hinkley

    dense = (
        spark.range(n_keys)
        .select(F.concat(F.lit("k"), F.col("id")).alias("k"))
        .crossJoin(
            spark.range(days).select(F.col("id").cast("int").alias("d"))
        )
        .select(
            "k",
            "d",
            (F.pmod(F.xxhash64(F.concat(F.col("k"), F.col("d"))), F.lit(1000))
             .cast("double")).alias("c"),
        )
    )
    sec: dict[str, float] = {}
    states: dict[str, int] = {}
    for op_name, op in (
        ("streaming_holt", lambda s: streaming_holt(s, alpha=0.5, gamma=0.3, key_col="k")),
        ("streaming_page_hinkley", lambda s: streaming_page_hinkley(s, delta=5.0, lam=200.0, key_col="k")),
        (
            # exact integer moments: a native streaming aggregate, no Python fold
            "streaming_moments",
            lambda s: s.groupBy(F.col("k").alias("key")).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("c").cast("long")).alias("s1"),
                F.sum(F.col("c").cast("long") * F.col("c").cast("long")).alias("s2"),
            ),
        ),
    ):
        work = tempfile.mkdtemp(prefix="stress_stream_")
        src_dir = f"{work}/src"
        try:
            os.makedirs(src_dir)
            third = days // 3
            for i, (d_lo, d_hi) in enumerate(
                ((0, third), (third, 2 * third), (2 * third, days)), start=1
            ):
                part = dense.filter((F.col("d") >= d_lo) & (F.col("d") < d_hi))
                part.coalesce(1).write.parquet(f"{work}/stage{i}")
                pf = glob.glob(f"{work}/stage{i}/part-*.parquet")[0]
                dst = f"{src_dir}/{i:03d}.parquet"
                shutil.copyfile(pf, dst)
                os.utime(dst, (1_000_000_000 + 10 * i, 1_000_000_000 + 10 * i))
            t0 = time.time()
            stream = (
                spark.readStream.schema("k STRING, d INT, c DOUBLE")
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
            )
            sink = f"{work}/sink"
            q = (
                op(stream)
                .writeStream.outputMode("update")
                .foreachBatch(
                    lambda bdf, _bid: bdf.write.mode("append").parquet(sink)
                )
                .option("checkpointLocation", f"{work}/ck")
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(600), f"{op_name} drain timed out"
            final = (
                spark.read.parquet(sink)
                .withColumn(
                    "rk",
                    F.row_number().over(
                        Window.partitionBy("key").orderBy(F.col("n").desc())
                    ),
                )
                .filter(F.col("rk") == 1)
            )
            states[op_name] = final.count()
            sec[op_name] = round(time.time() - t0, 2)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    assert all(v == n_keys for v in states.values()), (
        f"state rows must equal keys: {states} vs {n_keys}"
    )
    return {
        "keys": n_keys,
        "days": days,
        "sec": sec,
        "state_rows": states,
        "total_sec": round(sum(sec.values()), 2),
    }


def main() -> None:
    scales = [int(a) for a in sys.argv[1:]] or [1, 10]
    spark = get_spark("scale-stress")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/codegen/Python-worker paths so scale-1 timings measure
    # the operators, not session boot
    import pandas as pd

    spark.range(64).repartition(8).groupBy(F.col("id") % 8).applyInPandas(
        lambda pdf: pd.DataFrame({"n": [len(pdf)]}), "n long"
    ).collect()
    gen_documents(spark, 500).write.format("noop").mode("overwrite").save()
    # full discarded warm-up pass: every op's whole-stage codegen compiles
    # and Python workers spawn once here, so the first MEASURED scale is
    # not inflated by first-compile costs (which made sub-linear ratios
    # read as <1x before)
    run_scale(spark, 1)
    results = []
    for s in scales:
        r = run_scale(spark, s)
        results.append(r)
        print(json.dumps(r), flush=True)
    if len(results) >= 2:
        a, b = results[0], results[-1]
        ratio = {
            k: round(b["sec"][k] / max(a["sec"][k], 0.01), 1)
            for k in b["sec"]
        }
        print(json.dumps({"data_ratio": b["scale"] // a["scale"], "time_ratio": ratio}), flush=True)
    # streaming drains: state must be O(keys), drain time ~linear in rows
    s_res = []
    for n_keys in (100, 1000):
        r = run_streaming_scale(spark, n_keys)
        s_res.append(r)
        print(json.dumps(r), flush=True)
    if len(s_res) >= 2:
        a, b = s_res[0], s_res[-1]
        ratio = {k: round(b["sec"][k] / max(a["sec"][k], 0.01), 1) for k in b["sec"]}
        print(json.dumps({"stream_key_ratio": b["keys"] // a["keys"], "time_ratio": ratio}), flush=True)


if __name__ == "__main__":
    main()
