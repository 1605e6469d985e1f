"""Corpus-curation operators: quality-rule filtering, repetition signals,
sequence packing, and source-mixture weighting.

These are the Gopher/C4-style curation stages of an LLM training-data
pipeline (public heuristics: Rae et al. 2021 "Scaling Language Models:
Methods, Analysis & Insights from Training Gopher" §A1.1; Raffel et al.
2020 "Exploring the Limits of Transfer Learning" §2.2), re-expressed as
Spark column expressions and keyed aggregations.

Scale design:
- The quality flags are pure column expressions — they run inside the
  documents scan under whole-stage codegen, no shuffle, no Python.
- Repetition statistics need per-(doc, gram) frequencies; that is one
  shuffle keyed by ``(doc_id, gram)`` — skew-free because doc_id spreads
  every document's grams across the cluster.
- Sequence packing is a running-sum window partitioned by source (or any
  bounded partition key) — each partition sorts locally; no global sort.
- Mixture weights aggregate to one row per source (tiny) and broadcast
  back — O(sources) state, never O(rows).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from phoebe_spark.operators.text import adjacent_bigrams, tokens

_STOPWORDS = ("the", "a", "of", "and", "to")


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.80,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher-style document quality rules as one boolean column per rule
    plus an overall ``passes_quality`` conjunction.

    Every rule is a deterministic column expression over the text column —
    the full rule set evaluates in a single codegen stage during the scan,
    and the identical arithmetic runs in DuckDB for the oracle (q60).
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_words = F.size(toks)
    # mean word length over words, not chars/words (excludes separators)
    total_word_chars = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    mean_word_len = F.when(n_words > 0, total_word_chars / n_words).otherwise(F.lit(0.0))
    n_hash = F.length(t) - F.length(F.regexp_replace(t, r"#", ""))
    n_ellipsis = F.regexp_count(t, F.lit(r"\.\.\.|…"))
    symbol_word_ratio = F.when(n_words > 0, (n_hash + n_ellipsis) / n_words).otherwise(F.lit(0.0))
    lines = F.split(t, r"\n")
    n_lines = F.size(lines)
    ellipsis_end_lines = F.size(F.filter(lines, lambda ln: ln.rlike(r"(\.\.\.|…)\s*$")))
    ellipsis_line_frac = F.when(n_lines > 0, ellipsis_end_lines / n_lines).otherwise(F.lit(0.0))
    alpha_words = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    alpha_word_frac = F.when(n_words > 0, alpha_words / n_words).otherwise(F.lit(0.0))
    stopword_hits = F.size(F.filter(toks, lambda x: F.lower(x).isin(*_STOPWORDS)))

    flags = {
        "ok_word_count": (n_words >= min_words) & (n_words <= max_words),
        "ok_mean_word_len": (mean_word_len >= min_mean_word_len) & (mean_word_len <= max_mean_word_len),
        "ok_symbol_ratio": symbol_word_ratio <= max_symbol_word_ratio,
        "ok_ellipsis_lines": ellipsis_line_frac <= max_ellipsis_line_frac,
        "ok_alpha_words": alpha_word_frac >= min_alpha_word_frac,
        "ok_stopwords": stopword_hits >= min_stopword_hits,
    }
    out = df.select(
        "*",
        n_words.alias("n_words"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        *[c.alias(name) for name, c in flags.items()],
    )
    passes = None
    for name in flags:
        passes = F.col(name) if passes is None else passes & F.col(name)
    return out.withColumn("passes_quality", passes)


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    keep_short: bool = False,
) -> DataFrame:
    """Within-document repetition signals (Gopher §A1.1): duplicate-token
    fraction and the fraction of n-gram occurrences taken by the single
    most frequent n-gram.

    Documents with fewer than ``n`` tokens have no n-grams and are OMITTED
    by default (the q61 oracle contract). Pass ``keep_short=True`` to keep
    them with their ``dup_token_frac`` and a null ``top_gram_frac``.

    The unigram stat is a pure array expression. The n-gram stat needs
    per-(doc, gram) counts: explode -> two keyed aggregations. Both
    shuffles key on (doc, gram) / doc — no hot keys, because every
    document's grams hash across the cluster independently of corpus
    skew. No collect, no Python.
    """
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )
    grams = base.select(
        id_col,
        "n_tokens",
        "n_distinct_tokens",
        F.explode(
            F.when(
                F.col("n_tokens") >= n,
                F.transform(
                    F.sequence(F.lit(0), F.col("n_tokens") - n),
                    lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    per_gram = grams.groupBy(id_col, "n_tokens", "n_distinct_tokens", "gram").agg(
        F.count(F.lit(1)).alias("gram_count")
    )
    per_doc = per_gram.groupBy(id_col, "n_tokens", "n_distinct_tokens").agg(
        F.sum("gram_count").alias("total_grams"),
        F.max("gram_count").alias("top_gram_count"),
    )
    dup_frac = F.round(
        F.when(
            F.col("n_tokens") > 0,
            1.0 - F.col("n_distinct_tokens") / F.col("n_tokens"),
        ).otherwise(F.lit(0.0)),
        6,
    ).alias("dup_token_frac")
    out = per_doc.select(
        id_col,
        "n_tokens",
        dup_frac,
        F.round(F.col("top_gram_count") / F.col("total_grams"), 6).alias("top_gram_frac"),
    )
    if not keep_short:
        return out
    shorts = base.filter(F.col("n_tokens") < n).select(
        id_col, "n_tokens", dup_frac, F.lit(None).cast("double").alias("top_gram_frac")
    )
    return out.unionByName(shorts)


def pack_sequences(
    df: DataFrame,
    ctx_tokens: int,
    token_col: str = "token_count",
    order_col: str = "doc_id",
    partition_cols: Sequence[str] = ("source",),
) -> DataFrame:
    """Assign each document to a training-sequence pack: documents are
    concatenated in ``order_col`` order within each partition and cut at
    ``ctx_tokens`` boundaries; ``pack_id`` is the chunk index, ``pack_off``
    the token offset of the document inside the concatenated stream.

    This is the deterministic contiguous-packing strategy (concatenate,
    then split at the context length) used by most large-scale pretraining
    loaders — not bin-packing, so it is a pure running-sum window: one
    keyed sort per partition, no global ordering, identical SQL in DuckDB.
    """
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(token_col).over(w)
    start = cum - F.col(token_col)
    return df.select(
        "*",
        start.alias("pack_off"),
        (start / F.lit(ctx_tokens)).cast("bigint").alias("pack_id"),
    )


def mixture_weights(
    df: DataFrame,
    alpha: float = 0.5,
    source_col: str = "source",
    token_col: str | None = None,
) -> DataFrame:
    """Temperature-based source-mixture weights: sampling weight for source
    s is ``n_s^alpha / sum_s n_s^alpha`` (alpha=1 proportional, alpha->0
    uniform) — the standard multilingual/multi-source rebalancing rule
    (e.g. multilingual BERT / XLM-R exponent-smoothed sampling).

    Aggregates to one row per source then computes the normalizer over
    that tiny frame — O(sources) driver-free arithmetic; the heavy input
    is touched exactly once for the count.
    """
    size_expr = F.sum(token_col) if token_col else F.count(F.lit(1))
    per_src = df.groupBy(source_col).agg(size_expr.cast("double").alias("n"))
    w = Window.partitionBy()  # over the tiny per-source frame only
    powed = per_src.withColumn("_p", F.pow("n", F.lit(alpha)))
    return powed.select(
        source_col,
        F.col("n").cast("bigint").alias("n_items"),
        F.round(F.col("_p") / F.sum("_p").over(w), 6).alias("weight"),
        F.round(
            (F.col("_p") / F.sum("_p").over(w)) * F.sum("n").over(w) / F.col("n"), 6
        ).alias("rel_epochs"),
    )


def boilerplate_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_df_frac: float = 0.02,
) -> DataFrame:
    """Corpus-level boilerplate detection: a word ``n``-gram is boilerplate
    when it appears in at least ``min_df_frac`` of all documents (site
    chrome, license headers, navigation text); every document is scored by
    the fraction of its distinct grams that are boilerplate. Complements
    :func:`repetition_stats`, which only sees WITHIN-document repetition.

    Plan: one shingling pass (:func:`~phoebe_spark.operators.dedup.
    shingle_postings`, distinct per doc), a groupBy(shingle) document-
    frequency count, a join back on the uniform shingle key, and a
    per-doc aggregation — three shuffles total, none keyed on anything
    skewed beyond the gram distribution itself, at 100 TB the same shape
    as the minhash shingle pipeline. The doc-count threshold rides in as
    a broadcast scalar, not a driver-side collect.

    Returns (doc, n_grams, n_boiler, boiler_ratio) for every document,
    zero rows included.
    """
    from phoebe_spark.operators.dedup import shingle_postings

    post = shingle_postings(df, id_col, text_col, n)
    total = df.select(F.count(F.lit(1)).alias("_n_docs"))
    gram_df = (
        post.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df_docs"))
        .crossJoin(F.broadcast(total))
        .select("shingle", (F.col("_df_docs") >= F.lit(min_df_frac) * F.col("_n_docs")).alias("_boiler"))
    )
    per_doc = (
        post.join(gram_df, "shingle")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("_boiler"), 1).otherwise(0)).alias("n_boiler"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc"))
        .join(per_doc, "doc", "left")
        .select(
            "doc",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
            F.when(F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(F.col("n_boiler") / F.col("n_grams"))
            .alias("boiler_ratio"),
        )
    )


def column_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Data-quality column profile: per column, the null count, exact
    distinct count, and total rows — the schema-drift / ingest-sanity
    report a pipeline runs before accepting a new data drop.

    One scan: all per-column aggregates are computed in a single ``agg``
    (Spark plans the multi-distinct via EXPAND, one shuffle), then the
    1-row result is unpivoted to one row per column with ``stack``. At
    100 TB swap ``countDistinct`` for ``approx_count_distinct`` — the
    drift signal tolerates HLL error; the exact form is what an
    independent engine can reproduce."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, c in enumerate(cols):
        # positional internal aliases + backtick-quoted source refs: the
        # user's column names never enter generated SQL as bare
        # identifiers, so names with spaces / dots / quotes cannot break
        # the agg resolution or the stack() parse (display names appear
        # only as escaped string literals)
        ref = F.col("`" + c.replace("`", "``") + "`")
        aggs.append(F.sum(ref.isNull().cast("long")).alias(f"_null_{i}"))
        aggs.append(F.countDistinct(ref).alias(f"_dist_{i}"))
    row = df.agg(*aggs)
    lit = lambda s: "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    stack = ", ".join(f"{lit(c)}, _null_{i}, _dist_{i}" for i, c in enumerate(cols))
    return row.select(
        F.expr(f"stack({len(cols)}, {stack}) AS (col_name, n_nulls, n_distinct)"),
        F.col("_n").alias("n_rows"),
    )


def importance_weights(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    smoothing: float = 1.0,
) -> DataFrame:
    """DSIR-style data-selection importance weights (Xie et al. 2023,
    arXiv 2302.03169 "Data Selection for Language Models via Importance
    Resampling" — public): score every document by
    ``sum_t log(P_target(t) / P_raw(t))`` under two add-k-smoothed unigram
    LMs, one fit on the ``target`` subset (the distribution you want more
    of) and one on the whole corpus. High-weight documents look like the
    target domain; resampling by these weights steers the mixture without
    a trained classifier.

    Smoothing uses the SHARED corpus vocabulary (V = distinct corpus
    terms) for both models, so every corpus token has non-zero target
    probability and the log-ratio is total — no OOV special-casing to
    drift between engines.

    Scale notes: one explode feeds BOTH LM fits — the corpus-wide term
    counts and the conditional target counts ride the same
    map-side-combining ``groupBy(term)`` (``count + sum(CASE WHEN
    target)``), so the corpus shuffles on terms exactly once for fitting.
    The two totals and |V| come from one 1-row aggregate of that
    (vocabulary-sized) frame, broadcast back. Scoring re-explodes and
    equi-joins terms against the fitted frame (broadcastable when the
    vocabulary is bounded), then one ``groupBy(doc_id)``. No Python, no
    driver data.
    """
    toks = df.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col), target.alias("__is_target"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    counts = (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum(F.when(F.col("__is_target"), 1).otherwise(0)).alias("n_tgt"),
        )
        .localCheckpoint(eager=True)
    )
    tot = counts.agg(
        F.sum("n_raw").alias("tot_raw"),
        F.sum("n_tgt").alias("tot_tgt"),
        F.count(F.lit(1)).alias("vocab"),
    )
    k = float(smoothing)
    lm = counts.crossJoin(F.broadcast(tot)).select(
        "term",
        (
            F.log((F.col("n_tgt") + k) / (F.col("tot_tgt") + k * F.col("vocab")))
            - F.log((F.col("n_raw") + k) / (F.col("tot_raw") + k * F.col("vocab")))
        ).alias("log_ratio"),
    )
    return (
        toks.join(lm, "term")
        .groupBy(F.col(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("log_ratio").alias("log_importance"),
        )
    )


def greedy_max_coverage(
    df: DataFrame,
    rounds: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list[tuple]:
    """Greedy maximum-coverage subset selection (submodular data
    selection, Nemhauser 1978 (1-1/e) guarantee; the MapReduce greedy of
    Chierichetti et al. WWW'10 — public): pick ``rounds`` documents, each
    round choosing the doc adding the most NOT-yet-covered distinct
    bigrams (count DESC, id ASC tie-break). The coverage-maximizing
    pruning primitive for training corpora — "which k docs buy the most
    lexical diversity" — complementing q136's per-language diversity
    census with an actual selection loop. Returns
    ``[(round, doc_id, marginal_gain), ...]``.

    Scale notes: the per-doc DISTINCT-bigram-set frame is computed once
    (no explode — bigrams stay as one array per doc) and checkpointed;
    the covered set is driver-held model state BOUNDED by rounds x
    max-doc-bigrams (never corpus-sized) and ships each round as a single
    array LITERAL, so a round is one shuffle-free ``size(array_except(
    toks, covered))`` scan with a TakeOrdered argmax plus a 1-row fetch
    of the winner's set — no joins, no per-round shuffles, no growing
    lineage. For rounds large enough that the covered set stops being
    comfortably literal-sized (~10k+ entries), switch to the broadcast
    anti-join form over the exploded posting frame; at the small k
    typical of "pick k exemplars" this form is strictly cheaper.
    """
    w = tokens(F.col(text_col))
    pairs = adjacent_bigrams(w)
    sc = df.sparkSession.sparkContext
    docsets = (
        df.filter(F.trim(F.col(text_col)) != "")
        .filter(F.size(w) >= 2)
        .select(F.col(id_col).alias("doc"), pairs.alias("toks"))
        .repartition(sc.defaultParallelism)  # split the build across cores
        .localCheckpoint(eager=True)
    )
    covered: set[str] = set()
    picks: list[tuple] = []
    for rnd in range(1, rounds + 1):
        cov_lit = F.lit(sorted(covered)).cast("array<string>")
        # the argmax row carries the winner's uncovered set, so each round
        # is ONE TakeOrdered job — no second fetch
        best = (
            docsets.select("doc", F.array_except("toks", cov_lit).alias("new"))
            .select("doc", F.size("new").alias("gain"), "new")
            .filter(F.col("gain") > 0)
            .orderBy(F.desc("gain"), F.asc("doc"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        doc, gain = best[0]["doc"], int(best[0]["gain"])
        picks.append((rnd, doc, gain))
        covered.update(best[0]["new"])
    return picks


def quality_signal_agreement(
    docs: DataFrame,
    group_col: str = "source",
    x_col: Column | None = None,
    y_col: Column | None = None,
) -> DataFrame:
    """Per-source Spearman rank correlation between two quality signals —
    the curation sanity check that independent quality scorers agree
    before their thresholds gate a corpus (disagreement per source flags
    a scorer that's broken for that slice).

    Engine-exact: average ranks with standard tie handling are carried as
    INTEGER doubled-ranks (``2*avg_rank = 2*rank() + ties - 1``), all
    five correlation sums run as BIGINT (exact), and only the final
    Pearson-on-ranks division happens in double — so Spark and the
    DuckDB oracle agree digit-for-digit instead of to-an-ulp.

    Scale shape: two rank windows per source partition plus ONE grouped
    sum — no joins, no global sort; at 100 TB each source's ranking is a
    single per-key sort inside its shuffle partition (salt a pathological
    mega-source upstream if one source dominates the corpus)."""
    from pyspark.sql import Window

    x = x_col if x_col is not None else F.length("text")
    y = y_col if y_col is not None else F.size(F.split(F.trim("text"), r"\s+"))
    d = docs.select(F.col(group_col).alias("g"), x.alias("x"), y.alias("y"))

    def _r2(col: str) -> Column:
        w = Window.partitionBy("g").orderBy(col)
        cnt = Window.partitionBy("g", col)
        return (2 * F.rank().over(w) + F.count(F.lit(1)).over(cnt) - 1).cast("long")

    r = d.select("g", _r2("x").alias("rx"), _r2("y").alias("ry"))
    s = r.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    # combine the exact BIGINT sums in DOUBLE (each sum is exactly
    # representable below 2^53; n*sxy would overflow BIGINT at large n,
    # and both engines round identical IEEE products identically)
    n, sx, sy, sxy, sxx, syy = (
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxy", "sxx", "syy")
    )
    num = n * sxy - sx * sy
    den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return s.select(
        F.col("g").alias(group_col),
        F.col("n").alias("n_docs"),
        F.round(
            F.when(den > 0, num / den).otherwise(F.lit(0.0)), 6
        ).alias("spearman_rho"),
    )


def quantile_normalize(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    score_col: Column | None = None,
) -> DataFrame:
    """Cross-source QUANTILE NORMALIZATION of a per-document score: each
    document's score is replaced by the GLOBAL score distribution's value
    at the document's within-source quantile — the calibration step that
    makes per-source quality scores comparable before one threshold
    gates a mixed corpus (source A's "0.8" and source B's "0.8" rarely
    mean the same thing).

    Engine-exact nearest-rank arithmetic, no interpolation floats:
      - within-source rank k (row_number over (score, doc_id)) is built
        TWO-PHASE: per-(source, score) counts collapse map-side; their
        per-source cumulative offsets are a window over the bounded
        (source, score) SUPPORT frame only; each document adds its
        support offset to a row_number over the (source, score)
        partition — so no per-source sort of raw rows ever runs (the
        old shape had parallelism = #sources; at 100 TB with a handful
        of sources that is a near-single-reducer sort per source).
        Bit-identical to ``row_number over (partitionBy g orderBy
        score, doc_id)`` because score is bucket-major in the offsets.
      - target global rank t = 1 + round_half_up((N-1)(k-1)/(n_s-1)),
        computed as ``(2a + b) div (2b)`` in BIGINTs (a single-doc
        source maps to the median rank);
      - the global value at rank t comes from the VALUE HISTOGRAM
        (distinct score -> (prev_cum, cum] rank range) via a BUCKETED
        BAND equi-join (the q241 idiom): histogram rows explode into
        rank buckets of width B = max(1, N div |support|) (~2x support
        exploded rows total), each document joins on its bucket
        ``(t-1) div B`` against the broadcast map, and the final
        ``prev < t <= cum`` filter keeps the unique covering row —
        O(1) candidates per document instead of the old O(|support|)
        linear array probe per row, and no global sort anywhere.

    Returns (doc_id, source, score, norm_score), all BIGINT."""
    from pyspark.sql import Window

    score = score_col if score_col is not None else F.length("text")
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("g"),
        score.cast("long").alias("score"),
    )

    # phase 1: (source, score) support counts -> per-source offsets + sizes
    sup = d.groupBy("g", "score").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wg = Window.partitionBy("g").orderBy("score")
    offs = sup.select(
        "g",
        "score",
        F.coalesce(
            F.sum("c").over(wg.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long").alias("off"),
        F.sum("c").over(Window.partitionBy("g")).cast("long").alias("ns"),
    )

    # phase 2: within-(source, score) row_number + broadcast offset join
    within = F.row_number().over(
        Window.partitionBy("g", "score").orderBy("doc_id")
    )
    r = (
        d.withColumn("kw", within)
        .join(F.broadcast(offs), ["g", "score"])
        .select(
            "doc_id",
            "g",
            "score",
            (F.col("off") + F.col("kw")).cast("long").alias("k"),
            "ns",
        )
    )

    # global value histogram: distinct score -> (prev, cum] rank range
    vh = (
        d.groupBy("score")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn(
            "cum",
            F.sum("c").over(
                Window.orderBy("score").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ).cast("long"),
        )
        .withColumn("prev", (F.col("cum") - F.col("c")).cast("long"))
    )
    tot = vh.agg(
        F.max("cum").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_support"),
    )

    # bucketed band map: each histogram row covers rank buckets
    # [prev div B, (cum-1) div B]; total exploded rows <= 2 * |support|
    bmap = (
        vh.crossJoin(F.broadcast(tot))
        .select(
            F.col("score").alias("norm_score"),
            "cum",
            "prev",
            F.expr("greatest(1L, n_total div n_support)").alias("_b"),
        )
        .select(
            "norm_score",
            "cum",
            "prev",
            F.explode(
                F.sequence(
                    F.expr("prev div _b"), F.expr("(cum - 1) div _b")
                )
            ).alias("tb"),
        )
    )

    t = F.expr(
        "CASE WHEN ns = 1 THEN 1 + ((2 * (n_total - 1) + 2) div 4) "
        "ELSE 1 + ((2 * (n_total - 1) * (k - 1) + (ns - 1)) div (2 * (ns - 1))) END"
    )
    probe = (
        r.crossJoin(F.broadcast(tot))
        .withColumn("t", t)
        .withColumn(
            "tb", F.expr("(t - 1) div greatest(1L, n_total div n_support)")
        )
    )
    return (
        probe.join(F.broadcast(bmap), "tb")
        .filter((F.col("t") > F.col("prev")) & (F.col("t") <= F.col("cum")))
        .select(
            "doc_id",
            F.col("g").alias(group_col),
            "score",
            "norm_score",
        )
    )
