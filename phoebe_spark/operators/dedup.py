"""Deduplication operators for large document corpora.

- exact_dedup      : hash-groupBy on a normalized fingerprint. One shuffle,
                     map-side partial agg; the canonical 100 TB exact-dedup.
- ngram_jaccard_pairs : character/word shingles -> inverted index ->
                     candidate pairs by shared shingle -> exact Jaccard.
                     All joins are shuffle-hash on shingle/doc ids; no O(n²)
                     cross join ever materializes.
- minhash_lsh_pairs : MinHash signatures (vectorized, JVM-side xxhash64) +
                     banded LSH bucketing -> near-dup candidate pairs.
- simhash          : 64-bit SimHash per doc from token hashes.

All operators avoid Python UDFs: hashing uses ``xxhash64``, signatures use
higher-order array functions (``transform``/``aggregate``) evaluated in the
JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from phoebe_spark.operators.text import tokens

# modulus for the md5 double-hash minhash family (2^31 - 1, prime):
# (h1 + i*h2) stays < 2^36, far from BIGINT overflow in Spark and DuckDB
MD5_DOUBLE_HASH_P = 2147483647


def md5_hash64(col, seed: int | None = None):
    """Oracle-portable 60-bit hash: the first 15 hex chars of md5, parsed
    base-16 (DuckDB: ``CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)``,
    bit-identical). ``seed`` concatenates '|seed' before hashing. Slower
    than ``xxhash64`` (md5 per value) but still JVM-side codegen; use it
    when the result must be reproducible outside Spark."""
    s = col if seed is None else F.concat(col, F.lit(f"|{seed}"))
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup on normalized text: one surviving row (min id) per
    fingerprint plus the duplicate count. groupBy-on-hash is the scalable
    pattern — fingerprints are ~uniform so the shuffle is skew-free."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return (
        df.withColumn("fingerprint", F.md5(norm))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def shingle_postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(doc, shingle) posting list via posexplode + window ``lead``.

    This is the scalable shingling path: token explosion and the n-1
    ``lead`` columns are whole-stage-codegen expressions (no per-row array
    slicing), the window partitions by doc (uniform key), and the distinct
    collapses repeated shingles map-side. ~10x faster than materializing
    shingle arrays per row at 100k+ docs (measured 30x at sf0.1: higher-
    order ``transform``+``get`` evaluates interpreted, and projection
    collapse re-inlines the tokenizer into every lambda use).

    ``distinct=False`` skips the set-collapse shuffle and emits one row per
    gram OCCURRENCE. Consumers whose aggregate is duplicate-insensitive
    (minhash: min over a multiset == min over its set) should pass False —
    the downstream groupBy(doc) then reuses the window's doc partitioning,
    making the whole pipeline a single shuffle.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc").orderBy("pos")
    lead_cols = [F.lead("tok", i).over(w).alias(f"_t{i}") for i in range(1, n)]
    g = toks.select("doc", F.col("tok"), *lead_cols)
    if n > 1:
        g = g.filter(F.col(f"_t{n-1}").isNotNull())
    gram = F.concat_ws(" ", F.col("tok"), *[F.col(f"_t{i}") for i in range(1, n)])
    out = g.select("doc", gram.alias("shingle"))
    if not distinct:
        return out
    # per-doc set collapse via collect_set reuses the lead-window's doc
    # partitioning (no exchange); a (doc, shingle) .distinct() would
    # re-shuffle on the compound key. Downstream per-doc work stays
    # exchange-free too.
    return (
        out.groupBy("doc")
        .agg(F.collect_set("shingle").alias("_set"))
        .select("doc", F.explode("_set").alias("shingle"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard via an inverted shingle
    index — no cross join, and the posting list is computed exactly once.

    Plan shape (scales to 100 TB):
      1. posting list (doc, size, shingle) via :func:`shingle_postings`
      2. groupBy(shingle) collects each shingle's (doc, size) posting group;
         ordered pairs expand JVM-side with nested ``transform``+``slice``
         (i < j combinations only). A self-join would re-evaluate the whole
         shingling subtree per side (verified via .explain: two full scan->
         explode->window chains); the grouped form shuffles postings once.
      3. groupBy(pair).count() gives |A∩B|; Jaccard = inter /
         (|A| + |B| - inter); filter >= threshold.
    Hot shingles (stopword-grams) blow up step 2 quadratically: one gram
    shared by 1e5 docs emits 1e10 pairs from a single group.
    ``max_shingle_freq`` (default 1000 — ON by default; pass None to
    disable) drops shingles seen in more than f docs before pairing, the
    standard document-frequency cap. Recall trade: dropped grams are
    excluded from the intersection count but still count in the per-doc
    sizes (computed before the cap), so the reported Jaccard is a LOWER
    BOUND — pairs supported only by near-stopword boilerplate grams are
    missed, while true near-dups (sharing many rarer grams) survive.
    """
    # distinct=False + collect_set: the per-doc set collapse and the doc
    # size both come from ONE groupBy(doc) that reuses the shingling
    # window's doc partitioning (no exchange) — vs the former
    # distinct-then-count-window, which re-shuffled twice. ~40% measured.
    post = shingle_postings(df, id_col, text_col, n, distinct=False)
    sized = (
        post.groupBy("doc")
        .agg(F.collect_set("shingle").alias("_set"))
        .select("doc", F.size("_set").alias("size"), F.explode("_set").alias("shingle"))
    )
    grouped = sized.groupBy("shingle").agg(
        F.collect_list(F.struct(F.col("doc"), F.col("size"))).alias("ds")
    )
    if max_shingle_freq is not None:
        grouped = grouped.filter(F.size("ds") <= max_shingle_freq)
    ds = F.col("ds")
    pair_structs = _ordered_pair_structs(
        ds,
        build=lambda x, y: F.struct(
            F.least(x["doc"], y["doc"]).alias("doc_a"),
            F.greatest(x["doc"], y["doc"]).alias("doc_b"),
            F.when(x["doc"] < y["doc"], x["size"]).otherwise(y["size"]).alias("size_a"),
            F.when(x["doc"] < y["doc"], y["size"]).otherwise(x["size"]).alias("size_b"),
        ),
    )
    pairs = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.size_a", "p.size_b")
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return pairs


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs by MAX-CONTAINMENT — inter / min(|A|, |B|) —
    the asymmetric score that catches PARTIAL copies Jaccard misses: a
    short doc fully embedded in a long one has containment 1.0 but
    Jaccard ~ |short|/|long| (arbitrarily small). This is the
    quote/excerpt/boilerplate-inclusion rung of the dedup ladder
    (Broder's containment, the same C(A,B) CDC pipelines use).

    Same inverted-index census as :func:`ngram_jaccard_pairs` (one
    posting pass, df-capped pair expansion, no cross join); only the
    final score differs, and both scores are emitted so consumers can
    split "mutual near-dup" from "one-way inclusion".
    """
    post = shingle_postings(df, id_col, text_col, n, distinct=False)
    sized = (
        post.groupBy("doc")
        .agg(F.collect_set("shingle").alias("_set"))
        .select("doc", F.size("_set").alias("size"), F.explode("_set").alias("shingle"))
    )
    grouped = sized.groupBy("shingle").agg(
        F.collect_list(F.struct(F.col("doc"), F.col("size"))).alias("ds")
    )
    if max_shingle_freq is not None:
        grouped = grouped.filter(F.size("ds") <= max_shingle_freq)
    ds = F.col("ds")
    pair_structs = _ordered_pair_structs(
        ds,
        build=lambda x, y: F.struct(
            F.least(x["doc"], y["doc"]).alias("doc_a"),
            F.greatest(x["doc"], y["doc"]).alias("doc_b"),
            F.when(x["doc"] < y["doc"], x["size"]).otherwise(y["size"]).alias("size_a"),
            F.when(x["doc"] < y["doc"], y["size"]).otherwise(x["size"]).alias("size_b"),
        ),
    )
    return (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.size_a", "p.size_b")
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "containment",
            F.col("inter") / F.least(F.col("size_a"), F.col("size_b")),
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    postings: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: for hash seed i, the minimum
    ``hash(shingle, i)`` over the document's shingles.

    ``postings``: a precomputed ``(doc, shingle)`` frame (the
    :func:`shingle_postings` shape, duplicates allowed) to use instead of
    re-shingling ``df`` — pass this when a pipeline already tokenized the
    corpus (e.g. it also needs true-Jaccard gram sets) so the dominant
    scan+shingle pass runs once, not once per consumer.

    Implemented as explode(shingles) -> ``num_hashes`` plain ``min(hash(g,
    i))`` aggregates -> array. Plain hash columns stay inside
    whole-stage codegen and get map-side partial aggregation, which
    benchmarks ~50x faster than nested higher-order-function evaluation
    (which re-evaluates the shingle expression per seed). One shuffle on
    doc id (uniform key). Documents with no shingles (< n tokens) drop out.

    ``hash_fn``: 'xxhash64' (default, fastest) or 'md5'
    (:func:`md5_hash64`, reproducible outside Spark for oracle checks).
    """
    # distinct=False: min() is duplicate-insensitive, and skipping the set
    # collapse drops a whole shuffle — the groupBy(doc) below reuses the
    # shingling window's doc partitioning (~2x end-to-end, measured).
    sh = (
        postings
        if postings is not None
        else shingle_postings(df, id_col, text_col, shingle_n, distinct=False)
    ).withColumnRenamed("shingle", "g")
    if hash_fn == "md5":
        # Kirsch-Mitzenmacher double hashing: ONE md5 per shingle yields
        # (h1, h2); hash family i is (h1 + i*h2) mod p. Same minhash
        # guarantees as independent seeds at 1/num_hashes the hashing cost,
        # and bit-identical in DuckDB (q24's oracle mirrors the formula).
        # p = 2^31-1 keeps i*h2 far from BIGINT overflow in both engines.
        p = MD5_DOUBLE_HASH_P
        md5 = F.md5(F.col("g"))
        sh = sh.select(
            "doc",
            (F.conv(F.substring(md5, 1, 15), 16, 10).cast("long") % p).alias("_h1"),
            (F.conv(F.substring(md5, 17, 15), 16, 10).cast("long") % (p - 1) + 1).alias("_h2"),
        )
        aggs = [
            F.min((F.col("_h1") + i * F.col("_h2")) % p).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    else:
        aggs = [F.min(F.xxhash64(F.col("g"), F.lit(i))).alias(f"_h{i}") for i in range(num_hashes)]
    return (
        sh.groupBy("doc")
        .agg(*aggs)
        .select("doc", F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("signature"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    postings: DataFrame | None = None,
) -> DataFrame:
    """Banded LSH over MinHash signatures: split each signature into
    ``bands`` rows of ``num_hashes/bands`` values, hash each band to a
    bucket, and emit candidate pairs sharing any (band, bucket). The
    band-bucket join is an equi-join on a ~uniform key — shuffle-friendly.
    Returns distinct candidate pairs with their estimated Jaccard (fraction
    of agreeing signature positions).

    With ``hash_fn='md5'`` the bucket key is the raw comma-joined band
    string (collision-free, engine-portable); the default hashes it with
    xxhash64 to keep the shuffle key small.

    The signature table is materialized (``localCheckpoint``) before the
    band self-join: both join sides would otherwise re-evaluate the whole
    scan→shingle→hash→aggregate subtree (verified: 2 FileScans, no
    ReusedExchange), doubling the dominant cost. Signatures are tiny
    relative to the corpus (num_hashes longs per doc), so this is the
    write-once-join-twice shape you'd use at 100 TB anyway."""
    if not 1 <= bands <= num_hashes or num_hashes % bands != 0:
        # bands > num_hashes would make rows_per_band 0 (every doc hashes
        # the empty band string -> one global bucket -> silent O(n²) cross
        # join); a non-divisor would silently drop the trailing signature
        # positions from candidate generation
        raise ValueError(
            f"bands must divide num_hashes with 1 <= bands <= num_hashes "
            f"(got bands={bands}, num_hashes={num_hashes})"
        )
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, hash_fn, postings=postings
    ).localCheckpoint(eager=True)
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    band_str = F.concat_ws(",", F.transform(
        F.slice("signature", F.col("band") * rows_per_band + 1, rows_per_band),
        lambda x: x.cast("string"),
    ))
    banded = sigs.select(
        "doc",
        "signature",
        band_idx,
    ).withColumn("bucket", band_str if hash_fn == "md5" else F.xxhash64(band_str))
    a = banded.select("band", "bucket", F.col("doc").alias("doc_a"), F.col("signature").alias("sig_a"))
    b = banded.select("band", "bucket", F.col("doc").alias("doc_b"), F.col("signature").alias("sig_b"))
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
    return cand.select(
        "doc_a",
        "doc_b",
        (agree / F.lit(num_hashes)).alias("est_jaccard"),
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash per document as a bit string: sum ±1 per bit position over
    token hashes; the sign gives the bit. The token-hash array is projected
    once, then per-bit counts are ``aggregate`` expressions over it —
    JVM-side, single pass, no shuffle (hashing each token once instead of
    once per bit). The fingerprint is a '0'/'1' string (sign-safe,
    join-friendly); Hamming distance between two fingerprints = differing
    positions. 64 bits with the default xxhash64; 60 bits with
    ``hash_fn='md5'`` (:func:`md5_hash64`, engine-portable)."""
    n_bits = 60 if hash_fn == "md5" else 64
    tok_hash = (
        (lambda t: md5_hash64(t)) if hash_fn == "md5" else (lambda t: F.xxhash64(t))
    )
    hashed = df.select(
        F.col(id_col).alias("doc"),
        F.transform(tokens(F.col(text_col)), tok_hash).alias("_hs"),
    )

    # Bit counting is a vectorized Arrow kernel, not 64 higher-order
    # aggregates: HOFs are NOT whole-stage-codegen'd, so the expression
    # form re-walks the token-hash array once per bit position in the
    # interpreter (~64x the necessary work — it was the slowest entry of
    # the 10x scale-stress). numpy unpacks every hash of a batch into a
    # (tokens x n_bits) 0/1 matrix with one shift-and-mask and reduces per
    # doc; the result is the IDENTICAL sign-of-count fingerprint (exact
    # integer arithmetic both ways — q25's DuckDB oracle still replays it
    # bit for bit). Token hashing stays JVM-side so the hash family is
    # engine-portable.
    import numpy as np
    import pandas as pd

    shifts = np.arange(n_bits, dtype=np.uint64)

    def _bitcount(batches):
        for pdf in batches:
            fps = []
            for hs in pdf["_hs"]:
                h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
                if h.size == 0:
                    fps.append("0" * n_bits)
                    continue
                bits = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
                counts = 2 * bits.sum(axis=0) - h.size
                fps.append("".join("1" if c > 0 else "0" for c in counts))
            yield pd.DataFrame({"doc": pdf["doc"], "simhash": fps})

    return hashed.mapInPandas(
        _bitcount, schema=f"doc {dict(df.dtypes)[id_col]}, simhash string"
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the public MOSS local fingerprinting algorithm): hash every
    character ``k``-gram of the whitespace-normalized lowercase text, slide
    a ``window`` of consecutive gram hashes, keep the minimum of each
    window, and dedupe — guaranteeing any shared substring of length
    ``k + window - 1`` contributes a shared fingerprint, at ~2/(window+1)
    sampling density.

    Spark shape: one scan, one codepoint ``posexplode`` (fan-out = text
    length, bounded per row), then a single shuffle on the doc key under
    which THREE ordered-window passes share one sort: (1) the gram hash
    assembled from ``lead(codepoint, j)`` — the paper's polynomial
    (Rabin-Karp) family ``sum(c_j·B^(k-1-j)) mod p``, pure integer
    arithmetic, O(1) per char (hashing ``substring(t, pos, k)`` per gram
    would re-walk the UTF-8 string from index 0 each time — O(len²) per
    doc); (2) the window-min fingerprint pick; (3) the trailing-gram
    exclusion. Finishes with one distinct shuffle on (doc, fp). The hash
    is reproduced digit-for-digit by the DuckDB oracle (q51).

    Returns (doc, fp) — one row per distinct fingerprint per document.
    """
    p = MD5_DOUBLE_HASH_P
    B = 131
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    d = df.select(F.col(id_col).alias("doc"), norm.alias("t")).filter(
        F.length("t") >= k + window - 1
    )
    chars = (
        d.select("doc", F.posexplode(F.split(F.col("t"), "(?!^)")).alias("pos", "c"))
        # the (?!^) lookahead also matches at end-of-string, so split keeps
        # one trailing "" element — drop it or it becomes a phantom NUL char
        .filter(F.col("c") != "")
        .select("doc", "pos", F.ascii("c").cast("long").alias("c"))
    )
    w_ord = Window.partitionBy("doc").orderBy("pos")
    # Horner over this char and the next k-1 (leads run off the end ->
    # null h, dropped below: those positions start no gram). A mod per
    # step keeps every intermediate below B*p + max_codepoint ~= 2.8e11,
    # far inside BIGINT range in both engines.
    h = F.col("c")
    for j in range(1, k):
        h = (h * B + F.lead("c", j).over(w_ord)) % p
    grams = chars.select("doc", "pos", h.alias("h")).filter(F.col("h").isNotNull())
    w_min = Window.partitionBy("doc").orderBy("pos").rowsBetween(0, window - 1)
    w_doc = Window.partitionBy("doc")
    return (
        grams.withColumn("fp", F.min("h").over(w_min))
        .withColumn("_mx", F.max("pos").over(w_doc))
        .filter(F.col("pos") <= F.col("_mx") - (window - 1))
        # per-doc set collapse via collect_set reuses the windows' doc
        # partitioning (no exchange), unlike a (doc, fp) distinct which
        # would re-shuffle on the compound key; downstream per-doc
        # aggregations (q51) then also run exchange-free.
        .groupBy("doc")
        .agg(F.collect_set("fp").alias("_fps"))
        .select("doc", F.explode("_fps").alias("fp"))
    )


def dedup_components(
    pairs: DataFrame,
    id_col_a: str = "doc_a",
    id_col_b: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over near-duplicate pairs — the dedup-cluster
    step that turns pairwise matches (minhash / simhash / embedding-cosine
    pairs) into keep-one-per-cluster groups.

    Min-label propagation: every node starts labeled with itself; each
    round labels flow across edges and each node keeps the minimum seen.
    Converges in O(cluster diameter) propagation steps — near-dup
    clusters are shallow (most are pairs/triangles), so a handful
    suffice. TWO propagation steps fuse into every materialization
    (each an equi-join + min-aggregation on uniform node ids; the fixed
    per-materialization cost, not the data, dominates at small label
    frames), with an eager ``localCheckpoint`` truncating the growing
    lineage; the changed-label flag rides along in the same
    materialization, so the convergence probe is a local count on
    checkpointed rows, not a second Spark job per block. NOTE on
    ``max_iter``: one loop iteration is one fused BLOCK of two
    propagation steps (plus, from block 2, one pointer hop), so
    ``max_iter`` bounds blocks — the effective propagation-step budget
    is at least ``2 * max_iter``. The convergence flag reads the second
    fused step only (if it moved nothing the block's first step already
    reached a propagation fixpoint), so shallow pair/triangle graphs
    finish in one materialization. For adversarially deep chain graphs
    switch to the large-star/small-star formulation; for dedup workloads
    this simple form is the right cost.

    Returns (doc, component) where component = min doc id in the cluster.
    """
    # materialize the pair list BEFORE the symmetrizing union: pair
    # generation upstream (LSH / GEMM / jaccard) is often the dominant
    # cost, and the union's two branches would each evaluate that subtree
    # (then every propagation round and convergence probe would again).
    p = pairs.select(
        F.col(id_col_a).alias("s"), F.col(id_col_b).alias("d")
    ).localCheckpoint(eager=True)
    e = (
        p.union(p.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = e.select(F.col("s").alias("doc")).distinct().withColumn("lbl", F.col("doc"))

    # Round-11 optimization, re-measured and restructured: at bench scale
    # the loop's cost is the FIXED per-materialization overhead (eager
    # checkpoint job + convergence probe ~0.5-0.7 s on a label frame of
    # any small size), not the data, so TWO propagation steps are fused
    # into every materialization — half the jobs for the same fixpoint
    # (min-label propagation is confluent: step composition changes no
    # label that the per-step form would produce, and the _chg flag
    # compares against the block start, so convergence still means "no
    # label moved in either fused step"). The second step additionally
    # follows one hop through the block-start label map
    # (new(v) = min(m(v), start(m(v))) — start(m(v)) is an id inside v's
    # own component, so the least fixpoint is unchanged). HONEST
    # measurement note: an earlier revision claimed this jump makes
    # convergence geometric (17 -> 6 rounds on q327's graph); re-measured
    # carefully it is data-dependent — it IS geometric on id-monotone
    # chains (100-chain: >60 plain rounds -> 8) but on q327's real LSH
    # core graph it saves only ~3 of 17 propagation steps, because the
    # min id inside a node's t-ball need not sit on the geodesic toward
    # the component minimum, so ITS t-ball need not extend the reach.
    # The provably O(log d) alternative (large-star/small-star,
    # Kiveris et al. 2014) stays the documented 100 TB escape hatch for
    # adversarially deep graphs; for real near-dup/LSH graphs (depth <=
    # ~16 measured) fused rounds + the cheap hop are the better constant.
    changed = 1
    for it in range(max_iter):
        # step 1: min over {old label} ∪ {labels across edges}. No _chg
        # bookkeeping here — convergence is judged on the SECOND fused
        # step alone (below), so step 1 shuffles one column less.
        prop1 = e.join(
            labels.select(F.col("doc").alias("d"), "lbl"), "d"
        ).select(F.col("s").alias("doc"), "lbl")
        m1 = labels.union(prop1).groupBy("doc").agg(F.min("lbl").alias("lbl"))
        # step 2 (fused: same job, no intermediate materialization; the
        # repeated m1 subtree is one shuffle reused by AQE). _old seeds at
        # m1's label (null on propagated rows, so min() recovers it), so
        # the _chg flag reads "did the SECOND step move any label".
        # Round-12 convergence change: if step 2 changes nothing then m1
        # already satisfies lbl(v) = min({lbl(v)} ∪ {lbl(u): u~v}) — i.e.
        # m1 IS a propagation fixpoint and the returned m2 = m1 is final —
        # so stopping on the step-2 flag is sound, and it detects the
        # fixpoint one whole block earlier whenever convergence lands on
        # an odd propagation step. Shallow near-dup graphs (pairs /
        # triangles / stars, depth 1) now finish in ONE materialization
        # instead of two; the hop cannot mask a needed round because at a
        # propagation fixpoint every label is its component minimum and
        # the hop is the identity (min-node labels itself from round 0).
        prop2 = e.join(
            m1.select(F.col("doc").alias("d"), "lbl"), "d"
        ).select(F.col("s").alias("doc"), "lbl", F.lit(None).alias("_old"))
        m2 = (
            m1.select("doc", "lbl", F.col("lbl").alias("_old"))
            .union(prop2)
            .groupBy("doc")
            .agg(F.min("lbl").alias("lbl"), F.min("_old").alias("_old"))
        )
        if it == 0:
            # first block: no hop — shallow graphs (pairs/triangles,
            # depth <= 2) reach fixpoint inside this block and the hop
            # join would be pure overhead for them
            new_labels = m2.select(
                "doc",
                "lbl",
                (F.col("lbl") < F.col("_old")).alias("_chg"),
            ).localCheckpoint(eager=True)
        else:
            jmp = F.least(F.col("lbl"), F.coalesce(F.col("_lbl2"), F.col("lbl")))
            new_labels = (
                m2.join(
                    labels.select(
                        F.col("doc").alias("_l2"), F.col("lbl").alias("_lbl2")
                    ),
                    F.col("lbl") == F.col("_l2"),
                    "left",
                )
                .select(
                    "doc",
                    jmp.alias("lbl"),
                    (jmp < F.col("_old")).alias("_chg"),
                )
            ).localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("_chg")).limit(1).count()
        labels = new_labels.select("doc", "lbl")
        if changed == 0:
            break
    else:
        # exiting via max_iter with labels still moving means the returned
        # components are WRONG (a graph deeper than the 2*max_iter step
        # budget is still multiple labels) — surface it instead of
        # silently under-merging
        if changed != 0:
            import warnings

            warnings.warn(
                f"dedup_components did not converge within max_iter={max_iter} "
                "fused blocks (two propagation steps each); returned labels "
                "under-merge at least one component. Raise max_iter or "
                "switch to the large-star/small-star form.",
                RuntimeWarning,
                stacklevel=2,
            )
    return labels.select("doc", F.col("lbl").alias("component"))


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination — the train/eval overlap scrub every
    training corpus needs: count, per corpus document, its distinct word
    ``n``-grams that also occur anywhere in the benchmark set.

    Plan: both sides shingle once via :func:`shingle_postings` (single
    scan each); the benchmark's distinct shingle set is broadcast (eval
    suites are tiny next to a 100 TB corpus) so the probe is a map-side
    broadcast semi-join inside the corpus scan — no shuffle of corpus
    shingles; the per-doc count is one aggregation on the doc key.

    Returns (doc, n_contaminated) for every corpus document, zeros
    included.
    """
    c = shingle_postings(corpus, id_col, text_col, n)
    # distinct=False: the per-doc set collapse is redundant under the
    # global .distinct() on shingle alone (one shuffle instead of two).
    b = (
        shingle_postings(benchmark, id_col, text_col, n, distinct=False)
        .select("shingle")
        .distinct()
    )
    hits = (
        c.join(F.broadcast(b), "shingle")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        corpus.select(F.col(id_col).alias("doc"))
        .join(hits, "doc", "left")
        .select("doc", F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"))
    )


def contamination_flags_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    n_hashes: int = 5,
    bits_per_item: int = 12,
    max_literal_words: int = 262144,
) -> DataFrame:
    """:func:`contamination_flags` with a Bloom-filter prefilter — the
    probabilistic-prune + exact-confirm pattern, result-identical to the
    exact operator (the confirm join removes every Bloom false positive,
    and a Bloom filter has no false negatives by construction).

    Why it exists: at 100 TB with a LARGE eval registry the benchmark
    shingle SET may be too big to broadcast as strings, but its Bloom
    bits (``bits_per_item`` per shingle, ~12 bits -> <1% FP at 5 hashes)
    still fit in every executor. The corpus-side probe then drops ~99% of
    shingles inside the scan stage (pure codegen: seeded ``xxhash64`` ->
    literal-array word lookup -> shift/mask), and only the tiny surviving
    candidate set reaches the exact semi-join.

    The filter is FIT like a model: the benchmark's distinct shingles
    hash through Spark's own ``xxhash64`` (so probe hashing matches
    bit-for-bit) and the set bits come back to the driver once — bounded
    by the benchmark size, never the corpus.

    Applicability bound: the bit array is embedded as a PLAN LITERAL
    (one 64-bit word per ``F.lit``), which is what keeps the probe in
    whole-stage codegen — but plan size grows with the words, so the
    operator guards at ``max_literal_words`` (default 256k words = 2 MiB
    literal = ~1.4M registry shingles at 12 bits). Beyond that, plan
    construction itself becomes the bottleneck (millions of driver-side
    Column objects, the literal serialized into every task): use
    :func:`contamination_flags` (broadcast semi-join) or raise
    ``max_literal_words`` deliberately.
    """
    import numpy as np

    c = shingle_postings(corpus, id_col, text_col, n)
    # materialized once: both the filter fit (collect below) and the exact
    # confirm join read this frame — without the checkpoint the whole
    # benchmark shingling subtree evaluates twice (module-wide trap, see
    # minhash_lsh_pairs)
    b = (
        shingle_postings(benchmark, id_col, text_col, n, distinct=False)
        .select("shingle")
        .distinct()
        .localCheckpoint(eager=True)
    )
    hash_rows = b.select(
        *[F.xxhash64("shingle", F.lit(i)).alias(f"h{i}") for i in range(n_hashes)]
    ).collect()
    n_items = max(len(hash_rows), 1)
    m = ((n_items * bits_per_item + 63) // 64) * 64  # bit count, word-aligned
    if m // 64 > max_literal_words:
        raise ValueError(
            f"contamination_flags_bloom: registry needs {m // 64} filter words, "
            f"over the plan-literal budget ({max_literal_words}). Use "
            "contamination_flags (broadcast semi-join) for registries this "
            "large, or raise max_literal_words deliberately."
        )
    words = np.zeros(m // 64, dtype=np.uint64)
    for row in hash_rows:
        for i in range(n_hashes):
            idx = row[i] % m  # python %: non-negative, matches SQL pmod
            words[idx >> 6] |= np.uint64(1) << np.uint64(idx & 63)
    from phoebe_spark.functions.numeric import lit_long_array

    arr = lit_long_array(int(w.astype(np.int64)) for w in words)

    def _bit(seed: int):
        idx = f"pmod(xxhash64(shingle, {seed}), {m})"
        word = f"element_at(_bf, CAST({idx} DIV 64 AS INT) + 1)"
        return f"((shiftright({word}, CAST({idx} % 64 AS INT)) & 1) = 1)"

    probe = " AND ".join(_bit(i) for i in range(n_hashes))
    pre = c.withColumn("_bf", arr).filter(F.expr(probe)).drop("_bf")
    hits = (
        pre.join(F.broadcast(b), "shingle")  # exact confirm: kills Bloom FPs
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        corpus.select(F.col(id_col).alias("doc"))
        .join(hits, "doc", "left")
        .select("doc", F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"))
    )


def chunk_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 8,
    checkpoint: bool = False,
    group_col: str | None = None,
) -> DataFrame:
    """Line/chunk-level exact dedup statistics (the RefinedWeb / CCNet
    "repeated lines across documents" signal, adapted to newline-free
    corpora): split each document into consecutive non-overlapping
    ``chunk_words``-word chunks, count how often each chunk string occurs
    across the whole corpus, and report per document how many of its
    chunks are duplicated (corpus-wide occurrence > 1).

    Returns ``(id_col, n_chunks, n_dup_chunks, dup_ratio)`` — or, with
    ``group_col``, the same census rolled up per group (q108's
    per-source duplication pressure) instead of per document; the
    corpus-wide counts are identical either way.

    Scale notes: chunk assembly is EXCHANGE-FREE — a codegen
    ``transform(sequence(...), c -> array_join(slice(...)))`` per row, no
    posexplode+groupBy re-assembly. The only shuffles are the corpus-wide
    chunk count (map-side combining groupBy on the chunk string) and the
    count join back; both are keyed on the chunk value so hot chunks are
    the natural skew — at 100 TB cap runaway chunks the same way
    shingle_postings caps hot shingles (a count cutoff changes no
    dup/not-dup verdict above the cap).
    """
    # The chunk frame feeds both the corpus-wide count and the join back,
    # so the tokenize+explode subtree evaluates twice. Measured at sf0.1:
    # a localCheckpoint here is a wash (1.45s either way) — codegen chunk
    # assembly is cheaper than materializing the chunk table. Checkpoint
    # only when the upstream is expensive (pass checkpoint=True).
    chunks = _doc_chunks(df, id_col, text_col, chunk_words)
    if group_col is not None:
        chunks = chunks.join(
            df.select(F.col(id_col).alias("doc"), group_col), "doc"
        )
    if checkpoint:
        chunks = chunks.localCheckpoint(eager=True)
    counts = chunks.groupBy("chunk").agg(F.count(F.lit(1)).alias("cnt"))
    key = F.col(group_col) if group_col is not None else F.col("doc").alias(id_col)
    return (
        chunks.join(counts, "chunk")
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("cnt") > 1).cast("long")).alias("n_dup_chunks"),
            F.round(
                F.sum((F.col("cnt") > 1).cast("long")) / F.count(F.lit(1)), 6
            ).alias("dup_ratio"),
        )
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (PPJoin family:
    Chaudhuri et al. ICDE'06 SSJoin, Xiao et al. WWW'08 — public
    algorithms): every pair of documents whose n-gram-shingle Jaccard is
    >= ``threshold``, with ZERO recall loss — the exactness alternative to
    probabilistic MinHash-LSH (q24) and to :func:`ngram_jaccard_pairs`'s
    df-capped lower bound (q13).

    The filter: order each document's shingles by GLOBAL rarity (document
    frequency asc, shingle asc — any total order shared by all docs
    works), and keep only the first ``|s| - ceil(t*|s|) + 1`` as the
    document's *prefix*. Two sets with Jaccard >= t MUST share at least
    one prefix element (if A's prefix misses B entirely, the intersection
    fits in A's suffix of ceil(t|A|)-1 elements < t|A| <= |A∩B|), so
    equi-joining prefixes loses nothing. Because prefixes are the RAREST
    shingles, posting groups stay tiny without any frequency cap — the
    hot-stopword quadratic that forces q13's cap never materializes.

    Plan (6 bounded shuffles, no cross join, no driver data):
      1. per-doc distinct shingle sets (shingling window's doc partition)
      2. groupBy(shingle) document frequencies
      3. postings join df -> per-doc rarity-sorted array, slice prefix
      4. groupBy(prefix shingle): i<j pair expansion with the size filter
         ``min_sz >= t * max_sz`` (Jaccard <= min/max)
      5-6. candidates join full sets (by doc) twice; exact verification
         ``|A∩B| / (|A|+|B|-|A∩B|) >= t`` via array_intersect.
    ``ceil(t*sz)`` is computed with a 1e-9 slack so float rounding can
    only LENGTHEN a prefix (extra candidates die in verification) — never
    shorten it (which would silently drop true pairs).
    """
    post = shingle_postings(df, id_col, text_col, n, distinct=False)
    sets_ = (
        post.groupBy("doc")
        .agg(F.collect_set("shingle").alias("set"))
        .withColumn("sz", F.size("set"))
        .localCheckpoint(eager=True)  # feeds df-counts, prefixes, AND verify
    )
    sized = sets_.select("doc", "sz", F.explode("set").alias("shingle"))
    dfc = sized.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    t = float(threshold)
    prefix_len = F.col("sz") - F.ceil(F.col("sz") * t - 1e-9).cast("int") + 1
    pref = (
        sized.join(dfc, "shingle")
        .groupBy("doc", "sz")
        .agg(F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("os"))
        .select(
            "doc",
            "sz",
            F.explode(F.slice("os", 1, F.greatest(prefix_len, F.lit(1)))).alias("p"),
        )
        .select("doc", "sz", F.col("p.shingle").alias("shingle"))
    )
    grouped = pref.groupBy("shingle").agg(
        F.collect_list(F.struct(F.col("doc"), F.col("sz"))).alias("ds")
    )
    ds = F.col("ds")
    pair_structs = _ordered_pair_structs(
        ds,
        build=lambda x, y: F.struct(
            F.least(x["doc"], y["doc"]).alias("doc_a"),
            F.greatest(x["doc"], y["doc"]).alias("doc_b"),
            F.least(x["sz"], y["sz"]).alias("min_sz"),
            F.greatest(x["sz"], y["sz"]).alias("max_sz"),
        ),
    )
    cand = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .filter(F.col("p.min_sz") * 1.0 >= F.col("p.max_sz") * t - 1e-9)
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    sa = sets_.select(F.col("doc").alias("doc_a"), F.col("set").alias("_sa"), F.col("sz").alias("_za"))
    sb = sets_.select(F.col("doc").alias("doc_b"), F.col("set").alias("_sb"), F.col("sz").alias("_zb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter", inter)
        .withColumn("jaccard", F.col("inter") / (F.col("_za") + F.col("_zb") - F.col("inter")))
        .withColumn("containment", F.col("inter") / F.least("_za", "_zb"))
        .filter(F.col("jaccard") >= t)
        .select("doc_a", "doc_b", "jaccard", "containment")
    )


def _ordered_pair_structs(ds, a_name: str | None = None, b_name: str | None = None, build=None):
    """i<j pair expansion over an id array: nested transform+slice emitting
    one struct per combination JVM-side. ``build(x, y)`` customizes the
    struct payload (default: struct(a_name, b_name)). Shared by the
    chunk-pair, identical-fingerprint, jaccard-posting, and prefix-filter
    expansions — the slice index arithmetic is subtle enough to keep in
    exactly one place."""
    mk = build if build is not None else (
        lambda x, y: F.struct(x.alias(a_name), y.alias(b_name))
    )
    return F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + 2, F.greatest(F.size(ds) - i - 1, F.lit(0))),
                lambda y: mk(x, y),
            ),
        )
    )


def _doc_chunks(
    df: DataFrame, id_col: str, text_col: str, chunk_words: int
) -> DataFrame:
    """(doc, chunk) rows: consecutive non-overlapping ``chunk_words``-word
    chunks per document. Exchange-free — chunk assembly is a codegen
    ``transform(sequence(...), c -> array_join(slice(...)))`` inside the
    scan stage, never a posexplode + re-assembly groupBy."""

    toks = df.select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("t")
    ).filter(F.size("t") > 0)
    return toks.select(
        "doc",
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(t) / {chunk_words}.0) as int) - 1),"
                f" c -> array_join(slice(t, c * {chunk_words} + 1, {chunk_words}), ' '))"
            )
        ).alias("chunk"),
    )


def chunk_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 8,
    max_docs_per_chunk: int = 100,
    checkpoint: bool = False,
) -> DataFrame:
    """Document near-dup pairs via shared exact chunks: two docs pair when
    they share at least one ``chunk_words``-word chunk. The cheap
    edge-generator for chunk-level dedup graphs (feeds
    :func:`dedup_components` / :func:`keep_best_per_component`).

    Scale notes: pair expansion is grouped (the ngram_jaccard pattern) —
    ONE groupBy(chunk) collects each chunk's doc set, the df-cap filter
    runs on the collected size, and the i<j pairs expand JVM-side with
    nested transform+slice. vs the naive eligible-join + self-join this
    is 3 shuffles instead of 5 and never re-evaluates the tokenize
    subtree (measured: chunk_pairs count 5.6s -> 2.6s at sf0.1). Cost
    stays quadratic only in docs-per-chunk; chunks hotter than
    ``max_docs_per_chunk`` are dropped (boilerplate-grade chunks would
    emit O(df^2) pairs with no near-dup signal). ``checkpoint=True``
    materializes the chunk frame for corpora where tokenization
    dominates."""
    ch = _doc_chunks(df, id_col, text_col, chunk_words)
    if checkpoint:
        ch = ch.localCheckpoint(eager=True)
    grouped = (
        ch.groupBy("chunk")
        .agg(F.collect_set("doc").alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= max_docs_per_chunk))
        .select(F.array_sort("ds").alias("ds"))
    )
    ds = F.col("ds")
    return (
        grouped.select(F.explode(_ordered_pair_structs(ds, "id_a", "id_b")).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def keep_best_per_component(
    components: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Canonical-document selection per dedup cluster: keep the member
    with the highest ``quality_col`` (ties to the smallest id) — the
    realistic curation action (SemDeDup keeps an arbitrary representative;
    production pipelines keep the best one).

    ``components`` is :func:`dedup_components` output (``doc,
    component``); ``docs`` carries the quality signal. One broadcast-able
    join (components frame scales with matched docs only) + one window
    argmax per component."""
    j = components.join(
        docs.select(F.col(id_col).alias("doc"), F.col(quality_col).alias("_q")), "doc"
    )

    w = Window.partitionBy("component").orderBy(F.col("_q").desc(), F.col("doc").asc())
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .withColumn("_nm", F.count(F.lit(1)).over(Window.partitionBy("component")))
        .filter(F.col("_rn") == 1)
        .select(
            "component",
            F.col("doc").alias("kept_doc"),
            F.col("_q").alias("kept_quality"),
            F.col("_nm").alias("n_members"),
        )
    )


def edit_distance_verify(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_sim: float = 0.6,
) -> DataFrame:
    """Exact edit-distance CONFIRM pass over candidate pairs: joins the
    two texts onto each (id_a, id_b) candidate and keeps pairs whose
    normalized Levenshtein similarity ``1 - lev/max(len_a, len_b)`` meets
    ``min_sim`` — the standard verify stage after a cheap generator
    (chunk/LSH/SimHash candidates), turning probabilistic recall into
    certified pairs.

    Scale notes: Levenshtein is O(len_a * len_b) per pair, so it must
    only ever run on the CANDIDATE set, never all pairs — cost is
    pairs * len^2, independent of corpus^2. Both text joins are plain
    equi-joins on the id (broadcast when the candidate set is small;
    AQE picks otherwise)."""
    t = df.select(F.col(id_col), F.col(text_col))
    a = t.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta"))
    b = t.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb"))
    j = pairs.join(a, "id_a").join(b, "id_b")
    # Exact prune before the O(len^2) DP: lev >= |len_a - len_b|, so when
    # even the length bound cannot reach min_sim the pair is skipped
    # without computing Levenshtein. Results are identical (the bound is
    # a true lower bound); measured 7.5s -> ~2s on the sf0.1 bench.
    la, lb = F.length("_ta"), F.length("_tb")
    # greatest(..., 1) guards the two-empty-strings pair (identical, so
    # lev = 0 and sim must be 1.0, not a division by zero)
    bound_sim = 1.0 - F.abs(la - lb) / F.greatest(la, lb, F.lit(1))
    # slack matches the final round(sim, 6) filter: a pair whose TRUE
    # bound rounds up to exactly min_sim at 6dp must survive the prune
    j = j.filter(bound_sim >= min_sim - 5e-7)
    # Banded DP: sim >= min_sim  <=>  lev <= (1-min_sim)*maxlen, so running
    # Levenshtein with a per-row threshold (Spark >= 3.5, Ukkonen band of
    # width 2*threshold+1) turns O(len^2) into O(len * threshold) and
    # returns -1 for pairs over the bound. The threshold is padded by +1
    # because (1-min_sim) is a binary double that may round BELOW the true
    # rational (1-0.8 = 0.79999...96), and floor() of that would drop
    # exact-boundary pairs (sim == min_sim). The pad makes the banded pass
    # a strict SUPERSET prefilter; the exact `sim >= min_sim` filter below
    # re-establishes the precise boundary, so results match the full DP.
    max_len = F.greatest(la, lb, F.lit(1))
    lev = F.expr(
        "levenshtein(_ta, _tb, cast(floor({b} * greatest(length(_ta), length(_tb))) as int) + 1)".format(
            b=1.0 - min_sim
        )
    )
    sim = 1.0 - lev / max_len
    return (
        j.select(
            "id_a",
            "id_b",
            lev.cast("long").alias("lev"),
            F.round(sim, 6).alias("sim"),
        )
        .filter((F.col("lev") >= 0) & (F.col("sim") >= min_sim))
    )


# public alias: chunk construction is useful on its own (q108 groups the
# census by source; external callers shouldn't reach for the underscore)
doc_chunks = _doc_chunks


def dup_substring_ratio(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 8
) -> DataFrame:
    """Per-document duplicated-substring ratio (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — the
    suffix-array substring-dedup signal as a scan-friendly diagnostic):
    the fraction of a document's n-word-gram POSITIONS whose gram occurs
    anywhere else in the corpus, including elsewhere in the same
    document. Documents dominated by corpus-duplicated spans are
    boilerplate/syndication candidates even when no whole-document
    fingerprint matches. Returns (doc_id, n_positions, n_dup_positions,
    dup_ratio); documents with fewer than ``n`` tokens drop out.

    Scale shape: ONE materialized posting pass (:func:`shingle_postings`,
    codegen posexplode + window lead) feeds both the global gram census
    (map-side-combined groupBy on the gram key) and the postings->census
    scoring equi-join — no all-pairs anything; the distinct-gram census
    is the natural build side at 100 TB. Positions, not distinct grams,
    are scored, so a doc repeating one spammy sentence 50 times scores
    50 duplicated positions."""
    post = shingle_postings(df, id_col, text_col, n, distinct=False).localCheckpoint(
        eager=True
    )
    gcnt = post.groupBy("shingle").agg(F.count(F.lit(1)).alias("_c"))
    return (
        post.join(gcnt, "shingle")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_positions"),
            F.sum(F.when(F.col("_c") > 1, 1).otherwise(0)).cast("long").alias("n_dup_positions"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_positions",
            "n_dup_positions",
            F.round(F.col("n_dup_positions") / F.col("n_positions"), 6).alias("dup_ratio"),
        )
    )


def chunk_scrub_rebuild(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-level chunk REMOVAL with document reassembly — the
    RefinedWeb / CCNet "drop lines repeated across documents" curation
    step (Penedo et al. 2023 §3.2), adapted to newline-free corpora by
    using consecutive non-overlapping ``chunk_words``-word chunks as the
    line unit. A chunk that occurs in at least ``min_docs`` DISTINCT
    documents is treated as boilerplate and removed from EVERY document
    (not deduplicated to one survivor — syndicated spans carry no
    per-document information); the surviving chunks are re-joined in
    their original order into ``clean_text``.

    Returns ``(id_col, n_chunks, n_removed, clean_text)`` for every
    document with at least one token.

    Scale shape: chunk assembly is codegen ``transform + slice`` with a
    ``posexplode`` fan-out carrying the original position; the corpus-wide
    document-frequency census is one map-side-combining groupBy on the
    chunk string, the verdict joins back on the same ~uniform key, and
    reassembly is ONE groupBy on the document id (``array_sort`` of
    (pos, chunk) structs restores order without a per-document window
    sort). No stage is quadratic; the only skew candidates are hot
    boilerplate chunks, which is exactly what the census measures.
    """
    toks = df.select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("t")
    ).filter(F.size("t") > 0)
    ch = toks.select(
        "doc",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(t) / {chunk_words}.0) as int) - 1),"
                f" c -> array_join(slice(t, c * {chunk_words} + 1, {chunk_words}), ' '))"
            )
        ).alias("pos", "chunk"),
    )
    census = ch.groupBy("chunk").agg(F.countDistinct("doc").alias("df_docs"))
    flagged = ch.join(census, "chunk")
    kept_struct = F.when(
        F.col("df_docs") < min_docs, F.struct(F.col("pos"), F.col("chunk"))
    )
    return (
        flagged.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("df_docs") >= min_docs, 1).otherwise(0))
            .cast("long")
            .alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda x: x["chunk"]
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(
            F.col("doc").alias(id_col), "n_chunks", "n_removed", "clean_text"
        )
    )


def stitch_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_df: int = 64,
) -> DataFrame:
    """Split-document reconstruction audit: candidate (a, b) pairs where
    document a's LAST ``k`` tokens equal document b's FIRST ``k`` tokens —
    the signal that a shard boundary, a pagination cut, or a crawler
    truncation split one logical document into two stored rows (the
    continuation re-states the cut sentence). Documents shorter than
    ``2k`` tokens are skipped (head and tail would overlap).

    ``max_df`` caps HOT boundary grams on both sides: a gram opening (or
    closing) more than ``max_df`` documents is a template phrase
    ("chapter one", a boilerplate footer), and joining through it is a
    quadratic blowup that identifies nothing — at k=2 on the test corpus
    the uncapped join is ~30x the k=3 pair count, all template noise.
    Capped grams are dropped from BOTH sides, so the cap only ever
    removes template pairs, never reorders real ones.

    Scale shape: one scan builds (head, tail) boundary grams per doc;
    two gram-keyed censuses bound the join inputs; the tail->head
    equi-join is candidate-sized. No self-join of the corpus, no
    cross product.
    """
    t = df.select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("w")
    ).filter(F.size("w") >= 2 * k)
    g = t.select(
        "doc",
        F.array_join(F.slice("w", 1, k), " ").alias("head"),
        F.array_join(F.slice("w", -k, k), " ").alias("tail"),
    )
    head_df = g.groupBy(F.col("head").alias("gram")).agg(
        F.count(F.lit(1)).alias("h_df")
    )
    tail_df = g.groupBy(F.col("tail").alias("gram")).agg(
        F.count(F.lit(1)).alias("t_df")
    )
    ok = head_df.join(tail_df, "gram", "full").filter(
        (F.coalesce("h_df", F.lit(0)) <= max_df)
        & (F.coalesce("t_df", F.lit(0)) <= max_df)
    )
    a = g.select(F.col("doc").alias("a_id"), F.col("tail").alias("gram")).join(
        ok.select("gram"), "gram"
    )
    b = g.select(F.col("doc").alias("b_id"), F.col("head").alias("gram")).join(
        ok.select("gram"), "gram"
    )
    return a.join(b, "gram").filter(F.col("a_id") != F.col("b_id")).select(
        "a_id", "b_id", "gram"
    )


def neardup_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.2,
    hash_fn: str = "md5",
) -> DataFrame:
    """NEAR-duplicate train/eval decontamination: flag corpus documents
    whose n-gram Jaccard with any benchmark document clears ``threshold``,
    generated by cross-corpus banded-MinHash LSH and verified with the
    exact Jaccard — the missing rung between exact-match decontamination
    (:func:`contamination_flags`) and rewritten/paraphrased leakage that
    exact n-gram probes miss (the GPT-3 appendix-C / Lee et al. 2022
    near-dup contamination protocol, both public).

    Plan shape (the 100 TB story):
      1. each side shingles + minhash-signs independently — the corpus
         contributes its ONE groupBy(doc) signature shuffle;
      2. band buckets equi-join with the BENCHMARK side broadcast (eval
         suites are ~1e3–1e6 rows; the corpus never reshuffles for the
         probe and never self-joins);
      3. exact-Jaccard verification runs only on gram-overlapping pairs,
         again via a broadcast of the benchmark posting list.
    Returns (corpus_doc, bench_doc, jaccard >= threshold), candidates
    gated by BOTH the LSH recall stage and the exact precision stage.

    ``hash_fn='md5'`` keeps every hash reproducible in the DuckDB oracle
    (q217); pass 'xxhash64' for production speed."""
    rows_per_band = num_hashes // bands
    # The posting pass feeds BOTH the signature aggregate and the
    # exact-Jaccard verify set. Deliberately NOT checkpointed: the
    # occurrence-level posting list is the biggest frame in the pipeline
    # (every gram occurrence), and materializing it costs more than the
    # second shingle-window evaluation (measured 4.1 s -> 7.0 s at
    # sf0.1). At 100 TB persist the DISTINCT posting set to storage
    # instead if the corpus scan dominates.
    post_c = shingle_postings(corpus, id_col, text_col, shingle_n, distinct=False)
    post_b = shingle_postings(bench, id_col, text_col, shingle_n, distinct=False)
    sig_c = minhash_signatures(
        corpus, id_col, text_col, num_hashes, shingle_n, hash_fn, postings=post_c
    )
    sig_b = minhash_signatures(
        bench, id_col, text_col, num_hashes, shingle_n, hash_fn, postings=post_b
    )

    def _banded(sigs: DataFrame, side: str) -> DataFrame:
        band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
        band_str = F.concat_ws(",", F.transform(
            F.slice("signature", F.col("band") * rows_per_band + 1, rows_per_band),
            lambda x: x.cast("string"),
        ))
        b = sigs.select(F.col("doc").alias(side), band_idx, "signature")
        return b.withColumn(
            "bucket", band_str if hash_fn == "md5" else F.xxhash64(band_str)
        ).drop("signature")

    cand = (
        _banded(sig_c, "corpus_doc")
        .join(F.broadcast(_banded(sig_b, "bench_doc")), ["band", "bucket"])
        .select("corpus_doc", "bench_doc")
        .distinct()
    )

    pc = post_c.select(F.col("doc").alias("corpus_doc"), "shingle").distinct()
    pb = post_b.select(F.col("doc").alias("bench_doc"), "shingle").distinct()
    nc = pc.groupBy("corpus_doc").agg(F.count(F.lit(1)).alias("n_c"))
    nb = pb.groupBy("bench_doc").agg(F.count(F.lit(1)).alias("n_b"))
    inter = (
        pc.join(F.broadcast(pb), "shingle")
        .groupBy("corpus_doc", "bench_doc")
        .agg(F.count(F.lit(1)).alias("n_i"))
    )
    jacc = (
        cand.join(inter, ["corpus_doc", "bench_doc"])
        .join(nc, "corpus_doc")
        .join(F.broadcast(nb), "bench_doc")
        .select(
            "corpus_doc",
            "bench_doc",
            F.round(
                F.col("n_i") / (F.col("n_c") + F.col("n_b") - F.col("n_i")), 6
            ).alias("jaccard"),
        )
    )
    return jacc.filter(F.col("jaccard") >= threshold)


def lsh_cobucket_bfs(
    df: DataFrame,
    seeds: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    rounds: int = 2,
    hash_fn: str = "md5",
) -> DataFrame:
    """Transitive contamination closure over the LSH CO-BUCKET graph:
    BFS from a seed document set through the bipartite doc <-> (band,
    bucket) graph, ``rounds`` co-bucket hops deep. "Everything within
    two near-dup hops of a known-contaminated document" is the
    transitive cleanup a decontamination pass runs after q217 flags the
    direct hits — near-dups of near-dups syndicate leakage that direct
    LSH probing misses.

    The bipartite walk IS the scale trick: expanding doc -> bucket ->
    doc through hub nodes keeps every step an equi-join linear in the
    edge table (8 bands x docs), never materializing the quadratic
    co-bucket pair set a hot bucket would explode into.

    Returns (doc, dist): minimum co-bucket distance from the seed set in
    DOC hops (0 = seed, 1 = shares a band bucket with a seed, ...),
    docs within ``rounds`` hops only.

    ``hash_fn='md5'`` keeps the banding reproducible in the DuckDB
    oracle (q221); 'xxhash64' is the production path."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, hash_fn
    )
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    band_str = F.concat_ws(",", F.transform(
        F.slice("signature", F.col("band") * rows_per_band + 1, rows_per_band),
        lambda x: x.cast("string"),
    ))
    edges = (
        sigs.select("doc", band_idx, "signature")
        .select(
            "doc",
            F.concat_ws(":", F.col("band").cast("string"), band_str).alias("bkey"),
        )
        .localCheckpoint(eager=True)
    )

    dd = seeds.select(F.col(id_col).alias("doc"), F.lit(0).alias("dist"))
    for _ in range(rounds):
        bd = (
            edges.join(dd, "doc")
            .groupBy("bkey")
            .agg((F.min("dist") + 1).alias("bdist"))
        )
        reached = (
            edges.join(bd, "bkey")
            .groupBy("doc")
            .agg((F.min("bdist") + 1).alias("dist"))
        )
        dd = (
            dd.unionByName(reached)
            .groupBy("doc")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    # distances count DOC hops: bucket hops are internal (0,2,4,... user
    # facing as 0,1,2)
    return dd.select("doc", (F.col("dist") / 2).cast("long").alias("dist"))
