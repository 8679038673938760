"""Document deduplication family — exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding near-dup.

These are the training-data-pipeline operators layered on the same
primitives the ER engine uses (shingles/minhash from
``functions/shingles.py``, connected components from ``operators/cc.py``).
All hot paths are Catalyst expressions; nothing collects to the driver.

Scale notes: exact dedup is one map-side-combinable groupBy on a 128-bit
digest; MinHash-LSH pair generation is a self-join on band keys whose
block sizes are bounded by construction (band collision implies high
Jaccard); verification joins back to shingle arrays only for colliding
pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wned_spark.operators.cc import connected_components


def word_shingles(col, n: int = 3):
    """Array of word n-gram shingles (distinct), JVM-side.

    r07: the empty-token filter is ``array_remove`` (same semantics,
    non-HOF), and shingles are built by zipping the token array with
    its own n-1 shifted slices instead of a per-index ``slice`` inside
    ``transform``. CRITICAL CAPTURE RULE learned re-measuring this: a
    column expression CAPTURED inside a higher-order lambda (the old
    ``F.slice(toks, i+1, n)``, or a ``F.get(toks, ...)`` probe) is
    re-evaluated — full split + array_remove — once per reference per
    array ELEMENT, because the captured tree is not the lambda's bound
    variable. ``zip_with`` arguments, by contrast, are evaluated once
    per ROW. Equivalences preserved exactly: ``zip_with`` pads the
    shorter side with nulls and ``concat_ws`` skips them, so a
    <n-token doc still emits its whole token list as one shingle; the
    index range 0..max(size-n, 0) is applied by slicing the zipped
    result; an empty-token doc still emits the single '' shingle
    (explicit branch — the zip of empty arrays is empty, while the old
    ``sequence(0,0)`` emitted one element); a null text still yields a
    null shingle array."""
    toks = F.array_remove(F.split(F.lower(col), r"[^a-z0-9]+"), "")
    sz = F.size(toks)
    shifted = [F.slice(toks, j + 1, F.greatest(sz - j, F.lit(0))) for j in range(1, n)]
    pairs = F.zip_with(
        shifted[0], shifted[1], lambda b, c: F.struct(b.alias("b"), c.alias("c"))
    ) if n == 3 else None
    if n == 3:
        grams = F.zip_with(
            toks, pairs, lambda a, s: F.concat_ws(" ", a, s["b"], s["c"])
        )
    elif n == 2:
        grams = F.zip_with(toks, shifted[0], lambda a, b: F.concat_ws(" ", a, b))
    else:  # generic fold for other n: nest zips, capture nothing
        grams = toks
        for sh_j in shifted:
            grams = F.zip_with(
                grams, sh_j, lambda acc, nxt: F.concat_ws(" ", acc, nxt)
            )
    # sz > 0 guard: both the empty-token doc AND the null-text doc take
    # the [''] branch — the spec form's greatest() ignores a null size,
    # so null text also emitted the single '' shingle there
    grams = F.when(sz > 0, F.slice(grams, 1, F.greatest(sz - n + 1, F.lit(1)))).otherwise(
        F.array(F.lit(""))
    )
    return F.array_distinct(grams)


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: md5 of the whitespace-normalized lowercased text;
    returns (digest, group_size, representative) for groups with >1
    member, where ``representative`` is the group's min id.

    SCALE DESIGN: the aggregate carries only COUNT + MIN per digest —
    both map-side combinable constant-size states — so a pathological
    corpus where billions of rows share one digest still produces a
    bounded row (an earlier ``collect_list(doc_ids)`` variant built
    that group's entire membership into a single unbounded array).
    Callers that need members join back on the digest::

        members = docs.withColumn("digest", md5(norm)).join(dups, "digest")
    """
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return (
        docs.select(F.col(id_col), F.md5(norm).alias("digest"))
        .groupBy("digest")
        .agg(
            F.count("*").alias("group_size"),
            F.min(id_col).alias("representative"),
        )
        .filter(F.col("group_size") > 1)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All document pairs with word-n-gram Jaccard >= threshold,
    computed RELATIONALLY (explode → shingle join → group) so it scales
    without materializing per-doc arrays on the driver:

        inter(a,b) = #shared shingles;  J = inter / (|A|+|B|-inter)

    This is the EXACTNESS ORACLE for the LSH paths; a corpus-frequent
    shingle is a hot join key whose block is quadratic in its document
    frequency. ``max_shingle_df`` caps that (mirroring blocking's
    ``drop_block_size``): shingles appearing in more than that many
    docs are dropped from the self-join only — doc sizes stay exact, so
    the intersection can only be UNDERcounted and Jaccard UNDERstated.
    That makes the cap a pure recall trade (pairs held together solely
    by corpus-common shingles may be missed) with precision intact; the
    default ``None`` keeps the operator exact for oracle use."""
    sh = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(F.col(text_col), n)).alias("sh"),
    ).distinct()
    # materialize once: sizes + both self-join branches reference this
    # frame — un-materialized, the shingle explode + distinct ran 3×
    # per call (r07, guide §2.4)
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    if max_shingle_df is not None:
        df_counts = sh.groupBy("sh").agg(F.count("*").alias("df"))
        sh = (
            sh.join(df_counts.filter(F.col("df") <= max_shingle_df), "sh")
            .select("doc", "sh")
        )
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "sh")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("left_doc"), F.col("b.doc").alias("right_doc"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc", "left_doc").withColumnRenamed("sz", "sz_l"), "left_doc")
        .join(sizes.withColumnRenamed("doc", "right_doc").withColumnRenamed("sz", "sz_r"), "right_doc")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_l") + F.col("sz_r") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("left_doc", "right_doc", "jaccard")
    )


def _oph_dense(sh: DataFrame, num_hashes: int) -> DataFrame:
    """(doc, bin, dv) densified OPH values via the RELATIONAL kernel:
    explode shingles → ONE ``xxhash64`` per shingle → map-side-combined
    ``groupBy(doc, pmod(h, k)).min`` (≤k rows per doc reach the
    shuffle) → exact rotation densification with two window passes.

    Semantics EQUAL the column-expression spec kernels
    (:func:`wned_spark.functions.shingles.oph_signature` /
    ``oph_densify``, parity-pinned element-for-element in tests DIRECTLY
    against this function, including sparse and zero-shingle documents)
    but run ~30× faster: Spark's higher-order array functions
    (``transform``/``aggregate``/``filter``) are CodegenFallback —
    interpreted, boxing every element — so a k-bin accumulator
    expression allocates a fresh k-array per shingle, while this
    formulation stays entirely inside whole-stage codegen. A document
    with zero shingles has an all-null grid (the doc list comes from
    the input, not the hash rows) and takes the same per-bin constant
    fallback as the spec kernel, so empty docs band deterministically
    and only with each other."""
    from pyspark.sql import Window

    from wned_spark.functions.shingles import _OPH_SEED

    k = num_hashes
    hs = sh.select("doc", F.explode("shingles").alias("s")).select(
        "doc", F.xxhash64("s", F.lit(_OPH_SEED)).alias("h")
    )
    binmin = hs.groupBy(
        "doc", F.pmod("h", F.lit(k)).alias("bin")
    ).agg(F.min("h").alias("v"))
    # (doc) grid × [0,k) bins, left-joined with the bin minima
    grid = sh.select("doc").distinct().select(
        "doc", F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("bin")
    )
    g = grid.join(binmin, ["doc", "bin"], "left")
    w_fwd = (
        Window.partitionBy("doc")
        .orderBy("bin")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w_all = (
        Window.partitionBy("doc")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    filled = F.when(F.col("v").isNotNull(), F.struct("bin", "v"))
    g = g.select(
        "doc",
        "bin",
        "v",
        F.coalesce(
            F.first(filled, ignorenulls=True).over(w_fwd),
            F.first(filled, ignorenulls=True).over(w_all),  # cyclic wrap
        ).alias("src"),
    )
    # borrow distance mixes the value (xxhash64(v, dist)) so borrowed
    # agreement stays distinct from direct agreement — densified OPH;
    # a fully-empty doc (src null everywhere) takes the spec kernel's
    # bin-indexed constant
    dist = F.pmod(F.col("src.bin") - F.col("bin"), F.lit(k))
    return g.select(
        "doc",
        "bin",
        F.when(F.col("src").isNull(), F.xxhash64(F.col("bin"), F.lit(-1)))
        .when(dist == 0, F.col("src.v"))
        .otherwise(F.xxhash64(F.col("src.v"), dist))
        .alias("dv"),
    )


def _oph_bands(
    sh: DataFrame, num_hashes: int, band_size: int
) -> DataFrame:
    """(doc, band) LSH keys over :func:`_oph_dense` values. The band
    count is floored exactly like the column kernels
    (``minhash_band_keys*``): leftover bins beyond n_bands*band_size
    are dropped, never emitted as a short (higher-collision) band."""
    n_bands = num_hashes // band_size
    dense = _oph_dense(sh, num_hashes)
    return dense.filter(F.col("bin") < n_bands * band_size).groupBy(
        "doc", (F.col("bin") / band_size).cast("int").alias("bandidx")
    ).agg(
        F.xxhash64(
            F.col("bandidx"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("bin", "dv"))),
                lambda x: x["dv"],
            ),
        ).alias("band")
    ).select("doc", "band")


def minhash_duplicate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 32,
    band_size: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: shingle → minhash → band → bucket
    self-join → exact-Jaccard verification of colliding pairs only.

    Sketches with one-permutation hashing — ONE string hash per
    shingle instead of ``num_hashes`` (:func:`_oph_bands`), a
    ~``num_hashes``× cut of the dominant sketch cost. Candidates are
    verified with EXACT Jaccard, so the sketch decides only the
    recall/candidate profile, never the reported pair truth."""
    # spread the sketch stage across all cores: a small-SF corpus often
    # arrives as ONE parquet file → one task doing every string hash.
    # Repartition the raw docs (text bytes, pre-shingle) by id so the
    # shingle+hash work parallelizes; at cluster scale the input is
    # already many partitions and this becomes a cheap no-op-ish
    # exchange that also balances skewed input files.
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par, F.col(id_col))

    sh = docs.select(
        F.col(id_col).alias("doc"),
        word_shingles(F.col(text_col), shingle_n).alias("shingles"),
    )
    sh = sh.persist()
    try:
        # band keys only — the (possibly large) shingle arrays do NOT ride
        # the self-join shuffle; they join back per DISTINCT candidate pair.
        # The (doc, band) keys are materialized ONCE before the self-join
        # (r07, guide §2.4): both join branches of an unmaterialized
        # frame re-derive its whole lineage, so the sketch chain
        # (explode → hash → bin-min → densify windows → band groupBy)
        # ran twice per call; the key table is two longs per row
        sig = _oph_bands(sh, num_hashes, band_size).localCheckpoint(eager=False)
        a, b = sig.alias("a"), sig.alias("b")
        cand_ids = (
            a.join(b, "band")
            .filter(F.col("a.doc") < F.col("b.doc"))
            .select(
                F.col("a.doc").alias("left_doc"),
                F.col("b.doc").alias("right_doc"),
            )
            .distinct()
        )
        cand = (
            cand_ids.join(
                sh.select(F.col("doc").alias("left_doc"), F.col("shingles").alias("sh_l")),
                "left_doc",
            ).join(
                sh.select(F.col("doc").alias("right_doc"), F.col("shingles").alias("sh_r")),
                "right_doc",
            )
        )
        inter = F.size(F.array_intersect("sh_l", "sh_r"))
        union = F.size("sh_l") + F.size("sh_r") - inter
        out = (
            cand.withColumn("jaccard", F.when(union == 0, 1.0).otherwise(inter / union))
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select("left_doc", "right_doc", "jaccard")
        )
        # materialize the verified pair list (O(duplicates), no arrays)
        # so the cached shingle table never outlives the call
        out = out.localCheckpoint(eager=False)
        out.count()
        return out
    finally:
        sh.unpersist()


def simhash(col, num_bits: int = 64):
    """SimHash over word tokens, pure expressions: for each bit b,
    sign of sum over tokens of (bit b of xxhash64(token) ? +1 : -1).
    Packed into one bigint via shiftleft + bitwise OR (Python ``1<<63``
    literals overflow LongType; JVM shiftleft wraps to the sign bit,
    which is the correct bit pattern).

    SPEC KERNEL ONLY (r07): each bit runs its own ``F.aggregate`` walk
    over the token array — ``num_bits`` interpreted CodegenFallback
    traversals per row, the exact HOF trap ``_oph_dense`` documents.
    Production paths use :func:`simhash_table` (relational, one hash
    per token, codegen throughout), parity-pinned element-for-element
    against this kernel in tests/test_extras.py."""
    toks = F.filter(F.split(F.lower(col), r"[^a-z0-9]+"), lambda t: t != "")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def vote_merge(bitmask):
        # closure factory: F.aggregate inspects lambda arity, so the
        # bitmask must be captured, not passed as a defaulted param
        return lambda acc, h: acc + F.when(h.bitwiseAND(bitmask) != 0, 1).otherwise(-1)

    out = F.lit(0).cast("long")
    for b in range(num_bits):
        # +1 when bit set else -1, summed over tokens → sign = bit b
        bitmask = F.shiftleft(F.lit(1).cast("long"), b)
        vote = F.aggregate(hashes, F.lit(0), vote_merge(bitmask))
        out = out.bitwiseOR(F.when(vote > 0, bitmask).otherwise(F.lit(0).cast("long")))
    return out


def simhash_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bits: int = 64,
) -> DataFrame:
    """(doc, sh) SimHash values via the RELATIONAL kernel (VERDICT r6
    #1, the ``_oph_dense`` playbook): explode tokens → ONE ``xxhash64``
    per token occurrence → per-doc groupBy computing the ``num_bits``
    ±1 vote sums as columnar conditional sums (map-side combinable,
    whole-stage codegen) → pack the sign bits into one bigint.

    Semantics EQUAL :func:`simhash` element-for-element (parity-pinned
    in tests/test_extras.py): duplicate tokens vote once per
    occurrence (explode keeps multiplicity); a document with zero
    tokens — empty, whitespace-only, or null text — has vote 0 on
    every bit in the spec kernel and therefore sh = 0, restored here
    by the left join + coalesce(0) (such docs never reach the
    explode)."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par, F.col(id_col))
    toks = F.array_remove(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"), ""
    )
    hs = docs.select(
        F.col(id_col).alias("doc"), F.explode(toks).alias("t")
    ).select("doc", F.xxhash64("t").alias("h"))
    masks = [F.shiftleft(F.lit(1).cast("long"), b) for b in range(num_bits)]
    votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(masks[b]) != 0, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(num_bits)
    ]
    g = hs.groupBy("doc").agg(*votes)
    out = F.lit(0).cast("long")
    for b in range(num_bits):
        out = out.bitwiseOR(
            F.when(F.col(f"v{b}") > 0, masks[b]).otherwise(F.lit(0).cast("long"))
        )
    sh = g.select("doc", out.alias("sh"))
    return (
        docs.select(F.col(id_col).alias("doc"))
        .join(sh, "doc", "left")
        .select("doc", F.coalesce("sh", F.lit(0).cast("long")).alias("sh"))
    )


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    num_bits: int = 64,
) -> DataFrame:
    """SimHash near-dup pairs: bucket on bit-bands of the simhash
    (a pair within hamming distance k collides on >=1 of k+1 bands —
    pigeonhole), verify with exact popcount.

    DEFAULT 64 BITS. At 64 bits / 4 bands each band key has 2^16
    distinct values, so band buckets hold ~n/65536 docs and the
    band self-join stays near-linear. (A 16-bit simhash gives 16
    values per band → bucket sizes O(n/16) → the self-join degenerates
    to ~all-pairs on a large corpus; never ship that default.)"""
    n_bands = max_hamming + 1
    band_bits = num_bits // n_bands

    def band_expr(i):
        # unsigned shift: the top band must not sign-extend; a band
        # spanning the whole long (max_hamming=0) needs no mask (and
        # (1<<64)-1 wouldn't fit a LongType literal anyway)
        shifted = F.shiftrightunsigned(F.col("sh"), i * band_bits)
        if band_bits < 63:
            shifted = shifted.bitwiseAND(F.lit((1 << band_bits) - 1).cast("long"))
        return F.concat_ws(":", F.lit(i), shifted.cast("string"))

    sh = simhash_table(docs, id_col, text_col, num_bits)
    bands = sh.select(
        "doc",
        "sh",
        F.explode(F.array(*[band_expr(i) for i in range(n_bands)])).alias("band"),
    )
    # materialize once: the self-join would otherwise run the whole
    # simhash aggregation on both branches (r07, guide §2.4)
    bands = bands.localCheckpoint(eager=False)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, "band")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("left_doc"),
            F.col("b.doc").alias("right_doc"),
            F.col("a.sh").alias("sh_l"),
            F.col("b.sh").alias("sh_r"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_l").bitwiseXOR(F.col("sh_r"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("left_doc", "right_doc", "hamming")
    )


def dedup_clusters(pairs: DataFrame, all_ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Duplicate pairs → transitive closure → (doc_id, dup_group) with
    min-id representative; singletons map to themselves (G8 reuse)."""
    comp = connected_components(
        pairs.select(F.col("left_doc").alias("u"), F.col("right_doc").alias("v"))
    )
    return (
        all_ids.select(F.col(id_col).alias("node"))
        .join(comp, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("component"), F.col("node")).alias("dup_group"),
        )
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.95,
    planes: int | None = None,
    n_tables: int = 8,
    target_bucket: int = 64,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: exact-cosine verification of
    candidates from ``n_tables`` independent random-projection sign
    buckets (hyperplanes pinned from xxhash64 — deterministic, no
    driver RNG).

    SCALE DESIGN — the bucket count must grow with the corpus:
    ``planes`` defaults to ceil(log2(n / target_bucket)) clamped to
    [8, 24], so expected bucket occupancy stays ~``target_bucket``
    and the within-bucket self-join stays near-linear regardless of n
    (a fixed plane count caps the partition at 2^planes buckets — a
    10^9-row corpus would put ~n/256 vectors in each and go quadratic).
    RECALL comes from the table count, not from fewer planes: a pair at
    angle θ agrees per-plane w.p. 1-θ/π, per-table w.p. (1-θ/π)^planes,
    overall 1-(1-p_table)^n_tables. At cosine 0.95 / 16 planes that is
    ~0.18 per table → ~0.80 at 8 tables, rising steeply toward 1.0 for
    the truly-near duplicates this operator targets."""
    if planes is None:
        import math

        n = embeddings.count()
        planes = max(8, min(24, math.ceil(math.log2(max(2, n) / target_bucket)) if n > target_bucket else 8))

    from wned_spark.operators.ann import _rp_bucket_t

    vecs = embeddings.select(F.col(id_col).alias("doc"), F.col(vec_col).alias("v")).persist()
    try:
        buckets = [_rp_bucket_t(F.col("v"), planes, t) for t in range(n_tables)]
        # only (doc, bucket) rides the self-join shuffle; vectors join back
        # per DISTINCT candidate pair (same shape as MinHash-LSH above).
        # Materialized once: the bucket expressions are planes×tables
        # interpreted array reductions per row, and the self-join would
        # evaluate them on both branches (r07, guide §2.4)
        bucketed = vecs.select(
            "doc", F.explode(F.array(*buckets)).alias("bucket")
        ).localCheckpoint(eager=False)
        a, b = bucketed.alias("a"), bucketed.alias("b")
        cand_ids = (
            a.join(b, "bucket")
            .filter(F.col("a.doc") < F.col("b.doc"))
            .select(F.col("a.doc").alias("left_doc"), F.col("b.doc").alias("right_doc"))
            .distinct()
        )
        cand = cand_ids.join(
            vecs.select(F.col("doc").alias("left_doc"), F.col("v").alias("v_l")), "left_doc"
        ).join(
            vecs.select(F.col("doc").alias("right_doc"), F.col("v").alias("v_r")), "right_doc"
        )
        dot = F.aggregate(
            F.zip_with(F.col("v_l"), F.col("v_r"), lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        norm = lambda c: F.sqrt(  # noqa: E731
            F.aggregate(
                F.transform(F.col(c), lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        out = (
            cand.withColumn("cosine", dot / (norm("v_l") * norm("v_r")))
            .filter(F.col("cosine") >= cosine_threshold)
            .select("left_doc", "right_doc", "cosine")
        )
        # materialize the verified pair list (O(duplicates), no vectors)
        # so the cached vector table never outlives the call
        out = out.localCheckpoint(eager=False)
        out.count()
        return out
    finally:
        vecs.unpersist()
