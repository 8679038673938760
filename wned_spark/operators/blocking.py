"""Blocking: token keys with hot-key salting + MinHash-LSH band keys (J2).

Replaces the reference's Lucene bigram fuzzy search
(``AliasLuceneIndex.java:247-300``) with set-similarity blocking:

- token keys: every non-stopword token of the normalized surface
  (exact-lookup recall path, J1-analog), plus 4-char prefix/suffix
  affix keys (a single in-token swap/drop keeps one of them intact —
  typo recall);
- MinHash band keys over character bigrams — the fuzzy recall path,
  same collision shape as the reference's bigram index probe, computed
  per-band directly (no signature materialization) so the whole key
  computation is ``num_hashes`` codegen'd array_min-transforms;
- skew control (salting of hot mention-token blocking keys):
  keys hotter than ``max_block_size`` are split into
  ``ceil(freq/max_block_size)`` deterministic sub-blocks, bounding any
  block's pair count; AQE skew-join splits residue at runtime.

BLOCKING RUNS ON DISTINCT SURFACES, NOT MENTION OCCURRENCES. A corpus
with 10^12 turns still has a name dictionary of merely millions of
distinct normalized surfaces; pair generation over surfaces keeps the
self-join quadratic in dictionary size, not corpus size. Mentions are
assigned to clusters by surface afterwards (pipeline.py). The
reference does the same thing — its candidate machinery operates on
surface forms against the alias dictionary, never on occurrences.

Pair dedup uses ``left < right`` — mirroring the reference's
``name1.compareTo(name2)`` guard (``WikiGraphExtractor.java:71-72``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wned_spark.config import ERConfig
from wned_spark.functions.shingles import char_shingles, minhash_band_keys_direct

_STOPWORDS = [
    "the", "a", "an", "of", "and", "or", "in", "on", "at", "to", "for",
    "inc", "ltd", "co", "corp", "llc", "dr", "mr", "mrs", "ms", "prof",
]


def surfaces_of(mentions: DataFrame) -> DataFrame:
    """Distinct normalized surfaces of a mentions table → (sid, sn).
    sid is the stable 64-bit node id (same hash as the co-occurrence
    graph nodes, operators/graph.py)."""
    key_col = "canon_norm" if "canon_norm" in mentions.columns else "surface_norm"
    return (
        mentions.select(F.col(key_col).alias("sn"))
        .distinct()
        .select(F.xxhash64("sn").alias("sid"), "sn")
    )


def block_keys(surfaces: DataFrame, cfg: ERConfig = ERConfig()) -> DataFrame:
    """surfaces(sid, sn) → (sid, block_key); one row per key."""
    base = surfaces.select("sid", "sn")

    tok_rows = base.select(
        "sid", F.explode(F.split(F.col("sn"), r"[\s\.]+")).alias("tok")
    ).filter((F.length("tok") >= 3) & (~F.col("tok").isin(_STOPWORDS)))
    toks = tok_rows.select(
        "sid", F.concat(F.lit("tok:"), F.col("tok")).alias("block_key")
    )
    # two-step select: materialize the shingle array as a named column
    # first. Passing char_shingles(...) straight into the band builder
    # inlined the whole shingle subtree into each of the ``num_hashes``
    # min-hash transforms — 48 copies to analyze on the driver (the
    # dominant cost of this stage's plan build) and 48 evaluations per
    # row at runtime. With a multi-referenced non-trivial alias,
    # CollapseProject keeps the projections separate, so the array is
    # built once per row and the tree carries one copy.
    sh_base = base.select(
        "sid", char_shingles(F.col("sn"), n=cfg.shingle_size).alias("chsh")
    )
    bands = minhash_band_keys_direct(
        F.col("chsh"), cfg.minhash_num_hashes, cfg.minhash_band_size
    )
    mh = sh_base.select("sid", F.explode(bands).alias("bk")).select(
        "sid", F.concat(F.lit("mh:"), F.col("bk").cast("string")).alias("block_key")
    )
    out = toks.union(mh)

    if cfg.affix_keys:
        affix = (
            tok_rows.filter(F.length("tok") >= 5)
            .select(
                "sid",
                F.explode(
                    F.array(
                        F.concat(F.lit("pfx:"), F.substring("tok", 1, 4)),
                        F.concat(F.lit("sfx:"), F.substring("tok", -4, 4)),
                    )
                ).alias("block_key"),
            )
        )
        out = out.union(affix)
    return out


def salt_hot_keys(keys: DataFrame, cfg: ERConfig = ERConfig()) -> DataFrame:
    """Deterministic salting of hot block keys: a pre-pass counts rows
    per key (map-side-combinable groupBy); keys over the cap split into
    ceil(freq/cap) sub-blocks by hash(sid) % n_salts. Lossy within the
    hot key by design — Zipf-head token blocks carry no signal."""
    freqs = keys.groupBy("block_key").agg(F.count("*").alias("key_freq"))
    n_salts = F.ceil(F.col("key_freq") / cfg.max_block_size).cast("int")
    return (
        keys.join(freqs, "block_key")
        .filter(F.col("key_freq") <= cfg.drop_block_size)
        .withColumn("n_salts", n_salts)
        .withColumn(
            "salt",
            F.when(F.col("n_salts") <= 1, F.lit(0)).otherwise(
                F.pmod(F.xxhash64("sid", F.lit(7919)), F.col("n_salts")).cast("int")
            ),
        )
        .select(F.concat_ws("#", "block_key", "salt").alias("block_key"), "sid")
    )


def candidate_surface_pairs(surfaces: DataFrame, cfg: ERConfig = ERConfig()) -> DataFrame:
    """Blocked self-join over distinct surfaces → candidate pairs
    (left_sid < right_sid) carrying both normalized strings.

    The key table is lazily checkpointed before the self-join: the
    MinHash band keys are a ~48-expression tree, and planning the
    self-join over TWO copies of it (plus the salting join) costs
    multiple seconds of serial driver time; a flat LogicalRDD keeps the
    join plan small, and the keys are computed once instead of twice."""
    keys = salt_hot_keys(block_keys(surfaces, cfg), cfg)
    # the key table inherits the (small) surfaces hub's partitioning;
    # without a spread, key explosion + the self-join map side run in
    # those few tasks regardless of cluster width
    keys = keys.repartition(
        2 * surfaces.sparkSession.sparkContext.defaultParallelism
    )
    keys = keys.localCheckpoint(eager=False)
    a, b = keys.alias("a"), keys.alias("b")
    pairs = (
        a.join(b, "block_key")
        .filter(F.col("a.sid") < F.col("b.sid"))
        .select(F.col("a.sid").alias("left_sid"), F.col("b.sid").alias("right_sid"))
        .distinct()
    )
    s = surfaces.select("sid", "sn")
    return (
        pairs.join(
            s.withColumnRenamed("sid", "left_sid").withColumnRenamed("sn", "left_norm"),
            "left_sid",
        ).join(
            s.withColumnRenamed("sid", "right_sid").withColumnRenamed("sn", "right_norm"),
            "right_sid",
        )
    )
