"""Pairwise feature scoring + rank combination (R1-R4, R15, J7/J8, A6).

Feature family mirrors the reference's four-feature candidate scoring
(``utils/Feature.java:20-38``: prior, local, semSim, nameSim) recast
for mention PAIRS:

- name_jw / name_lev / name_dice — the nameSim block (StringSim.java),
  computed once per DISTINCT surface pair and joined back to mention
  pairs (a huge dedup at scale: Zipf surface distribution means a few
  thousand distinct pairs cover millions of mention pairs);
- sig_cosine — semSim: PPR semantic-signature similarity (J7/J8);
- shared_prior — prior: max over shared candidate entities of
  min(prior_l, prior_r) (J1-derived);
- score — LINEAR rank combination over configured weights
  (Feature.java:40-62; the reference's shipped config resolves to
  LINEAR, see config.py note), renormalized over present features.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wned_spark.config import ERConfig
from wned_spark.functions.shingles import char_shingles
from wned_spark.functions.similarity import (
    bigram_dice_multiset,
    jaro_winkler,
    jaro_winkler_udf,
    levenshtein_norm,
)


def string_features(surface_pairs: DataFrame, cfg: ERConfig = ERConfig()) -> DataFrame:
    """R2/R3/R4/R15 per-pair string features, added as columns
    ``name_jw``/``name_lev``/``name_dice`` to the (left_norm,
    right_norm) rows of ``surface_pairs``: Jaro-Winkler (the one
    Python-UDF feature), normalized Levenshtein, multiset bigram Dice
    (AliasLuceneIndex.java:327-329 — min-counts over non-distinct
    bigrams, faithful on reduplicated names). Every input row and
    column is kept.

    The PIPELINE calls this on the gated pair table, AFTER the SoftTFIDF
    cascade gate: only ``name_soft`` feeds the gate, so evaluating the
    JW UDF on gate survivors (~5% of blocked pairs at bench scale)
    instead of every blocked pair removes ~95% of the hottest stage's
    Python work — mirroring the reference, which scores fuzzy candidates
    only after the candidate-selection prune (CSUtils.java:53-78).

    The UDF runs in 2 × defaultParallelism round-robin tasks, with no
    size probe: sizing the width from the row count cost a checkpoint
    and a count job on every call."""
    n = cfg.shingle_size
    width = 2 * surface_pairs.sparkSession.sparkContext.defaultParallelism
    return surface_pairs.repartition(width).select(
        "*",
        jaro_winkler_udf(F.col("left_norm"), F.col("right_norm")).alias("name_jw"),
        levenshtein_norm(F.col("left_norm"), F.col("right_norm")).alias("name_lev"),
        bigram_dice_multiset(
            char_shingles(F.col("left_norm"), n, distinct=False),
            char_shingles(F.col("right_norm"), n, distinct=False),
        ).alias("name_dice"),
    )


# tokens whose idf soft_tfidf_feature pulls to the driver, highest df
# first; every other token gets ln(1 + N), the idf of a df=1 token
SOFT_IDF_HEAD = 500_000


def soft_tfidf_feature(surface_pairs: DataFrame, cfg: ERConfig = ERConfig()) -> DataFrame:
    """R5 SoftTFIDF (``StringSim.java:105-160``), added as column
    ``name_soft`` to every row of ``surface_pairs`` (which carries
    ``left_norm`` and ``right_norm``). Rows keep every column and their
    multiplicity; a duplicated row gets the same score twice.

    soft(A,B) = max over directions of
        sum_{t in A, best(t,B) >= theta} idf(t) * best(t, B)
        / sum_{t in A} idf(t)
    with best(t,B) = max over b in B of JW(t,b) and theta =
    ``cfg.soft_theta``. A single-letter token of A matches any token of
    B sharing its first letter (initial expansion, R10-lite); a longer A
    token never matches a single-letter B token — the rule runs from
    the initial's side only. idf(t) = ln(1 + N/df(t)), with df the
    number of distinct surfaces of the pair set containing t. Each
    direction sums in token order, so the score does not depend on the
    plan.

    One action pulls the idf head and N to the driver. The pull is
    bounded: only the ``SOFT_IDF_HEAD`` highest-df tokens collect (a
    misspelling-heavy corpus can make distinct name tokens
    O(distinct surfaces)). Every other token gets ``ln(1 + N)`` —
    exactly the idf of a df=1 token, so the cap is lossless for the
    singleton tail and only approximates the middle of the Zipf curve,
    where idf varies slowly. The scores are then one Arrow-batched UDF
    projection: a map stage with no shuffle."""
    import math
    import re

    theta = cfg.soft_theta
    surfaces = (
        surface_pairs.select(F.col("left_norm").alias("s"))
        .union(surface_pairs.select(F.col("right_norm").alias("s")))
        .distinct()
    )
    toks = surfaces.select(
        "s",
        F.explode(F.filter(F.split(F.col("s"), r"[\s\.]+"), lambda t: t != "")).alias("tok"),
    ).distinct()
    head = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("df"))  # rows are distinct (s, tok) already
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(SOFT_IDF_HEAD)
    )
    # ONE action returns the idf head and N (the one-row surface count
    # left-joined to the head, so an empty head still yields N)
    rows = surfaces.agg(F.count("*").alias("n")).join(head, F.lit(True), "left").collect()
    n_surfaces = max(1, rows[0]["n"])
    idf = {r["tok"]: math.log(1.0 + n_surfaces / r["df"]) for r in rows if r["df"]}
    default_idf = math.log(1.0 + n_surfaces)

    def _tokens(s: str) -> list[str]:
        return [t for t in re.split(r"[\s\.]+", s) if t]

    # per-worker memo for the token-level JW kernel: name tokens are
    # Zipf-distributed, so the same (surname, surname) comparisons
    # recur across thousands of surface pairs — the pure-Python JW at
    # ~20µs/call was the pipeline's hottest loop. Bounded so a
    # pathological vocabulary can't grow it without limit.
    _jw_cache: dict = {}

    def _jw(t: str, b: str) -> float:
        key = (t, b)
        v = _jw_cache.get(key)
        if v is None:
            if len(_jw_cache) > 2_000_000:
                _jw_cache.clear()
            v = jaro_winkler(t, b)
            _jw_cache[key] = v
        return v

    def _direction(ta: list[str], tb: list[str]) -> float:
        num = den = 0.0
        for t in ta:
            w = idf.get(t, default_idf)
            den += w
            best = 0.0
            for b in tb:
                if len(t) == 1:
                    sim = 1.0 if t[0] == b[0] else 0.0
                elif len(b) == 1:
                    sim = 0.0
                else:
                    sim = _jw(t, b)
                if sim > best:
                    best = sim
            if best >= theta:
                num += w * best
        return num / den if den else 0.0

    @F.pandas_udf(T.DoubleType())
    def soft_tfidf(a: pd.Series, b: pd.Series) -> pd.Series:
        out = np.empty(len(a), dtype=np.float64)
        for i in range(len(a)):
            x, y = a.iloc[i], b.iloc[i]
            if not isinstance(x, str) or not isinstance(y, str):
                out[i] = 0.0
                continue
            ta, tb = _tokens(x), _tokens(y)
            out[i] = max(_direction(ta, tb), _direction(tb, ta))
        return pd.Series(out)

    return surface_pairs.withColumn(
        "name_soft", soft_tfidf(F.col("left_norm"), F.col("right_norm"))
    )


def sum_normalize_per_group(
    df: DataFrame, group_cols: list[str], cols: list[str]
) -> DataFrame:
    """A6: per-mention feature sum-normalization
    (``disambiguation/L2RPredictor.java:44-57``): each feature column is
    divided by its sum over the group (the mention's candidate list).
    Zero-sum features stay zero (the reference skips them the same
    way). One window, no shuffle beyond the group partitioning."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols)
    out = df
    for c in cols:
        s = F.sum(c).over(w)
        out = out.withColumn(
            c, F.when(s == 0, F.col(c)).otherwise(F.col(c) / s)
        )
    return out


def _feat(features: DataFrame, name: str):
    """Feature column or 0.0 when the pipeline ran with it disabled."""
    return F.coalesce(F.col(name), F.lit(0.0)) if name in features.columns else F.lit(0.0)


def combine_scores(
    features: DataFrame, cfg: ERConfig = ERConfig(), scheme: str | None = None
) -> DataFrame:
    """R1 rank combination (``utils/Feature.java:40-164``), selectable
    via ``cfg.rank_scheme``:

    - LINEAR (default — what the reference's shipped config actually
      runs, see the WNEDConfig.java:175 parser quirk in config.py):
      weighted sum over the full pair-feature family, weights
      renormalized over the columns present.
    - MULTIPLY (``compareToJoint2``, Feature.java:150-163):
      ``alpha*prior*semSim + (1-alpha)*local*semSim`` with
      alpha = priorWeight; prior→shared_prior, local→ctx_cosine,
      semSim→sig_cosine in the pair recast.
    - NOR (noisy-or, ``compareToNOR``, Feature.java:128-138):
      ``1 - (1-prior)(1-local)(1-semSim)``.
    - VOTE is a pairwise-majority COMPARATOR, not a row-local score —
      use :func:`vote_copeland_score` with the group columns.

    MULTIPLY/NOR scores live on different scales than LINEAR; the
    ``match_threshold`` default is calibrated for LINEAR (ablation in
    tests/test_operators.py pins the per-scheme orderings instead).
    """
    scheme = (scheme or cfg.rank_scheme).upper()
    if scheme == "LINEAR":
        present = {k: w for k, w in cfg.feature_weights.items() if k in features.columns}
        total = sum(present.values())
        expr = None
        for k, w in present.items():
            term = F.coalesce(F.col(k), F.lit(0.0)) * (w / total)
            expr = term if expr is None else expr + term
        return features.withColumn("score", expr)
    p = _feat(features, "shared_prior")
    l = _feat(features, "ctx_cosine")  # noqa: E741
    s = _feat(features, "sig_cosine")
    if scheme == "MULTIPLY":
        alpha = cfg.prior_weight
        return features.withColumn("score", alpha * p * s + (1.0 - alpha) * l * s)
    if scheme == "NOR":
        return features.withColumn(
            "score", 1.0 - (1.0 - p) * (1.0 - l) * (1.0 - s)
        )
    raise ValueError(
        f"unknown rank scheme {scheme!r}; use LINEAR/MULTIPLY/NOR or vote_copeland_score for VOTE"
    )


def vote_copeland_score(
    df: DataFrame,
    group_cols: list[str],
    feature_cols: list[str] = ("shared_prior", "ctx_cosine", "sig_cosine"),
) -> DataFrame:
    """R1 VOTE (``compareToVote``, Feature.java:59-77) as a per-group
    Copeland score: within each group, a row earns one point per
    opponent it beats on a strict majority of the features (the Java
    pairwise comparator made transitive by counting wins — the standard
    relational recast of a majority-vote sort). Groups are candidate
    lists (≤ top_k ≈ 20 rows), so the within-group self-join is ≤400
    rows per group and shuffles only on the group key."""
    feats = [c for c in feature_cols if c in df.columns]
    majority = len(feats) // 2 + 1
    # score DISTINCT feature tuples, then join back: identical-feature
    # rows tie in the Java comparator (no vote) and must share one
    # score, not double-count each other's opponents
    d = df.select(*group_cols, *feats).distinct()
    a = d.alias("a")
    b = d.alias("b")
    wins_expr = None
    neq = None
    for c in feats:
        w = F.when(F.col(f"a.{c}") > F.col(f"b.{c}"), 1).otherwise(0)
        wins_expr = w if wins_expr is None else wins_expr + w
        ne = F.col(f"a.{c}") != F.col(f"b.{c}")
        neq = ne if neq is None else neq | ne
    pair_win = F.when(wins_expr >= majority, 1).otherwise(0)
    scored = (
        a.join(b, [F.col(f"a.{g}") == F.col(f"b.{g}") for g in group_cols])
        .filter(neq)
        .groupBy(*[F.col(f"a.{g}").alias(g) for g in group_cols],
                 *[F.col(f"a.{c}").alias(c) for c in feats])
        .agg(F.sum(pair_win).alias("score"))
    )
    key = group_cols + feats
    return (
        df.join(scored, key, "left")
        .na.fill({"score": 0})
        .withColumn("score", F.col("score").cast("double"))
    )
