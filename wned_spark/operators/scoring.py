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


def soft_tfidf_feature(
    surface_pairs: DataFrame,
    cfg: ERConfig = ERConfig(),
    assume_distinct: bool = False,
) -> DataFrame:
    """Size-gated SoftTFIDF strategy (same decision shape as
    ``connected_components_auto``): below
    ``cfg.soft_relational_min_pairs`` distinct pairs the Arrow-UDF
    kernel runs — one map stage, no shuffles, and at dictionary scale
    its per-worker memo covers the whole vocabulary; above it the
    relational kernel (:func:`soft_tfidf_scores`) takes over, whose JW
    work is one call per distinct token pair corpus-wide regardless of
    partitioning. Both produce identical scores (parity-pinned).

    Both branches add ``name_soft`` as a column to DISTINCT pair rows
    (one row per (left, right)), so a caller's join back never
    multiplies rows. The strategy probe is a BOUNDED count —
    ``limit(gate+1).count()`` answers "are there at least ``gate``
    distinct pairs" without scanning past the gate.
    ``assume_distinct=True`` skips the dedup pass when the caller
    already guarantees one row per pair (the pipeline's blocked pairs
    are distinct by construction); the input rows are then returned
    with every column they carry."""
    pairs = (
        surface_pairs
        if assume_distinct
        else surface_pairs.select("left_norm", "right_norm").distinct()
    )
    gate = cfg.soft_relational_min_pairs
    if pairs.limit(gate + 1).count() < gate:
        udf = make_soft_tfidf_udf(pairs, theta=cfg.soft_theta)
        return pairs.withColumn("name_soft", udf(F.col("left_norm"), F.col("right_norm")))
    return soft_tfidf_scores(pairs, theta=cfg.soft_theta, assume_distinct=True)


def soft_tfidf_scores(
    surface_pairs: DataFrame, theta: float = 0.90, assume_distinct: bool = False
) -> DataFrame:
    """Relational SoftTFIDF over (left_norm, right_norm) pairs →
    (left_norm, right_norm, name_soft); with ``assume_distinct=True``
    the input rows keep every other column they carry.

    soft(A,B) = max over directions of
        sum_{t in A, best(t,B) >= theta} idf(t) * best(t, B)
        / sum_{t in A} idf(t)
    with best(t,B) = max over b in B of JW(t,b); a single-letter token
    t matches any b sharing its first letter (initial expansion,
    R10-lite), while a longer t never matches a single-letter b — the
    rule runs from the initial's side only; idf(t) = ln(1 + N/df(t)),
    df over distinct surfaces.

    SCALE DESIGN — this replaced an Arrow-batched per-pair UDF with a
    per-worker (token, token) JW memo. The memo version anti-scaled:
    its cache was private to each of E×C python workers, so the same
    Zipf-head token comparisons were recomputed in every partition and
    aggregate work GREW with executor count (measured 77 task-seconds
    at 2 executors → 762 at 8 for the same input). Here the Zipf dedup
    is GLOBAL and explicit: the JW UDF runs once per DISTINCT
    token-type pair in the whole pair set, every other step is
    joins/groupBys that Catalyst plans and AQE sizes. Also removes the
    old bounded driver vocabulary pull — idf stays distributed.
    """
    sp = (
        surface_pairs
        if assume_distinct
        else surface_pairs.select("left_norm", "right_norm").distinct()
    )
    # the token-pair expansion below is map-side over sp's partitions
    # and multiplies rows ~tₗ·tᵣ×; a byte-sized (often AQE-coalesced)
    # sp would run that CPU work in a handful of tasks.
    # r07: pinned + forced ONCE — sp is referenced from five subtrees
    # (surface union ×2, both direction expansions, the final join),
    # and under AQE each subtree lands in its own job, so exchange
    # reuse never fires across them: the UI showed SEVEN 32-task stages
    # re-running this repartition per call (guide §2.4/§7.1). One
    # bounded materialization serves them all from cache.
    sp = sp.repartition(
        2 * surface_pairs.sparkSession.sparkContext.defaultParallelism
    ).localCheckpoint(eager=False)
    sp.count()
    surfaces = (
        sp.select(F.col("left_norm").alias("s"))
        .union(sp.select(F.col("right_norm").alias("s")))
        .distinct()
    )

    def _toks(col):
        # array_remove == lambda filter (drops every ''), non-HOF
        return F.array_remove(F.split(col, r"[\s\.]+"), "")

    inst = surfaces.select(
        "s", F.posexplode(_toks(F.col("s"))).alias("pos", "tok")
    )
    # fused distinct-count (one exchange instead of distinct + groupBy)
    dfreq = inst.groupBy("tok").agg(F.countDistinct("s").alias("df"))
    n_df = surfaces.agg(F.count("*").cast("double").alias("n_surf"))
    # r07: tokidf and den are VOCABULARY-/DICTIONARY-sized tables whose
    # lineages (surface union-distinct → explode → aggregates) are the
    # expensive part — and each is referenced from more than one branch
    # of the final plan (tokidf: num join + den build; den: both
    # direction joins). Un-materialized, Catalyst re-derives those
    # chains per reference (guide §2.4) — measured 22 s → 9 s for the
    # whole kernel over 89k pairs from pinning the three small shared
    # tables (tokidf / den / sims) with lazy local checkpoints.
    tokidf = dfreq.crossJoin(F.broadcast(n_df)).select(
        "tok", F.log(1.0 + F.col("n_surf") / F.col("df")).alias("idf")
    ).localCheckpoint(eager=False)
    # denominator = Σ idf over a surface's token instances — depends on
    # the SURFACE alone, so it is a 1-row-per-surface table joined at
    # the very end, never carried through the token-pair expansion
    den = (
        inst.join(tokidf, "tok")
        .groupBy("s")
        .agg(F.sum("idf").alias("den"))
    ).localCheckpoint(eager=False)

    # Token-pair expansion is PURE MAP-SIDE: a pair row self-contains
    # both strings, so both token lists come from split() expressions —
    # the |pairs|·tₗ·tᵣ intermediate never rides a join or shuffle.
    def _expand(pos_side: str, other_side: str, direction: int) -> DataFrame:
        return sp.select(
            "left_norm",
            "right_norm",
            F.lit(direction).alias("dir"),
            F.posexplode(_toks(F.col(pos_side))).alias("pos_a", "tok_a"),
        ).select(
            "left_norm", "right_norm", "dir", "pos_a", "tok_a",
            F.explode(_toks(F.col(other_side))).alias("tok_b"),
        )

    tp_l = _expand("left_norm", "right_norm", 0)

    # ONE JW evaluation per distinct token-type pair corpus-wide (the
    # global Zipf dedup), THETA-FILTERED before joining back: tokens
    # whose best match is below theta contribute nothing to the
    # numerator, so dropping sub-theta sims up front shrinks the
    # aggregated rows by ~10× without changing any score. JW is
    # symmetric, so the same sims table serves both directions.
    # distinct token pairs are byte-light (~tens of bytes/row) but the
    # JW UDF is CPU-heavy: AQE's size-based coalescing would run it in
    # 1-4 tasks regardless of cluster width — spread it explicitly
    tpairs = tp_l.select("tok_a", "tok_b")
    # r07 LENGTH-RATIO PREFILTER (exact, guide §2.3 "don't compute what
    # you throw away"): only sims >= theta survive the filter below, and
    # JW admits a provable upper bound from lengths alone — with
    # m <= s := least(l_a, l_b) matches and transpositions >= 0,
    # jaro <= (s/l_a + s/l_b + 1)/3 <= (2 + s/L)/3 (L := greatest), and
    # the Winkler boost (prefix <= 4, scale 0.1) gives
    # jw <= 0.6*jaro + 0.4. So jw >= theta requires
    # s/L >= 5*theta - 4 (= 0.5 at the default theta 0.9): a token pair
    # failing that can NEVER pass the theta filter, and dropping it
    # before the distinct+UDF changes no score. Single-letter tokens are
    # exempt (they take the first-letter rule, not JW).
    ratio_min = 5.0 * theta - 4.0
    if ratio_min > 0.0:
        one_letter = (F.length("tok_a") == 1) | (F.length("tok_b") == 1)
        tpairs = tpairs.filter(
            one_letter
            | (
                F.least(F.length("tok_a"), F.length("tok_b"))
                >= ratio_min * F.greatest(F.length("tok_a"), F.length("tok_b"))
            )
        )
    # r07 PYTHON-BOUNDARY CUT (guide §4.1): a Python UDF inside a CASE
    # branch is extracted into an ArrowEvalPython projection that runs
    # on EVERY row — the old when/otherwise paid the JW boundary for the
    # single-letter rows too. Split the frame instead: the cheap cases
    # (single-letter first-letter rule, and equal tokens where
    # JW(x,x) == 1.0 identically — the Zipf-head diagonal) stay in
    # codegen, and only genuinely-hard pairs cross into Python. The
    # checkpoint pins the distinct output so the branches share it
    # instead of re-deriving the exchange.
    tpairs = tpairs.distinct().localCheckpoint(eager=False)
    # WORK-ADAPTIVE width for the JW stage (guide §2.2/§2.5): the JW
    # kernel is ~7 µs per pair while every extra ArrowEvalPython task
    # costs ~12 ms of Python-boundary round-trip (measured: the same
    # 89k pairs take 0.44 s in 8 tasks and 1.83 s in 128) — so size
    # the stage by rows of work per task (~50k ≈ 0.4 s of kernel each),
    # capped at 2× core count so a dictionary-scale pair set still
    # uses the whole cluster. The count is a bounded job over the
    # checkpointed id-pair table and doubles as its materialization.
    n_tp = tpairs.count()
    width = max(1, min(2 * sp.sparkSession.sparkContext.defaultParallelism,
                       -(-n_tp // 50_000)))
    one_letter = (F.length("tok_a") == 1) | (F.length("tok_b") == 1)
    cheap_case = one_letter | (F.col("tok_a") == F.col("tok_b"))
    sims_cheap = tpairs.filter(cheap_case).select(
        "tok_a",
        "tok_b",
        F.when(
            one_letter,
            (F.substring("tok_a", 1, 1) == F.substring("tok_b", 1, 1)).cast("double"),
        )
        .otherwise(F.lit(1.0))
        .alias("sim"),
    )
    sims_hard = tpairs.filter(~cheap_case).repartition(width).select(
        "tok_a",
        "tok_b",
        jaro_winkler_udf(F.col("tok_a"), F.col("tok_b")).alias("sim"),
    )
    # theta-filtered sims are O(matching token types) — tiny; pinned so
    # the symmetric column-swap union reads it instead of re-running
    # the JW projection twice. The materialization is FORCED here (one
    # bounded job over the token-pair table): a lazy checkpoint's cache
    # only serves hits after a partition completes, so the final plan's
    # two cold references (the union's branches can be scheduled
    # concurrently) each re-ran the whole ArrowEvalPython chain —
    # measured 12.5 s → ~6 s for the kernel over 89k pairs from this
    # one barrier (the round-3 cold-persist race, inside one action).
    sims = (
        sims_cheap.union(sims_hard)
        .filter(F.col("sim") >= theta)
        .localCheckpoint(eager=False)
    )
    sims.count()

    # r07 FUSED DIRECTIONS (guide §2.4): both directional scores ride
    # ONE matched-join → best-groupBy → idf-join → num-groupBy chain
    # keyed by a dir tag, instead of running the whole pyramid twice —
    # at dictionary scale the two directions' aggregates share every
    # exchange, and locally it halves the serial AQE stage count of the
    # pipeline's hottest stage. The sims table serves direction 1 by a
    # column swap UNIONED in (JW is symmetric; a duplicated (a,a) row
    # from the union is harmless under the max aggregate). Per-group
    # addends are unchanged, so scores equal the two-pass form (pinned
    # against the UDF kernel in tests/test_operators.py).
    tp_all = tp_l.union(_expand("right_norm", "left_norm", 1))
    # the initial rule is directional: a full A token never aligns with
    # a single-letter B token (a surname must not match the other
    # name's first-name initial)
    sims_sym = sims.union(
        sims.select(F.col("tok_b").alias("tok_a"), F.col("tok_a").alias("tok_b"), "sim")
    ).filter((F.length("tok_a") == 1) | (F.length("tok_b") > 1))
    matched = tp_all.join(sims_sym, ["tok_a", "tok_b"])
    best = matched.groupBy("left_norm", "right_norm", "dir", "pos_a", "tok_a").agg(
        F.max("sim").alias("best")
    )
    # direction pivot fused into ONE (left, right) aggregation: the two
    # per-direction numerators are conditional sums over the same rows
    # (sum skips the other direction's nulls), so the old
    # groupBy(l,r,dir) → per-direction den join → groupBy(l,r) chain
    # collapses to one exchange + two broadcast den joins
    num = (
        best.join(tokidf, best["tok_a"] == tokidf["tok"])
        .groupBy("left_norm", "right_norm")
        .agg(
            F.sum(
                F.when(F.col("dir") == 0, F.col("idf") * F.col("best"))
            ).alias("num_l"),
            F.sum(
                F.when(F.col("dir") == 1, F.col("idf") * F.col("best"))
            ).alias("num_r"),
        )
    )
    den_l = den.select(F.col("s").alias("left_norm"), F.col("den").alias("den_l"))
    den_r = den.select(F.col("s").alias("right_norm"), F.col("den").alias("den_r"))
    # left joins + null-safe whens: a direction with no matched tokens
    # (null num) or a token-less surface (no den row) scores 0, exactly
    # like the old per-direction inner join + outer coalesce
    scored_pairs = (
        num.join(den_l, "left_norm", "left")
        .join(den_r, "right_norm", "left")
        .select(
            "left_norm",
            "right_norm",
            F.greatest(
                F.coalesce(
                    F.when(F.col("den_l") > 0, F.col("num_l") / F.col("den_l")),
                    F.lit(0.0),
                ),
                F.coalesce(
                    F.when(F.col("den_r") > 0, F.col("num_r") / F.col("den_r")),
                    F.lit(0.0),
                ),
            ).alias("name_soft"),
        )
    )
    return sp.join(scored_pairs, ["left_norm", "right_norm"], "left").withColumn(
        "name_soft", F.coalesce("name_soft", F.lit(0.0))
    )


def make_soft_tfidf_udf(
    surface_pairs: DataFrame, theta: float = 0.9, max_vocab: int = 500_000
):
    """Build an Arrow-batched SoftTFIDF UDF with IDF weights computed
    from the distinct surfaces of the pair set.

    soft(A,B) = max over directions of
        sum_{t in A, best_jw(t,B) >= theta} idf(t) * best_jw(t, B)
        / sum_{t in A} idf(t)
    A single-letter token of A matches any token of B sharing its
    first letter (initial expansion, R10-lite); a longer A token never
    matches a single-letter B token. idf(t) = ln(1 + N/df(t)) with df =
    number of distinct surfaces containing t.

    THE DRIVER PULL IS BOUNDED: only the ``max_vocab`` highest-df
    tokens collect (one top-K, not the whole vocabulary — a
    misspelling-heavy multilingual corpus can make distinct name tokens
    O(distinct surfaces)). Every token outside the pulled head gets
    ``default_idf = ln(1 + N)`` — EXACTLY the idf of a df=1 token, so
    the cap is lossless for the singleton tail and only approximates
    the middle of the Zipf curve, where idf varies slowly.
    """
    import math
    import re

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
        .limit(max_vocab)
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

    return soft_tfidf


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
