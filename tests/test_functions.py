"""Unit tests for normalizers, similarity kernels, shingles/minhash.

Pinned-constant parity cases per SURVEY.md §2.7 (R2-R4, R7-R9, R13, R15).
"""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from wned_spark.functions.normalize import norm_surface, norm_whitespace_lower
from wned_spark.functions.shingles import char_shingles, minhash_band_keys, minhash_signature
from wned_spark.functions.similarity import (
    bigram_dice,
    jaro_winkler,
    jaro_winkler_udf,
    levenshtein_norm,
    make_zero_kl_udf,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


# ---------------- R9 / R8 ----------------
def test_norm_whitespace_lower(spark):
    df = spark.createDataFrame([Row(s="  Foo   BAR  baz ")])
    assert df.select(norm_whitespace_lower(F.col("s")).alias("v")).first()["v"] == "foo bar baz"


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("Dr. Alice Gardenbar", "alice gardenbar"),
        ("Mr.  John   Smith", "john smith"),
        ("Acme Widgets Inc.", "acme widgets"),
        ("Foo Ltd", "foo"),
        ("Prof. X", "x"),
    ],
)
def test_norm_surface_honorifics(spark, raw, expected):
    df = spark.createDataFrame([Row(s=raw)])
    assert df.select(norm_surface(F.col("s")).alias("v")).first()["v"] == expected


# ---------------- R2 ----------------
def test_levenshtein_norm(spark):
    df = spark.createDataFrame([Row(a="kitten", b="sitting")])
    v = df.select(levenshtein_norm(F.col("a"), F.col("b")).alias("v")).first()["v"]
    assert abs(v - (1 - 3 / 7)) < 1e-12


def test_levenshtein_norm_empty(spark):
    df = spark.createDataFrame([Row(a="", b="")])
    assert df.select(levenshtein_norm(F.col("a"), F.col("b")).alias("v")).first()["v"] == 1.0


# ---------------- R3 ----------------
@pytest.mark.parametrize(
    "a,b,expected",
    [
        ("MARTHA", "MARHTA", 0.9611111111111111),
        ("DIXON", "DICKSONX", 0.8133333333333332),
        ("JELLYFISH", "SMELLYFISH", 0.8962962962962964),
        ("abc", "abc", 1.0),
        ("abc", "", 0.0),
    ],
)
def test_jaro_winkler_known_values(a, b, expected):
    assert abs(jaro_winkler(a, b) - expected) < 1e-9


def test_jaro_winkler_udf_matches_python(spark):
    rows = [Row(a="alice gardenbar", b="a. gardenbar"), Row(a="foo", b="bar")]
    df = spark.createDataFrame(rows)
    got = df.select(jaro_winkler_udf(F.col("a"), F.col("b")).alias("v")).collect()
    for r, row in zip(got, rows):
        assert abs(r["v"] - jaro_winkler(row.a, row.b)) < 1e-12


# ---------------- R4/R15 ----------------
def test_bigram_dice(spark):
    df = spark.createDataFrame([Row(a="night", b="nacht")])
    v = df.select(
        bigram_dice(
            char_shingles(F.col("a"), 2), char_shingles(F.col("b"), 2)
        ).alias("v")
    ).first()["v"]
    # distinct bigrams: night={ni,ig,gh,ht}, nacht={na,ac,ch,ht} → inter={ht}
    assert abs(v - 2 * 1 / 8) < 1e-12


def test_bigram_dice_multiset_vs_distinct(spark):
    """A7/R4/R15 parity: multiset min-count Dice
    (AliasLuceneIndex.java:327-329) equals distinct-set Dice on strings
    without repeated bigrams, and diverges exactly as the reference
    does on reduplicated names — measured, not just documented."""
    from wned_spark.functions.similarity import bigram_dice_multiset

    df = spark.createDataFrame(
        [("aaa bb aaa", "aaab"), ("night", "nacht"), ("", ""), ("banana", "bananana")],
        "a string, b string",
    )

    def both(row_a, row_b):
        return df.select(
            bigram_dice_multiset(
                char_shingles(F.col("a"), 2, distinct=False),
                char_shingles(F.col("b"), 2, distinct=False),
            ).alias("multi"),
            bigram_dice(
                char_shingles(F.col("a"), 2), char_shingles(F.col("b"), 2)
            ).alias("dist"),
        ).collect()

    rows = both("a", "b")
    # "aaa bb aaa" (bigrams: aa×4, 'a '×1, ' b', bb, 'b ', ' a') vs
    # "aaab" (aa×2, ab): min-count(aa)=2, denom 9+3 → 1/3; distinct → 1/4
    assert abs(rows[0]["multi"] - 1 / 3) < 1e-12
    assert abs(rows[0]["dist"] - 0.25) < 1e-12
    # no repeated bigrams → identical
    assert abs(rows[1]["multi"] - rows[1]["dist"]) < 1e-12
    assert rows[2]["multi"] == rows[2]["dist"] == 1.0
    # "banana" vs "bananana": identical DISTINCT bigram sets, so
    # distinct-set Dice claims a perfect 1.0 match; multiset min-counts
    # (2·(1+2+2)/(5+7) = 5/6) correctly see the length difference —
    # the reduplicated-name case where the reference's form matters
    assert rows[3]["dist"] == 1.0
    assert abs(rows[3]["multi"] - 5 / 6) < 1e-12


def test_rank_schemes_pinned(spark):
    """R1 MULTIPLY/NOR/VOTE pinned to Feature.java:59-163 on a
    3-candidate group with hand-computed outcomes."""
    from wned_spark.config import ERConfig
    from wned_spark.operators.scoring import combine_scores, vote_copeland_score

    # (group, prior, local, semSim)
    df = spark.createDataFrame(
        [
            ("m1", 0.6, 0.2, 0.9),   # wins sem, loses prior/local to c2
            ("m1", 0.7, 0.8, 0.1),   # wins prior+local → VOTE winner
            ("m1", 0.1, 0.1, 0.5),   # loses everything
        ],
        "mention string, shared_prior double, ctx_cosine double, sig_cosine double",
    )
    cfg = ERConfig()
    alpha = cfg.prior_weight

    mult = combine_scores(df, cfg, scheme="MULTIPLY").collect()
    for r in mult:
        exp = alpha * r["shared_prior"] * r["sig_cosine"] + (1 - alpha) * r[
            "ctx_cosine"
        ] * r["sig_cosine"]
        assert abs(r["score"] - exp) < 1e-12

    nor = combine_scores(df, cfg, scheme="NOR").collect()
    for r in nor:
        exp = 1 - (1 - r["shared_prior"]) * (1 - r["ctx_cosine"]) * (1 - r["sig_cosine"])
        assert abs(r["score"] - exp) < 1e-12

    vote = {
        round(r["shared_prior"], 3): r["score"]
        for r in vote_copeland_score(df, ["mention"]).collect()
    }
    # c2 (0.7) beats c1 on prior+local and c3 on all → 2 wins;
    # c1 (0.6) beats c3 on prior+sem → 1; c3 → 0
    assert vote == {0.7: 2.0, 0.6: 1.0, 0.1: 0.0}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        combine_scores(df, cfg, scheme="VOTE")


# ---------------- R7 (pinned constants eps=1e-6, gamma=10) ----------------
def test_zero_kl_divergence(spark):
    udf = make_zero_kl_udf(eps=1e-6, gamma=10.0)
    df = spark.createDataFrame([Row(p=[0.5, 0.5, 0.0], q=[0.25, 0.0, 0.75])])
    v = df.select(udf(F.col("p"), F.col("q")).alias("v")).first()["v"]
    # term1: 0.5*log2(0.5/0.25)=0.5; term2: q<=eps → 0.5*10=5; term3 skipped (p=0)
    assert abs(v - (0.5 + 5.0)) < 1e-9


# ---------------- shingles / minhash ----------------
def test_char_shingles(spark):
    df = spark.createDataFrame([Row(s="abcd")])
    v = df.select(char_shingles(F.col("s"), 2, distinct=False).alias("v")).first()["v"]
    assert v == ["ab", "bc", "cd"]


def test_minhash_band_keys_similar_strings_collide(spark):
    # identical strings share all band keys; disjoint strings share none
    df = spark.createDataFrame([Row(a="alice gardenbar", b="alice gardenbar", c="zzzz qqqq")])
    def keys(col):
        return minhash_band_keys(minhash_signature(char_shingles(F.col(col), 2), 16), 16, 4)
    r = df.select(keys("a").alias("ka"), keys("b").alias("kb"), keys("c").alias("kc")).first()
    assert r["ka"] == r["kb"]
    assert not set(r["ka"]) & set(r["kc"])


def test_minhash_signature_permutations_are_distinct(spark):
    """Regression: the F.transform defaulted-lambda arity trap
    (``lambda s, i=i:`` is read as an (element, index) lambda) collapsed
    every permutation onto one hash function in rounds 1-2. A
    multi-shingle string must yield pairwise-distinct signature
    elements under independent permutations."""
    df = spark.createDataFrame([Row(s="acme corporation")])
    sig = df.select(
        minhash_signature(char_shingles(F.col("s"), 2), 16).alias("v")
    ).first()["v"]
    assert len(sig) == 16
    assert len(set(sig)) == 16, f"permutations collapsed: {sig}"


def test_minhash_band_keys_direct_matches_signature_path(spark):
    from wned_spark.functions.shingles import minhash_band_keys_direct

    df = spark.createDataFrame([Row(s="alice gardenbar"), Row(s="acme corp")])
    sh = char_shingles(F.col("s"), 2)
    got = df.select(
        minhash_band_keys_direct(sh, 16, 4).alias("direct"),
        minhash_band_keys(minhash_signature(sh, 16), 16, 4).alias("composed"),
    ).collect()
    for r in got:
        assert r["direct"] == r["composed"]


def test_minhash_scurve_band_independence(spark):
    """S-curve sanity: pairs at marginal Jaccard must collide on
    some-but-not-all bands across a small population (with a single
    collapsed hash function a colliding pair collides on ALL bands at
    once, and collision frequency equals J instead of 1-(1-J^r)^b).

    Builds 200 token-set pairs at exact Jaccard 1/3 (8 shared + 8
    distinct tokens per side) and checks (a) at least one pair collides
    on a strict subset of the 4 bands, and (b) per-band agreement stays
    near the independent-permutation rate J^4 ≈ 0.012 rather than the
    collapsed-permutation rate J ≈ 0.33."""
    rows = []
    for k in range(200):
        shared = [f"sh{k}w{j}" for j in range(8)]
        a = " ".join(shared + [f"la{k}w{j}" for j in range(8)])
        b = " ".join(shared + [f"rb{k}w{j}" for j in range(8)])
        rows.append(Row(a=a, b=b))
    df = spark.createDataFrame(rows)

    def keys(col):
        # token-level shingles: split on space so Jaccard is exactly 8/24
        toks = F.filter(F.split(F.col(col), " "), lambda t: t != "")
        return minhash_band_keys(minhash_signature(toks, 16), 16, 4)

    got = df.select(keys("a").alias("ka"), keys("b").alias("kb")).collect()
    partial = 0
    per_band_hits = [0, 0, 0, 0]
    for r in got:
        hits = [int(x == y) for x, y in zip(r["ka"], r["kb"])]
        if 0 < sum(hits) < 4:
            partial += 1
        for i, h in enumerate(hits):
            per_band_hits[i] += h
    # (a) some pair collides on a strict subset of bands
    assert partial > 0, "every colliding pair collided on ALL bands — collapsed permutations"
    # (b) bands are not perfectly correlated: under a collapsed
    # permutation per_band_hits would be identical across bands AND equal
    # to the number of pairs whose single min-hash agrees. With J=1/3
    # (8 shared / 24 union) the per-band agreement P = (1/3)^4 ≈ 0.012;
    # allow generous slack but reject the collapsed-rate J·n ≈ 67.
    for h in per_band_hits:
        assert h < 30, f"band agreement {per_band_hits} ≈ J·n — collapsed permutations"


def test_no_defaulted_two_param_lambdas_in_source():
    """Guard: the PySpark higher-order-function arity trap (a defaulted
    second lambda parameter becomes the array-index column) has bitten
    twice (RP-LSH r1, MinHash r1-2). No source file may contain the
    pattern; use a closure factory instead."""
    import pathlib
    import re

    pat = re.compile(r"lambda\s+[A-Za-z_]\w*\s*,\s*[A-Za-z_]\w*\s*=")
    root = pathlib.Path(__file__).resolve().parents[1] / "wned_spark"
    offenders = []
    for p in root.rglob("*.py"):
        for ln, line in enumerate(p.read_text().splitlines(), 1):
            stripped = line.strip()
            if stripped.startswith("#") or "``" in line:
                continue  # comments / docstring mentions of the trap itself
            if pat.search(line):
                offenders.append(f"{p}:{ln}: {stripped}")
    assert not offenders, "defaulted-lambda arity trap:\n" + "\n".join(offenders)


def test_minhash_deterministic_across_runs(spark):
    df = spark.createDataFrame([Row(s="hello world")])
    expr = minhash_signature(char_shingles(F.col("s"), 2), 8)
    v1 = df.select(expr.alias("v")).first()["v"]
    v2 = df.select(expr.alias("v")).first()["v"]
    assert v1 == v2


def test_token_count_bpe_ish_pinned(spark):
    from wned_spark.functions.text import token_count_bpe_ish

    df = spark.createDataFrame(
        [("hello world",), ("abc123def",), ("don't stop, ok?",), ("",)],
        "s string",
    )
    got = [r["n"] for r in df.select(token_count_bpe_ish(F.col("s")).alias("n")).collect()]
    # "hello world" -> [hello, world]; "abc123def" -> [abc, 123, def];
    # "don't stop, ok?" -> [don, ', t, stop, ',' , ok, ?]; "" -> 0
    assert got == [2, 3, 7, 0]


def test_oph_signature_estimates_jaccard_and_is_not_collapsed(spark):
    """One-permutation hashing: (a) for two shingle sets with known
    Jaccard, the fraction of agreeing DENSIFIED bins ≈ J (the OPH
    estimator property — this fails if bins collapse onto one hash);
    (b) an empty-input sketch is all-sentinel and densifies to the
    deterministic empty-doc constant; (c) deterministic across runs."""
    from wned_spark.functions.shingles import _MAX_LONG, oph_densify, oph_signature

    k = 64
    # two synthetic shingle sets sharing 2/3 of their elements:
    # J = 32/(48+48-32) = 0.5
    shared = [f"s{i}" for i in range(32)]
    only_a = [f"a{i}" for i in range(16)]
    only_b = [f"b{i}" for i in range(16)]
    df = spark.createDataFrame(
        [(1, shared + only_a), (2, shared + only_b), (3, [])],
        "id long, sh array<string>",
    )
    sig = (
        df.select("id", F.explode(F.array(oph_signature(F.col("sh"), k))).alias("sig"))
        .select("id", "sig", oph_densify(F.col("sig"), k).alias("dense"))
    )
    rows = {r["id"]: r for r in sig.collect()}
    a, b = rows[1]["dense"], rows[2]["dense"]
    agree = sum(x == y for x, y in zip(a, b)) / k
    # J = 0.5; binomial(64, 0.5) 4-sigma band
    assert 0.25 <= agree <= 0.75, agree
    # bins are genuinely different hash values, not one collapsed value
    assert len(set(a)) > k // 2
    # empty doc: raw sketch all sentinel, densified = fixed constants
    assert all(v == _MAX_LONG for v in rows[3]["sig"])
    empty_dense = rows[3]["dense"]
    assert len(set(empty_dense)) == k  # bin-indexed, all distinct
    rows2 = {r["id"]: r for r in sig.collect()}
    assert rows2[1]["dense"] == a


def test_oph_densify_borrows_with_distance_mixing(spark):
    """A borrowed bin must NOT equal the source bin's value (distance
    mixing), and two sketches that agree on a non-empty bin still agree
    after densification."""
    from wned_spark.functions.shingles import _MAX_LONG, oph_densify

    k = 4
    sig = [77, _MAX_LONG, _MAX_LONG, 42]
    df = spark.createDataFrame([(sig,)], "sig array<long>")
    dense = df.select(oph_densify(F.col("sig"), k).alias("d")).first()["d"]
    assert dense[0] == 77 and dense[3] == 42
    # bin 1 borrows bin 3's value at distance 2, bin 2 at distance 1 —
    # both re-mixed, so neither equals 42 nor each other
    assert dense[1] not in (42, 77, _MAX_LONG)
    assert dense[2] not in (42, 77, _MAX_LONG)
    assert dense[1] != dense[2]


def test_oph_relational_matches_column_spec(spark):
    """The PRODUCTION relational OPH path (dedup._oph_dense, called
    directly — not an inline copy) must produce the same densified bin
    values as the column-expression spec kernels for EVERY document
    shape: dense, sparse (1-3 shingles at k=16, where bin gaps larger
    than any bounded chain are routine), and zero-shingle docs (the
    per-bin constant fallback)."""
    import random

    from wned_spark.functions.shingles import oph_densify, oph_signature
    from wned_spark.operators.dedup import _oph_dense

    k = 16
    rng = random.Random(3)
    rows = []
    for d in range(12):
        n = rng.randrange(1, 40)
        rows.append((d, [f"sh{rng.randrange(200)}" for _ in range(n)]))
    # adversarial tail: sparse docs whose occupied bins leave large
    # cyclic gaps, and a fully-empty doc
    rows += [
        (100, ["only-one"]),
        (101, ["x1", "x2"]),
        (102, ["y1", "y2", "y3"]),
        (103, []),
    ]
    df = spark.createDataFrame(rows, "doc long, shingles array<string>")

    # column spec: densified signature arrays
    spec = {
        r["doc"]: r["dense"]
        for r in df.select(
            "doc",
            F.explode(F.array(oph_signature(F.col("shingles"), k))).alias("sig"),
        )
        .select("doc", oph_densify(F.col("sig"), k).alias("dense"))
        .collect()
    }

    rel = {}
    for r in _oph_dense(df, k).collect():
        rel.setdefault(r["doc"], {})[r["bin"]] = r["dv"]
    assert set(rel) == set(spec)
    for d, arr in spec.items():
        assert [rel[d][i] for i in range(k)] == list(arr), f"doc {d}"


def test_oph_bands_floor_non_divisible(spark):
    """With num_hashes not divisible by band_size, the OPH bands must
    drop the leftover bins — floor(num_hashes/band_size) full bands,
    exactly like the column kernels — not emit a short high-collision
    band."""
    from wned_spark.operators.dedup import _oph_bands

    df = spark.createDataFrame(
        [(1, [f"s{i}" for i in range(30)]), (2, [])],
        "doc long, shingles array<string>",
    )
    out = _oph_bands(df, num_hashes=30, band_size=4).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc"], []).append(r["band"])
    assert len(per_doc[1]) == 30 // 4
    assert len(per_doc[2]) == 30 // 4  # empty doc bands too, distinctly
    assert set(per_doc[1]).isdisjoint(per_doc[2])
