"""Operator-level tests: mention extraction, coref, candidates/priors,
blocking recall + salting, graph build, Milne-Witten."""

import pyspark.sql.functions as F
from pyspark.sql import Row

from wned_spark.config import ERConfig
from wned_spark.datagen import generate_corpus
from wned_spark.operators import blocking, candidates as cand_ops, graph
from wned_spark.operators.mentions import extract_mentions, resolve_coref


def _corpus(spark, **kw):
    defaults = dict(n_conversations=15, turns_per_conv=8, n_entities=16, community_size=8)
    defaults.update(kw)
    c = generate_corpus(spark, **defaults)
    c["transcripts"] = c["transcripts"].cache()
    c["gold_mentions"] = c["gold_mentions"].cache()
    return c


# ---------------- N1-lite ----------------
def test_mention_extraction_matches_gold_exactly(spark):
    c = _corpus(spark)
    got = extract_mentions(c["transcripts"]).select("conv_id", "turn_idx", "surface", "start", "end")
    want = c["gold_mentions"].select("conv_id", "turn_idx", "surface", "start", "end")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_native_span_extractor_matches_python_oracle(spark):
    """The production extractor is pure Spark expressions
    (regexp_extract_all + split + aggregate fold for offsets); the
    Arrow UDF is kept as the parity oracle. Pin span-for-span equality
    on the engine-divergence edge cases: adjacent matches, leading/
    trailing matches, NBSP (must NOT join under the explicit ASCII
    whitespace class in either engine), astral code points before a
    match (offsets count code points in both), NULL/empty text."""
    from wned_spark.operators.mentions import (
        extract_mention_spans,
        extract_mention_spans_native,
    )

    texts = [
        "Alice Gardenbar met Dr. Bob Quill at IBM in New York.",
        "IBM, Apple and NASA",
        "Trailing match ends with ACME",
        "MIT starts it",
        "",
        None,
        "lowercase only, no mentions",
        "A. Gardenbar vs Alice\tGardenbar\nNewline Case",
        "Hard Space",  # NBSP: two separate mentions in BOTH engines
        "Automated Clearing House (ACH) wired X. Y. Zed",
        "\U0001f600 astral then IBM and Alice Gardenbar",
        "U.S.A and USA and UvA",
        "Tab\tJoined\tRun",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        "text",
        extract_mention_spans(F.col("text")).alias("udf"),
        extract_mention_spans_native(F.col("text")).alias("nat"),
    ).collect()
    for r in rows:
        assert r.udf == r.nat, (r.text, r.udf, r.nat)


def test_native_span_extractor_matches_oracle_on_random_text(spark):
    """Property check: on randomized mixed-case text (caps runs,
    punctuation, unicode, whitespace variety) the native extractor and
    the Python oracle agree span-for-span."""
    import random

    from wned_spark.operators.mentions import (
        extract_mention_spans,
        extract_mention_spans_native,
    )

    rng = random.Random(20260817)
    frags = [
        "Alice", "BOB", "x.", "Y.", "Inc.", "the", "ab", "Z", "ÅNGSTRÖM",
        "D2", "ok,", "(NASA)", " ", " ", "😀", "é",
    ]
    seps = [" ", "  ", "\t", "\n", ", ", ". ", ""]
    texts = [
        "".join(
            rng.choice(frags) + rng.choice(seps)
            for _ in range(rng.randint(0, 30))
        )
        for _ in range(300)
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string").repartition(8)
    mism = df.select(
        extract_mention_spans(F.col("text")).alias("udf"),
        extract_mention_spans_native(F.col("text")).alias("nat"),
    ).filter(F.col("udf") != F.col("nat"))
    assert mism.count() == 0


# ---------------- J6 coref ----------------
def test_coref_merges_contained_names(spark):
    rows = [
        Row(conv_id="c1", turn_idx=0, mention_id=1, surface="Alice Gardenbar",
            start=0, end=1, surface_norm="alice gardenbar"),
        Row(conv_id="c1", turn_idx=1, mention_id=2, surface="Gardenbar",
            start=0, end=1, surface_norm="gardenbar"),
        Row(conv_id="c2", turn_idx=0, mention_id=3, surface="Gardenbar",
            start=0, end=1, surface_norm="gardenbar"),
    ]
    out = resolve_coref(spark.createDataFrame(rows)).collect()
    by_id = {r["mention_id"]: r["canon_norm"] for r in out}
    assert by_id[1] == "alice gardenbar"
    assert by_id[2] == "alice gardenbar"  # merged within c1
    assert by_id[3] == "gardenbar"  # no longer form in c2


# ---------------- J1/A2/W1/F4/F5 ----------------
def test_alias_priors_sum_to_one(spark):
    c = _corpus(spark)
    d = cand_ops.build_alias_dict(c["alias_raw"])
    sums = d.groupBy("alias_norm").agg(F.sum("prior").alias("s"))
    bad = sums.filter(F.abs(F.col("s") - 1.0) > 1e-9)
    assert bad.count() == 0


def test_top_k_candidates_capped(spark):
    c = _corpus(spark)
    mentions = extract_mentions(c["transcripts"])
    d = cand_ops.build_alias_dict(c["alias_raw"])
    cands = cand_ops.select_candidates(mentions, d, ERConfig(top_k_candidates=3))
    mx = cands.groupBy("mention_id").count().agg(F.max("count")).first()[0]
    assert mx <= 3


def test_prior_argmax_baseline_accuracy(spark):
    """PriorProbEL baseline: with unambiguous aliases, argmax-prior
    linking is exact on every mention that has a dictionary hit."""
    c = _corpus(spark)
    mentions = extract_mentions(c["transcripts"])
    d = cand_ops.build_alias_dict(c["alias_raw"])
    linked = cand_ops.prior_argmax_linking(mentions, d)
    gold = c["gold_mentions"].select(
        F.xxhash64("conv_id", "turn_idx", "start").alias("mention_id"),
        "entity_id",
    )
    j = linked.join(gold, "mention_id")
    total = j.count()
    correct = j.filter(F.col("linked_entity_id") == F.col("entity_id")).count()
    assert total > 0
    assert correct / total >= 0.95


# ---------------- J2 blocking ----------------
def test_blocking_pair_recall(spark):
    """Every gold same-entity mention pair must land in ≥1 shared block:
    both mentions have the same surface, or their surfaces form a
    blocked surface pair."""
    c = _corpus(spark)
    mentions = resolve_coref(extract_mentions(c["transcripts"]))
    key_col = "canon_norm" if "canon_norm" in mentions.columns else "surface_norm"
    sid_of = mentions.select(F.col("mention_id").alias("mid"), F.xxhash64(key_col).alias("sid"))
    spairs = blocking.candidate_surface_pairs(blocking.surfaces_of(mentions), ERConfig())
    gold = c["gold_mentions"].select(
        F.xxhash64("conv_id", "turn_idx", "start").alias("mid"), "entity_id"
    ).join(sid_of, "mid", "left")
    ga = gold.alias("a")
    gb = gold.alias("b")
    gold_pairs = (
        ga.join(gb, F.col("a.entity_id") == F.col("b.entity_id"))
        .filter(F.col("a.mid") < F.col("b.mid"))
        .select(F.col("a.sid").alias("sa"), F.col("b.sid").alias("sb"))
    )
    n_gold = gold_pairs.count()
    # a gold mention that was not extracted has no sid and hits nothing
    n_same = gold_pairs.filter(F.col("sa") == F.col("sb")).count()
    n_blocked = gold_pairs.select(
        F.least("sa", "sb").alias("left_sid"), F.greatest("sa", "sb").alias("right_sid")
    ).join(spairs.select("left_sid", "right_sid"), ["left_sid", "right_sid"], "left_semi").count()
    assert n_gold > 0
    assert (n_same + n_blocked) / n_gold >= 0.99


def test_salting_bounds_block_size(spark):
    """A planted hot key must be split so no block exceeds ~max_block_size."""
    cfg = ERConfig(max_block_size=50)
    rows = [Row(sid=i, sn=f"hotcommon {i}") for i in range(1000)]
    keys = blocking.block_keys(spark.createDataFrame(rows), cfg)
    salted = blocking.salt_hot_keys(keys, cfg)
    mx = salted.groupBy("block_key").count().agg(F.max("count")).first()[0]
    # deterministic hash split: allow 2x headroom over the target cap
    assert mx <= cfg.max_block_size * 2


# ---------------- A1/A10/D1 graph ----------------
def test_cooccurrence_edges_symmetric_no_self_loops(spark):
    c = _corpus(spark)
    mentions = extract_mentions(c["transcripts"])
    edges = graph.build_cooccurrence_edges(mentions, ERConfig())
    assert edges.filter(F.col("src") == F.col("dst")).count() == 0
    fwd = edges.select("src", "dst", "weight")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    assert fwd.exceptAll(rev).count() == 0


def test_cooccurrence_bucketed_join_exact_and_linear(spark):
    """The turn-bucketed join key must reproduce the window semantics
    EXACTLY (brute-force parity on a random multi-conv corpus) and stay
    near-linear on a planted long conversation — 3000 mentions in one
    conv_id must yield n·w − w(w+1)/2 unordered pairs, not n²/2
    pre-filter candidates (VERDICT r3 'first quadratic to blow')."""
    import itertools
    import random

    # (1) exact parity vs an in-driver brute force, several window sizes
    rng = random.Random(7)
    rows = [
        Row(conv_id=f"c{rng.randrange(5)}", turn_idx=rng.randrange(40),
            surface_norm=f"name{rng.randrange(30)}")
        for _ in range(300)
    ]
    mentions = spark.createDataFrame(rows)
    for w in (0, 1, 8):
        cfg = ERConfig(cooccur_window_turns=w)
        got = {(r["src"], r["dst"]): r["weight"]
               for r in graph.build_cooccurrence_edges(mentions, cfg).collect()}
        exp: dict = {}
        # brute force with the same hash ids the operator uses
        hid = {x["surface_norm"]: x["h"] for x in mentions.select(
            "surface_norm", graph.node_id(F.col("surface_norm")).alias("h")
        ).distinct().collect()}
        for ra, rb in itertools.combinations(rows, 2):
            if ra["conv_id"] != rb["conv_id"]:
                continue
            if abs(ra["turn_idx"] - rb["turn_idx"]) > w:
                continue
            ha, hb = hid[ra["surface_norm"]], hid[rb["surface_norm"]]
            if ha == hb:
                continue
            s, d = (ha, hb) if ha < hb else (hb, ha)
            exp[(s, d)] = exp.get((s, d), 0) + 1
        mirrored = dict(exp)
        for (s, d), v in exp.items():
            mirrored[(d, s)] = v
        assert got == mirrored, f"window={w}"

    # (2) planted 5k-turn single conversation: linear pair count
    n, w = 3000, 8
    long_rows = [Row(conv_id="long", turn_idx=i, surface_norm=f"u{i}")
                 for i in range(n)]
    long_m = spark.createDataFrame(long_rows)
    edges = graph.build_cooccurrence_edges(long_m, ERConfig(cooccur_window_turns=w))
    total_weight = edges.agg(F.sum("weight")).first()[0]
    expected_unordered = n * w - w * (w + 1) // 2
    assert total_weight == 2 * expected_unordered


def test_milne_witten_range(spark):
    edges = spark.createDataFrame(
        [Row(src=1, dst=2, weight=1.0), Row(src=2, dst=1, weight=1.0),
         Row(src=1, dst=3, weight=1.0), Row(src=3, dst=1, weight=1.0),
         Row(src=2, dst=3, weight=1.0), Row(src=3, dst=2, weight=1.0),
         Row(src=4, dst=1, weight=1.0), Row(src=1, dst=4, weight=1.0)]
    )
    pairs = spark.createDataFrame([Row(src_a=2, src_b=3), Row(src_a=2, src_b=4)])
    out = {(r["src_a"], r["src_b"]): r["relatedness"]
           for r in graph.milne_witten_relatedness(edges, pairs).collect()}
    # hand-computed (N=4): MW(2,3) = 1 - (ln2-ln1)/(ln4-ln2) = 0
    #                      MW(2,4) = 1 - (ln2-ln1)/(ln4-ln1) = 0.5
    assert abs(out[(2, 3)] - 0.0) < 1e-12
    assert abs(out[(2, 4)] - 0.5) < 1e-12


def _soft_tfidf_oracle(pairs: list[tuple[str, str]], theta: float) -> dict:
    """Plain-Python SoftTFIDF: exact idf ln(1 + N/df) over the distinct
    surfaces of ``pairs``, no memo and no idf head cap. A single-letter
    token aligns with a token of the other surface sharing its first
    letter; a longer token never aligns with a single-letter one."""
    import math
    import re

    from wned_spark.functions.similarity import jaro_winkler

    def tokens(s):
        return [t for t in re.split(r"[\s\.]+", s) if t]

    surfaces = {s for pair in pairs for s in pair}
    df = {}
    for s in surfaces:
        for t in set(tokens(s)):
            df[t] = df.get(t, 0) + 1
    idf = {t: math.log(1.0 + len(surfaces) / d) for t, d in df.items()}

    def sim(t, b):
        if len(t) == 1:
            return 1.0 if t[0] == b[0] else 0.0
        return 0.0 if len(b) == 1 else jaro_winkler(t, b)

    def direction(ta, tb):
        den = sum(idf[t] for t in ta)
        best = [max([sim(t, b) for b in tb], default=0.0) for t in ta]
        num = sum(idf[t] * x for t, x in zip(ta, best) if x >= theta)
        return num / den if den else 0.0

    return {
        (a, b): max(direction(tokens(a), tokens(b)), direction(tokens(b), tokens(a)))
        for a, b in pairs
    }


def test_soft_tfidf_matches_python_oracle(spark):
    """``soft_tfidf_feature`` equals the plain-Python SoftTFIDF on
    initial expansion, dotted initials, duplicate tokens and the theta
    gate. Duplicated input rows are kept, and each gets its own, equal
    score."""
    from wned_spark.operators.scoring import soft_tfidf_feature

    distinct = [
        ("alice gardenbar", "a. gardenbar"),
        ("alice gardenbar", "alice gardenbar"),
        ("acme widgets", "acme widgets inc"),
        ("john john smith", "john smith"),
        ("q. zhu", "quinn zhu"),
        ("foo bar", "zzz qqq"),
        ("gardenbar", "gardenbar systems"),
        ("intl bus machines", "ibm"),
    ]
    rows = distinct + [("jon smith", "john smith")] * 3 + [("acme widgets", "acme widgets inc")]
    pairs = spark.createDataFrame(rows, "left_norm string, right_norm string")
    want = _soft_tfidf_oracle(rows, ERConfig().soft_theta)
    assert want[("alice gardenbar", "alice gardenbar")] == 1.0
    assert want[("foo bar", "zzz qqq")] == 0.0
    got = soft_tfidf_feature(pairs).collect()
    assert sorted((r["left_norm"], r["right_norm"]) for r in got) == sorted(rows)
    for r in got:
        k = (r["left_norm"], r["right_norm"])
        assert abs(r["name_soft"] - want[k]) < 1e-12, (k, r["name_soft"], want[k])


def test_soft_tfidf_relational_matches_udf(spark):
    """A relational SoftTFIDF, built here from DataFrame operators
    (posexplode the tokens, join the token pairs, max per token, sum
    per direction), equals the Arrow-UDF kernel ``soft_tfidf_feature``
    on initial expansion, dotted initials, duplicate tokens and the
    theta gate. Only the inner Jaro-Winkler is a UDF on both sides."""
    from wned_spark.functions.similarity import jaro_winkler_udf
    from wned_spark.operators.scoring import soft_tfidf_feature

    pairs = spark.createDataFrame(
        [
            ("alice gardenbar", "a. gardenbar"),
            ("alice gardenbar", "alice gardenbar"),
            ("acme widgets", "acme widgets inc"),
            ("john john smith", "john smith"),
            ("q. zhu", "quinn zhu"),
            ("foo bar", "zzz qqq"),
            ("gardenbar", "gardenbar systems"),
            ("intl bus machines", "ibm"),
            ("jon smith", "john smith"),
            ("acme corp", "acme corporation"),
        ],
        "left_norm string, right_norm string",
    )
    theta = ERConfig().soft_theta
    surfaces = (
        pairs.select(F.col("left_norm").alias("s"))
        .union(pairs.select(F.col("right_norm").alias("s")))
        .distinct()
    )
    n = surfaces.count()
    toks = surfaces.select(
        "s",
        F.posexplode(F.filter(F.split("s", r"[\s\.]+"), lambda t: t != "")).alias("pos", "tok"),
    )
    idf = (
        toks.select("s", "tok").distinct().groupBy("tok").agg(F.count("*").alias("df"))
        .select("tok", F.log(1.0 + F.lit(float(n)) / F.col("df")).alias("idf"))
    )
    tw = toks.join(idf, "tok")
    den = tw.groupBy("s").agg(F.sum("idf").alias("den")).withColumnRenamed("s", "sa")
    ta = tw.select(F.col("s").alias("sa"), "pos", F.col("tok").alias("ta"), "idf")
    tb = tw.select(F.col("s").alias("sb"), F.col("tok").alias("tb"))
    directed = (
        pairs.select(F.col("left_norm").alias("sa"), F.col("right_norm").alias("sb"))
        .union(pairs.select(F.col("right_norm").alias("sa"), F.col("left_norm").alias("sb")))
        .distinct()
    )
    sim = (
        F.when(F.length("ta") == 1, (F.substring("ta", 1, 1) == F.substring("tb", 1, 1)).cast("double"))
        .when(F.length("tb") == 1, F.lit(0.0))
        .otherwise(jaro_winkler_udf(F.col("ta"), F.col("tb")))
    )
    best = (
        directed.join(ta, "sa").join(tb, "sb").withColumn("sim", sim)
        .groupBy("sa", "sb", "pos", "idf").agg(F.max("sim").alias("best"))
    )
    num = best.groupBy("sa", "sb").agg(
        F.sum(F.when(F.col("best") >= theta, F.col("idf") * F.col("best")).otherwise(0.0)).alias("num")
    )
    dirs = {
        (r["sa"], r["sb"]): r["v"]
        for r in num.join(den, "sa").select("sa", "sb", (F.col("num") / F.col("den")).alias("v")).collect()
    }
    want = {
        (r["left_norm"], r["right_norm"]): max(
            dirs[(r["left_norm"], r["right_norm"])], dirs[(r["right_norm"], r["left_norm"])]
        )
        for r in pairs.collect()
    }
    assert want[("foo bar", "zzz qqq")] == 0.0
    assert abs(want[("alice gardenbar", "alice gardenbar")] - 1.0) < 1e-12
    # partial alignments, so the idf weights reach the score
    assert 0.0 < want[("jon smith", "john smith")] < 1.0
    assert 0.0 < want[("acme corp", "acme corporation")] < 1.0
    got = {
        (r["left_norm"], r["right_norm"]): r["name_soft"]
        for r in soft_tfidf_feature(pairs).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


def test_soft_tfidf_initial_rule_is_directional(spark):
    """Initial expansion runs from the initial's side only: a
    single-letter token matches a token with the same first letter, but
    a full token never matches the other surface's initial. The
    symmetric rule let the surname "vergarbar" match the first-name
    initial of "v. barbarbar" (sim 1.0), which carried a cross-entity
    match edge past the gate."""
    from wned_spark.operators.scoring import soft_tfidf_feature

    pairs = spark.createDataFrame(
        [("vergarbar", "v. barbarbar"), ("q.", "quinn"), ("q. zhu", "quinn zhu")],
        "left_norm string, right_norm string",
    )
    got = {
        (r["left_norm"], r["right_norm"]): r["name_soft"]
        for r in soft_tfidf_feature(pairs).collect()
    }
    assert got[("vergarbar", "v. barbarbar")] < ERConfig().soft_gate, got
    assert got[("q.", "quinn")] == 1.0, got
    assert got[("q. zhu", "quinn zhu")] == 1.0, got
