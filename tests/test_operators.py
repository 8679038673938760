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
    """Every gold same-entity mention pair must land in ≥1 shared block."""
    c = _corpus(spark)
    mentions = resolve_coref(extract_mentions(c["transcripts"]))
    pairs = blocking.candidate_pairs(mentions, ERConfig()).select("left_id", "right_id")
    gold = c["gold_mentions"].select(
        F.xxhash64("conv_id", "turn_idx", "start").alias("mid"), "entity_id"
    )
    ga = gold.alias("a")
    gb = gold.alias("b")
    gold_pairs = (
        ga.join(gb, F.col("a.entity_id") == F.col("b.entity_id"))
        .filter(F.col("a.mid") < F.col("b.mid"))
        .select(F.col("a.mid").alias("left_id"), F.col("b.mid").alias("right_id"))
    )
    n_gold = gold_pairs.count()
    n_hit = gold_pairs.join(pairs, ["left_id", "right_id"], "left_semi").count()
    assert n_gold > 0
    assert n_hit / n_gold >= 0.99


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


def test_soft_tfidf_relational_matches_udf(spark):
    """The relational SoftTFIDF (one JW per distinct token pair,
    executor-count-independent work) must reproduce the Arrow-UDF
    kernel it replaced, including initial expansion, dotted initials,
    duplicate tokens, and the theta gate."""
    from pyspark.sql import functions as F

    from wned_spark.operators.scoring import make_soft_tfidf_udf, soft_tfidf_scores

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
        ],
        "left_norm string, right_norm string",
    )
    udf = make_soft_tfidf_udf(pairs, theta=0.90)
    want = {
        (r["left_norm"], r["right_norm"]): r["v"]
        for r in pairs.select(
            "left_norm", "right_norm",
            udf(F.col("left_norm"), F.col("right_norm")).alias("v"),
        ).collect()
    }
    got = {
        (r["left_norm"], r["right_norm"]): r["name_soft"]
        for r in soft_tfidf_scores(pairs, theta=0.90).collect()
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
    match edge past the gate. Pinned on both kernels."""
    from pyspark.sql import functions as F

    from wned_spark.config import ERConfig
    from wned_spark.operators.scoring import make_soft_tfidf_udf, soft_tfidf_scores

    pairs = spark.createDataFrame(
        [("vergarbar", "v. barbarbar"), ("q.", "quinn"), ("q. zhu", "quinn zhu")],
        "left_norm string, right_norm string",
    )
    udf = make_soft_tfidf_udf(pairs, theta=0.90)
    kernels = {
        "udf": {
            (r["left_norm"], r["right_norm"]): r["v"]
            for r in pairs.select(
                "left_norm", "right_norm",
                udf(F.col("left_norm"), F.col("right_norm")).alias("v"),
            ).collect()
        },
        "relational": {
            (r["left_norm"], r["right_norm"]): r["name_soft"]
            for r in soft_tfidf_scores(pairs, theta=0.90).collect()
        },
    }
    for name, got in kernels.items():
        assert got[("vergarbar", "v. barbarbar")] < ERConfig().soft_gate, (name, got)
        assert got[("q.", "quinn")] == 1.0, (name, got)
        assert got[("q. zhu", "quinn zhu")] == 1.0, (name, got)
