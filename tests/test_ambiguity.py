"""Ambiguous-surface handling: W8 doc-local abbreviation expansion and
the G6 conversation-signature second pass. The load-bearing test is the
one the round-1 verdict asked for: with planted ambiguity the F1 gate
FAILS without signatures and PASSES with them."""

import dataclasses

import pyspark.sql.functions as F

from wned_spark.config import ERConfig
from wned_spark.datagen import generate_corpus
from wned_spark.operators.evaluate import contingency_prf
from wned_spark.operators.mentions import expand_abbreviations
from wned_spark.pipeline import run_er_pipeline


def _ambiguous_corpus(spark):
    c = generate_corpus(
        spark, n_conversations=60, turns_per_conv=10,
        n_entities=32, community_size=8, ambiguity_rate=1.0,
    )
    c["transcripts"] = c["transcripts"].cache()
    c["gold_mentions"] = c["gold_mentions"].cache()
    return c


def test_second_pass_is_load_bearing(spark):
    """Same corpus with cross-entity acronyms: signatures OFF fails the
    pairwise gate (one surface, many entities -> false merges);
    signatures + second pass ON restores it. W8 expansion disabled so
    the PPR signal alone must do the work."""
    c = _ambiguous_corpus(spark)
    base = ERConfig(use_abbrev_expansion=False)

    off = run_er_pipeline(
        spark, c["transcripts"], alias_raw=c["alias_raw"],
        cfg=dataclasses.replace(base, use_second_pass=False),
        use_signatures=False,
    )
    prf_off = contingency_prf(off.clusters, c["gold_mentions"])
    assert prf_off["f1"] < 0.99, prf_off
    assert prf_off["fp"] > 0

    on = run_er_pipeline(spark, c["transcripts"], alias_raw=c["alias_raw"], cfg=base)
    prf_on = contingency_prf(on.clusters, c["gold_mentions"])
    assert prf_on["precision"] >= 0.99 and prf_on["recall"] >= 0.99, prf_on
    assert prf_on["f1"] >= 0.99, prf_on
    assert prf_on["fp"] == 0


def test_full_config_holds_gate_under_ambiguity(spark):
    """Default config (W8 + second pass): gate holds on the ambiguous
    corpus, precision and recall each over every gold mention pair. The
    2-letter acronyms that name one entity share no block key with that
    entity's other surfaces; only the dictionary edges link them."""
    c = _ambiguous_corpus(spark)
    res = run_er_pipeline(spark, c["transcripts"], alias_raw=c["alias_raw"], cfg=ERConfig())
    prf = contingency_prf(res.clusters, c["gold_mentions"])
    assert prf["precision"] >= 0.99 and prf["recall"] >= 0.99, prf


def test_expand_abbreviations_picks_longest_definition(spark):
    """W8 pinned semantics: an all-caps acronym re-points at the
    longest same-conversation surface whose initials spell it; other
    conversations are untouched; a case-variant whose NORMALIZED form
    collides with the acronym ("Ag" the element vs "AG" the acronym —
    both normalize to "ag") is NOT re-pointed because the override is
    gated on the raw-surface acronym predicate."""
    mentions = spark.createDataFrame(
        [
            # conv A: definition present (two candidates; longest wins)
            ("a", 0, "AG", "ag", "ag"),
            ("a", 1, "Alice Gardenbar", "alice gardenbar", "alice gardenbar"),
            ("a", 2, "Anders Garwimsor", "anders garwimsor", "anders garwimsor"),
            # conv B: no definition -> untouched
            ("b", 0, "AG", "ag", "ag"),
            # NOT an acronym by raw surface, same surface_norm as "AG"
            ("a", 3, "Ag", "ag", "ag"),
        ],
        "conv_id string, turn_idx int, surface string, surface_norm string, canon_norm string",
    )
    out = {
        (r["conv_id"], r["turn_idx"]): r["canon_norm"]
        for r in expand_abbreviations(mentions).collect()
    }
    assert out[("a", 0)] == "anders garwimsor"  # longest initials match
    assert out[("b", 0)] == "ag"
    assert out[("a", 3)] == "ag"  # raw "Ag" is no acronym — untouched
    assert out[("a", 1)] == "alice gardenbar"


def test_expand_abbreviations_fuzzy_fallback(spark):
    """R10 abbrevSim fallback: an acronym with NO exact initials match
    still expands when the sorted-char edit similarity clears the 0.3
    threshold ("IBM" vs "international business machines corp" →
    initials "ibmc" ≠ "ibm" but abbrevSim = 0.75); an unrelated
    acronym stays put."""
    mentions = spark.createDataFrame(
        [
            ("a", 0, "IBM", "ibm", "ibm"),
            ("a", 1, "International Business Machines Corp",
             "international business machines corp",
             "international business machines corp"),
            # no plausible definition anywhere for this one
            ("a", 2, "ZQX", "zqx", "zqx"),
        ],
        "conv_id string, turn_idx int, surface string, surface_norm string, canon_norm string",
    )
    out = {
        (r["conv_id"], r["turn_idx"]): r["canon_norm"]
        for r in expand_abbreviations(mentions).collect()
    }
    assert out[("a", 0)] == "international business machines corp"
    assert out[("a", 2)] == "zqx"


def test_expand_abbreviations_probe_and_join_share_one_table(spark):
    """The exact-miss probe and the final join read one pinned
    acronym-definition table. On a corpus where an acronym misses the
    exact initials match (fuzzy path taken) and two raw acronym
    spellings share one surface_norm: no mention row is added or lost,
    every (conv_id, surface_norm) takes one definition, and canon_norm
    is what the probe-then-rejoin form gave."""
    rows = [
        # conv a: "IBM" has no exact initials match -> abbrevSim fallback
        ("a", 0, "IBM", "ibm", "ibm"),
        ("a", 1, "International Business Machines Corp",
         "international business machines corp",
         "international business machines corp"),
        # conv b: raw "AG" and "AGX" share surface_norm "ag"; only "AG"
        # spells an exact definition, and both take it
        ("b", 0, "AG", "ag", "ag"),
        ("b", 1, "AGX", "ag", "ag"),
        ("b", 2, "AGX", "ag", "ag"),
        ("b", 3, "Alice Gardenbar", "alice gardenbar", "alice gardenbar"),
        # not an acronym by raw surface: untouched
        ("b", 4, "Ag", "ag", "ag"),
    ]
    mentions = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, surface string, surface_norm string, canon_norm string",
    )
    out = expand_abbreviations(mentions).collect()
    assert len(out) == len(rows)
    got = {(r["conv_id"], r["turn_idx"]): r["canon_norm"] for r in out}
    assert got == {
        ("a", 0): "international business machines corp",
        ("a", 1): "international business machines corp",
        ("b", 0): "alice gardenbar",
        ("b", 1): "alice gardenbar",
        ("b", 2): "alice gardenbar",
        ("b", 3): "alice gardenbar",
        ("b", 4): "ag",
    }
    defs = {}
    for r in out:
        if r["surface"].isupper():
            defs.setdefault((r["conv_id"], r["surface_norm"]), set()).add(r["canon_norm"])
    assert all(len(v) == 1 for v in defs.values()), defs


def test_abbrev_sim_pinned_values():
    """Pinned to MentionExpansion.java:1162-1183 semantics (sorted-char
    Levenshtein with length penalty, best of the two extraction
    modes)."""
    from wned_spark.functions.similarity import abbrev_sim, extract_abbrev

    assert extract_abbrev("Intl. Bus. Machines", False) == "IBM"
    assert extract_abbrev("intl bus machines", True) == "ibm"
    assert extract_abbrev("intl bus machines", False) == ""
    # exact sorted-char match → 1.0
    assert abs(abbrev_sim("IBM", "Intl. Bus. Machines") - 1.0) < 1e-12
    # "ibmc" vs "ibm": sorted "bcim"/"bim", d=1, maxLen=4 →
    # (1 - 1/4) * 4 / (3 + 1) = 0.75
    assert abs(abbrev_sim("IBM", "international business machines corp") - 0.75) < 1e-12
    # empty extraction (no caps, use_cap covers it) never scores via
    # the Java empty-string length quirk
    assert abbrev_sim("IBM", "") == 0.0


def test_second_pass_local_matches_distributed(spark):
    """The driver-numpy fast path of the second pass must produce the
    same overrides as the distributed PPR+cosine plan on an ambiguous
    corpus (same kernels, same argmax tiebreaks)."""
    import dataclasses

    from wned_spark.pipeline import run_er_pipeline

    c = generate_corpus(
        spark, n_conversations=40, turns_per_conv=10,
        n_entities=32, community_size=8, ambiguity_rate=1.0,
    )
    c["transcripts"] = c["transcripts"].cache()

    def clusters(cfg):
        res = run_er_pipeline(spark, c["transcripts"], alias_raw=c["alias_raw"], cfg=cfg)
        return (
            {(r["mention_id"], r["cluster_id"]) for r in res.clusters.collect()},
            contingency_prf(res.clusters, c["gold_mentions"]),
        )

    fast, m_fast = clusters(ERConfig())
    slow, m_slow = clusters(
        dataclasses.replace(ERConfig(), second_pass_local_max_rows=0)
    )
    assert fast == slow
    assert m_fast == m_slow
    assert m_fast["f1"] >= 0.99, m_fast


def test_parenthetical_definition_mining(spark):
    """R10 pattern mining: an acronym whose long form appears ONLY
    parenthetically — lowercase, never a standalone capitalized-run
    mention — must still resolve to the definition (VERDICT r3 missing
    item #1; MentionExpansion.java:961-1066). Also covers the
    function-word step-over ('United States of America' → USA) and the
    ACR-(full form) orientation."""
    from pyspark.sql import Row

    from wned_spark.operators.mentions import (
        extract_mentions,
        mine_parenthetical_definitions,
        resolve_coref,
    )

    rows = [
        Row(conv_id="c1", turn_idx=0,
            text="We pay via the automated clearing house (ACH) rails."),
        Row(conv_id="c1", turn_idx=1, text="ACH fees went up again."),
        Row(conv_id="c2", turn_idx=0,
            text="USA (United States of America) delegates arrived."),
        Row(conv_id="c2", turn_idx=1, text="Then USA signed the pact."),
        # no pattern: parens with no acronym relation
        Row(conv_id="c3", turn_idx=0, text="Rates (see appendix) vary."),
    ]
    t = spark.createDataFrame(rows)
    mined = mine_parenthetical_definitions(t)
    got = {(r["conv_id"], r["acr"]): r["definition"] for r in mined.collect()}
    assert got[("c1", "ach")] == "automated clearing house"
    assert got[("c2", "usa")] == "united states of america"
    assert not any(k[0] == "c3" for k in got)

    m = resolve_coref(extract_mentions(t))
    out = expand_abbreviations(m, pattern_defs=mined)
    canon = {(r["conv_id"], r["surface"]): r["canon_norm"] for r in out.collect()}
    assert canon[("c1", "ACH")] == "automated clearing house"
    assert canon[("c2", "USA")] == "united states of america"


def test_definition_backward_scan_reference_window():
    """R10 backward-scan stop-condition parity (VERDICT r4 item #4;
    MentionExpansion.java:749-776): the candidate window is capped at
    min(|A|+5, 2|A|) tokens, stops at punctuation, and stops once more
    than three stopword-class tokens have been scanned (the code's
    ``numStopwords > 3`` — its comment says two, the code wins).

    Pins: (a) a 4-char acronym whose definition needs a 7-token window
    (3 function words interleaved) — the pre-round-5 k..k+2 scan
    missed it; (b) a sentence boundary ('.') truncates the scan, so an
    acronym spelling words ACROSS the period is NOT mined; (c) the
    2|A| cap: a 2-char acronym cannot reach a 5-token long form."""
    from wned_spark.operators.mentions import _mine_one

    # (a) |A|+5 window with function-word stepping: 7 tokens, 3 stops
    got = _mine_one("Alpha of the Beta for Culture District (ABCD) rules.")
    assert {(d["acr"], d["definition"]) for d in got} == {
        ("ABCD", "Alpha of the Beta for Culture District")
    }
    # (b) punctuation stop: 'Delta Echo' is across a sentence boundary
    assert _mine_one("Delta Echo. Foxtrot Gulf (DEFG) rules.") == []
    # but within one sentence the same spelling IS mined
    assert _mine_one("Delta Echo Foxtrot Gulf (DEFG) rules.") != []
    # (c) maxWin = min(|A|+5, 2|A|) = 4 for a 2-char acronym: a 5-token
    # long form is out of reach even though its initials spell it
    assert _mine_one("Alpha of the for Beta (AB) rules.") == []
    # (the same long form fits a 3-char acronym's window of 6)
    got = _mine_one("Alpha of the Beta Culture (ABC) rules.")
    assert {(d["acr"], d["definition"]) for d in got} == {
        ("ABC", "Alpha of the Beta Culture")
    }
    # stopword-count stop: the fourth function word ends the scan
    # before the spelling word ('Society' here) is reached
    assert (
        _mine_one(
            "Society for the Prevention of Cruelty to Animals (SPCA) met."
        )
        == []
    )


def test_definition_forward_scan_abbrevsim_fallback():
    """R10 forward-scan acceptance parity (VERDICT r5 item #3;
    MentionExpansion.java:984-997): for the ``ACR (full form)``
    direction the reference accepts the WHOLE parenthetical group
    whenever abbrevSim(name, group) > abbrevThreshold (0.3, :48) — no
    initials-spelling requirement. Pins the imperfect-initials class
    the strict ``_spells`` window misses: the word tokenizer splits
    'X-ray' into two tokens, so no prefix window spells 'XYZ', but
    extractAbbrev('X-ray Yield Zone') = 'XYZ' → abbrevSim = 1.0."""
    from wned_spark.operators.mentions import _mine_one

    got = _mine_one("The XYZ (X-ray Yield Zone) sensor shipped.")
    assert {(d["acr"], d["definition"]) for d in got} == {
        ("XYZ", "X-ray Yield Zone")
    }
    # a strict initials-spelling prefix still wins over the whole group
    # (precise definition boundary, not the trailing junk)
    got = _mine_one("ABC (Alpha Beta Culture rules forever) met.")
    assert {(d["acr"], d["definition"]) for d in got} == {
        ("ABC", "Alpha Beta Culture")
    }
    # unrelated group: both extraction modes score far below 0.3
    assert _mine_one("The IRS (very long unrelated words) called.") == []
    # single-token group reachable only via the fallback — the
    # reference has no 2-token minimum on pattern #3 (camel-case caps
    # drive extractAbbrev here)
    got = _mine_one("The USB (UltraSerialBus) port.")
    assert {(d["acr"], d["definition"]) for d in got} == {
        ("USB", "UltraSerialBus")
    }


def test_g6_registry_row_distributed_branch_parity(spark):
    """The g6_second_pass_argmax driver row runs the size-gated driver
    fast path at sweep scale; the DISTRIBUTED branch (broadcast-CSR /
    join PPR + relational cosine argmax) must produce the identical
    override set on the same planted corpus — the scale path carries
    the same driver-oracle guarantee."""
    import dataclasses

    from wned_spark.entry_queries import g6_second_pass_argmax

    SF = "/root/testdata/sf0.001"
    fast = {tuple(r) for r in g6_second_pass_argmax(spark, SF).collect()}
    dist_cfg = dataclasses.replace(
        ERConfig(ppr_max_iter=3), second_pass_local_max_rows=0
    )
    dist = {
        tuple(r)
        for r in g6_second_pass_argmax(spark, SF, cfg=dist_cfg).collect()
    }
    assert fast == dist and len(fast) == 25


def test_second_pass_unambiguous_dictionary_early_exit(spark):
    """When no dictionary surface has >1 candidate entity, the second
    pass must return an empty, correctly-typed override table straight
    from the dictionary probe (no corpus-sized work)."""
    from pyspark.sql import Row

    from wned_spark.operators.disambig import second_pass_overrides

    mentions = spark.createDataFrame([
        Row(mention_id=1, conv_id="c1", turn_idx=0, surface="Acme",
            start=0, end=4, surface_norm="acme"),
    ])
    cands = spark.createDataFrame([
        Row(sid=7, entity_id=100, source="exact", prior=1.0),
        Row(sid=8, entity_id=101, source="exact", prior=1.0),
    ])
    edges = spark.createDataFrame([], "src long, dst long, weight double")
    surface_clusters = spark.createDataFrame(
        [], "sid long, sn string, cluster_id long"
    )
    out = second_pass_overrides(
        mentions, cands, edges, surface_clusters, ERConfig(), n_edges=0
    )
    assert out.columns == ["mention_id", "cluster_id"]
    assert out.count() == 0
