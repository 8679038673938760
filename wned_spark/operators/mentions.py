"""Mention extraction (N1-lite) + doc-local coreference (J6/N2-lite).

The reference runs Stanford CoreNLP NER + GATE orthographic coref
(``common/nlp/StanfordNER.java:98-230``, ``OrthoMatcherCoref.java``).
The rebuild extracts capitalized-token-run mentions with char offsets
as pure Spark expressions (:func:`extract_mention_spans_native` —
deterministic, dependency-free, no Python in the per-turn plan; the
Arrow UDF twin is kept as the parity oracle), then merges short person
names into containing longer names per conversation — the
``ELUtils.resolve`` rule (``utils/ELUtils.java:178-208``: substring
containment, longer name wins).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wned_spark.functions.normalize import norm_surface

# Runs of capitalized tokens: "Alice Gardenbar", "Dr. Alice Gardenbar",
# "A. Gardenbar", "IBM", "Gardenbar Systems Inc."
# The whitespace class is spelled out (not \s) so the SAME pattern
# string means the same thing to Python `re` (which gives \s unicode
# semantics on str) and to Java regex inside Spark (ASCII \s) — the
# native extractor and the Python parity oracle must agree match-for-
# match on any input, not just ASCII.
_WS = "[ \t\n\x0b\x0c\r]"
_CAP_TOKEN = r"(?:[A-Z][a-z]+\.?|[A-Z]\.|[A-Z]{2,})"
_MENTION_PATTERN = rf"{_CAP_TOKEN}(?:{_WS}+{_CAP_TOKEN})*"
_MENTION_RE = re.compile(_MENTION_PATTERN)

_MENTION_STRUCT = T.ArrayType(
    T.StructType([
        T.StructField("surface", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
    ])
)


@F.pandas_udf(_MENTION_STRUCT)
def extract_mention_spans(texts: pd.Series) -> pd.Series:
    """Per-text array of (surface, start, end) capitalized-run spans.

    Python twin of :func:`extract_mention_spans_native`, kept as the
    parity oracle (``tests/test_operators.py``) — production extraction
    is the native version, which keeps the one per-turn full-corpus
    stage entirely JVM-side."""
    out = []
    for t in texts:
        if not isinstance(t, str):
            out.append([])
            continue
        out.append([
            {"surface": m.group(0), "start": m.start(), "end": m.end()}
            for m in _MENTION_RE.finditer(t)
        ])
    return pd.Series(out)


_EMPTY_SPANS = (
    "cast(array() as array<struct<surface:string,start:int,end:int>>)"
)


def extract_mention_spans_native(text) -> F.Column:
    """Per-text array of (surface, start, end) spans as pure Spark
    expressions — no Python in the plan.

    Offsets are recovered without a positional regex API:
    ``regexp_extract_all`` gives the n matched substrings in order and
    ``split`` on the SAME pattern gives the n+1 non-matching gaps
    between them, so ``start_i = Σ len(gap_1..i) + Σ len(match_1..i-1)``
    — one ``aggregate`` fold carrying a running position. Both engines
    use leftmost greedy matching on an identical pattern (see _WS), and
    both ``F.length`` and Python offsets count code points, so this is
    span-for-span identical to :func:`extract_mention_spans` (pinned in
    tests). Mentions per turn are bounded, so the O(n²) array-concat in
    the fold is noise; the win is removing the Arrow round-trip from
    the only stage that touches every turn of the corpus."""
    matches = F.regexp_extract_all(text, F.lit(_MENTION_PATTERN), F.lit(0))
    gaps = F.split(text, _MENTION_PATTERN)
    folded = F.aggregate(
        F.sequence(F.lit(1), F.size(matches)),
        F.struct(
            F.lit(0).alias("pos"),
            F.expr(_EMPTY_SPANS).alias("acc"),
        ),
        lambda acc, i: F.struct(
            (
                acc["pos"]
                + F.length(F.element_at(gaps, i))
                + F.length(F.element_at(matches, i))
            ).alias("pos"),
            F.concat(
                acc["acc"],
                F.array(
                    F.struct(
                        F.element_at(matches, i).alias("surface"),
                        (acc["pos"] + F.length(F.element_at(gaps, i)))
                        .cast("int")
                        .alias("start"),
                        (
                            acc["pos"]
                            + F.length(F.element_at(gaps, i))
                            + F.length(F.element_at(matches, i))
                        )
                        .cast("int")
                        .alias("end"),
                    )
                ),
            ).alias("acc"),
        ),
        lambda acc: acc["acc"],
    )
    # size(matches) = 0 would make sequence(1, 0) count DOWN; NULL text
    # propagates NULL size — both route to the empty array here.
    return F.when(F.size(matches) > 0, folded).otherwise(F.expr(_EMPTY_SPANS))


def extract_mentions(transcripts: DataFrame) -> DataFrame:
    """transcripts(conv_id, turn_idx, text, ...) → mentions(
    conv_id, turn_idx, mention_id, surface, start, end, surface_norm).

    mention_id is a stable 64-bit hash of (conv_id, turn_idx, start) —
    reproducible across runs and parallelism levels (no
    monotonically_increasing_id, which is partition-layout-dependent).
    """
    spans = transcripts.select(
        "conv_id",
        "turn_idx",
        F.explode(extract_mention_spans_native(F.col("text"))).alias("m"),
    )
    return spans.select(
        "conv_id",
        "turn_idx",
        F.xxhash64("conv_id", "turn_idx", F.col("m.start")).alias("mention_id"),
        F.col("m.surface").alias("surface"),
        F.col("m.start").alias("start"),
        F.col("m.end").alias("end"),
    ).withColumn("surface_norm", norm_surface(F.col("surface")))


_ACRONYM_RE = r"^[A-Z]{2,5}$"

# ---- R10 parenthetical definition mining -------------------------------
# MentionExpansion.java:961-1066 mines definitions from in-text patterns
# the mention dictionary cannot see — most importantly LOWERCASE long
# forms ("automated clearing house (ACH)") that the capitalized-run
# extractor never emits as mentions.
_PAREN_GROUP_RE = re.compile(r"\(([^()]{1,80})\)")
_ACR_TOKEN_RE = re.compile(_ACRONYM_RE)
_WORD_RE = re.compile(r"[A-Za-z][A-Za-z\.]*")
# function words the reference's token scan steps over when checking
# whether a window's initials spell the acronym ("United States of
# America" → USA)
_DEF_STOP = frozenset(
    {"a", "an", "and", "at", "for", "in", "of", "on", "the", "to"}
)
# abbrevThreshold = 0.3 (MentionExpansion.java:48) — gates the
# forward-scan whole-group acceptance
_ABBREV_THRESHOLD = 0.3


def _initials(toks) -> str:
    return "".join(t[0].lower() for t in toks)


def _spells(win, acr: str) -> bool:
    """Does the token window spell the (lowercased) acronym — exactly,
    or after stepping over interior function words?"""
    if _initials(win) == acr:
        return True
    core = [t for t in win if t.lower() not in _DEF_STOP]
    return (
        len(core) == len(acr)
        and bool(core)
        and win[0].lower() not in _DEF_STOP
        and win[-1].lower() not in _DEF_STOP
        and _initials(core) == acr
    )


# words + single punctuation marks, so the backward scan can observe
# the reference's punctuation stop condition (a pure `\w`-word findall
# would silently walk across sentence boundaries). Periods stay inside
# a word only when followed by a letter ("U.S.A" stays one token); a
# sentence-final period tokenizes separately so it can stop the scan.
_SCAN_TOKEN_RE = re.compile(
    r"[A-Za-z](?:[A-Za-z]|\.(?=[A-Za-z]))*|\d+|[^\sA-Za-z\d]"
)


def _scan_window(tokens, k: int):
    """The reference's backward-scan window
    (``cs/MentionExpansion.java:749-776``): walk backward from the
    paren over at most ``maxWin = min(|A|+5, 2|A|)`` tokens, stopping
    at a punctuation token (no letter/digit/apostrophe —
    ``isPunctuation``, :225-245) or once MORE THAN THREE stopword-class
    tokens have been scanned (``numStopwords > 3``, :774 — the file's
    comment says "two stop words" but the code breaks on the fourth; we
    follow the code). Digit tokens count as stopwords (the reference's
    ``isStopword(Token)`` treats POS CD as a stopword, :259-264).
    Returns the scanned WORD tokens in text order."""
    maxwin = min(k + 5, 2 * k)
    span = []
    num_stop = 0
    scanned = 0
    for tok in reversed(tokens):
        if tok == "'":
            continue  # apostrophe is NOT punctuation per isPunctuation
        scanned += 1
        if scanned > maxwin:
            break
        is_word = tok[0].isalpha()
        if not is_word and not tok[0].isdigit():
            break  # punctuation stop
        if not is_word or tok.lower() in _DEF_STOP:
            num_stop += 1  # digit runs count as CD-class stopwords
            if num_stop > 3:
                break
        if is_word:
            span.append(tok)
    span.reverse()
    return span


def _mine_one(text: str):
    out = []
    for m in _PAREN_GROUP_RE.finditer(text):
        inner = m.group(1).strip()
        before = _SCAN_TOKEN_RE.findall(text[: m.start()])
        before_words = [t for t in before if t[0].isalpha()]
        if _ACR_TOKEN_RE.match(inner):
            # "full form (ACR)": backward token scan from the paren,
            # window capped per MentionExpansion.java:756 — try every
            # suffix length from |A| up to the scanned span, shortest
            # spelling window wins
            acr = inner.lower()
            k = len(acr)
            win_all = _scan_window(before, k)
            for length in range(k, len(win_all) + 1):
                win = win_all[-length:]
                if _spells(win, acr):
                    out.append({"acr": inner, "definition": " ".join(win)})
                    break
        elif before_words and _ACR_TOKEN_RE.match(before_words[-1]) and (
            not before or before[-1][0].isalpha()
        ):
            # "ACR (full form)": forward scan inside the paren. Prefer
            # the strict initials-spelling prefix window (precise
            # definition boundary, same maxWin cap as the backward
            # scan); when no window spells the acronym, fall back to
            # the reference's acceptance — take the WHOLE parenthetical
            # group gated by abbrevSim > 0.3
            # (MentionExpansion.java:984-997 accepts matchStr whenever
            # abbrevSim(name, matchStr) clears abbrevThreshold, :48 —
            # which is how "XYZ (X-ray Yield Zone)"-class definitions
            # with imperfect initials pass).
            inner_toks = _WORD_RE.findall(inner)
            acr = before_words[-1].lower()
            k = len(acr)
            maxwin = min(k + 5, 2 * k)
            matched = False
            if len(inner_toks) >= 2:
                for length in range(k, min(maxwin, len(inner_toks)) + 1):
                    win = inner_toks[:length]
                    if _spells(win, acr):
                        out.append(
                            {"acr": before_words[-1], "definition": " ".join(win)}
                        )
                        matched = True
                        break
            if not matched and inner_toks:
                from wned_spark.functions.similarity import abbrev_sim

                if abbrev_sim(before_words[-1], inner) > _ABBREV_THRESHOLD:
                    out.append({"acr": before_words[-1], "definition": inner})
    return out


_DEF_STRUCT = T.ArrayType(
    T.StructType([
        T.StructField("acr", T.StringType()),
        T.StructField("definition", T.StringType()),
    ])
)


@F.pandas_udf(_DEF_STRUCT)
def _mine_defs_udf(texts: pd.Series) -> pd.Series:
    return pd.Series([
        _mine_one(t) if isinstance(t, str) else [] for t in texts
    ])


def mine_parenthetical_definitions(transcripts: DataFrame) -> DataFrame:
    """R10 pattern mining (MentionExpansion.java:961-1066): emit
    (conv_id, acr, definition) rows for ``full form (ACR)`` and
    ``ACR (full form)`` patterns in turn text; the window's initials
    must spell the acronym (function words stepped over). Definitions
    are normalized into canon space so :func:`expand_abbreviations` can
    union them straight into its dictionary — this is how an acronym
    resolves when its long form appears ONLY parenthetically and never
    as a standalone mention.

    A native ``rlike`` prefilter keeps turns with no parenthesized
    group out of the Python stage entirely (the UDF would return []
    for them anyway) — on typical corpora that is most of the rows,
    so the Arrow traffic shrinks to the pattern-bearing slice. The
    prefilter bound is a STRICT over-approximation of the UDF's
    {1,80}: Java regex quantifiers count UTF-16 code units while
    Python's count code points, so a group of ≤80 code points can
    span up to 160 UTF-16 units when every char is astral — the wider
    bound guarantees the prefilter never rejects a row the UDF would
    mine."""
    rows = transcripts.filter(
        F.col("text").rlike(r"\([^()]{1,160}\)")
    ).select("conv_id", F.explode(_mine_defs_udf(F.col("text"))).alias("d"))
    return rows.select(
        "conv_id",
        F.lower("d.acr").alias("acr"),
        norm_surface(F.col("d.definition")).alias("definition"),
    ).distinct()


def expand_abbreviations(
    mentions: DataFrame,
    abbrev_threshold: float = 0.3,
    pattern_defs: DataFrame | None = None,
) -> DataFrame:
    """W8/R10: doc-local abbreviation definition choice
    (``cs/MentionExpansion.java:126-158,961-1066,1128-1219``): an
    all-caps acronym mention is re-pointed at a same-conversation
    multi-token surface whose token initials spell the acronym (longest
    such surface wins, deterministic tiebreak). Acronyms with NO exact
    initials match fall back to the reference's fuzzy ``abbrevSim``
    (sorted-char edit distance with length penalty,
    ``MentionExpansion.java:1162-1183``, threshold 0.3 from
    ``MentionExpansion.java:48``) — this is what links "IBM" to
    "Intl. Bus. Machines" in a noisy corpus. Runs AFTER
    ``resolve_coref`` and overrides ``canon_norm`` only for mentions
    whose RAW surface is an acronym (a case-variant like the element
    "Ag" normalizes identically to the acronym "AG" but must not be
    re-pointed).

    Fully relational: distinct (conv, acronym) ⋈ distinct (conv,
    expansion-candidate) — both sides are per-conversation surface
    dictionaries (5-10 rows), never mention occurrences; the fuzzy
    fallback only runs on the exact-miss remainder.

    ``pattern_defs`` (from :func:`mine_parenthetical_definitions`) are
    unioned into the definition dictionary, so a long form introduced
    only parenthetically — never extracted as a mention — still wins
    the same longest-definition choice."""
    from pyspark.sql import Window

    from wned_spark.functions.similarity import abbrev_sim_udf

    key = "canon_norm" if "canon_norm" in mentions.columns else "surface_norm"
    # acronym side: the RAW surface is one all-caps token of 2-5 chars
    acr = (
        mentions.filter(F.col("surface").rlike(_ACRONYM_RE))
        .select("conv_id", "surface", "surface_norm", F.lower("surface").alias("acr"))
        .distinct()
    )
    # definition side: multi-token surfaces with their initials
    defs = (
        mentions.select("conv_id", F.col(key).alias("definition"))
        .distinct()
        .withColumn("toks", F.split(F.col("definition"), r"\s+"))
        .filter(F.size("toks") >= 2)
        .select(
            "conv_id",
            "definition",
            F.lower(
                F.concat_ws("", F.transform(F.col("toks"), lambda t: t.substr(1, 1)))
            ).alias("acr"),
        )
    )
    # pattern-mined rows OUTRANK dictionary rows: an explicit in-text
    # definition ("kelbar systems (KS)") is primary evidence, while a
    # dictionary row is mere co-presence — without the priority, a
    # same-conversation entity that happens to share the acronym's
    # initials could win the longest-definition tiebreak
    # (MentionExpansion.java runs its pattern scan at :961 before the
    # dictionary fallback at :1128 in the same spirit)
    defs = defs.withColumn("src_rank", F.lit(1))
    if pattern_defs is not None:
        defs = defs.unionByName(
            pattern_defs.select("conv_id", "definition", "acr").withColumn(
                "src_rank", F.lit(0)
            )
        )
        defs = defs.groupBy("conv_id", "definition", "acr").agg(
            F.min("src_rank").alias("src_rank")
        )
    w = Window.partitionBy("conv_id", "surface_norm").orderBy(
        F.asc("src_rank"), F.desc(F.length("definition")), F.asc("definition")
    )
    chosen = (
        acr.join(defs, ["conv_id", "acr"])
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("conv_id", "surface_norm", "definition")
    )
    # each distinct raw acronym with its exact-initials definition or
    # null, PINNED: the probe and the final join both read it, so the
    # acr ⋈ defs window runs once. persist(), not a local checkpoint:
    # the probe loads the cache, which then reports its real size, so
    # the size estimate of the returned table (and of the mentions hub
    # built from it) is real rather than a product of join estimates,
    # and later joins against it plan broadcasts up front. The cache
    # (one row per distinct raw acronym) lives as long as the session's
    # other pinned mention tables.
    acr_def = acr.join(chosen, ["conv_id", "surface_norm"], "left").persist()
    # one row per (conv_id, surface_norm) even when raw spellings share it
    chosen_all = (
        acr_def.filter(F.col("definition").isNotNull())
        .select("conv_id", "surface_norm", "definition")
        .distinct()
    )
    # fuzzy fallback (R10 abbrevSim) for acronyms the exact join missed.
    # GATED on an emptiness probe of the missed set: the probe is one
    # tiny dictionary-join action, while the fallback plan (per-
    # conversation cross + Arrow UDF + window) adds ~5 s of stage
    # scheduling to the flagship even when every acronym matched
    # exactly — the common case on a clean corpus.
    missed = acr_def.filter(F.col("definition").isNull()).drop("definition")
    if not missed.isEmpty():
        wf = Window.partitionBy("conv_id", "surface_norm").orderBy(
            F.desc("sim"), F.desc(F.length("definition")), F.asc("definition")
        )
        fuzzy = (
            missed.join(defs.drop("acr"), "conv_id")
            .withColumn("sim", abbrev_sim_udf(F.col("surface"), F.col("definition")))
            .filter(F.col("sim") > abbrev_threshold)
            .withColumn("rk", F.row_number().over(wf))
            .filter(F.col("rk") == 1)
            .select("conv_id", "surface_norm", "definition")
        )
        chosen_all = chosen_all.unionByName(fuzzy)
    out = mentions.join(chosen_all, ["conv_id", "surface_norm"], "left")
    base = F.col("canon_norm") if "canon_norm" in mentions.columns else F.col("surface_norm")
    return out.withColumn(
        "canon_norm",
        F.when(
            F.col("surface").rlike(_ACRONYM_RE) & F.col("definition").isNotNull(),
            F.col("definition"),
        ).otherwise(base),
    ).drop("definition")


def resolve_coref(mentions: DataFrame) -> DataFrame:
    """Doc-local orthographic coref (ELUtils.java:178-208 semantics):
    within a conversation, a mention whose normalized surface is a
    token-subset of a longer surface in the same conversation is
    re-pointed at the LONGEST such surface ('canon_norm').

    Fully relational: per-conversation self-join over the distinct
    (conv_id, surface) pairs (5-10 per conversation) with a JVM
    token-containment predicate, longest-wins via a ranked window.
    Replaces a grouped-pandas kernel that cost ~3ms of Python per
    conversation -- at 10^9 conversations that was the pipeline's
    largest non-JVM stage. Token-subset containment is transitive, so
    single-step longest-container mapping equals the reference's
    chain-following (s in L, L in L2 => s in L2;
    OrthoMatcherCoref.java:221-278 does the same doc-local loop).
    """
    from pyspark.sql import Window

    cs = mentions.select("conv_id", "surface_norm").distinct()
    toks = lambda c: F.array_distinct(F.split(c, r"\s+"))  # noqa: E731
    a = cs.alias("a")
    b = cs.alias("b")
    contained = (
        a.join(b, "conv_id")
        .filter(
            (F.length(F.col("b.surface_norm")) > F.length(F.col("a.surface_norm")))
            & (
                F.size(
                    F.array_except(toks(F.col("a.surface_norm")), toks(F.col("b.surface_norm")))
                )
                == 0
            )
        )
        .select(
            "conv_id",
            F.col("a.surface_norm").alias("surface_norm"),
            F.col("b.surface_norm").alias("container"),
        )
    )
    w = Window.partitionBy("conv_id", "surface_norm").orderBy(
        F.desc(F.length("container")), F.asc("container")
    )
    longest = (
        contained.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("conv_id", "surface_norm", F.col("container").alias("canon"))
    )
    return mentions.join(longest, ["conv_id", "surface_norm"], "left").withColumn(
        "canon_norm", F.coalesce(F.col("canon"), F.col("surface_norm"))
    ).drop("canon")
