"""Pipeline configuration.

Constants pinned to the reference where the semantics carry over
(citations are file:line into /root/reference):

- PPR: alpha=0.85, 3 iterations
  (``graph/algorithms/PersonalizedPageRank.java:27-30``; the reference
  also stops at an L1 delta < 1e-5, which 3 iterations reach first in
  practice, so no delta check runs).
- Candidate caps: top-20 by prior, prior thresholds 0.005 (link source)
  / 0.001 (other), post-merge floor 2e-5
  (``cs/CandidateSelectionLucene.java:38,42``, ``utils/CSUtils.java:34,190``).
- Fuzzy-match gate: Jaro-Winkler >= 0.8 (``utils/CSUtils.java:53-78``).
- ZeroKL constants: eps=1e-6, gamma=10 (``utils/similarity/VectorSimilarity.java:87-104``).
- Rank combination weights: priorWeight=0.08, localWeight=0.1
  (``el.config:20-23``; localWeight ``el.config:22`` has no field of its
  own, the local context feature's weight is ``feature_weights``'
  ``ctx_cosine``; note the reference's MULTIPLY scheme silently
  falls back to LINEAR because the parser matches the string
  "MULTIPLE" — ``config/WNEDConfig.java:175`` — so LINEAR is what the
  shipped config actually runs, and LINEAR is our default).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class ERConfig:
    # --- candidate selection (J1/W1/F4/F5) ---
    top_k_candidates: int = 20
    prior_threshold_link: float = 0.005
    prior_threshold_other: float = 0.001
    prior_floor: float = 2e-5

    # --- blocking (J2) ---
    minhash_num_hashes: int = 48
    minhash_band_size: int = 4  # 12 bands of 4: P(collide) = .99 at J=.75,
    # .93 at J=.67 — strong enough that fuzzy recall no longer depends
    # on hot affix blocks (which drop_block_size removes at scale)
    shingle_size: int = 2
    # token block keys with more rows than this are salt-split / dropped
    # as uninformative (Zipf-head stopword-like tokens)
    max_block_size: int = 50
    # keys hotter than this are DROPPED, not salt-split: a block key shared
    # by hundreds of surfaces (Zipf-head tokens, common 4-char affixes)
    # is pure pair pollution — true variant pairs are carried by their
    # rare keys (surname token, MinHash bands). Salting covers the
    # middle range [max_block_size, drop_block_size].
    drop_block_size: int = 400
    # 4-char prefix/suffix keys (typo recall); redundant with the
    # MinHash bands on most corpora — disable when band recall suffices
    affix_keys: bool = True
    # (the reference's JW >= 0.8 fuzzy-candidate gate, CSUtils.java:53-78,
    # is strengthened here to the SoftTFIDF cascade gate ``soft_gate`` —
    # there is deliberately no separate JW knob)

    # --- PPR semantic signatures (G3/G5) ---
    ppr_alpha: float = 0.85
    ppr_max_iter: int = 3
    # top-K outgoing edges per node kept in the transition matrix (F7
    # degree-threshold recast); None = unbounded
    ppr_max_degree: int | None = 32
    # transition graphs up to this many (capped) edges run the
    # broadcast-matvec PPR (the reference's shared-in-heap-graph
    # architecture, seeds fanned out across executors); larger graphs
    # fall back to the shuffle-join implementation. 1e7 edges ≈ 280 MB
    # of CSR numpy on the driver and per executor — a safe default;
    # raise it only with driver/executor heap sized for ~28 bytes/edge
    ppr_broadcast_max_edges: int = 10_000_000
    cooccur_window_turns: int = 8  # analog of the <=1000-char window,
    # WikiGraphExtractor.java:70-77
    degree_floor: int = 0  # SubGraphGenerator.java:30-31 uses 200/600 on
    # Wikipedia-scale graphs; 0 disables for small synthetic graphs

    # --- ZeroKL (R7) — used by the sig_kl pipeline feature ---
    kl_eps: float = 1e-6
    kl_gamma: float = 10.0

    # --- "local" context feature (TFIDF3x.java:197-228) ---
    use_ctx_feature: bool = True
    ctx_window_turns: int = 2  # turns either side of a mention that
    # form its context document (the reference uses a char window
    # around the mention span, MentionContext.java:44-60)

    # --- scoring / decision (R1) ---
    # rank-combination scheme (Feature.java:40-164): LINEAR (shipped
    # default — WNEDConfig.java:175 parser quirk), MULTIPLY
    # (compareToJoint2), NOR (noisy-or). VOTE is a pairwise-majority
    # comparator, exposed as scoring.vote_copeland_score. Non-LINEAR
    # scores live on different scales than match_threshold's LINEAR
    # calibration.
    rank_scheme: str = "LINEAR"
    prior_weight: float = 0.08  # el.config:21
    # remaining mass goes to the semantic + name-string block
    match_threshold: float = 0.62
    # SoftTFIDF inner-match threshold (theta) and the decision gate on
    # the name_soft feature itself: a pair is a match only if the
    # combined score passes AND the discriminative-token alignment does
    # (mirrors the reference's JW >= 0.8 fuzzy-candidate gate,
    # CSUtils.java:53-78, strengthened to SoftTFIDF)
    soft_theta: float = 0.90
    soft_gate: float = 0.85
    # cascade-gate OR-arm on dictionary evidence: a pair whose surfaces
    # both alias the same entity with min-side prior >= prior_gate is
    # admitted to scoring even below the soft gate (the reference's
    # exact-lookup path links "Acme Group"/"Acme International" through
    # the dictionary with no string-similarity precondition). Admission
    # only — the final match rule still decides.
    prior_gate: float = 0.30
    feature_weights: dict = field(
        default_factory=lambda: {
            # LINEAR rank combination generalized to the pair-scoring
            # feature family (Feature.java:40-164 recast for pairs)
            # nameSim block
            "name_jw": 0.10,
            "name_soft": 0.33,
            "name_dice": 0.08,
            "name_lev": 0.05,
            # semSim block (cosine + the reference's 1/ZeroKL form)
            "sig_cosine": 0.14,
            "sig_kl": 0.08,
            # local (context tf-idf cosine)
            "ctx_cosine": 0.09,
            # prior
            "shared_prior": 0.13,
        }
    )

    # --- ambiguity handling (W8 / G6 second pass) ---
    # doc-local acronym→definition expansion (MentionExpansion.java)
    use_abbrev_expansion: bool = True
    # fuzzy abbrevSim fallback gate (MentionExpansion.java:48)
    abbrev_threshold: float = 0.3
    # mine 'full form (ACR)' / 'ACR (full form)' definition patterns
    # from turn text (MentionExpansion.java:961-1066) — catches long
    # forms that never recur as standalone mentions (e.g. lowercase
    # "automated clearing house (ACH)")
    use_pattern_defs: bool = True
    # conversation-signature argmax for mentions of surfaces with >1
    # candidate entity (ELUtils.java:59-94 document signatures)
    use_second_pass: bool = True
    # driver fast path for the second pass: when the graph fits the
    # broadcast cap AND the preference/trial tables are each under this
    # many rows, the override argmax runs in driver numpy with the same
    # CSR/PPR kernels the executors use (the distributed plan costs ~12
    # small stages of orchestration for a usually-tiny result); 0
    # disables the fast path
    second_pass_local_max_rows: int = 100_000

    # --- connected components (G8) ---
    cc_max_iter: int = 20
