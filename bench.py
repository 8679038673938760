#!/usr/bin/env python
"""Benchmark harness — runs the headline queries at SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[SPARK_GRAFT_CPUS] and prints ONE
JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Query set: the flagship ER pipeline (sized to sf) + the
shuffle/join/window/UDF-heavy operators from the driver-contract
registry. Each query is executed to completion with a noop write (no
driver collect in the timed path).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1

    from wned_spark.session import DEFAULT_CPUS as cpus, get_spark

    spark = get_spark(app_name="wned_bench")

    import wned_spark.entry_queries as EQ
    from wned_spark.config import ERConfig
    from wned_spark.datagen import generate_corpus
    from wned_spark.pipeline import run_er_pipeline

    def run_noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def release_pipeline_caches(*repin) -> None:
        """run_er_pipeline persists/localCheckpoints ~a dozen frames per
        run and hands ownership to the caller; across warm-up + 3 reps +
        the 10× run those pinned blocks would accumulate, putting later
        reps under growing storage pressure (and an evicted
        localCheckpoint block cannot recompute — truncated lineage).
        Drop every cached block between runs, then re-pin + re-
        materialize the inputs outside the timed window."""
        spark.catalog.clearCache()
        for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(True)
        for df in repin:
            df.persist()
            df.count()

    timings: dict[str, float] = {}

    # ---- flagship: ER pipeline sized to sf ----
    n_conv = max(100, int(sf * 4000))
    n_ent = max(32, int(sf * 640))
    corpus = generate_corpus(
        spark, n_conversations=n_conv, turns_per_conv=12,
        n_entities=n_ent, community_size=8,
    )
    transcripts = corpus["transcripts"].persist()
    n_turns = transcripts.count()  # materialize outside the timed window

    # Same noise protocol as the headliners: one untimed warm-up run
    # absorbs JIT/whole-stage-codegen/python-worker-pool startup (which
    # lands entirely on the session's first job and was measured to
    # swing a single-run flagship 16 s -> 36 s), then median of 3.
    run_noop(
        run_er_pipeline(
            spark, transcripts, alias_raw=corpus["alias_raw"], cfg=ERConfig()
        ).clusters
    )
    er_samples = []
    for _rep in range(3):
        release_pipeline_caches(transcripts)
        t0 = time.time()
        res = run_er_pipeline(
            spark, transcripts, alias_raw=corpus["alias_raw"], cfg=ERConfig()
        )
        run_noop(res.clusters)
        er_samples.append(round(time.time() - t0, 3))
    er_sec = sorted(er_samples)[1]
    timings["er_pipeline"] = er_sec
    turns_per_sec = n_turns / er_sec

    # ---- registry headliners over the sf tables ----
    headliners = [
        "agg_tpch_q1",
        "a1_edge_multiplicity",
        "a4_tfidf",
        "j1_dimension_join",
        "w1_topk_per_group",
        "d1_undirected_dedup",
        "r13_milne_witten",
        "g3_personalized_pagerank",
        "g8_connected_components",
        "dedup_minhash_lsh",
        "dedup_exact",
        "ann_cosine_topk",
        "text_quality",
        "text_fingerprint",
    ]
    qs = dict(EQ.queries())

    # Round-6 registry changes folded/re-parameterized three bench keys;
    # keep the BENCHED computation identical round-over-round so r06
    # medians compare against r05 directly:
    # - text_quality / text_fingerprint were folded into the registry's
    #   one text_analysis row → bench the original single-family frames;
    # - dedup_minhash_lsh's registry row now runs the recall-1 oracle
    #   band config (num_hashes=64, band_size=1) → bench the PRODUCTION
    #   S-curve config (num_hashes=32, band_size=4) it always measured.
    from pyspark.sql import functions as F

    from wned_spark.functions.text import doc_fingerprint, quality_features
    from wned_spark.operators.dedup import minhash_duplicate_pairs

    def _bench_text_quality(spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        q = quality_features(F.col("text"))
        return d.select(
            "doc_id",
            q["n_chars"].alias("n_chars"),
            q["n_tokens"].alias("n_tokens"),
            F.round(q["punct_ratio"], 6).alias("punct_ratio"),
            F.round(q["stopword_ratio"], 6).alias("stopword_ratio"),
        )

    def _bench_text_fingerprint(spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return d.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))

    def _bench_minhash(spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return minhash_duplicate_pairs(
            d, jaccard_threshold=0.2, num_hashes=32, band_size=4
        ).select("left_doc", "right_doc", F.round("jaccard", 6).alias("jaccard"))

    qs["text_quality"] = _bench_text_quality
    qs["text_fingerprint"] = _bench_text_fingerprint
    qs["dedup_minhash_lsh"] = _bench_minhash

    # flagship caches are dead weight from here on
    release_pipeline_caches()

    # Noise protocol (same as bench_scaling.py, applied per the round-2
    # verdict): one untimed warm-up pass absorbs JIT/codegen/catalog
    # warm-up that would otherwise land on whichever query runs first
    # after the flagship; then 3 timed repetitions with the QUERY LOOP
    # INSIDE the repetition loop (alternated, so slow host drift hits
    # every query equally, not one tail query); per-query median
    # reported, all samples disclosed.
    for name in headliners:
        run_noop(qs[name](spark, sf_dir))
    samples: dict[str, list[float]] = {name: [] for name in headliners}
    for _rep in range(3):
        for name in headliners:
            t0 = time.time()
            run_noop(qs[name](spark, sf_dir))
            samples[name].append(round(time.time() - t0, 3))
    for name in headliners:
        timings[name] = sorted(samples[name])[1]  # median of 3

    total = round(sum(timings.values()), 3)

    # ---- flagship at 10× input, OUTSIDE the suite total ----
    # The sf-sized flagship input (4.8k turns at sf0.1) sits on the
    # pipeline's near-constant orchestration term, so its turns/sec
    # badly understates the engine (the same code measures 8.5k
    # turns/sec on an 8-core cluster at 2.88M turns). One larger local
    # run discloses engine-regime throughput without inflating the
    # round-over-round suite metric.
    large = None
    if os.environ.get("SPARK_GRAFT_SKIP_LARGE") != "1":
        corpus_l = generate_corpus(
            spark, n_conversations=10 * n_conv, turns_per_conv=12,
            n_entities=10 * n_ent, community_size=8,
        )
        tr_l = corpus_l["transcripts"].persist()
        n_turns_l = tr_l.count()
        # two samples, min reported (both disclosed): a single run is
        # exposed to one-sided host-interference bursts, and the floor
        # is the engine number this block exists to disclose
        samples_l = []
        for _rep in range(2):
            release_pipeline_caches(tr_l)
            t0 = time.time()
            res_l = run_er_pipeline(
                spark, tr_l, alias_raw=corpus_l["alias_raw"], cfg=ERConfig()
            )
            run_noop(res_l.clusters)
            samples_l.append(round(time.time() - t0, 3))
        tr_l.unpersist()
        sec_l = min(samples_l)
        large = {
            "turns": n_turns_l,
            "sec": sec_l,
            "turns_per_sec": round(n_turns_l / sec_l, 2),
            "samples": samples_l,
        }

    all_samples = {"er_pipeline": er_samples, **samples}
    out = {
        "metric": "headline_suite_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "samples": all_samples,
        # the sandbox host shows intermittent one-sided interference
        # bursts (only ever ADD wall time; observed 1.3-3x for minutes
        # at a time, vmstat steal=0 — see BENCH_scaling_r04.json's
        # final_code_validation disclosure). Medians are the protocol
        # statistic; the per-query floors below are the noise-robust
        # engine numbers when a burst covers a whole repetition window.
        "queries_floor": {k: min(v) for k, v in all_samples.items()},
        "value_floor": round(sum(min(v) for v in all_samples.values()), 3),
        "protocol": "1 warm-up pass + median of 3 alternated repetitions (flagship included: warm-up + median of 3)",
        "sf": sf,
        "cpus": cpus,
        "er_turns": n_turns,
        "er_turns_per_sec": round(turns_per_sec, 2),
    }
    if large is not None:
        out["er_large"] = large
    print(json.dumps(out))


if __name__ == "__main__":
    main()
