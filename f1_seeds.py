#!/usr/bin/env python
"""Contingency F1 of the flagship over many generator seeds at 4.8k turns.

For each seed, ``run_er_pipeline`` runs in memory with the default
``ERConfig`` on ``generate_corpus(400 conversations x 12 turns,
64 entities, community_size=8, seed)``, the corpus of perfbench's
``er_small`` under another generator seed. Its mention clusters are
scored against gold over ALL gold mention pairs by
``evaluate.contingency_prf``, which counts through the cluster x entity
table.

    python f1_seeds.py --seeds 1-60 --out F1_SEEDS.json

One Spark session (``local[cores]``, the host-sized heap of
``get_spark``); cached blocks are dropped between seeds.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-60", help="inclusive range, e.g. 1-60")
    ap.add_argument("--out", default="F1_SEEDS.json")
    args = ap.parse_args()

    from wned_spark.config import ERConfig
    from wned_spark.datagen import generate_corpus
    from wned_spark.operators.evaluate import contingency_prf
    from wned_spark.pipeline import run_er_pipeline
    from wned_spark.session import DEFAULT_CPUS, get_spark

    spark = get_spark(app_name="wned_f1_seeds", master=f"local[{DEFAULT_CPUS}]",
                      shuffle_partitions=DEFAULT_CPUS)
    sc = spark.sparkContext
    sc.setCheckpointDir(tempfile.mkdtemp(prefix="wned_f1_seeds_"))
    rows = []
    for seed in _seeds(args.seeds):
        spark.catalog.clearCache()
        for jrdd in list(sc._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(True)
        c = generate_corpus(spark, n_conversations=400, turns_per_conv=12,
                            n_entities=64, community_size=8, seed=seed)
        transcripts = c["transcripts"].persist()
        transcripts.count()
        t0 = time.time()
        res = run_er_pipeline(spark, transcripts, alias_raw=c["alias_raw"], cfg=ERConfig())
        clusters = res.clusters.localCheckpoint()
        wall = time.time() - t0
        prf = contingency_prf(clusters, c["gold_mentions"])
        row = {"seed": seed, "mentions": c["gold_mentions"].count(), "wall_s": round(wall, 2),
               **{k: prf[k] for k in ("precision", "recall", "f1")}}
        print(json.dumps(row), flush=True)
        rows.append(row)
    f1 = sorted(r["f1"] for r in rows)
    out = {
        "corpus": "generate_corpus(n_conversations=400, turns_per_conv=12, "
                  "n_entities=64, community_size=8, seed)",
        "metric": "contingency pairwise F1 over all gold mention pairs",
        "cores": DEFAULT_CPUS,
        "seeds": len(rows),
        "below_0.99": [r["seed"] for r in rows if r["f1"] < 0.99],
        "f1_min": f1[0],
        "f1_median": f1[len(f1) // 2],
        "rows": rows,
    }
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
