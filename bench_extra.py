#!/usr/bin/env python
"""Per-query isolation harness for the optimization rounds (guide §1).

NOT the driver bench — ``bench.py`` is frozen for measurement. This
file exists to (a) time individual queries with the noop sink, (b) dump
``.explain("formatted")`` plans for the plan-diff evidence in
``plans/r07/``, and (c) run quick A/B comparisons while optimizing.

Usage:
    python bench_extra.py time  q1 q2 ...      # warm-up + median of N
    python bench_extra.py plan  q1 q2 ...      # print formatted plans
    python bench_extra.py list

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), BENCH_EXTRA_REPS (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_queries(spark, sf_dir):
    """The bench.py query set: registry rows + the three bench-local
    re-parameterized frames (kept in sync with frozen bench.py)."""
    import wned_spark.entry_queries as EQ
    from pyspark.sql import functions as F

    from wned_spark.functions.text import doc_fingerprint, quality_features
    from wned_spark.operators.dedup import minhash_duplicate_pairs

    qs = dict(EQ.queries())

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
    qs["dedup_minhash_lsh_prod"] = _bench_minhash
    return qs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("BENCH_EXTRA_REPS", "3"))
    mode = sys.argv[1] if len(sys.argv) > 1 else "list"
    names = sys.argv[2:]

    from wned_spark.session import DEFAULT_CPUS as cpus, get_spark

    spark = get_spark(app_name="wned_bench_extra")
    qs = build_queries(spark, sf_dir)

    if mode == "list":
        print("\n".join(sorted(qs)))
        return

    if mode == "plan":
        for name in names:
            df = qs[name](spark, sf_dir)
            print(f"===== {name} =====")
            df.explain("formatted")
        return

    def run_noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"warmup: {name}")
        run_noop(qs[name](spark, sf_dir))
    samples = {name: [] for name in names}
    for _rep in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"timed: {name}")
            t0 = time.time()
            run_noop(qs[name](spark, sf_dir))
            samples[name].append(round(time.time() - t0, 3))
    for name in names:
        s = sorted(samples[name])
        out[name] = {"median": s[len(s) // 2], "min": s[0], "samples": samples[name]}
    print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "timings": out}))


if __name__ == "__main__":
    main()
