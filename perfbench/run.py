#!/usr/bin/env python3
"""wned_spark benchmark: one workload per process, one Spark session.

    python3 perfbench/run.py --workload er_small --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads:

- ``er_small``: ``run_er_pipeline`` in memory on ``generate_corpus``
  (400 conversations x 12 turns, 64 entities, generator seed 1 for
  every ``--seed``), clusters to a noop sink;
- ``registry``: one sweep over 14 registry leaves on the sf0.1 tables
  in ``perfbench/sf0.1``, each run to a noop sink.

The session runs on ``local[N]`` with N the cores in this process's
affinity mask and a driver heap of half the memory available to it.
Set-up (session, inputs, one untimed warm-up op) is followed by whole
ops until ``--seconds`` have passed. Every op's output is checked
outside the timed window. The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` prints
the end-to-end metrics and ``--trace 1`` the per-layer metrics of a
separate traced op (see README.md).
"""

from __future__ import annotations

import time

# set-up time (``setup_s``) counts from here, before any other import
T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "sf0.1")
TABLES = ("region", "nation", "customer", "orders", "lineitem", "events", "documents", "embeddings")
WORKLOADS = ("er_small", "registry")
LAYERS = (
    "session", "datagen", "pipeline", "mentions", "blocking", "candidates",
    "scoring", "graph", "ppr", "tfidf", "cc", "disambig", "catalog", "registry",
)
LEAVES = (
    "agg_tpch_q1", "a1_edge_multiplicity", "a4_tfidf", "j1_dimension_join",
    "w1_topk_per_group", "d1_undirected_dedup", "r13_milne_witten",
    "g3_personalized_pagerank", "g8_connected_components", "dedup_minhash_lsh",
    "dedup_exact", "ann_cosine_topk", "text_quality", "text_fingerprint",
)
# (name, unit) of every metric the two modes print
END_TO_END = (
    ("setup_s", "s"), ("op_s", "s"), ("spark_jobs", "count"),
)
PER_LAYER = tuple(
    [(f"{layer}.{m}", u) for layer in LAYERS
     for m, u in (("s", "s"), ("jobs", "count"), ("shuffle_mb", "MB"))]
    + [
        ("session.peak_rss_mb", "MB"), ("pipeline.pinned_mb", "MB"),
        ("pipeline.pairwise_f1", "ratio"), ("mentions.rows", "count"),
        ("blocking.surfaces", "count"), ("blocking.pairs", "count"),
        ("scoring.soft_tfidf_s", "s"), ("scoring.string_features_s", "s"),
        ("scoring.combine_s", "s"), ("scoring.gate_yield", "ratio"),
        ("scoring.match_yield", "ratio"), ("graph.edges", "count"),
        ("ppr.signature_rows", "count"), ("cc.clusters", "count"),
        ("disambig.overrides", "count"), ("catalog.write_s", "s"),
        ("catalog.read_s", "s"), ("catalog.commits", "count"),
        ("catalog.resume_s", "s"), ("catalog.resume_jobs", "count"),
        ("catalog.written_mb", "MB"), ("trace.overhead_s", "s"),
    ]
    + [(f"registry.{leaf}.s", "s") for leaf in LEAVES]
)
F1_GATE = 0.99


def host_size() -> tuple[int, str]:
    """Cores in the affinity mask and half the memory this process may
    use (physical RAM, or the cgroup limit when lower), as a heap size."""
    cores = len(os.sched_getaffinity(0))
    mem = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                mem = min(mem, int(f.read().strip()))
        except (OSError, ValueError):
            pass
    return cores, f"{mem // 2 // 2**20}m"


class Bench:
    """State shared by the workloads: session, tracer, counters."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.checks: list[tuple[str, bool, object]] = []
        self.info: dict = {}
        self._lock = threading.Lock()
        from spans import Tracer

        self.tracer = Tracer()

    # ---- session ----
    def start_session(self) -> None:
        from wned_spark.session import get_spark

        self.cores, heap = host_size()
        local = os.path.join(self.work, "local")
        os.makedirs(local, exist_ok=True)
        # SPARK_LOCAL_DIRS (set in main) places Spark's temporary files
        conf = {
            "spark.driver.memory": heap,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        }
        if self.args.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.tracer.span("get_spark", "session"):
            self.spark = get_spark(
                app_name=f"perfbench_{self.args.workload}",
                master=f"local[{self.cores}]",
                shuffle_partitions=self.cores,
                extra_conf=conf,
            )
        self.sc = self.spark.sparkContext
        self.sc.setCheckpointDir(os.path.join(self.work, "checkpoints"))
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        heap_bytes = self.spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
        self.info.update(cores=self.cores, heap=heap, jvm_max_heap_mb=round(heap_bytes / 2**20))

    def stop_session(self) -> None:
        """Stop Spark, then the gateway JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        finally:
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    if proc.stdin:
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except Exception:
                        proc.kill()
                        proc.wait()

    def last_job_id(self) -> int:
        """Run one marker job; job ids are sequential, so the ids of two
        markers bound the jobs submitted between them."""
        self.sc.setJobGroup("perfbench-marker", "marker")
        try:
            self.sc.parallelize([0], 1).count()
            return max(self.sc.statusTracker().getJobIdsForGroup("perfbench-marker"))
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing")

    def check(self, name: str, ok: bool, detail=None) -> None:
        self.checks.append((name, bool(ok), detail))
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr, flush=True)

    def fail(self, name: str, reason: str) -> None:
        """Count an operation that ran to its end as failed; call it once,
        as the last step of that operation."""
        with self._lock:
            self.failed += 1
        print(f"OPERATION FAILED {name}: {reason}", file=sys.stderr, flush=True)

    def attempt(self, name: str, fn):
        """Run one operation; a failure is counted, not raised."""
        with self._lock:
            self.attempted += 1
        try:
            return fn()
        except Exception:
            with self._lock:
                self.failed += 1
            print(f"OPERATION FAILED {name}:\n{traceback.format_exc()}", file=sys.stderr, flush=True)
            return None

    def release_caches(self, *repin) -> None:
        """Drop every cached block between ops (the pipeline hands its
        pinned frames to the caller), then re-pin the inputs."""
        self.spark.catalog.clearCache()
        for jrdd in list(self.sc._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(True)
        for df in repin:
            df.persist()
            df.count()

    def measure(self, fn) -> tuple:
        """Run ``fn`` as one timed op: returns its result, wall seconds
        and Spark jobs submitted."""
        j0 = self.last_job_id()
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        return out, wall, self.last_job_id() - j0 - 1

    def settle(self) -> None:
        """Start the timed window from a collected heap, after a second
        in which the JIT can work off compilations the warm-up queued."""
        self.spark._jvm.java.lang.System.gc()
        time.sleep(1.0)

    def pinned_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


# =====================================================================
# er_small
# =====================================================================

N_CONV, TURNS, N_ENT = 400, 12, 64
# The corpus is the same for every --seed: on corpora of other generator
# seeds the program fails the F1 gate on some and passes it on others,
# and a share of failed operations that depends on the seed cannot be
# compared between runs. On this corpus it fails the gate every time,
# by merging these two gold entities (README, "Correctness checks").
CORPUS_SEED = 1
KNOWN_MERGE = ("Vera Barbarbar", "Xenia Vergarbar")


def run_er_small(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from checks import score_clusters
    from wned_spark.config import ERConfig
    from wned_spark.datagen import generate_corpus
    from wned_spark.pipeline import run_er_pipeline

    spark, tracer = b.spark, b.tracer
    with tracer.span("generate_corpus", "datagen"):
        corpus = generate_corpus(
            spark, n_conversations=N_CONV, turns_per_conv=TURNS,
            n_entities=N_ENT, community_size=8, seed=CORPUS_SEED,
        )
        transcripts = corpus["transcripts"].persist()
        turns = transcripts.count()
        gold_pdf = corpus["gold_mentions"].select(
            F.xxhash64("conv_id", "turn_idx", "start").alias("mention_id"), "entity_id"
        ).toPandas()
    gold = dict(zip(gold_pdf["mention_id"].tolist(), gold_pdf["entity_id"].tolist()))
    entities = corpus["entities"].toPandas()
    known_merge = entities.loc[entities["name"].isin(KNOWN_MERGE), "entity_id"].tolist()
    assert len(known_merge) == len(KNOWN_MERGE), known_merge
    b.info.update(turns=turns, gold_mentions=len(gold))

    def flagship(catalog=None):
        b.release_caches(transcripts)

        def run():
            res = run_er_pipeline(
                spark, transcripts, alias_raw=corpus["alias_raw"], cfg=ERConfig(), catalog=catalog
            )
            res.clusters.write.format("noop").mode("overwrite").save()
            return res

        return b.measure(run)

    reference: dict = {}

    def check_clusters(tag: str, res) -> dict:
        """Score the clusters against the gold entities. An op whose
        pairwise F1 is below 0.99 failed (``fault``; the caller counts
        it). The run is correct when the F1 reaches 0.99 once the known
        merge is forgiven, every gold mention is clustered and every op
        of the run yields the same clusters."""
        pdf = res.clusters.select("mention_id", "cluster_id").toPandas()
        pred = dict(zip(pdf["mention_id"].tolist(), pdf["cluster_id"].tolist()))
        prf = score_clusters(pred, gold, known_merge, F1_GATE)
        b.check(f"{tag}.f1_but_known_merge", prf["correct"], prf)
        b.check(f"{tag}.gold_present", prf["missing"] == 0, prf)
        if not reference:
            reference.update(pred)
        b.check(f"{tag}.same_clusters", pred == reference)
        b.info.setdefault("pairwise_f1", []).append(round(prf["f1"], 6))
        b.info.setdefault("precision", []).append(round(prf["precision"], 6))
        return {"pred": pred, **prf}

    def count_fault(tag: str, prf: dict) -> None:
        if prf["fault"]:
            b.fail(tag, f"pairwise F1 {prf['f1']:.6f} < {F1_GATE} "
                        f"({prf['f1_known_merged']:.6f} with {' + '.join(KNOWN_MERGE)} as one)")

    pinned: list[float] = []

    def op(tag: str):
        def go():
            res, wall, n_jobs = flagship()
            pinned.append(b.pinned_mb())
            count_fault(tag, check_clusters(tag, res))
            return wall, n_jobs
        return b.attempt(tag, go)

    warm = op("warmup")
    b.settle()
    result = timed_loop(b, lambda i: op(f"op{i}"))
    b.info.update(warmup_s=warm and round(warm[0], 3), pinned_mb=[round(p, 2) for p in pinned])
    op_s = result["op_s"]
    b.info["turns_per_s"] = round(turns / op_s, 2) if op_s else 0.0
    if not b.args.trace:
        return result

    layer = {"pipeline.pinned_mb": statistics.median(pinned) if pinned else 0.0}
    layer.update(catalog_round(b, flagship, check_clusters, count_fault, turns))

    # ---- traced op: the same flagship run with every layer wrapped ----
    tracer.install(er_measures())
    tracer.force = True
    tracer.phase = "op"
    b.release_caches(transcripts)
    with tracer.span("run_er_pipeline", "pipeline", root=True) as root:
        res = b.attempt("traced", lambda: run_er_pipeline(
            spark, transcripts, alias_raw=corpus["alias_raw"], cfg=ERConfig()))
        if res is not None:
            res.clusters.write.format("noop").mode("overwrite").save()
    tracer.uninstall()
    if res is not None:
        prf = check_clusters("traced", res)
        layer["pipeline.pairwise_f1"] = prf["f1"]
        count_fault("traced", prf)
    after = op("after_trace")
    layer["trace.overhead_s"] = overhead(root.t1 - root.t0, op_s, after)
    result["layer"].update(layer)
    return result


def catalog_round(b: Bench, flagship, check_clusters, count_fault, turns: int) -> dict:
    """Traced catalog write run into a fresh warehouse, then a resume
    run over its manifest; returns their per-layer figures."""
    from wned_spark.plans.catalog import Catalog

    tracer, spark = b.tracer, b.spark
    tracer.install({})
    tracer.phase = "catalog"
    wh = os.path.join(b.work, "warehouse")

    def manifest():
        return {k: v["snapshot_id"] for k, v in Catalog(spark, wh).manifest["stages"].items()}

    def round_trip() -> dict:
        """Write run, then resume run: one operation, so that every op
        of a traced run fails the F1 gate alike (see count_fault)."""
        with tracer.span("run_er_pipeline", "pipeline", root=True):
            res, wall, jobs = flagship(Catalog(spark, wh))
        prf = check_clusters("catalog_write", res)
        written = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(wh) for f in fs)
        b.info.update(catalog_write_s=round(wall, 3), catalog_write_jobs=jobs,
                      catalog_turns_per_s=round(turns / wall, 2))
        snaps = manifest()
        with tracer.span("run_er_pipeline", "pipeline", root=True):
            res, wall, jobs = flagship(Catalog(spark, wh))
        pdf = res.clusters.select("mention_id", "cluster_id").toPandas()
        b.check("resume.no_new_commits", manifest() == snaps)
        b.check("resume.same_clusters",
                dict(zip(pdf["mention_id"].tolist(), pdf["cluster_id"].tolist())) == prf["pred"])
        count_fault("catalog", prf)
        return {"catalog.written_mb": written / 1e6, "catalog.resume_s": wall,
                "catalog.resume_jobs": jobs}

    try:
        out = b.attempt("catalog", round_trip) or {}
    finally:
        tracer.uninstall()
    return out


def er_measures() -> dict:
    """Counts beyond the returned frame's rows, for the functions whose
    layer reports them."""
    from pyspark.sql import functions as F

    def string_features(tracer, s, args, kwargs, out):
        with tracer.probe("gated_pairs"):
            s.extra["gated"] = args[0].count()
        s.rows = tracer.force_frame(out)[0]

    def combine_scores(tracer, s, args, kwargs, out):
        from wned_spark.config import ERConfig

        cfg = args[1] if len(args) > 1 else kwargs.get("cfg", ERConfig())
        s.rows, got = tracer.force_frame(
            out, matched=F.count(F.when(F.col("score") >= cfg.match_threshold, 1)))
        s.extra["matched"] = int(got["matched"])

    def components(tracer, s, args, kwargs, out):
        s.rows = tracer.force_frame(out)[0]
        with tracer.probe("cluster_count"):
            s.extra["clusters"] = out.select("component").distinct().count()

    return {
        "string_features": string_features,
        "combine_scores": combine_scores,
        "connected_components_auto": components,
    }


# =====================================================================
# registry
# =====================================================================

def registry_leaves() -> dict:
    """The 14 leaves, with the three frames that are defined here rather
    than taken from the registry: the single-family text frames and
    MinHash-LSH in its production config (32 hashes, bands of 4)."""
    from pyspark.sql import functions as F

    import wned_spark.entry_queries as EQ
    from wned_spark.functions.text import doc_fingerprint, quality_features
    from wned_spark.operators.dedup import minhash_duplicate_pairs

    def text_quality(spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        q = quality_features(F.col("text"))
        return d.select(
            "doc_id",
            q["n_chars"].alias("n_chars"),
            q["n_tokens"].alias("n_tokens"),
            F.round(q["punct_ratio"], 6).alias("punct_ratio"),
            F.round(q["stopword_ratio"], 6).alias("stopword_ratio"),
        )

    def text_fingerprint(spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return d.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))

    def minhash(spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return minhash_duplicate_pairs(
            d, jaccard_threshold=0.2, num_hashes=32, band_size=4
        ).select("left_doc", "right_doc", F.round("jaccard", 6).alias("jaccard"))

    qs = EQ.queries()
    local = {"text_quality": text_quality, "text_fingerprint": text_fingerprint,
             "dedup_minhash_lsh": minhash}
    return {name: local.get(name) or qs[name] for name in LEAVES}


def check_leaf(b: Bench, con, name: str, path: str) -> None:
    """Compare one leaf's parquet output with its oracle or property."""
    import wned_spark.entry_queries as EQ
    from checks import oracle_mismatches

    oracle = EQ.oracle_sql().get(name)
    view = f"read_parquet('{path}/*.parquet')"
    if name == "dedup_minhash_lsh":
        # every reported pair carries its exact word-3-gram Jaccard (the
        # registry's recall-1 row has the exact pair set as its oracle)
        con.execute(f"CREATE OR REPLACE TEMP VIEW _exact AS {oracle}")
        bad = con.execute(
            f"SELECT count(*) FROM {view} m LEFT JOIN _exact e USING (left_doc, right_doc) "
            "WHERE e.jaccard IS NULL OR round(m.jaccard, 6) <> round(e.jaccard, 6) "
            "OR m.jaccard < 0.2 OR m.left_doc >= m.right_doc"
        ).fetchone()[0]
        found, exact = con.execute(
            f"SELECT (SELECT count(*) FROM {view}), (SELECT count(*) FROM _exact)"
        ).fetchone()
        b.check(name, bad == 0 and found > 0, {"bad": bad, "pairs": found, "exact_pairs": exact})
    elif name == "text_quality":
        bad = con.execute(
            f"SELECT count(*) FROM {view} q FULL JOIN documents d USING (doc_id) "
            "WHERE q.n_chars IS DISTINCT FROM length(d.text) OR q.n_tokens < 0 "
            "OR q.punct_ratio NOT BETWEEN 0 AND 1 OR q.stopword_ratio NOT BETWEEN 0 AND 1"
        ).fetchone()[0]
        b.check(name, bad == 0, {"bad": bad})
    elif name == "text_fingerprint":
        bad, dup_groups = con.execute(
            "SELECT count(*) FILTER (WHERE n_fp <> 1), count(*) FILTER (WHERE n_doc > 1) FROM ("
            "SELECT d.text, count(DISTINCT f.fingerprint) AS n_fp, count(*) AS n_doc "
            f"FROM {view} f JOIN documents d USING (doc_id) GROUP BY d.text)"
        ).fetchone()
        b.check(name, bad == 0 and dup_groups > 0, {"bad": bad, "duplicate_texts": dup_groups})
    else:
        got = oracle_mismatches(con, path, oracle)
        b.check(name, got["mismatched"] == 0 and got["spark_rows"] > 0, got)


def run_registry(b: Bench) -> dict:
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    spark, tracer = b.spark, b.tracer
    leaves = registry_leaves()

    # warm-up sweep, untimed: the leaves run concurrently (one thread per
    # core), each written to parquet and checked by DuckDB as it lands
    out = os.path.join(b.work, "out")
    con = duckdb.connect()
    con.execute(f"SET threads TO {b.cores}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    t_warm = time.perf_counter()
    with ThreadPoolExecutor(max_workers=b.cores) as pool:
        futures = {
            name: pool.submit(b.attempt, name, lambda fn=fn, name=name: fn(spark, SF_DIR).write
                              .mode("overwrite").parquet(os.path.join(out, name)) or True)
            for name, fn in leaves.items()
        }
        for name, fut in futures.items():
            if fut.result():
                check_leaf(b, con, name, os.path.join(out, name))
    b.info["warmup_s"] = round(time.perf_counter() - t_warm, 3)
    con.close()
    shutil.rmtree(out, ignore_errors=True)

    def sweep(traced: bool = False) -> dict:
        per_leaf = {}
        for name, fn in leaves.items():
            def leaf():
                t = time.perf_counter()
                with tracer.span(name, "registry") if traced else nullcontext():
                    fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                per_leaf[name] = time.perf_counter() - t
            b.attempt(name, leaf)
        return per_leaf

    def timed_sweep(i):
        per_leaf, wall, n_jobs = b.measure(sweep)
        b.info.setdefault("leaf_s", []).append({k: round(v, 3) for k, v in per_leaf.items()})
        return wall, n_jobs

    b.settle()
    result = timed_loop(b, timed_sweep)
    op_s = result["op_s"]
    if not b.args.trace:
        return result

    tracer.install({})
    tracer.force = True
    tracer.phase = "op"
    with tracer.span("sweep", "registry", root=True) as root:
        per_leaf = sweep(traced=True)
    traced_s = root.t1 - root.t0
    tracer.uninstall()
    layer = {f"registry.{k}.s": v for k, v in per_leaf.items()}
    layer["trace.overhead_s"] = overhead(traced_s, op_s, b.measure(sweep)[1:])
    result["layer"].update(layer)
    return result


def overhead(traced_s: float, before_s: float, after) -> float:
    """Traced wall minus untraced wall. The traced op is bracketed by
    untraced ops, because the JIT is still warming: an op after it runs
    faster than the ops before it for that reason alone."""
    untraced = before_s if after is None else (before_s + after[0]) / 2
    return traced_s - untraced


def timed_loop(b: Bench, op) -> dict:
    """Run whole ops until ``--seconds`` have passed (at least one);
    ``op(i)`` returns (wall, jobs), or None when it failed."""
    walls, jobs = [], []
    t_first = time.time()
    t_end = time.perf_counter() + b.args.seconds
    while True:
        out = op(len(walls))
        if out is not None:
            walls.append(out[0])
            jobs.append(out[1])
        if time.perf_counter() >= t_end:
            break
    b.info.update(op_samples_s=[round(w, 3) for w in walls], jobs_samples=jobs)
    return {
        "t_first": t_first,
        "op_s": statistics.median(walls) if walls else 0.0,
        "spark_jobs": statistics.median(jobs) if jobs else 0,
        "layer": {},
    }


# =====================================================================
# per-layer fold
# =====================================================================

def per_layer_metrics(b: Bench, extra: dict) -> dict:
    from spans import fold_event_log, layer_totals, self_times

    (log,) = [os.path.join(d, f) for d, _, fs in os.walk(b.event_dir) for f in fs]
    jobs, shuffle = fold_event_log(log)
    spans = b.tracer.spans
    main = [s for s in spans if s.phase in ("setup", "op")]
    cat = [s for s in spans if s.phase == "catalog"]
    totals = layer_totals(main, jobs, shuffle)
    cat_totals = layer_totals(cat, jobs, shuffle).get("catalog")
    if cat_totals:
        totals["catalog"] = cat_totals
    values = {name: 0.0 for name, _ in PER_LAYER}
    for layer in LAYERS:
        for m in ("s", "jobs", "shuffle_mb"):
            values[f"{layer}.{m}"] = totals.get(layer, {}).get(m, 0.0)

    def of(name, phase="op"):
        return [s for s in spans if s.name == name and s.phase == phase]

    def rows(*names):
        return sum(s.rows or 0 for n in names for s in of(n))

    def counted(key, name):
        return sum(s.extra.get(key, 0) for s in of(name))

    selfs = self_times(spans)
    values["mentions.rows"] = rows("extract_mentions")
    values["blocking.surfaces"] = rows("surfaces_of")
    values["blocking.pairs"] = rows("candidate_surface_pairs")
    values["graph.edges"] = rows("build_cooccurrence_edges")
    values["ppr.signature_rows"] = rows("personalized_pagerank", "personalized_pagerank_broadcast")
    values["cc.clusters"] = counted("clusters", "connected_components_auto")
    values["disambig.overrides"] = rows("second_pass_overrides")
    for key, name in (("scoring.soft_tfidf_s", "soft_tfidf_feature"),
                      ("scoring.string_features_s", "string_features"),
                      ("scoring.combine_s", "combine_scores")):
        values[key] = sum(selfs[s.id] for s in of(name))
    gated = counted("gated", "string_features")
    if values["blocking.pairs"]:
        values["scoring.gate_yield"] = gated / values["blocking.pairs"]
    if gated:
        values["scoring.match_yield"] = counted("matched", "combine_scores") / gated
    writes = of("write", "catalog")
    values["catalog.write_s"] = sum(s.t1 - s.t0 for s in writes)
    values["catalog.commits"] = len(writes)
    values["catalog.read_s"] = sum(s.t1 - s.t0 for s in of("read", "catalog"))
    values.update(extra)
    return values


# =====================================================================

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import wned_spark  # noqa: F401  (fails fast when the program is absent)

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # every temporary file of this process and its children stays under
    # the work directory, which is removed at exit
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None

    b = Bench(args, work)
    try:
        try:
            b.start_session()
            b.tracer.sc = b.sc
            res = (run_er_small if args.workload == "er_small" else run_registry)(b)
            rss = b.peak_rss_mb()
        finally:
            b.tracer.sc = None
            if hasattr(b, "spark"):
                b.stop_session()
        if args.trace:
            declared = PER_LAYER
            values = per_layer_metrics(b, {**res["layer"], "session.peak_rss_mb": rss})
        else:
            declared = END_TO_END
            values = {
                "setup_s": res["t_first"] - T_START,
                "op_s": res["op_s"],
                "spark_jobs": res["spark_jobs"],
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in declared}
    correct = all(ok for _, ok, _ in b.checks)
    b.info["checks"] = {name: ok for name, ok, _ in b.checks}
    b.info["setup_spans_s"] = {
        s.name: round(s.t1 - s.t0, 3) for s in b.tracer.spans if s.phase == "setup"}
    print(json.dumps({"info": b.info}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
