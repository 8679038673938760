"""Per-module spans recorded from outside the program.

The traced run replaces the public functions that ``run_er_pipeline``
and the registry leaves reach through module attributes with wrappers
that record a span (name, layer, start, end, parent) around each call.
Spans stay in memory; the run folds them into per-layer metrics when
it ends.

Job and shuffle attribution uses Spark's stock event log, which only
the traced run turns on: every wrapper sets the Spark local property
``perfbench.span`` to its span id on the calling thread, so each job
and stage records the innermost span that submitted it. Jobs submitted
while no wrapper is active (the pipeline's own checkpoints and probe
counts) carry the id of the enclosing root span instead.

A wrapper may force the frame its function returns once, inside its
own span (a noop write with a row-count observation), so the layer's
execution lands in its span rather than in whichever later stage first
consumes the frame. The forced work is repeated by the program later,
which is part of the reported tracing overhead.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"

# layer -> (owner, attribute names) wrapped in the traced run; the owner
# is a module of the program, or ``module:Class`` for methods
WRAPPED = {
    "mentions": ("wned_spark.operators.mentions", (
        "extract_mentions", "resolve_coref", "mine_parenthetical_definitions",
        "expand_abbreviations")),
    "blocking": ("wned_spark.operators.blocking", ("surfaces_of", "candidate_surface_pairs")),
    "candidates": ("wned_spark.operators.candidates", ("build_alias_dict", "select_candidates")),
    "scoring": ("wned_spark.operators.scoring", (
        "soft_tfidf_feature", "string_features", "combine_scores")),
    "graph": ("wned_spark.operators.graph", ("build_cooccurrence_edges",)),
    "ppr": ("wned_spark.operators.ppr", (
        "personalized_pagerank", "personalized_pagerank_broadcast",
        "personalized_pagerank_auto", "signature_features")),
    "tfidf": ("wned_spark.operators.tfidf", (
        "surface_context_weights", "pairwise_cosine", "tokenize", "doc_term_weights")),
    "cc": ("wned_spark.operators.cc", ("connected_components_auto",)),
    "disambig": ("wned_spark.operators.disambig", ("second_pass_overrides",)),
    "catalog": ("wned_spark.plans.catalog:Catalog", ("write", "read")),
}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    phase: str
    t0: float
    t1: float = 0.0
    rows: int | None = None
    extra: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (children may overlap one another when they run
    on worker threads, so the covered part is the union)."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, lo, hi = 0.0, None, None
        for c0, c1 in sorted((max(c.t0, s.t0), min(c.t1, s.t1)) for c in children[s.id]):
            if c1 <= c0:
                continue
            if hi is None or c0 > hi:
                covered += 0.0 if hi is None else hi - lo
                lo, hi = c0, c1
            else:
                hi = max(hi, c1)
        if hi is not None:
            covered += hi - lo
        out[s.id] = (s.t1 - s.t0) - covered
    return out


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.sc = None          # set once the session exists
        self.root: int | None = None
        self.phase = "setup"
        self.force = False
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._restore: list = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def _set_property(self, span_id: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, None if span_id is None else str(span_id))

    @contextmanager
    def span(self, name: str, layer: str, root: bool = False):
        stack = self._stack()
        parent = stack[-1].id if stack else self.root
        with self._lock:
            s = Span(len(self.spans), name, layer, parent, self.phase, time.perf_counter())
            self.spans.append(s)
        stack.append(s)
        prev_root = self.root
        if root:
            self.root = s.id
        self._set_property(s.id)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            stack.pop()
            if root:
                self.root = prev_root
            self._set_property(stack[-1].id if stack else self.root)

    def in_layer(self, layer: str) -> bool:
        """True when a span of ``layer`` is already open on this thread."""
        return any(s.layer == layer for s in self._stack())

    # ---- wrapping ----
    def install(self, measures: dict) -> None:
        """Wrap every function in ``WRAPPED``; ``measures`` maps a
        function name to a callable(tracer, span, args, kwargs, out)
        that records extra counts for that layer."""
        import importlib

        for layer, (owner_path, names) in WRAPPED.items():
            mod_path, _, cls = owner_path.partition(":")
            owner = importlib.import_module(mod_path)
            if cls:
                owner = getattr(owner, cls)
            for name in names:
                fn = getattr(owner, name)
                setattr(owner, name, self._wrap(fn, name, layer, measures.get(name)))
                self._restore.append((owner, name, fn))

    def uninstall(self) -> None:
        for owner, name, fn in reversed(self._restore):
            setattr(owner, name, fn)
        self._restore.clear()

    def _wrap(self, fn, name: str, layer: str, measure):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            nested = tracer.in_layer(layer)
            with tracer.span(name, layer) as s:
                out = fn(*args, **kwargs)
                if tracer.force and not nested:
                    if measure is not None:
                        measure(tracer, s, args, kwargs, out)
                    elif _is_frame(out):
                        s.rows = tracer.force_frame(out)[0]
                return out

        return traced

    def force_frame(self, df, **aggs) -> tuple[int, dict]:
        """Execute ``df`` once to a noop sink; returns its row count and
        the values of any extra aggregate columns, observed in the same
        job."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        cols = [F.count(F.lit(1)).alias("rows")] + [c.alias(k) for k, c in aggs.items()]
        df.observe(obs, *cols).write.format("noop").mode("overwrite").save()
        got = obs.get
        return int(got["rows"]), {k: got[k] for k in aggs}

    @contextmanager
    def probe(self, name: str):
        """A child span for the benchmark's own counting jobs: its time
        and jobs are kept out of every layer."""
        with self.span(name, "bench") as s:
            yield s


def _is_frame(x) -> bool:
    return type(x).__name__ == "DataFrame" and hasattr(x, "observe")


def fold_event_log(path: str) -> tuple[Counter, Counter]:
    """Jobs and shuffle bytes written, per span id, from an event log."""
    jobs: Counter = Counter()
    shuffle: Counter = Counter()
    stage_span: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                if sid is not None:
                    jobs[int(sid)] += 1
            elif kind == "SparkListenerStageSubmitted":
                sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                if sid is not None:
                    stage_span[ev["Stage Info"]["Stage ID"]] = int(sid)
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev.get("Stage ID"))
                metrics = ev.get("Task Metrics") or {}
                written = (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                if sid is not None and written:
                    shuffle[sid] += written
    return jobs, shuffle


def layer_totals(spans: list[Span], jobs: Counter, shuffle: Counter) -> dict[str, dict]:
    """Per layer: summed self time, jobs and shuffle MB of its spans."""
    selfs = self_times(spans)
    out: dict[str, dict] = defaultdict(lambda: {"s": 0.0, "jobs": 0, "shuffle_mb": 0.0})
    for s in spans:
        t = out[s.layer]
        t["s"] += selfs[s.id]
        t["jobs"] += jobs.get(s.id, 0)
        t["shuffle_mb"] += shuffle.get(s.id, 0) / 1e6
    return dict(out)
