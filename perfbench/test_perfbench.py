"""Tests of the pieces that decide the benchmark's verdicts. No Spark.

    python3 -m pytest perfbench -q
"""

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from checks import oracle_mismatches, pairwise_prf, score_clusters  # noqa: E402
from spans import Span, fold_event_log, layer_totals, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# ---- contingency F1 ----

def test_prf_perfect_clustering():
    gold = {m: m // 10 for m in range(40)}
    pred = {m: f"c{m // 10}" for m in range(40)}
    got = pairwise_prf(pred, gold)
    assert (got["precision"], got["recall"], got["f1"]) == (1.0, 1.0, 1.0)
    assert got["tp"] == got["gold_pairs"] == 4 * 45
    assert got["missing"] == 0


def test_prf_one_merge_of_two_entities():
    # entities of 10, 10 and 20 mentions; the two small ones are merged
    gold = {m: (0 if m < 10 else 1 if m < 20 else 2) for m in range(40)}
    pred = {m: ("a" if m < 20 else "b") for m in range(40)}
    got = pairwise_prf(pred, gold)
    tp = 45 + 45 + 190
    assert got["tp"] == tp
    assert got["predicted_pairs"] == 190 + 190
    assert got["recall"] == 1.0
    assert got["precision"] == pytest.approx(tp / 380)
    p = tp / 380
    assert got["f1"] == pytest.approx(2 * p / (p + 1))


def test_f1_gate_rejects_one_cluster_for_everything():
    # recall stays 1.0 when everything is merged; only precision shows it
    gold = {m: m // 10 for m in range(40)}
    got = pairwise_prf({m: "all" for m in range(40)}, gold)
    assert got["recall"] == 1.0 and got["missing"] == 0
    assert got["f1"] < run.F1_GATE


# ---- the known merge ----

GOLD_4 = {m: m // 10 for m in range(40)}  # entities 0-3 of 10 mentions


def test_known_merge_fails_the_op_but_stays_correct():
    pred = {m: ("a" if m < 20 else f"c{m // 10}") for m in range(40)}  # 0 + 1 merged
    got = score_clusters(pred, GOLD_4, (0, 1), run.F1_GATE)
    assert got["f1"] < run.F1_GATE
    assert got["f1_known_merged"] == 1.0
    assert got["fault"] and got["correct"]


def test_other_merge_is_incorrect():
    pred = {m: ("a" if 10 <= m < 30 else f"c{m // 10}") for m in range(40)}  # 1 + 2 merged
    got = score_clusters(pred, GOLD_4, (0, 1), run.F1_GATE)
    assert got["fault"] and not got["correct"]


def test_known_merge_plus_everything_merged_is_incorrect():
    got = score_clusters({m: "all" for m in range(40)}, GOLD_4, (0, 1), run.F1_GATE)
    assert got["fault"] and not got["correct"]


def test_clustering_without_the_known_merge_passes():
    pred = {m: f"c{m // 10}" for m in range(40)}
    got = score_clusters(pred, GOLD_4, (0, 1), run.F1_GATE)
    assert got["f1"] == 1.0 and got["f1_known_merged"] < run.F1_GATE
    assert not got["fault"] and got["correct"]


def test_prf_split_and_missing_mentions():
    gold = {m: 0 for m in range(6)}
    pred = {0: "a", 1: "a", 2: "a", 3: "b", 4: "b"}  # mention 5 missing
    got = pairwise_prf(pred, gold)
    assert got["missing"] == 1
    assert got["tp"] == 3 + 1
    assert got["gold_pairs"] == 15
    assert got["precision"] == 1.0
    assert got["recall"] == pytest.approx(4 / 15)


def test_prf_all_singletons_has_no_predicted_pairs():
    gold = {m: 0 for m in range(3)}
    got = pairwise_prf({m: m for m in range(3)}, gold)
    assert got["precision"] == 1.0 and got["recall"] == 0.0 and got["f1"] == 0.0


# ---- self time ----

def _span(i, parent, t0, t1, layer="x"):
    return Span(i, f"s{i}", layer, parent, "op", t0, t1)


def test_self_time_nested_and_overlapping_children():
    spans = [
        _span(0, None, 0.0, 10.0, "pipeline"),
        _span(1, 0, 1.0, 4.0),     # overlaps span 2
        _span(2, 0, 3.0, 5.0),
        _span(3, 0, 7.0, 8.0),
        _span(4, 1, 1.5, 2.0),     # grandchild: counts against span 1 only
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - (5.0 - 1.0) - 1.0)
    assert got[1] == pytest.approx(3.0 - 0.5)
    assert got[2] == pytest.approx(2.0)
    assert got[3] == pytest.approx(1.0)
    assert got[4] == pytest.approx(0.5)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, None, 0.0, 2.0), _span(1, 0, 1.0, 3.0)]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_layer_totals_sum_self_time_jobs_and_shuffle():
    spans = [
        _span(0, None, 0.0, 10.0, "pipeline"),
        _span(1, 0, 1.0, 3.0, "scoring"),
        _span(2, 0, 4.0, 5.0, "scoring"),
        _span(3, 1, 1.0, 2.0, "bench"),
    ]
    totals = layer_totals(spans, {0: 3, 1: 2, 3: 7}, {1: 2_000_000})
    assert totals["pipeline"] == {"s": pytest.approx(7.0), "jobs": 3, "shuffle_mb": 0.0}
    assert totals["scoring"] == {"s": pytest.approx(2.0), "jobs": 2, "shuffle_mb": pytest.approx(2.0)}


def test_fold_event_log_attributes_jobs_and_shuffle(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {"perfbench.span": "4"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 7},
         "Properties": {"perfbench.span": "4"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 7,
         "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 1500}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 7,
         "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 500}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 8,
         "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 9}}},
    ]
    log = tmp_path / "log"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, shuffle = fold_event_log(str(log))
    assert dict(jobs) == {4: 1}
    assert dict(shuffle) == {4: 2000}


# ---- DuckDB oracle comparison ----

def test_oracle_mismatches_order_insensitive_and_rounded(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    out = tmp_path / "leaf"
    out.mkdir()
    con.execute(
        "COPY (SELECT k, CAST(v AS DOUBLE) AS v FROM (VALUES (2, 0.1234567), (1, 0.5)) t(k, v)) "
        f"TO '{out}/part-0.parquet' (FORMAT parquet)"
    )
    same = "SELECT * FROM (VALUES (1, 0.5), (2, 0.12345671)) t(k, v)"  # decimals, reordered
    differs = "SELECT * FROM (VALUES (1, 0.5), (2, 0.2)) t(k, v)"
    swapped = "SELECT * FROM (VALUES (1, 0.5), (2, 0.1234567)) t(v, k)"
    assert oracle_mismatches(con, str(out), same)["mismatched"] == 0
    assert oracle_mismatches(con, str(out), differs)["mismatched"] == 2
    assert oracle_mismatches(con, str(out), swapped)["mismatched"] > 0
    wide = "SELECT CAST(k AS DECIMAL(38,0)) AS k, v FROM (VALUES (1, 0.5), (2, 0.1234567)) t(k, v)"
    assert oracle_mismatches(con, str(out), wide)["mismatched"] == 0


# ---- metric declarations ----

def _declared():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_printed_metric_is_declared_with_its_unit():
    doc = _declared()
    e2e = {m["name"]: m["unit"] for m in doc["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in doc["per_layer"]}
    assert dict(run.END_TO_END) == e2e
    assert dict(run.PER_LAYER) == layer
    assert len(run.PER_LAYER) == len(layer)


def test_metric_names_and_units_use_the_allowed_characters():
    doc = _declared()
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in doc[key]]
    names += [w["name"] for w in doc["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for key in ("end_to_end", "per_layer"):
        for m in doc[key]:
            assert UNIT.match(m["unit"]), m
            assert m["better"] in ("higher", "lower")
    assert [w["name"] for w in doc["workloads"]] == list(run.WORKLOADS)
    setup = next(m for m in doc["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in doc["end_to_end"])
