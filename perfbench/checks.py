"""Correctness checks the benchmark computes apart from the program.

- ``pairwise_prf``: pairwise precision / recall / F1 of a clustering
  against gold entities, counted from the cluster x entity contingency
  table (linear in the number of mentions, unlike enumerating pairs).
- ``oracle_mismatches``: order-insensitive comparison of a Spark output
  (written to parquet) against a DuckDB oracle query, with floats
  rounded to 6 places as in ``tests/test_oracle_parity.py``.
"""

from __future__ import annotations

from collections import Counter


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def pairwise_prf(predicted: dict, gold: dict) -> dict:
    """Pairwise P/R/F1 of ``predicted`` (item -> cluster) against
    ``gold`` (item -> entity), over the items gold labels.

    Two items form a predicted pair when they share a cluster and a
    gold pair when they share an entity. With n_ij the items of cluster
    i and entity j, true positives are sum C(n_ij, 2), predicted pairs
    sum_i C(a_i, 2) and gold pairs sum_j C(b_j, 2), where a_i and b_j
    are the row and column sums. ``missing`` counts gold items the
    clustering left out; they are scored as singletons.
    """
    cells: Counter = Counter()
    for item, entity in gold.items():
        cluster = predicted.get(item, ("missing", item))
        cells[(cluster, entity)] += 1
    rows: Counter = Counter()
    cols: Counter = Counter()
    for (cluster, entity), n in cells.items():
        rows[cluster] += n
        cols[entity] += n
    tp = sum(_pairs(n) for n in cells.values())
    pred = sum(_pairs(n) for n in rows.values())
    true = sum(_pairs(n) for n in cols.values())
    precision = tp / pred if pred else 1.0
    recall = tp / true if true else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "precision": precision,
        "recall": recall,
        "f1": f1,
        "tp": tp,
        "predicted_pairs": pred,
        "gold_pairs": true,
        "missing": sum(1 for item in gold if item not in predicted),
    }


def with_entities_merged(gold: dict, entities) -> dict:
    """``gold`` with ``entities`` relabelled as one entity (the least id),
    i.e. the gold a clustering that merges exactly them would match."""
    entities = set(entities)
    into = min(entities)
    return {item: (into if e in entities else e) for item, e in gold.items()}


def score_clusters(predicted: dict, gold: dict, known_merge, gate: float) -> dict:
    """Score a clustering against ``gold`` and against ``gold`` with the
    ``known_merge`` entities as one.

    ``fault`` is true when the pairwise F1 is below ``gate``: the
    operation failed. ``correct`` is true when either F1 reaches the
    gate: every error beyond merging the known entities must still fit
    in the gate, and a clustering without that merge is scored as is.
    """
    prf = pairwise_prf(predicted, gold)
    merged = pairwise_prf(predicted, with_entities_merged(gold, known_merge))
    return {
        **prf,
        "f1_known_merged": merged["f1"],
        "fault": prf["f1"] < gate,
        "correct": max(prf["f1"], merged["f1"]) >= gate,
    }


def _normalized(con, relation: str) -> tuple[list[str], str]:
    cols = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    cols = sorted(cols, key=lambda c: c[0].lower())
    exprs = []
    for name, typ, *_ in cols:
        ref = f'"{name}"'
        if typ in ("DOUBLE", "FLOAT", "REAL") or (typ.startswith("DECIMAL") and not typ.endswith(",0)")):
            ref = f"round(CAST({ref} AS DOUBLE), 6)"
        elif typ.startswith("DECIMAL"):
            ref = f"CAST({ref} AS HUGEINT)"
        exprs.append(f"CAST({ref} AS VARCHAR)")
    return [c[0].lower() for c in cols], f"SELECT {', '.join(exprs)} FROM {relation}"


def oracle_mismatches(con, spark_parquet: str, oracle_sql: str) -> dict:
    """Compare the parquet rows Spark wrote with the oracle's rows as
    multisets. Returns row counts and the number of rows found on one
    side only (0 when the outputs agree)."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW _spark AS SELECT * FROM read_parquet('{spark_parquet}/*.parquet')")
    con.execute(f"CREATE OR REPLACE TEMP VIEW _oracle AS {oracle_sql}")
    s_cols, s_sel = _normalized(con, "_spark")
    o_cols, o_sel = _normalized(con, "_oracle")
    n_spark = con.execute("SELECT count(*) FROM _spark").fetchone()[0]
    n_oracle = con.execute("SELECT count(*) FROM _oracle").fetchone()[0]
    if s_cols != o_cols:
        return {"spark_rows": n_spark, "oracle_rows": n_oracle, "mismatched": max(n_spark, n_oracle, 1),
                "columns": [s_cols, o_cols]}
    diff = con.execute(
        f"SELECT (SELECT count(*) FROM ({s_sel} EXCEPT ALL {o_sel})) "
        f"+ (SELECT count(*) FROM ({o_sel} EXCEPT ALL {s_sel}))"
    ).fetchone()[0]
    return {"spark_rows": n_spark, "oracle_rows": n_oracle, "mismatched": diff}
