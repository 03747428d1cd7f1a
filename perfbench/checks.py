"""Correctness checks that recompute the engine's outputs in DuckDB.

Each check returns a list of human-readable mismatches; an empty list
means the output is correct.
"""

from __future__ import annotations

from pathlib import Path

import duckdb

from c4_5decisiontreebasedonmapreduce_spark.operators.tree import (
    DecisionListModel,
)
from c4_5decisiontreebasedonmapreduce_spark.sources.tsv import TrainingSchema


def duckdb_source(path: str, schema: TrainingSchema) -> str:
    """A DuckDB table expression over a generated input file."""
    if Path(path).is_dir():
        return f"read_parquet('{path}/*.parquet')"
    if path.endswith(".parquet"):
        return f"read_parquet('{path}')"
    cols = ", ".join(
        f"'{f.name}': '{'DOUBLE' if f.dataType.typeName() == 'double' else 'VARCHAR'}'"
        for f in schema.spark_schema().fields
    )
    return f"read_csv('{path}', delim='\\t', header=false, columns={{{cols}}})"


def _leaf_case(model: DecisionListModel) -> str:
    whens = []
    for i, r in enumerate(model.rules):
        pred = " AND ".join(c.sql() for c in r.conditions) or "TRUE"
        whens.append(f"WHEN {pred} THEN {i}")
    return "CASE " + " ".join(whens) + " END"


def _leaf_counts(con, source: str, model: DecisionListModel, label: str):
    """{leaf index or None: {class: rows}} by the model's predicates."""
    out: dict = {}
    q = (
        f"SELECT {_leaf_case(model)} AS leaf, \"{label}\" AS cls, count(*) "
        f"FROM {source} GROUP BY ALL"
    )
    for leaf, cls, n in con.execute(q).fetchall():
        out.setdefault(leaf, {})[cls] = n
    return out


def check_leaves(
    model: DecisionListModel, path: str, schema: TrainingSchema, rows: int
) -> list[str]:
    """Every leaf's ``n`` and majority label (count desc, class asc)
    recomputed from the input file, and leaf ``n`` summing to the row
    count. A leaf no row reaches keeps its parent's majority, which the
    file cannot show, so only its ``n`` is checked."""
    errors = []
    with duckdb.connect() as con:
        counts = _leaf_counts(
            con, duckdb_source(path, schema), model, schema.label
        )
    if None in counts:
        errors.append(f"{sum(counts[None].values())} rows reach no leaf")
    for i, r in enumerate(model.rules):
        h = counts.get(i, {})
        n = sum(h.values())
        if r.n != n:
            errors.append(f"leaf {i}: n={r.n}, recomputed {n}")
        if n:
            major = min(h.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            if r.label != major:
                errors.append(f"leaf {i}: label {r.label}, majority {major}")
    total = sum(r.n for r in model.rules)
    if total != rows:
        errors.append(f"leaf n sums to {total}, input has {rows} rows")
    return errors


def check_fractional(
    model: DecisionListModel, path: str, schema: TrainingSchema, rows: int
) -> list[str]:
    """Fractional leaves: masses sum to the row count within 1e-6, and
    each leaf's mass lies between the rows that satisfy all its
    conditions (weight 1 each) and those plus the rows that reach it
    with an unknown value on its path (each adds a share of at most 1)."""
    errors = []
    total = sum(r.n for r in model.rules)
    if abs(total - rows) > 1e-6:
        errors.append(f"leaf masses sum to {total!r}, input has {rows} rows")
    source = duckdb_source(path, schema)
    parts = []
    for i, r in enumerate(model.rules):
        known = " AND ".join(c.sql() for c in r.conditions) or "TRUE"
        # a condition is passed, or its attribute is unknown
        maybe = " AND ".join(
            f"({c.sql()} OR \"{c.attr}\" IS NULL)" for c in r.conditions
        ) or "TRUE"
        parts.append(
            f"SELECT {i} AS leaf, count(*) FILTER (WHERE {known}) AS lo, "
            f"count(*) FILTER (WHERE {maybe}) AS hi FROM {source}"
        )
    with duckdb.connect() as con:
        bounds = {
            leaf: (lo, hi)
            for leaf, lo, hi in con.execute(" UNION ALL ".join(parts)).fetchall()
        }
    for i, r in enumerate(model.rules):
        lo, hi = bounds[i]
        if not lo - 1e-6 <= r.n <= hi + 1e-6:
            errors.append(f"leaf {i}: mass {r.n!r} outside [{lo}, {hi}]")
    return errors


def label_counts(model: DecisionListModel, path: str,
                 schema: TrainingSchema) -> dict[str, int]:
    """Per-label prediction counts of ``model.to_sql_case()`` run by
    DuckDB over the input."""
    with duckdb.connect() as con:
        rows = con.execute(
            f"SELECT {model.to_sql_case()} AS p, count(*) "
            f"FROM {duckdb_source(path, schema)} GROUP BY ALL"
        ).fetchall()
    return {str(p): int(n) for p, n in rows}

