"""DuckDB oracle and order-insensitive bag comparison.

Queries are answered by their SQL twin over the parquet tables. Updates
are answered over ``base``: the quads of the region, nation and customer
tables, built here in SQL by the direct mapping the store
uses (subject ``urn:{table}:{key}``, ``urn:col:{column}`` literals,
``urn:ref:{column}`` links, one named graph per table). Double and
timestamp columns are left out: no update or query-back touches them,
and their lexical forms differ between engines. Each update copies
``base`` to ``cur``, applies its own SQL edit and reads the query-back
answer from ``cur`` — never from the engine's output.
"""

from __future__ import annotations

import math
import os

import duckdb

_INT = "^^<http://www.w3.org/2001/XMLSchema#integer>"
# table -> (key column, [(column, "int" | "str" | referenced table)])
_QUAD_TABLES = {
    "region": ("r_regionkey", [("r_regionkey", "int"), ("r_name", "str")]),
    "nation": ("n_nationkey", [("n_nationkey", "int"), ("n_name", "str"),
                               ("n_regionkey", "region")]),
    "customer": ("c_custkey", [("c_custkey", "int"), ("c_name", "str"),
                               ("c_nationkey", "nation"), ("c_mktsegment", "str")]),
}


def _base_quads_sql() -> str:
    parts = []
    for table, (key, cols) in _QUAD_TABLES.items():
        subj = f"'urn:{table}:' || CAST({key} AS VARCHAR)"
        for col, kind in cols:
            lex = f"CAST({col} AS VARCHAR)"
            if kind == "str":
                pred, obj = f"urn:col:{col}", f"'\"' || {lex} || '\"'"
            elif kind == "int":
                pred, obj = f"urn:col:{col}", f"'\"' || {lex} || '\"{_INT}'"
            else:
                pred, obj = f"urn:ref:{col}", f"'<urn:{kind}:' || {lex} || '>'"
            parts.append(
                f"SELECT {subj} AS s, '{pred}' AS p, {obj} AS o, "
                f"'urn:graph:{table}' AS g FROM {table} WHERE {col} IS NOT NULL")
    return " UNION ALL ".join(parts)


class Oracle:
    def __init__(self, data_dir: str, tables):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._base = False

    def close(self):
        self.con.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def query(self, q) -> list[tuple]:
        return self.con.execute(q.sql).fetchall()

    def _ensure_base(self):
        if not self._base:
            self.con.execute(f"CREATE TEMP TABLE base AS {_base_quads_sql()}")
            self._base = True

    def update(self, u) -> list[tuple]:
        self._ensure_base()
        self.con.execute("CREATE OR REPLACE TEMP TABLE cur AS SELECT * FROM base")
        for stmt in u.edits:
            self.con.execute(stmt)
        return self.con.execute(u.readback.sql).fetchall()

    def ntriples(self, graphs) -> str:
        """The base quads of ``graphs`` as N-Triples (graph labels dropped):
        the file SPARQL LOAD reads in the update workload."""
        self._ensure_base()
        rows = self.con.execute(
            "SELECT s, p, o FROM base WHERE g IN (SELECT unnest(?)) ORDER BY s, p, o",
            [list(graphs)]).fetchall()
        return "".join(f"<{s}> <{p}> {o} .\n" for s, p, o in rows)


# --- comparison -------------------------------------------------------------

def term_text(b: dict | None) -> str | None:
    """A SPARQL JSON term as canonical text: <iri>, _:b, "lex"[^^<dt>]."""
    if b is None:
        return None
    if b["type"] == "uri":
        return f"<{b['value']}>"
    if b["type"] == "bnode":
        return f"_:{b['value']}"
    dt = b.get("datatype")
    return f"\"{b['value']}\"" + (f"^^<{dt}>" if dt else "")


def _norm(v, kind):
    if v is None:
        return None
    if kind in ("s", "t"):
        return str(v)
    if kind == "i":
        return int(float(v))
    if kind == "u6" and isinstance(v, str):
        return float(v) * 1e6
    return float(v)


def _close(a, b, kind) -> bool:
    if a is None or b is None or kind in ("s", "t", "i"):
        return a == b
    tol = {"f4": 1e-4, "u6": 1.0}.get(kind, 0.0)
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=tol)


def _key(row):
    return tuple((0, 0) if x is None else (1, x) for x in row)


def same_bag(kinds, actual, expected) -> str | None:
    """None when the two row lists are equal as bags (floats within the
    kind's tolerance), else a short description of the first difference."""
    if len(actual) != len(expected):
        return f"row count {len(actual)} != expected {len(expected)}"
    a = sorted((tuple(_norm(v, k) for v, k in zip(r, kinds)) for r in actual), key=_key)
    e = sorted((tuple(_norm(v, k) for v, k in zip(r, kinds)) for r in expected), key=_key)
    for ra, re_ in zip(a, e):
        if not all(_close(x, y, k) for x, y, k in zip(ra, re_, kinds)):
            return f"row {ra!r} != expected {re_!r}"
    return None
