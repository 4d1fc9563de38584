"""The seeded op generator and the oracle gate."""

import itertools
import json
import os
import random

import duckdb
import pytest
from conftest import data_dir

import ops
import oracle
import run


def _plan(name, seed, n=3):
    return list(itertools.islice(ops.passes(run.WORKLOADS[name], seed, "/payload.nt"), n))


def _oracle(name):
    return oracle.Oracle(data_dir(name), run.WORKLOADS[name].tables)


@pytest.mark.parametrize("name", sorted(run.WORKLOADS))
def test_same_seed_same_ops(name):
    assert _plan(name, 7) == _plan(name, 7)


@pytest.mark.parametrize("name", sorted(run.WORKLOADS))
def test_other_seed_other_ops(name):
    assert _plan(name, 7) != _plan(name, 8)


@pytest.mark.parametrize("name", sorted(run.WORKLOADS))
def test_every_pass_runs_the_whole_deck(name):
    wl = run.WORKLOADS[name]
    for ops_ in _plan(name, 3):
        if wl.update_sizes:
            sizes = sorted(op.text.count(" ;\n") + 1 for op in ops_)
            assert sizes == sorted(wl.update_sizes)
        else:
            assert sorted(op.name for op in ops_) == sorted(wl.deck)


@pytest.mark.parametrize("name", sorted(run.WORKLOADS))
def test_every_op_has_an_oracle(name):
    orc = _oracle(name)
    try:
        for ops_ in _plan(name, 11):
            for op in ops_:
                q = op.readback if isinstance(op, ops.Update) else op
                assert q.sql and q.proj
                rows = orc.update(op) if isinstance(op, ops.Update) else orc.query(op)
                assert all(len(r) == len(q.proj) for r in rows)
    finally:
        orc.close()


@pytest.mark.parametrize("name", sorted(run.WORKLOADS))
def test_input_tables_match_their_checksums(name):
    assert run.check_data(data_dir(name)) is None


def test_segments_are_those_of_the_customer_table():
    path = os.path.join(data_dir("analytics_sf0.01"), "customer.parquet")
    rows = duckdb.sql(f"SELECT DISTINCT c_mktsegment FROM read_parquet('{path}')").fetchall()
    assert sorted(r[0] for r in rows) == sorted(ops.SEGMENTS)


def _json_answer(q, rows):
    """A SPARQL JSON document carrying ``rows`` as the engine would."""
    bindings = []
    for row in rows:
        b = {}
        for (_, var, _kind), v in zip(q.proj, row):
            if v is not None:
                b[var] = {"type": "literal", "value": str(v)}
        bindings.append(b)
    return {"json": json.dumps({"head": {"vars": []}, "results": {"bindings": bindings}})}


def test_gate_accepts_the_right_answer_and_rejects_wrong_ones():
    orc = _oracle("analytics_sf0.01")
    try:
        q = ops.make_query("sparql_agg_sum", random.Random(0))
        rows = [list(r) for r in orc.query(q)]
        assert len(rows) > 1
        assert run.check(orc, q, _json_answer(q, rows)) is None
        wrong = [r[:] for r in rows]
        wrong[0][1] += 1
        assert run.check(orc, q, _json_answer(q, wrong)) is not None
        assert run.check(orc, q, _json_answer(q, rows[1:])) is not None
        assert run.check(orc, q, _json_answer(q, rows + rows[:1])) is not None
    finally:
        orc.close()


def test_gate_checks_update_readbacks_against_the_edited_tables():
    orc = _oracle("updates_sf0.001")
    try:
        u = _plan("updates_sf0.001", 5, 1)[0][0]
        rows = orc.update(u)
        doc = {"head": {"vars": ["g", "s", "p", "o"]}, "results": {"bindings": [
            {v: _term(t) for v, t in zip("gspo", r)} for r in rows]}}
        assert run.check(orc, u, {"json": json.dumps(doc)}) is None
        doc["results"]["bindings"].pop()
        assert run.check(orc, u, {"json": json.dumps(doc)}) is not None
    finally:
        orc.close()


def _term(text):
    """Inverse of oracle.term_text for IRIs and literals."""
    if text.startswith("<"):
        return {"type": "uri", "value": text[1:-1]}
    lex, _, dt = text[1:].partition('"')
    out = {"type": "literal", "value": lex}
    if dt.startswith("^^<"):
        out["datatype"] = dt[3:-1]
    return out


def test_bag_compare_tolerances():
    assert oracle.same_bag(["f4"], [("1.00004",)], [(1.0,)]) is None
    assert oracle.same_bag(["f4"], [("1.001",)], [(1.0,)]) is not None
    assert oracle.same_bag(["u6"], [("1.5",)], [(1500000,)]) is None
    assert oracle.same_bag(["i", "s"], [("2", "a"), ("1", None)],
                           [(1, None), (2, "a")]) is None
