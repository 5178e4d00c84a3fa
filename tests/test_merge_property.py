"""Property test: merge_branches vs an independent row-by-row model.

The Spark operator evaluates every matched clause in ONE join projection
(a per-column CASE over the first-match branch index) — this test pins
those fused semantics against a deliberately naive Python interpreter of
the same clause lists (per-row, first-match-wins, SQL tri-state NULL
conditions, NULL-filling column-list inserts) over randomized tables and
clause sets. Any divergence between the fused plan and the obvious
semantics — branch-order bugs, NULL-condition mishandling, a clause
leaking into another branch's columns — shows up as a row diff.

Both sides draw NULL keys too. A NULL key equals nothing, so a
NULL-keyed target row is NOT MATCHED BY SOURCE (it survives unless an
NMBS clause fires) and a NULL-keyed source row is NOT MATCHED (it
inserts when an insert clause fires) — however many share the NULL."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators.changes import (
    merge_branches,
)

# -- condition / assignment grammar (shared by Spark SQL and the model) --
# conditions are tri-state: None means unknown -> clause does not fire

OPS = ["D", "U", None]


def _cond_sql(kind: str) -> str | None:
    return {
        "none": None,
        "op_d": "s.op = 'D'",
        "op_u": "s.op = 'U'",
        "sv_big": "s.val > 50",
        "tv_small": "t.val < 30",
        "both": "s.op = 'U' AND t.val >= 20",
    }[kind]


def _cond_eval(kind: str, t_row, s_row) -> bool:
    """Python mirror with SQL tri-state: NULL comparisons are unknown
    (false for clause purposes)."""
    op, sval = s_row[1], s_row[2]
    tval = t_row[2]
    if kind == "none":
        return True
    if kind == "op_d":
        return op == "D"
    if kind == "op_u":
        return op == "U"
    if kind == "sv_big":
        return sval is not None and sval > 50
    if kind == "tv_small":
        return tval is not None and tval < 30
    if kind == "both":
        return op == "U" and (tval is not None and tval >= 20)
    raise AssertionError(kind)


# matched-clause actions: (action, set-spec)
#   set-spec None = SET * (source wins); dict maps col -> value fn
def _matched_clause(action: str, cond: str):
    if action == "delete":
        return {"action": "delete", "condition": _cond_sql(cond)}
    if action == "set_star":
        return {"action": "update", "condition": _cond_sql(cond), "set": None}
    if action == "bump":
        return {
            "action": "update",
            "condition": _cond_sql(cond),
            "set": {"val": "t.val + s.val"},
        }
    raise AssertionError(action)


def _apply_matched(action: str, t_row, s_row):
    tid, tname, tval = t_row
    _, op, sval, sname = s_row[0], s_row[1], s_row[2], s_row[3]
    if action == "delete":
        return None
    if action == "set_star":
        return (tid, sname, sval)
    if action == "bump":
        return (
            tid,
            tname,
            None if (tval is None or sval is None) else tval + sval,
        )
    raise AssertionError(action)


matched_clause_st = st.tuples(
    st.sampled_from(["delete", "set_star", "bump"]),
    st.sampled_from(["none", "op_d", "op_u", "sv_big", "tv_small", "both"]),
)

nmbs_clause_st = st.tuples(
    st.sampled_from(["delete", "tag"]),
    st.sampled_from(["none", "tv_small_bare", "tv_big_bare"]),
)

insert_clause_st = st.tuples(
    st.sampled_from(["star", "collist"]),
    st.sampled_from(["none", "op_u", "sv_big"]),
)


def _nmbs_cond_sql(kind: str) -> str | None:
    return {
        "none": None,
        "tv_small_bare": "val < 30",
        "tv_big_bare": "val >= 30",
    }[kind]


def _nmbs_cond_eval(kind: str, t_row) -> bool:
    tval = t_row[2]
    if kind == "none":
        return True
    if kind == "tv_small_bare":
        return tval is not None and tval < 30
    return tval is not None and tval >= 30


@st.composite
def scenario(draw):
    n_t = draw(st.integers(0, 6))
    n_s = draw(st.integers(0, 6))
    target = [
        (
            draw(st.sampled_from([i, i, None])),
            draw(st.sampled_from(["a", "b", None])),
            draw(st.sampled_from([0, 10, 25, 40, None])),
        )
        for i in range(n_t)
    ]
    # source keys overlap the target range and beyond; non-NULL keys
    # UNIQUE (SQL MERGE cardinality precondition), NULL ones repeat freely
    s_keys = draw(
        st.lists(st.integers(0, 9), unique=True, max_size=n_s)
    ) + [None] * draw(st.integers(0, 2))
    source = [
        (
            k,
            draw(st.sampled_from(OPS)),
            draw(st.sampled_from([5, 60, 100, None])),
            draw(st.sampled_from(["x", "y", None])),
        )
        for k in s_keys
    ]
    matched = draw(st.lists(matched_clause_st, max_size=3))
    nmbs = draw(st.lists(nmbs_clause_st, max_size=2))
    ins = draw(st.lists(insert_clause_st, max_size=2))
    return target, source, matched, nmbs, ins


def _model(target, source, matched, nmbs, ins):
    """The naive interpreter: per-row, clause lists in order; a NULL key
    matches nothing."""
    s_by_key = {r[0]: r for r in source if r[0] is not None}
    out = []
    for t_row in target:
        s_row = s_by_key.get(t_row[0]) if t_row[0] is not None else None
        if s_row is None:
            # NOT MATCHED BY SOURCE: first true clause wins
            fired = None
            for action, cond in nmbs:
                if _nmbs_cond_eval(cond, t_row):
                    fired = action
                    break
            if fired is None:
                out.append(t_row)
            elif fired == "tag":
                out.append((t_row[0], "stale", t_row[2]))
            # delete: drop
            continue
        fired = None
        for action, cond in matched:
            if _cond_eval(cond, t_row, s_row):
                fired = (action, cond)
                break
        if fired is None:
            out.append(t_row)
        else:
            r = _apply_matched(fired[0], t_row, s_row)
            if r is not None:
                out.append(r)
    t_keys = {r[0] for r in target if r[0] is not None}
    for s_row in source:
        if s_row[0] is not None and s_row[0] in t_keys:
            continue
        for kind, cond in ins:
            if _cond_eval(cond, (None, None, None), s_row):
                if kind == "star":
                    out.append((s_row[0], s_row[3], s_row[2]))
                else:  # column list (id, val) — name NULL-fills
                    out.append((s_row[0], None, s_row[2]))
                break
    return sorted(out, key=_row_order)


def _row_order(r):
    return (r[0] is None, r[0] or 0, str(r[1]), str(r[2]))


@pytest.mark.slow
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(scenario())
def test_merge_branches_matches_row_model(spark, sc):
    target, source, matched, nmbs, ins = sc
    t = spark.createDataFrame(target, "id int, name string, val int")
    s = spark.createDataFrame(
        source, "id int, op string, val int, name string"
    )
    out = merge_branches(
        t,
        s,
        ["id"],
        matched=[_matched_clause(a, c) for a, c in matched],
        not_matched=[
            {
                "condition": _cond_sql(c),
                "set": None if k == "star" else {"id": "s.id", "val": "s.val"},
            }
            for k, c in ins
        ],
        not_matched_by_source=[
            {
                "action": "delete" if a == "delete" else "update",
                "condition": _nmbs_cond_sql(c),
                **({} if a == "delete" else {"set": {"name": "'stale'"}}),
            }
            for a, c in nmbs
        ],
    )
    got = sorted(((r.id, r.name, r.val) for r in out.collect()), key=_row_order)
    want = _model(target, source, matched, nmbs, ins)
    assert got == want, (
        f"\ntarget={target}\nsource={source}\nmatched={matched}"
        f"\nnmbs={nmbs}\nins={ins}\ngot={got}\nwant={want}"
    )
