"""Visibility expression + row/field filtering tests.

Truth tables mirror the reference's
`core/store/src/test/.../data/visibility/VisibilityExpressionTest.java` and
`JsonFieldLevelVisibilityHandlerTest.java`.
"""
from __future__ import annotations

import pytest

from geowave_spark.table import visibility as vis


def ev(expr, *auths):
    return vis.evaluate_expression(expr, frozenset(auths))


def test_basic_expression_truth_table():
    # VisibilityExpressionTest EXPRESSION1 = "(a&b)|c"
    e = "(a&b)|c"
    assert ev(e, "a", "b")
    assert ev(e, "a", "b", "c")
    assert ev(e, "c")
    assert not ev(e, "a")
    assert not ev(e, "b")
    assert not ev(e, "d")
    assert not ev(e)


def test_complex_expression_with_whitespace():
    # VisibilityExpressionTest EXPRESSION2 = "((a & b) | c) & (d | e)"
    e = "((a & b) | c) & (d | e)"
    for auths in [("a", "b", "d"), ("a", "b", "e"), ("c", "d"), ("c", "e"),
                  ("a", "c", "d"), ("b", "c", "e"), ("a", "b", "c", "d", "e")]:
        assert ev(e, *auths), auths
    for auths in [("a",), ("b",), ("c",), ("d",), ("e",), ("a", "b"),
                  ("a", "d"), ("a", "e")]:
        assert not ev(e, *auths), auths


def test_left_to_right_no_precedence():
    # the reference folds operators strictly left-to-right:
    # 'a|b&c' == '(a|b)&c', NOT 'a|(b&c)'
    assert not ev("a|b&c", "a")          # (a|b)=T but c missing
    assert ev("a|b&c", "a", "c")
    assert ev("a|b&c", "b", "c")
    assert not ev("a|b&c", "b")


def test_empty_and_null_are_public():
    assert ev("")
    assert ev("   ")


def test_malformed_expressions_raise():
    # NB "a b" is NOT malformed: whitespace strips first (reference
    # VisibilityExpression.getCached), leaving the single token "ab"
    for bad in ["a&", "&a", "(a", "a)", "a||b", "()", "a(b)"]:
        with pytest.raises(ValueError):
            ev(bad, "a", "b")


def test_filter_visible_dataframe(spark):
    rows = [(i, ["", "a", "b", "a&b", "(a&b)|c", "a|b&c"][i % 6]) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, visibility string")
    out = vis.filter_visible(df, auths=("a", "c"))
    got = sorted(r.id % 6 for r in out.collect())
    assert set(got) == {0, 1, 4, 5}
    assert len(got) == 40
    # null visibility is public
    df2 = spark.createDataFrame([(1, None), (2, "x")], "id long, visibility string")
    assert [r.id for r in vis.filter_visible(df2, auths=()).collect()] == [1]


def test_filter_visible_is_codegen_in_predicate(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, visibility string")
    plan = vis.filter_visible(df, auths=("a",))._jdf.queryExecution().executedPlan().toString()
    assert "pythonUDF" not in plan  # no per-row Python anywhere
    assert "BatchEvalPython" not in plan


def test_apply_json_field_visibility(spark):
    rows = [
        (1, 5.0, '{"value":"a"}'),
        (2, 6.0, '{"value":"a&b"}'),
        (3, 7.0, '{}'),  # missing key = public
        (4, 8.0, None),  # no vis object = public
    ]
    df = spark.createDataFrame(rows, "id long, value double, fv string")
    out = vis.apply_json_field_visibility(df, "fv", auths=("a",), fields=("value",))
    got = {r.id: r.value for r in out.collect()}
    assert got == {1: 5.0, 2: None, 3: 7.0, 4: 8.0}
    assert "fv" in out.columns and "__vis_value" not in out.columns
