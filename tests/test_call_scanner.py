"""The dialect rewrites find function calls with one quote-aware scanner
(``rewriter.iter_calls`` / ``rewriter.rewrite_calls``): a call spelled
inside a string literal or a quoted identifier is text, never a call, and
every check sees every call, not just the first."""

from __future__ import annotations

import ast
import os
import re

import pytest

from cnosdb_spark.engine import Engine
from cnosdb_spark.functions import state
from cnosdb_spark.sql.rewriter import iter_calls, rewrite_calls

_PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "cnosdb_spark")


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    e = Engine(spark, str(tmp_path_factory.mktemp("scanner") / "wh"))
    e.sql("CREATE TABLE m(f1 DOUBLE, v DOUBLE, s STRING, TAGS(k))")
    e.sql(
        "INSERT INTO m(time, k, f1, v, s) VALUES (1, 'a', 1.5, 1.0, 'x'), "
        "(2, 'a', 2.5, NULL, 'x'), (3, 'a', 3.5, 3.0, 'y'), "
        "(4, 'a', 4.5, NULL, 'z')"
    )
    return e


@pytest.mark.parametrize(
    "expr, text",
    [
        ("'var(x)'", "var(x)"),
        ("concat('to_hex(', s, ')')", "to_hex(x)"),
        ("'approx_distinct(x)'", "approx_distinct(x)"),
        ("'time_window(time, ''1h'')'", "time_window(time, '1h')"),
        ("'first(a)'", "first(a)"),
        ("'lower(f1)'", "lower(f1)"),
        ("'sample(f1, 5)'", "sample(f1, 5)"),
        ("'current_user()'", "current_user()"),
    ],
)
def test_function_names_in_literals_stay_text(eng, expr, text):
    rows = eng.sql(f"SELECT {expr} AS c FROM m LIMIT 1").collect()
    assert [r["c"] for r in rows] == [text]


def test_checks_see_every_call(eng):
    with pytest.raises(Exception) as alone:
        eng.sql("SELECT trim(s, s) AS b FROM m")
    with pytest.raises(Exception) as second:
        eng.sql("SELECT trim(s) AS a, trim(s, s) AS b FROM m")
    assert type(second.value) is type(alone.value)
    assert str(second.value) == str(alone.value)


def test_mode_takes_the_lowest_value_on_a_tie(eng):
    # 1.0 and 3.0 once each: Spark's 1-arg mode may return either
    rows = eng.sql("SELECT mode(v) AS md FROM m").collect()
    assert [r["md"] for r in rows] == [1.0]


@pytest.mark.parametrize("compact", [False, True])
def test_state_builders_sort_each_series_once(compact):
    built = [
        state.state_agg("time", "s", compact),
        state.duration_in("time", "s", "'x'", compact=compact),
    ]
    if not compact:
        built.append(
            state.duration_in("time", "s", "'x'", "'2024-01-01'", "interval '1 hour'")
        )
    for sql in built:
        assert sql.count("array_sort(") == 1, sql


_CALL = re.compile(r"\bf\s*\(", re.I)


def test_scanner_skips_quoted_text_and_visits_nested_calls():
    sql = "SELECT f(1), 'f(2)', \"f(3)\", `f(4)`, g(f(f(5))) FROM t"
    assert [a.text for _, a, _ in iter_calls(sql, _CALL)] == ["1", "f(5)", "5"]
    # innermost first: the outer call sees its rewritten argument
    out = rewrite_calls(sql, _CALL, lambda m, args: f"h[{', '.join(args)}]")
    assert out == "SELECT h[1], 'f(2)', \"f(3)\", `f(4)`, g(h[h[5]]) FROM t"
    # None keeps the call as written
    assert rewrite_calls(sql, _CALL, lambda m, args: None) == sql


def test_call_ends_only_found_by_the_scanner():
    """A hand-written find-the-closing-paren loop next to the scanner is a
    second call parser that can disagree with it (quotes, nesting)."""
    calls, in_scanner = 0, 0
    for dirpath, _, files in os.walk(_PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            tree = ast.parse(open(os.path.join(dirpath, f)).read())
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == "iter_calls":
                    in_scanner += sum(map(_calls_find_end, ast.walk(node)))
                calls += _calls_find_end(node)
    assert in_scanner == 1 and calls == in_scanner


def _calls_find_end(node: ast.AST) -> bool:
    return isinstance(node, ast.Call) and "_find_call_end" in (
        getattr(node.func, "id", None), getattr(node.func, "attr", None)
    )
