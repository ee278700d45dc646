"""Ratchet on two of the engine's design numbers (ROADMAP aim 2):
blanket ``except Exception`` handlers and query-time ``conf.set``
calls in ``bigdata_riveranalysis_spark/``. Either count may fall; a
change that raises one fails here. Lower the ceiling when a change
removes a site. Pure Python: the source is parsed, not imported.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "bigdata_riveranalysis_spark"

MAX_EXCEPT_EXCEPTION = 4
MAX_CONF_SET = 6


def _nodes():
    for path in sorted(PKG.rglob("*.py")):
        yield from ast.walk(ast.parse(path.read_text(), str(path)))


def _is_blanket_except(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.ExceptHandler)
        and isinstance(node.type, ast.Name)
        and node.type.id == "Exception"
    )


def _is_conf_set(node: ast.AST) -> bool:
    f = getattr(node, "func", None)
    return (
        isinstance(node, ast.Call)
        and isinstance(f, ast.Attribute)
        and f.attr == "set"
        and isinstance(f.value, ast.Attribute)
        and f.value.attr == "conf"
    )


def test_blanket_except_sites_do_not_grow():
    n = sum(map(_is_blanket_except, _nodes()))
    assert n <= MAX_EXCEPT_EXCEPTION, n


def test_query_time_conf_set_calls_do_not_grow():
    n = sum(map(_is_conf_set, _nodes()))
    assert n <= MAX_CONF_SET, n
