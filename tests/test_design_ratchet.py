"""Ratchet on three of the engine's design numbers (ROADMAP aim 2):
blanket ``except Exception`` handlers, query-time ``conf.set`` calls
and the distinct ``SPARK_GRAFT_*`` environment switches read in
``bigdata_riveranalysis_spark/``. Any count may fall; a change that
raises one fails here. Lower the ceiling when a change removes a
site. A fourth test fails on any top-level engine name that nothing
uses. Pure Python: the source is parsed, not imported.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "bigdata_riveranalysis_spark"
#: Where a use of an engine name may live: the engine, its tests, the
#: tools, the repository benchmark and the two entry scripts.
USE_SOURCES = [
    *(p for d in ("bigdata_riveranalysis_spark", "tests", "tools", "perfbench")
      for p in sorted((ROOT / d).rglob("*.py"))),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]

MAX_EXCEPT_EXCEPTION = 2
MAX_CONF_SET = 5
#: SPARK_GRAFT_CPUS, SPARK_GRAFT_SF_DIR, SPARK_GRAFT_ON_CLUSTER. Every
#: other deployment choice is a Spark conf.
MAX_ENV_SWITCHES = 3


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


def _env_switch(node: ast.AST) -> str | None:
    """The SPARK_GRAFT_* name read by ``os.environ.get(...)``,
    ``os.environ[...]`` or ``os.getenv(...)``, else None."""
    f = getattr(node, "func", None)
    if isinstance(node, ast.Subscript) and getattr(node.value, "attr", None) == "environ":
        key = node.slice
    elif isinstance(node, ast.Call) and node.args and isinstance(f, ast.Attribute) and (
        f.attr == "getenv" or (f.attr == "get" and getattr(f.value, "attr", None) == "environ")
    ):
        key = node.args[0]
    else:
        return None
    if isinstance(key, ast.Constant) and str(key.value).startswith("SPARK_GRAFT_"):
        return key.value
    return None


def test_blanket_except_sites_do_not_grow():
    n = sum(map(_is_blanket_except, _nodes()))
    assert n <= MAX_EXCEPT_EXCEPTION, n


def test_query_time_conf_set_calls_do_not_grow():
    n = sum(map(_is_conf_set, _nodes()))
    assert n <= MAX_CONF_SET, n


def test_env_switches_do_not_grow():
    names = {n for n in map(_env_switch, _nodes()) if n}
    assert len(names) <= MAX_ENV_SWITCHES, sorted(names)


def _top_level_names(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            yield from (t.id for t in targets if isinstance(t, ast.Name))


def test_every_engine_name_is_used():
    """Each top-level def, class or assigned name in the engine
    (dunders excepted) appears as a whole word at least once more
    than it is defined, somewhere in USE_SOURCES."""
    words = Counter(
        w for p in USE_SOURCES for w in re.findall(r"\w+", p.read_text())
    )
    unused = []
    for path in sorted(PKG.rglob("*.py")):
        defined = Counter(_top_level_names(ast.parse(path.read_text(), str(path))))
        unused += [
            f"{path.relative_to(ROOT)}::{name}"
            for name, n in defined.items()
            if not (name.startswith("__") and name.endswith("__")) and words[name] <= n
        ]
    assert not unused, unused
