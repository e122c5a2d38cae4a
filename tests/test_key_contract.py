"""The key contract in core/order.py: a source lint that keeps the
NULL-key and duplicate-key raises inside it and keeps a Bloom
prefilter out of the incremental dedup tiers (the plans/ oracle
queries are exempt: they are the reference, not the library)."""

import ast
import pathlib
import re

from smashed_spark.core import order

PKG = pathlib.Path(order.__file__).resolve().parents[1]

# the wording of a hand-written NULL-key or duplicate-key message
_MESSAGES = re.compile(r"cannot be totally|is not unique")


def _bloom_params(tree):
    """Line numbers of ``dedup_incremental*`` functions that take a
    ``bloom`` parameter."""
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name.startswith(
            "dedup_incremental"
        ):
            a = node.args
            if "bloom" in [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]:
                yield node.lineno


def lint(root: pathlib.Path) -> list:
    """``file:line`` of every hand-written key-guard message outside
    core/order.py and every ``dedup_incremental*(bloom=)`` under
    ``root`` (plans/ exempt)."""
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        if rel.parts[0] == "plans" or rel.parts[-2:] == ("core", "order.py"):
            continue
        src = path.read_text()
        for m in _MESSAGES.finditer(src):
            found.append(f"{rel}:{src.count(chr(10), 0, m.start()) + 1}")
        found += [f"{rel}:{n}" for n in _bloom_params(ast.parse(src))]
    return sorted(found)


def test_key_guards_live_in_the_key_contract():
    assert lint(PKG) == []


def test_lint_catches_hand_written_guards(tmp_path):
    for d in ("functions", "core", "plans"):
        (tmp_path / d).mkdir()
    copy = (
        'a = "dedup: a NULL key cannot be totally ordered"\n'
        'b = "diff: key is not unique (value "\n'
        "def dedup_incremental_x(df, index, bloom=None):\n"
        "    return df\n"
        "def dedup_other(df, bloom=None):\n"
        "    return df\n"
    )
    for rel in ("functions/m.py", "core/order.py", "plans/q.py"):
        (tmp_path / rel).write_text(copy)
    assert lint(tmp_path) == [
        "functions/m.py:1",
        "functions/m.py:2",
        "functions/m.py:3",
    ]
