"""core/sizing.py: the one broadcast-or-shuffle sizing rule — its
job costs, and a source lint that keeps every bounded probe and the
shared key cap inside it."""

import ast
import pathlib
import re

import pytest

from smashed_spark.core import sizing

PKG = pathlib.Path(sizing.__file__).resolve().parents[1]

# a bounded row probe spelled out by hand: .limit(<cap> + 1).count()
_PROBE = re.compile(
    r"\.limit\((?:(?!\.limit\().){0,200}?\+\s*1\s*\)\s*\.count\(\)", re.S
)


def _cap_literals(tree):
    """Line numbers where the value 2,000,000 is a cap: an assigned
    value, a parameter default, or a comparison operand.  (Call
    arguments are not caps: the gate plans shift doc ids by whole
    millions.)"""
    def is_cap(node):
        return isinstance(node, ast.Constant) and node.value == 2_000_000

    for node in ast.walk(tree):
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            values = [node.value]
        elif isinstance(node, ast.arguments):
            values = node.defaults + node.kw_defaults
        elif isinstance(node, ast.Compare):
            values = [node.left, *node.comparators]
        else:
            continue
        yield from (v.lineno for v in values if is_cap(v))


def lint(root: pathlib.Path) -> list:
    """``file:line`` of every hand-written bounded probe or 2M key cap
    under ``root`` outside core/sizing.py."""
    found = []
    for path in sorted(root.rglob("*.py")):
        if path.name == "sizing.py" and path.parent.name == "core":
            continue
        src = path.read_text()
        rel = path.relative_to(root)
        for m in _PROBE.finditer(src):
            found.append(f"{rel}:{src.count(chr(10), 0, m.start()) + 1}")
        found += [f"{rel}:{n}" for n in _cap_literals(ast.parse(src))]
    return sorted(found)


def test_sizing_rule_lives_in_one_module():
    assert lint(PKG) == []


def test_lint_catches_hand_written_probe_and_cap(tmp_path):
    (tmp_path / "m.py").write_text(
        "CAP = 2_000_000\n"
        "def f(df, rows=2000000):\n"
        "    return df.limit(\n        rows + 1\n    ).count() <= rows\n"
        "def g(df, shift):\n"
        "    return shift(df, 2_000_000)\n"
    )
    assert lint(tmp_path) == ["m.py:1", "m.py:2", "m.py:3"]


def test_fits_known_estimate_runs_no_job(spark, tmp_path, count_jobs):
    path = str(tmp_path / "p")
    spark.range(100).write.parquet(path)
    df = spark.read.parquet(path)
    size = sizing.plan_size_bytes(df)
    assert size is not None and size > 0
    assert count_jobs(lambda: sizing.fits(df, 0, size)) == (True, 0)
    assert count_jobs(lambda: sizing.fits(df, 10**9, size - 1)) == (
        False, 0
    )


@pytest.mark.parametrize("max_bytes", [None, 1 << 40])
def test_fits_falls_back_to_one_bounded_count(spark, count_jobs, max_bytes):
    # a local frame has no size estimate, so a byte cap cannot decide;
    # the bounded count is one query, two jobs under adaptive execution
    # (the single-partition limit exchange, then the count)
    df = spark.createDataFrame([(i,) for i in range(5)], "x int")
    assert sizing.plan_size_bytes(df) is None
    assert count_jobs(lambda: sizing.fits(df, 5, max_bytes)) == (True, 2)
    assert count_jobs(lambda: sizing.fits(df, 4, max_bytes)) == (False, 2)
    assert count_jobs(lambda: sizing.capped_count(df, 2)) == (3, 2)
