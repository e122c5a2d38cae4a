"""The cosine kernel in functions/hashing.py: a source lint that keeps
the corpus broadcast, the norm outer product and the 1e-12 norm clamp
inside it (the plans/ oracle queries keep their own arithmetic: they
are the reference the kernel is checked against)."""

import pathlib
import re

from smashed_spark.functions import hashing

PKG = pathlib.Path(hashing.__file__).resolve().parents[1]

_COPIES = re.compile(
    r"sparkContext\.broadcast\(|np\.outer\(|,\s*1e-12\s*\)"
)


def lint(root: pathlib.Path) -> list:
    """``file:line`` of every corpus broadcast, norm outer product or
    1e-12 norm clamp under ``root`` outside functions/hashing.py and
    plans/."""
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        if rel.parts[0] == "plans" or rel.parts[-2:] == (
            "functions",
            "hashing.py",
        ):
            continue
        src = path.read_text()
        for m in _COPIES.finditer(src):
            found.append(f"{rel}:{src.count(chr(10), 0, m.start()) + 1}")
    return found


def test_cosine_arithmetic_lives_in_the_kernel():
    assert lint(PKG) == []


def test_lint_catches_hand_written_copies(tmp_path):
    (tmp_path / "functions").mkdir()
    (tmp_path / "plans").mkdir()
    copy = (
        "b = spark.sparkContext.broadcast(mat)\n"
        "d = np.outer(qn, cn)\n"
        "u = mat / np.maximum(\n    np.linalg.norm(mat), 1e-12\n)\n"
        "tol = 1 - 1e-12\n"
    )
    (tmp_path / "functions" / "m.py").write_text(copy)
    (tmp_path / "functions" / "hashing.py").write_text(copy)
    (tmp_path / "plans" / "q.py").write_text(copy)
    assert lint(tmp_path) == [
        "functions/m.py:1",
        "functions/m.py:2",
        "functions/m.py:4",
    ]
