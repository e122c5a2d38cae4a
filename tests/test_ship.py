"""core/ship.py: the package zip registered with ``addPyFile`` holds
exactly the package's current sources."""

import os
import pathlib
import tempfile
import zipfile

from smashed_spark.core import ship

PKG = pathlib.Path(ship.__file__).resolve().parents[1]


class _Context:
    def __init__(self):
        self.added = []

    def addPyFile(self, path):
        self.added.append(path)


class _Session:
    def __init__(self):
        self.sparkContext = _Context()


def _sources():
    return {
        f"smashed_spark/{p.relative_to(PKG).as_posix()}": p.read_bytes()
        for p in PKG.rglob("*.py")
    }


def test_stale_package_zip_is_rebuilt(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(ship, "_SHIPPED", set())
    zip_path = tmp_path / "smashed_spark_pyfiles.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr("smashed_spark/__init__.py", "STALE = True\n")
    first = _Session()
    ship.ensure_shipped(first)
    assert first.sparkContext.added == [str(zip_path)]
    with zipfile.ZipFile(zip_path) as zf:
        assert {n: zf.read(n) for n in zf.namelist()} == _sources()
    assert os.listdir(tmp_path) == [zip_path.name]  # no temp file left
    # a current zip is reused as it is
    stamp = zip_path.stat().st_mtime_ns
    second = _Session()
    ship.ensure_shipped(second)
    assert second.sparkContext.added == [str(zip_path)]
    assert zip_path.stat().st_mtime_ns == stamp
    # world-readable, like a zip written under the usual umask, so other
    # users of a shared temp dir can reuse a current one
    assert zip_path.stat().st_mode & 0o777 == 0o644


def test_refused_rename_ships_a_private_copy(tmp_path, monkeypatch):
    """A stale zip that another user owns in a sticky temp dir cannot be
    replaced; the session then ships its own freshly built copy."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(ship, "_SHIPPED", set())
    zip_path = tmp_path / "smashed_spark_pyfiles.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr("smashed_spark/__init__.py", "STALE = True\n")

    def refuse(src, dst):
        raise PermissionError(1, "Operation not permitted", dst)

    monkeypatch.setattr(os, "replace", refuse)
    session = _Session()
    ship.ensure_shipped(session)
    (shipped,) = session.sparkContext.added
    assert shipped != str(zip_path)
    with zipfile.ZipFile(shipped) as zf:
        assert {n: zf.read(n) for n in zf.namelist()} == _sources()
    with zipfile.ZipFile(zip_path) as zf:  # the other user's zip is untouched
        assert zf.namelist() == ["smashed_spark/__init__.py"]
