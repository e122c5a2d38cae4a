"""Ship the smashed_spark package to Spark executors.

Python-tier mappers (jinja, tokenizers, ftfy) serialize closures and
objects that reference this package by module name; Python workers must
be able to import it regardless of the driver's working directory.  On
a real cluster this is the standard wheel / ``--py-files`` deployment;
for local and ad-hoc drivers we zip the package (rebuilt when the
sources change) and register it with ``addPyFile`` once per session.
Called automatically by every mapper whose ``apply`` ships Python to
workers.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

_SHIPPED: set = set()


def _package_sources() -> dict:
    """``{zip member name: bytes}`` for every ``.py`` file of the
    installed package."""
    import smashed_spark

    pkg_dir = os.path.dirname(os.path.abspath(smashed_spark.__file__))
    out = {}
    for root, _, files in os.walk(pkg_dir):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, pkg_dir).replace(os.sep, "/")
                with open(full, "rb") as f:
                    out[f"smashed_spark/{rel}"] = f.read()
    return out


def _zip_matches(zip_path: str, sources: dict) -> bool:
    try:
        with zipfile.ZipFile(zip_path) as zf:
            return sorted(zf.namelist()) == sorted(sources) and all(
                zf.read(name) == data for name, data in sources.items()
            )
    except (OSError, zipfile.BadZipFile):
        return False


def ensure_shipped(spark) -> None:
    """Register the package zip with ``spark``'s context, once per
    context.  The zip lives at a fixed path in the temp dir and is
    rebuilt whenever its members differ from the package's sources, so
    a worker never imports an older copy of the package; the rebuild
    writes a temp file in the same directory and renames it onto the
    path, so a concurrent reader sees the old zip or the new one.  The
    zip is world-readable, so other users of a shared temp dir reuse a
    current one; when the rename is refused (a stale zip another user
    owns in a sticky temp dir), this session ships its own temp copy."""
    sid = id(spark.sparkContext)
    if sid in _SHIPPED:
        return
    sources = _package_sources()
    zip_dir = tempfile.gettempdir()
    zip_path = os.path.join(zip_dir, "smashed_spark_pyfiles.zip")
    if not _zip_matches(zip_path, sources):
        fd, tmp = tempfile.mkstemp(suffix=".zip", dir=zip_dir)
        try:
            with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as zf:
                for name, data in sources.items():
                    zf.writestr(name, data)
            os.chmod(tmp, 0o644)
            os.replace(tmp, zip_path)
        except PermissionError:
            zip_path = tmp
        except BaseException:
            os.unlink(tmp)
            raise
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(sid)
