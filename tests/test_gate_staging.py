"""Gate staging-dir hygiene (r13 ADVICE): env override for
spawn-started workers, and the claim step that refuses symlinked or
foreign-owned pre-created directories."""

import json
import os
import subprocess
import sys
import tempfile

import pytest

from smashed_spark.plans.registry import _claim_gate_dir


REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# module constant -> (the env var that must pin it, its pid-keyed stem)
GATE_DIRS = {
    "queries_more._IO_ZDOCS_PATH": (
        "SMASHED_IO_ZDOCS_DIR", "smashed_io_zdocs"
    ),
    "queries_more._SNAP_STAGING_PATH": (
        "SMASHED_SNAPSHOT_DIR", "smashed_snap_gate"
    ),
    "queries_scale._BPE_STAGE_PATH": ("SMASHED_BPE_DIR", "smashed_bpe_gate"),
    "queries_scale._MEDIA_GATE_PATH": (
        "SMASHED_MEDIA_GATE_DIR", "smashed_media_gate"
    ),
}


def _bound_gate_dirs(env):
    """The pid of a fresh import and each gate module's staging
    constant as that import bound it."""
    code = (
        "import json, os\n"
        "from smashed_spark.plans import queries_more, queries_scale\n"
        f"names = {sorted(GATE_DIRS)!r}\n"
        "print(json.dumps([os.getpid(), {n: eval(n) for n in names}]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True,
        text=True, check=True, cwd=REPO_ROOT,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_env_override_beats_pid_keying(tmp_path):
    # each gate module's call site reads its own env var: a typo there
    # would leave that constant on the pid-keyed default
    pinned = {
        env_var: str(tmp_path / env_var)
        for env_var, _ in GATE_DIRS.values()
    }
    _, got = _bound_gate_dirs({**os.environ, **pinned})
    assert got == {n: pinned[v] for n, (v, _) in GATE_DIRS.items()}
    # and falls back to its own stem, keyed by the importing pid
    env = {k: v for k, v in os.environ.items() if k not in pinned}
    pid, got = _bound_gate_dirs(env)
    assert got == {
        n: os.path.join(tempfile.gettempdir(), f"{stem}_{pid}")
        for n, (_, stem) in GATE_DIRS.items()
    }


def test_claim_creates_private_dir(tmp_path):
    path = str(tmp_path / "fresh")
    _claim_gate_dir(path, "SMASHED_IO_ZDOCS_DIR")
    assert os.path.isdir(path)
    assert os.stat(path).st_mode & 0o777 == 0o700
    # idempotent on our own dir
    _claim_gate_dir(path, "SMASHED_IO_ZDOCS_DIR")


def test_claim_refuses_symlink(tmp_path):
    real = tmp_path / "real"
    real.mkdir()
    link = tmp_path / "link"
    link.symlink_to(real)
    with pytest.raises(RuntimeError, match="symlink"):
        _claim_gate_dir(str(link), "SMASHED_IO_ZDOCS_DIR")
    # the env-var name surfaces in the remediation message
    with pytest.raises(RuntimeError, match="SMASHED_MEDIA_GATE_DIR"):
        _claim_gate_dir(str(link), "SMASHED_MEDIA_GATE_DIR")
