"""The smoke tier (pytest.ini) and the sharded runner's SMOKE_FILES
must name the same modules — otherwise `pytest -m smoke` and
`run_tests_sharded.py --smoke` silently diverge.
"""

from __future__ import annotations

import glob
import importlib.util
import os

TESTS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TESTS)


def _runner_smoke_files() -> set[str]:
    path = os.path.join(REPO, "scripts", "run_tests_sharded.py")
    spec = importlib.util.spec_from_file_location("rm_sharded", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return set(mod.SMOKE_FILES)


def _marked_smoke_files() -> set[str]:
    out = set()
    for f in glob.glob(os.path.join(TESTS, "test_*.py")):
        for line in open(f):
            if line.rstrip() == "pytestmark = pytest.mark.smoke":
                out.add(os.path.basename(f))
                break
    return out


def test_smoke_tier_in_sync():
    assert _runner_smoke_files() == _marked_smoke_files()


_TINY = """
import pytest


@pytest.mark.smoke
def test_fast():
    pass


def test_slow():
    pass
"""


def _run_gate(tmp_path, *args, files: dict[str, str] | None = None) -> str:
    """Run a bare-directory pytest with this suite's conftest over one
    smoke and one non-smoke test (plus any extra test ``files``) → its
    terminal output."""
    import shutil
    import subprocess
    import sys
    shutil.copy(os.path.join(TESTS, "conftest.py"), tmp_path)
    (tmp_path / "pytest.ini").write_text(
        "[pytest]\nmarkers =\n    smoke: fast tier\n")
    (tmp_path / "test_tiny.py").write_text(_TINY)
    for name, text in (files or {}).items():
        (tmp_path / name).write_text(text)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_FULL_TESTS", None)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", str(tmp_path), "-q",
         "-p", "no:cacheprovider", *args],
        cwd=tmp_path, env=env, capture_output=True, text=True,
        timeout=300)
    return proc.stdout


NOTICE = "smoke tier: 1 deselected; pass --full for the whole suite"


def test_smoke_gate_says_when_it_engages(tmp_path):
    out = _run_gate(tmp_path)
    assert NOTICE in out.splitlines()
    assert "1 passed, 1 deselected" in out


def test_smoke_gate_leaves_m_and_k_selections_alone(tmp_path):
    for args in (["-m", "not smoke"], ["-k", "slow"]):
        out = _run_gate(tmp_path, *args)
        assert "1 passed, 1 deselected" in out, (args, out)
        assert "smoke tier:" not in out, (args, out)
    out = _run_gate(tmp_path, "--full")
    assert "2 passed" in out and "smoke tier:" not in out


def test_absent_reference_checkout_is_announced(tmp_path):
    """Suites reading a missing reference checkout collect nothing from
    it; the run must say how many there were, not pass quietly."""
    here = tmp_path / "here" / "reference"
    here.mkdir(parents=True)

    def suite(root) -> str:
        return f'FIXTURES = "{root}/crates/fixtures"\n' + _TINY

    files = {"test_gone.py": suite(tmp_path / "gone" / "reference"),
             "test_here.py": suite(here)}
    out = _run_gate(tmp_path, "--full", files=files)
    assert ("reference checkout absent: 1 suites ran no reference cases"
            in out.splitlines()), out
    out = _run_gate(tmp_path, "--full",
                    files={"test_gone.py": _TINY, "test_here.py": _TINY})
    assert "reference checkout absent" not in out, out
