"""Packaging metadata (VERDICT r8 Next #6): the repo must be
pip-installable with a working ``gbif-filter-spark`` console entry —
the reference ships requirements.txt + install instructions
(/root/reference/README.md), so a switcher's first action is
``pip install``. Hermetic: validates the metadata and the entry-point
target directly rather than shelling out to pip (no network in CI)."""

from __future__ import annotations

import re
import subprocess
import sys
import tomllib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _meta() -> dict:
    with open(ROOT / "pyproject.toml", "rb") as fh:
        return tomllib.load(fh)


class TestPackaging:
    def test_pyproject_core_metadata(self):
        meta = _meta()
        proj = meta["project"]
        assert proj["name"] == "gbif-filter-python-spark"
        deps = " ".join(proj["dependencies"])
        # the floors that matter: pyspark 4.x semantics (ANSI mode,
        # Python DataSource) are load-bearing throughout the engine
        assert "pyspark>=4" in deps
        assert "pandas>=" in deps and "pyarrow>=" in deps
        assert "PyYAML" in deps  # config.py imports yaml at runtime
        assert meta["build-system"]["build-backend"] == (
            "setuptools.build_meta"
        )

    def test_console_entry_point_resolves(self):
        eps = _meta()["project"]["scripts"]
        target = eps["gbif-filter-spark"]
        mod_name, _, attr = target.partition(":")
        import importlib

        fn = getattr(importlib.import_module(mod_name), attr)
        assert callable(fn)

    def test_cli_module_help_exits_zero(self):
        # the exact invocation the console script wraps
        proc = subprocess.run(
            [sys.executable, "-m", "gbif_filter_python_spark.cli",
             "--help"],
            capture_output=True,
            text=True,
            cwd=ROOT,
        )
        assert proc.returncode == 0
        assert "gbif" in proc.stdout.lower()

    def test_package_discovery_covers_all_subpackages(self):
        # every package directory must ship __init__.py so
        # setuptools.packages.find picks it up — a missing one would
        # silently drop a subpackage from the wheel
        pkg = ROOT / "gbif_filter_python_spark"
        missing = [
            str(d.relative_to(ROOT))
            for d in pkg.rglob("*")
            if d.is_dir()
            and d.name != "__pycache__"
            and not (d / "__init__.py").exists()
        ]
        assert missing == []


# Round-named test files predate filing tests by module. Their test IDs
# are kept stable, so the set is frozen: new tests go into the file of
# the module they test, never into a new round-named file.
ROUND_NAMED_TEST_FILES = {
    "test_round8_ops.py", "test_round9_ops.py", "test_round10_ops.py",
    "test_round10_props.py", "test_round10b_ops.py", "test_round10c_ops.py",
    "test_round11_ops.py", "test_round11_plans.py", "test_round11b_ops.py",
    "test_round11c_ops.py", "test_round11d_ops.py", "test_round11e_ops.py",
    "test_round11f_ops.py", "test_round12_ops.py", "test_round12_plans.py",
    "test_round13_ops.py", "test_round13_plans.py", "test_round14_archive.py",
    "test_round14_ops.py", "test_round14_plans.py",
    "test_round15_closed_items.py", "test_round15_plans.py",
}


def test_no_new_round_named_test_file_and_one_conf_helper():
    """No test file named after a round joins the frozen set, and a
    test changes session conf only through
    ``tests/conftest.py::session_conf``, which gives every key its old
    value back."""
    tests = ROOT / "tests"
    found = {p.name for p in tests.glob("test_round*.py")}
    assert found <= ROUND_NAMED_TEST_FILES, sorted(
        found - ROUND_NAMED_TEST_FILES)
    setters = [
        p.name for p in sorted(tests.glob("test_*.py"))
        if re.search(r"\.conf\.(set|unset)\(", p.read_text())
    ]
    assert setters == []


def test_one_tokenizer():
    """Only ``functions/text.py`` holds the word-normalization regex;
    every other package module tokenizes through ``normalized_text`` /
    ``words``. ``operators/bpe.py`` keeps its pure-Python reference
    (``ref_words``), the other side of the BPE differential."""
    pkg = ROOT / "gbif_filter_python_spark"
    holders = sorted(
        str(p.relative_to(pkg)) for p in pkg.rglob("*.py")
        if "[^a-z0-9]+" in p.read_text()
    )
    assert holders == ["functions/text.py", "operators/bpe.py"]
