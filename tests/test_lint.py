"""Repository lints as a fast test: the entry-file lint and the
unreferenced-definition check (scripts/lint_entry.py) both run clean,
and the definition check does flag a dead def."""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _lint():
    path = os.path.join(ROOT, "scripts", "lint_entry.py")
    spec = importlib.util.spec_from_file_location("lint_entry", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_lint_clean():
    assert _lint().lint_file(os.path.join(ROOT, "__spark_entry__.py")) == []


def test_no_unreferenced_defs():
    assert _lint().unreferenced_defs() == []


def test_unreferenced_check_flags_dead_def(tmp_path):
    (tmp_path / "geo_spark").mkdir()
    (tmp_path / "geo_spark" / "m.py").write_text(
        "def used():\n    return 1\n\n\ndef dead(n):\n    return dead(n - 1)\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_m.py").write_text("from geo_spark.m import used\n")
    errors = _lint().unreferenced_defs(str(tmp_path))
    assert [e.split(": ", 1)[1] for e in errors] == ["unreferenced definition 'dead'"]
