"""The fast-tier rule in ``tests/conftest.py``: a directory run
deselects ``slow`` tests, a run that names a file or node id keeps
them."""

from __future__ import annotations

import os

import pytest

pytest_plugins = ["pytester"]

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def suite(pytester, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_TEST_FULL", raising=False)
    pytester.makeini("[pytest]\nmarkers =\n    slow: heavy battery\n")
    pytester.makeconftest(
        "import sys\n"
        f"sys.path.insert(0, {_REPO!r})\n"
        "from tests.conftest import pytest_collection_modifyitems  # noqa: F401\n")
    pytester.mkdir("suite")
    pytester.path.joinpath("suite", "test_tier_sample.py").write_text(
        "import pytest\n\n"
        "def test_fast():\n    pass\n\n"
        "@pytest.mark.slow\n"
        "def test_heavy():\n    pass\n")
    return pytester


def test_directory_run_deselects_slow(suite):
    suite.runpytest("suite").assert_outcomes(passed=1, deselected=1)


def test_named_file_or_node_keeps_slow(suite):
    suite.runpytest("suite/test_tier_sample.py").assert_outcomes(passed=2)
    suite.runpytest(
        "suite/test_tier_sample.py::test_heavy").assert_outcomes(passed=1)
