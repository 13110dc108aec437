"""Shared fixtures: one SparkSession per test run, a generated fixture
project (the reference's temp_repo pattern, tests/conftest.py:44-100)."""

from __future__ import annotations

import os
import sys
import textwrap

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run tests marked slow (full end-to-end engine runs)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavy end-to-end engine test, skipped by default "
        "(run with --runslow or CCMS_FULL_TESTS=1)",
    )


def pytest_collection_modifyitems(config, items):
    """r13 (verdict r12 item 2): the full suite takes ~36-40 min and
    overran the driver's verify window (VERIFY_r12 tests_ok=false with
    the tail cut at ~622/763 dots and ZERO failures). The heavy
    end-to-end engine tests — each runs several full `index()` passes
    at the Spark job-scheduling floor — are marked `slow` and SKIPPED
    by default so the default run finishes inside the window; they
    still run with `--runslow` / `CCMS_FULL_TESTS=1` (the round-close
    verification and CI path, tools/ci.sh). Every skipped behavior
    keeps a faster default-set representative (one end-to-end
    index+search test, the operator-level equivalence tests)."""
    if config.getoption("--runslow") or os.environ.get("CCMS_FULL_TESTS") == "1":
        return
    skip = pytest.mark.skip(reason="slow: use --runslow / CCMS_FULL_TESTS=1")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from claude_code_memory_spark.session import get_spark

    s = get_spark("tests")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def temp_repo(tmp_path):
    """A small Python project with the reference's test cases: functions,
    classes+methods, imports, tuple unpack, syntax errors, docstrings."""
    proj = tmp_path / "proj"
    proj.mkdir()
    (proj / "main.py").write_text(
        textwrap.dedent(
            '''
            """Main module."""
            import os
            from pathlib import Path

            MAX_SIZE = 100
            x, y = 1, 2

            def helper(a, b):
                """Add two numbers."""
                return a + b

            def compute(items):
                """Compute with control flow."""
                total = 0
                for it in items:
                    if it > 0:
                        total += helper(it, 1)
                return total

            class Processor:
                """Processes things."""

                def run(self, data):
                    return compute(data)
            '''
        )
    )
    (proj / "util.py").write_text(
        textwrap.dedent(
            """
            class Base:
                pass

            class Derived(Base):
                def ping(self):
                    return "pong"
            """
        )
    )
    (proj / "broken.py").write_text("def broken(:\n    pass\n")
    (proj / "empty.py").write_text("")
    return str(proj)
