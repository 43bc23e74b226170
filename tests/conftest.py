"""Shared fixtures + the driver-budget FAST LANE (round 15).

The external driver's test gate runs ``python -m pytest tests/ -x -q``
inside a fixed time window. Round 14's full suite (~4400 s of test
time) outgrew it: VERIFY_r14 recorded ``tests_ok: false`` with the
output truncated at ~73% and zero failures — a budget problem, not a
red suite. The fix (VERDICT r14 next-round #1) is a MEASURED fast lane:

- ``tests/.fast_lane.json`` lists every test whose last full-suite
  duration exceeded the threshold (regenerate with
  ``python tests/gen_fast_lane.py`` after a sharded run).
- By default those tests are DESELECTED here, so the default entrypoint
  completes well inside the driver window (~965 s of measured test time
  vs ~4400 s for the full suite).
- The FULL suite remains the round gate: ``python tests/run_sharded.py``
  sets ``SPARK_GRAFT_FULL_TESTS=1`` which disables the lane, and any
  explicit ``-m``/``-k`` filter or an explicit test-file argument also
  bypasses it (you asked for specific tests; you get them).
- Unknown node ids in the list are ignored and NEW tests run in the
  fast lane by default — the lane degrades to "run everything", never
  to silently skipping fresh work.
- A default run prints the lane file's path and how many tests it
  deselected.
"""

from __future__ import annotations

import json
import os

import pytest

SF_DIR = os.environ.get("DAMPR_SPARK_TEST_SF", "/root/testdata/sf0.001")
_FAST_LANE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".fast_lane.json")


@pytest.fixture(scope="session")
def spark():
    from dampr_spark.session import get_spark

    s = get_spark(app_name="dampr-spark-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def _slow_set() -> set[str]:
    try:
        with open(_FAST_LANE) as f:
            return set(json.load(f).get("slow", ()))
    except (OSError, ValueError):
        return set()


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    # Explicit selection (markers, -k, or naming specific files/tests)
    # bypasses the lane: the caller asked for those tests specifically.
    if config.getoption("-m") or config.getoption("-k"):
        return
    args = [a for a in config.invocation_params.args if not str(a).startswith("-")]
    if any("::" in str(a) or str(a).endswith(".py") for a in args):
        return
    slow = _slow_set()
    keep, dropped = [], []
    for item in items:
        # Match on "test_file.py::rest" regardless of invocation dir.
        nid = item.nodeid
        base = nid.split("/")[-1]
        if base in slow:
            dropped.append(item)
        else:
            keep.append(item)
    if dropped:
        config.hook.pytest_deselected(items=dropped)
        items[:] = keep
    # Say what the lane skipped, so a default run is never mistaken for
    # the full suite.
    reporter = config.pluginmanager.get_plugin("terminalreporter")
    if reporter is not None:
        reporter.ensure_newline()
        reporter.write_line(
            f"fast lane {_FAST_LANE}: deselected {len(dropped)} of {len(dropped) + len(keep)} "
            "tests (SPARK_GRAFT_FULL_TESTS=1 runs them all)"
        )
