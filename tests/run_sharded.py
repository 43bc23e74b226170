#!/usr/bin/env python
"""Sharded full-suite runner — the round gate at 32-core speed (VERDICT
r9 next-round #6: the serial suite hit 23m35s and grows every round).

``python tests/run_sharded.py [--shards 4] [--cpus-per-shard 8]``

Splits the test FILES across N concurrent pytest processes, each with
its own JVM + SparkSession on ``local[cpus_per_shard]`` — the serial
suite only ever used local[8] (conftest default), so 4×8 shards use the
whole box. Every test file is self-contained (session-scoped spark
fixture per process; all filesystem state goes through pytest tmp_path —
audited round 10), so file-granular sharding changes no semantics:
same tests, same assertions, zero skips.

Balancing is measured, not guessed: true per-file durations from the
LAST run's junit records persist in the git-ignored
``tests/.shard_weights.local.json`` and feed a greedy
longest-processing-time partition. Without that file the tracked
``tests/.shard_weights.json`` seeds the partition, and files neither
records know weigh by size. A run never rewrites the tracked file, so it
leaves the checkout clean.

Results come from each shard's junit XML (counts + per-test times), not
stdout scraping; a shard that crashes before writing its XML fails the
run — a dead worker cannot masquerade as green. The plain serial gate
(``python -m pytest tests/ -x -q``) remains valid and is what this
runner must agree with.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys
import time
import xml.etree.ElementTree as ET

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WEIGHTS = os.path.join(HERE, ".shard_weights.json")
LOCAL_WEIGHTS = os.path.join(HERE, ".shard_weights.local.json")


def collect_files() -> list[str]:
    return sorted(
        os.path.relpath(p, REPO)
        for p in glob.glob(os.path.join(HERE, "test_*.py"))
    )


def load_weights(files: list[str]) -> dict[str, float]:
    recorded = {}
    for path in (LOCAL_WEIGHTS, WEIGHTS):
        try:
            with open(path) as f:
                recorded = json.load(f)
            break
        except (OSError, ValueError):
            continue
    known = {f: recorded[f] for f in files if f in recorded}
    # Unknown files weigh by size at the known files' sec/byte rate (only
    # the relative ordering matters for the LPT partition).
    if known:
        spb = sum(known.values()) / max(
            sum(os.path.getsize(os.path.join(REPO, f)) for f in known), 1
        )
    else:
        spb = 1e-3
    return {
        f: known.get(f, os.path.getsize(os.path.join(REPO, f)) * spb)
        for f in files
    }


def partition(
    files: list[str], weights: dict[str, float], n: int
) -> list[list[str]]:
    shards: list[tuple[float, list[str]]] = [(0.0, []) for _ in range(n)]
    for f in sorted(files, key=lambda f: -weights[f]):
        i = min(range(n), key=lambda i: shards[i][0])
        shards[i] = (shards[i][0] + weights[f], shards[i][1] + [f])
    return [s[1] for s in shards if s[1]]


def parse_junit(path: str) -> tuple[dict[str, int], dict[str, float], list[str]]:
    """(counts, per-file seconds, failed test ids) from a junit XML."""
    counts = {"tests": 0, "failures": 0, "errors": 0, "skipped": 0}
    per_file: dict[str, float] = {}
    failed: list[str] = []
    root = ET.parse(path).getroot()
    suites = root.findall("testsuite") or [root]
    for s in suites:
        for k in counts:
            counts[k] += int(s.get(k) or 0)
        for tc in s.iter("testcase"):
            cls = tc.get("classname") or ""
            # classname "tests.test_api[.TestX]" -> "tests/test_api.py"
            parts = cls.split(".")
            f = "/".join(parts[:2]) + ".py" if len(parts) >= 2 else cls
            per_file[f] = per_file.get(f, 0.0) + float(tc.get("time") or 0.0)
            if tc.find("failure") is not None or tc.find("error") is not None:
                failed.append(f"{cls}::{tc.get('name')}")
    return counts, per_file, failed


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--shards", type=int, default=5)
    ap.add_argument("--cpus-per-shard", type=int, default=6)
    ap.add_argument("pytest_args", nargs="*", default=[])
    args = ap.parse_args()

    files = collect_files()
    weights = load_weights(files)
    shards = partition(files, weights, args.shards)

    t0 = time.time()
    procs = []
    for i, shard in enumerate(shards):
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = str(args.cpus_per_shard)
        # The sharded runner IS the full-suite round gate: disable the
        # driver-budget fast lane (tests/conftest.py) so every test runs.
        env.setdefault("SPARK_GRAFT_FULL_TESTS", "1")
        env.setdefault("PYTHONPATH", REPO)
        xml_path = f"/tmp/test_shard_{i}.xml"
        if os.path.exists(xml_path):
            os.unlink(xml_path)
        log = open(f"/tmp/test_shard_{i}.log", "w")
        procs.append(
            (
                i,
                shard,
                xml_path,
                subprocess.Popen(
                    [
                        sys.executable, "-m", "pytest", *shard, "-q",
                        "-p", "no:cacheprovider",
                        f"--junitxml={xml_path}", *args.pytest_args,
                    ],
                    cwd=REPO, env=env, stdout=log, stderr=subprocess.STDOUT,
                ),
                log,
            )
        )

    total = {"tests": 0, "failures": 0, "errors": 0, "skipped": 0}
    durations: dict[str, float] = {}
    ok = True
    for i, shard, xml_path, p, log in procs:
        rc = p.wait()
        log.close()
        if not os.path.exists(xml_path):
            print(f"shard {i}: rc={rc}, NO junit xml — worker died; see "
                  f"/tmp/test_shard_{i}.log")
            ok = False
            continue
        counts, per_file, failed_ids = parse_junit(xml_path)
        for k in total:
            total[k] += counts[k]
        for f, sec in per_file.items():
            durations[f] = round(durations.get(f, 0.0) + sec, 1)
        bad = counts["failures"] + counts["errors"]
        if bad or rc != 0:
            ok = False
        print(
            f"shard {i} (rc={rc}, {len(shard)} files): "
            f"{counts['tests']} tests, {bad} failed/error, "
            f"{counts['skipped']} skipped"
        )
        for t in failed_ids:
            print("    FAILED", t)

    wall = time.time() - t0
    # Persist measured weights only for FULL, unfiltered, green runs: a
    # `-k`/`-m`-filtered run records near-zero durations for deselected
    # files and would poison the LPT balance of the next full run
    # (round-10 review finding).
    if ok and total["tests"] and not args.pytest_args:
        try:
            with open(LOCAL_WEIGHTS, "w") as f:
                json.dump(durations, f, indent=1, sort_keys=True)
        except OSError:
            pass
    passed = total["tests"] - total["failures"] - total["errors"] - total["skipped"]
    print(
        f"TOTAL: {passed} passed, {total['failures']} failed, "
        f"{total['errors']} errors, {total['skipped']} skipped "
        f"in {wall:.0f}s across {len(shards)} shards"
    )
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
