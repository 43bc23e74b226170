"""Full-catalog 10x scale sweep: time EVERY catalog query at sf0.1 and at
the synthesized .scale/sf1.0 (benchmarks/gen_scale_data.py) and flag
super-linear stragglers.

Rationale: bench.py covers 63 flagships and the 10x spot-proofs cover the
heavy dedup/vector families; the other ~160 queries had no scaling
evidence at all. One sweep catches any accidentally-quadratic plan
(unblocked self-join, per-row recompute of a corpus aggregate, a collect
that grows with the data) across the whole catalog.

Method: per query and scale, one untimed warmup run then one timed run —
WARM timings, because cold numbers are dominated by Catalyst
planning/codegen that doesn't scale with data and would dilute exactly
the signal this sweep exists to find. A 10x data ratio on 32 local cores
should land near ~10x-linear for shuffle-bound plans and BELOW 10x for
plans that were underutilizing cores at sf0.1; with documented ~2x host
jitter, ratio > 25 is flagged "superlinear", 15-25 "watch". A per-query
watchdog cancels the Spark job group after --timeout seconds so one
quadratic plan can't hang the sweep; a timeout at sf1.0 IS a flag.

Output: benchmarks/scale_sweep.jsonl (one record per query, written
incrementally so a crashed sweep keeps its partial evidence) plus a
summary line; summarize separately with --summarize.

Usage:
  PYTHONPATH=/root/repo python benchmarks/scale_sweep.py [--timeout 300] [names...]
  PYTHONPATH=/root/repo python benchmarks/scale_sweep.py --summarize
"""

from __future__ import annotations

import argparse
import json
import os
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"
SF10 = os.path.join(REPO, ".scale", "sf1.0")
OUT = os.path.join(REPO, "benchmarks", "scale_sweep.jsonl")

SUPERLINEAR = 25.0
WATCH = 15.0

# Deliberately-quadratic ORACLE ANCHORS: each exists to externally verify
# a scale-path operator at correctness scale, documents its O(N^2) nature
# in its own docstring, and names its scale-safe twin. The sweep reports
# them separately instead of flagging — growing 100x at 10x data is their
# designed behavior, not a regression. Anything NOT in this dict that
# crosses the thresholds is a real finding.
QUADRATIC_ANCHORS = {
    "embedding_cosine_dups": "brute-force cosine baseline; scale path = embedding_near_dups (LSH)",
    "embedding_lsh_check": "recall check AGAINST the brute baseline, inherits its O(N^2)",
}


def summarize(path: str = OUT) -> dict:
    recs = [json.loads(l) for l in open(path)]
    by = {}
    for r in recs:
        by[r["name"]] = r  # last record wins (re-runs supersede)
    flagged = {
        n: r for n, r in by.items()
        if n not in QUADRATIC_ANCHORS
        and (r.get("timeout_sf1") or (r.get("ratio") or 0) > SUPERLINEAR)
    }
    watch = {
        n: r for n, r in by.items()
        if n not in flagged and n not in QUADRATIC_ANCHORS
        and (r.get("ratio") or 0) > WATCH
    }
    ratios = sorted((r["ratio"], n) for n, r in by.items() if r.get("ratio"))
    return {
        "n": len(by),
        "superlinear": {n: by[n].get("ratio") for n in sorted(flagged)},
        "watch": {n: round(by[n]["ratio"], 1) for n in sorted(watch)},
        "quadratic_anchors": {
            n: {"ratio": by[n].get("ratio"), "why": why}
            for n, why in QUADRATIC_ANCHORS.items()
            if n in by
        },
        "median_ratio": ratios[len(ratios) // 2][0] if ratios else None,
        "top10": [(n, round(r, 1)) for r, n in ratios[-10:]],
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="subset of query names (default: all)")
    ap.add_argument("--timeout", type=float, default=300.0)
    ap.add_argument("--summarize", action="store_true")
    ap.add_argument(
        "--no-warmup",
        action="store_true",
        help="one timed run per scale (screening mode): ~2x faster sweep; "
        "cold planning overhead pushes short-query ratios TOWARD 1, so "
        "follow up on ratios > ~8 with a warm refinement pass "
        "(re-running a name appends a superseding record)",
    )
    ap.add_argument(
        "--skip-anchors",
        action="store_true",
        help="skip the sf1.0 run of the documented quadratic oracle anchors",
    )
    args = ap.parse_args()

    if args.summarize:
        print(json.dumps(summarize(), indent=1))
        return 0

    from dampr_spark.plans import all_queries
    from dampr_spark.session import get_spark

    spark = get_spark(app_name="dampr-spark-scale-sweep")
    sc = spark.sparkContext
    catalog = all_queries()
    names = args.names or sorted(catalog)

    # Same warmups as bench.py: JVM classloading + the Arrow worker pool.
    catalog["count_total"].builder(spark, SF01).collect()
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dampr_spark.functions.udf import series_udf

    @series_udf(T.LongType())
    def _noop(x):
        import time as _t

        _t.sleep(0.3)
        return x

    par = sc.defaultParallelism
    spark.range(par).repartition(par).select(F.sum(_noop(F.col("id")))).collect()
    spark.createDataFrame([(1, [0.0])], "a int, b array<double>").localCheckpoint(
        eager=True
    ).count()

    def release() -> None:
        for rdd in sc._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def run_once(name: str, sf_dir: str, timeout: float):
        """(seconds, timed_out) — noop-sink materialization with a
        watchdog that cancels the job group at the deadline."""
        group = f"sweep-{name}"
        sc.setJobGroup(group, name, interruptOnCancel=True)
        timer = threading.Timer(timeout, lambda: sc.cancelJobGroup(group))
        timer.start()
        t0 = time.perf_counter()
        try:
            catalog[name].builder(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            return time.perf_counter() - t0, False
        except Exception:
            return time.perf_counter() - t0, True
        finally:
            timer.cancel()
            sc.setJobGroup("", "")
            release()

    out = open(OUT, "a")
    for i, name in enumerate(names):
        rec: dict = {"name": name}
        if args.no_warmup:
            to = False
        else:
            _, to = run_once(name, SF01, args.timeout)  # warmup
        t1, to1 = run_once(name, SF01, args.timeout)
        rec["sf0.1"] = round(t1, 3)
        rec["timeout_sf01"] = to or to1
        if args.skip_anchors and name in QUADRATIC_ANCHORS:
            rec["skipped_quadratic_anchor"] = True
        elif not rec["timeout_sf01"]:
            if args.no_warmup:
                to = False
            else:
                _, to = run_once(name, SF10, args.timeout)  # warmup
            t10, to10 = run_once(name, SF10, args.timeout)
            rec["sf1.0"] = round(t10, 3)
            rec["timeout_sf1"] = to or to10
            if not rec["timeout_sf1"]:
                rec["ratio"] = round(t10 / max(t1, 1e-3), 2)
        out.write(json.dumps(rec) + "\n")
        out.flush()
        print(f"[{i + 1}/{len(names)}] {json.dumps(rec)}", flush=True)
    out.close()
    print(json.dumps(summarize(), indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
