"""Metric arithmetic shared by the benchmark and its tests.

Pure functions over plain numbers and dicts: no Spark, no clock. Every rule
the benchmark reports by (median, tail percentile, failure share, status-store
stage totals, run-to-run spread) lives here so the tests pin it exactly.
"""

from __future__ import annotations

import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; fewer makes the "tail" one or two unlucky samples.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail_percentile(values: list[float], beyond: int = TAIL_BEYOND) -> dict | None:
    """Highest percentile of ``values`` that still has ``beyond`` samples
    above it: the sorted sample at index ``n - beyond - 1``.

    Returns ``{"pct", "value", "n"}`` where ``pct`` is the share of samples
    at or below the reported one, or ``None`` when there are too few samples
    for any tail (``n <= beyond``). With 40 samples this is the p75.
    """
    n = len(values)
    if n <= beyond:
        return None
    idx = n - beyond - 1
    return {
        "pct": round(100.0 * (idx + 1) / n, 2),
        "value": float(sorted(values)[idx]),
        "n": n,
    }


def failed_frac(attempted: int, failed: int) -> float:
    """Failed operations over attempted ones. An operation that raised and
    one whose output failed its check each count once."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


# Status-store fields summed over the stages a job group ran.
STAGE_SUMS = (
    "tasks",
    "failed_tasks",
    "executor_run_ms",
    "executor_cpu_ns",
    "gc_ms",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def aggregate_stages(jobs: int, stages: list[dict]) -> dict:
    """Totals for one job group from its stages' status-store records.

    A stage whose output an earlier job already produced is listed in the
    new job with status ``SKIPPED`` and never runs: it is counted in
    ``stages_skipped`` and adds nothing to ``stages``, tasks or any busy
    time. Every other stage adds its fields from :data:`STAGE_SUMS`.
    """
    out = {"jobs": jobs, "stages": 0, "stages_skipped": 0}
    out.update({k: 0 for k in STAGE_SUMS})
    for st in stages:
        if st["status"] == "SKIPPED":
            out["stages_skipped"] += 1
            continue
        out["stages"] += 1
        for k in STAGE_SUMS:
            out[k] += st.get(k, 0)
    return out


def spark_layer(totals: dict) -> dict:
    """Status-store totals in the benchmark's reporting units."""
    mb = 1e6
    return {
        "spark.jobs": totals["jobs"],
        "spark.stages": totals["stages"],
        "spark.stages_skipped": totals["stages_skipped"],
        "spark.tasks": totals["tasks"],
        "spark.shuffle_write_mb": totals["shuffle_write_bytes"] / mb,
        "spark.shuffle_read_mb": totals["shuffle_read_bytes"] / mb,
        "spark.spill_mb": totals["spill_bytes"] / mb,
        "spark.input_mb": totals["input_bytes"] / mb,
        "spark.executor_run_s": totals["executor_run_ms"] / 1e3,
        "spark.executor_cpu_s": totals["executor_cpu_ns"] / 1e9,
        "spark.gc_s": totals["gc_ms"] / 1e3,
        "spark.failed_tasks": totals["failed_tasks"],
    }


def late_early_ratio(values: list[float]) -> dict | None:
    """Median of the last third of ``values`` over the median of the first
    third, with both bases. ``None`` below three samples."""
    third = len(values) // 3
    if third < 1:
        return None
    early = median(values[:third])
    late = median(values[-third:])
    return {"ratio": late / early, "early_s": early, "late_s": late, "n_each": third}


def halves_ratio(values: list[float]) -> float | None:
    """Median of the second half of ``values`` over the first half: how far
    the measured window is from flat (1.0). ``None`` below four samples."""
    half = len(values) // 2
    if half < 2:
        return None
    return median(values[-half:]) / median(values[:half])


def work_cpu_s(before: tuple[float, float], after: tuple[float, float]) -> float:
    """CPU seconds between two ``(total, jit)`` marks, less JIT compiling:
    compilation is warm-up, and it runs on in the background for several
    passes after the wall time is flat."""
    return (after[0] - before[0]) - (after[1] - before[1])


def batch_cpu(start: tuple[float, float], marks: dict[int, tuple[float, float]], ids: list[int]) -> list[float]:
    """CPU seconds of each micro-batch in ``ids``, by :func:`work_cpu_s`,
    from ``(total, jit)`` marks taken as batches completed. Batches whose
    completion the poll missed share the next mark's span evenly."""
    out, prev, pending = [], start, 0
    for b in ids:
        pending += 1
        if b in marks:
            out.extend([work_cpu_s(prev, marks[b]) / pending] * pending)
            prev, pending = marks[b], 0
    return out


def iqr_spread(values: list[float]) -> float:
    """Distance between the first and third quartile over the median, with
    quartiles as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)
