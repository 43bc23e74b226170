"""Distributed exact statistics.

Spark's built-in exact ``percentile`` aggregate materializes EVERY value in
one final merge buffer — measured on the round-5 100x events spot-proof as
a 10.9 s single task inside an 11.3 s query (the whole stage waits on one
reducer holding ~2M doubles; at 100 TB it simply OOMs). The mergeable-
sketch path (``percentile_approx``) is the right default at scale, but when
a result must be EXACT (the DuckDB-oracle contract here; financial/SLA
reporting in general), :func:`exact_quantiles` computes the same
``quantile_cont`` semantics with no single-task bottleneck:

1. global range sort of the value column (parallel TeraSort-style);
2. per-partition counts -> cumulative offsets (a partition-count-sized
   table) -> every row's GLOBAL rank = offset + intra-partition row_number;
3. the (few) ranks each requested quantile needs join back against the
   ranked rows via a broadcast, and linear interpolation assembles
   ``v_lo + frac * (v_hi - v_lo)``.

Every shuffle moves either the value column (range exchange) or a
partition-count table; no task ever holds more than one partition's worth
of rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dampr_spark.operators._knobs import check_range


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    probs: list[float],
) -> DataFrame:
    """Single-row DataFrame: ``n`` (value count) plus one double column
    ``q_<i>`` per requested probability, computed with ``quantile_cont``
    (linear interpolation) semantics — identical to Spark's exact
    ``percentile`` and DuckDB's ``quantile_cont``, without their
    single-reducer merge.

    NULL values are excluded (matching both engines' aggregate semantics).
    An empty input yields n=0 and NULL quantiles.
    """
    if not probs:
        raise ValueError("probs must be a non-empty list of probabilities")
    vals = df.select(F.col(value_col).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )

    # Parallel global sort, then recover each row's global rank: the range
    # exchange clusters by value; spark_partition_id tags the range bucket;
    # per-bucket row_number plus the cumulative count of earlier buckets is
    # the exact 0-based global rank. The window on (pid) re-shuffles by pid
    # — rows of one range bucket stay together, so ranks are exact; ties
    # may order arbitrarily within a bucket, which cannot change the VALUE
    # at any rank. The tiebreak column exists ONLY so the range partitioner
    # can split heavy ties across buckets (a constant-heavy column would
    # otherwise re-concentrate into one range partition — the exact skew
    # this operator removes).
    #
    # The eager localCheckpoint after pid assignment is CORRECTNESS, not an
    # optimization: range-partition boundaries come from a nondeterministic
    # reservoir sample, and two downstream branches (the per-pid counts and
    # the rank recovery) both consume this lineage. Without materialization
    # they would each re-execute the range exchange and could see DIFFERENT
    # boundaries — mismatched pids, silently wrong ranks (reproduced with
    # spark.sql.exchange.reuse=false: p50 off by millions). Checkpointing
    # pins one materialized assignment that every consumer reads.
    vals = vals.withColumn("tb", F.monotonically_increasing_id())
    ranked = (
        vals.orderBy("v", "tb")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_pid = Window.partitionBy("pid").orderBy("v", "tb")
    ranked = ranked.withColumn("rn", F.row_number().over(w_pid) - 1)

    counts = ranked.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "pid", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    )
    # offsets is one row per partition — broadcast-joined back.
    granked = ranked.join(F.broadcast(offsets), "pid").select(
        "v", (F.col("off") + F.col("rn")).alias("grank")
    )

    # n = Σ per-partition counts — derived from the counts table (≤ one row
    # per range partition) instead of a third full pass over the pinned
    # frame; the counts exchange is shared with the offsets window via plan
    # reuse. Same derivation distributed_ntile already uses.
    n_row = counts.agg(F.coalesce(F.sum("cnt"), F.lit(0).cast("long")).alias("n"))
    # For each prob: pos = (n-1)*p, lo = floor(pos), hi = ceil(pos),
    # frac = pos - lo. ONE aggregate explodes into the needed-rank table
    # (a per-prob unionAll would put len(probs) copies of the count
    # aggregation into the plan).
    needed = n_row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("qi"),
                        F.floor((F.col("n") - 1) * F.lit(float(p)))
                        .cast("long")
                        .alias("r_lo"),
                        F.ceil((F.col("n") - 1) * F.lit(float(p)))
                        .cast("long")
                        .alias("r_hi"),
                        (
                            (F.col("n") - 1) * F.lit(float(p))
                            - F.floor((F.col("n") - 1) * F.lit(float(p)))
                        ).alias("frac"),
                    )
                    for i, p in enumerate(probs)
                ]
            )
        ).alias("need")
    ).select("need.qi", "need.r_lo", "need.r_hi", "need.frac")

    sel = granked.join(
        F.broadcast(needed),
        (granked.grank == needed.r_lo) | (granked.grank == needed.r_hi),
    )
    per_q = sel.groupBy("qi").agg(
        F.min(F.when(F.col("grank") == F.col("r_lo"), F.col("v"))).alias("v_lo"),
        F.min(F.when(F.col("grank") == F.col("r_hi"), F.col("v"))).alias("v_hi"),
        F.first("frac").alias("frac"),
    )
    per_q = per_q.select(
        "qi",
        (
            F.col("v_lo") + F.col("frac") * (F.col("v_hi") - F.col("v_lo"))
        ).alias("q"),
    )
    out_cols: list[Column] = [
        F.min(F.when(F.col("qi") == i, F.col("q"))).alias(f"q_{i}")
        for i in range(len(probs))
    ]
    quants = per_q.agg(*out_cols)
    return n_row.crossJoin(F.broadcast(quants))


def exact_group_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    probs: list[float],
) -> DataFrame:
    """Per-group ``quantile_cont`` without per-group single-task merges:
    one row per group with ``n`` plus ``q_<i>`` per probability.

    The built-in ``percentile`` aggregate is fine when groups are many and
    small (each merge buffer holds one group), but a few-huge-groups shape
    (languages over a corpus, event types over a year) concentrates each
    group's entire value set in one task. Here the global range sort orders
    by (group, value, tiebreak) — so a huge group SPANS range partitions —
    and per-(partition, group) counts recover exact within-group ranks; the
    per-group needed ranks broadcast back exactly as in
    :func:`exact_quantiles`. No task ever holds more than one range
    partition.

    NULL group keys form their own group (matching groupBy semantics) —
    every internal join is null-safe on the group columns.
    """
    if not probs:
        raise ValueError("probs must be a non-empty list of probabilities")
    g = [F.col(c) for c in group_cols]
    vals = df.select(*g, F.col(value_col).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    # Eager checkpoint after pid assignment: same correctness requirement
    # as exact_quantiles — the nondeterministic range-exchange lineage has
    # multiple consumers and must be materialized exactly once.
    vals = vals.withColumn("tb", F.monotonically_increasing_id())
    ranked = (
        vals.orderBy(*group_cols, "v", "tb")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_pid = Window.partitionBy("pid", *group_cols).orderBy("v", "tb")
    ranked = ranked.withColumn("rn", F.row_number().over(w_pid) - 1)

    # (pid, group) counts: one row per group-run per range partition —
    # O(partitions + groups) rows total.
    counts = ranked.groupBy("pid", *group_cols).agg(F.count(F.lit(1)).alias("cnt"))
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "pid", *group_cols, F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    ).withColumnsRenamed({c: f"_g_{c}" for c in group_cols})
    off_cond = F.col("pid") == F.col("_o_pid")
    offsets = offsets.withColumnRenamed("pid", "_o_pid")
    for c in group_cols:
        off_cond = off_cond & F.col(c).eqNullSafe(F.col(f"_g_{c}"))
    granked = ranked.join(F.broadcast(offsets), off_cond).select(
        *group_cols, "v", (F.col("off") + F.col("rn")).alias("grank")
    )

    # Per-group n = Σ of that group's (pid, group) counts — re-aggregating
    # the O(partitions + groups)-row counts table instead of a second
    # group-keyed pass over the pinned corpus. A group appears in counts
    # iff it has ≥1 row, so the sum is never NULL and the row set matches
    # the direct groupBy exactly (NULL keys included).
    n_per_group = counts.groupBy(*group_cols).agg(F.sum("cnt").alias("n"))
    # ONE aggregate explodes into the per-group needed-rank table.
    needed = n_per_group.select(
        *group_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("qi"),
                        F.floor((F.col("n") - 1) * F.lit(float(p)))
                        .cast("long")
                        .alias("r_lo"),
                        F.ceil((F.col("n") - 1) * F.lit(float(p)))
                        .cast("long")
                        .alias("r_hi"),
                        (
                            (F.col("n") - 1) * F.lit(float(p))
                            - F.floor((F.col("n") - 1) * F.lit(float(p)))
                        ).alias("frac"),
                    )
                    for i, p in enumerate(probs)
                ]
            )
        ).alias("need"),
    ).select(*group_cols, "need.qi", "need.r_lo", "need.r_hi", "need.frac")

    # Broadcast the per-group needed-rank table; join on the group key AND
    # the rank hit in one condition so only quantile-boundary rows survive.
    renamed = needed.withColumnsRenamed({c: f"_g_{c}" for c in group_cols})
    cond = (F.col("grank") == F.col("r_lo")) | (F.col("grank") == F.col("r_hi"))
    for c in group_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_g_{c}"))
    sel = granked.join(F.broadcast(renamed), cond)
    per_q = sel.groupBy(*group_cols, "qi").agg(
        F.min(F.when(F.col("grank") == F.col("r_lo"), F.col("v"))).alias("v_lo"),
        F.min(F.when(F.col("grank") == F.col("r_hi"), F.col("v"))).alias("v_hi"),
        F.first("frac").alias("frac"),
    )
    per_q = per_q.select(
        *group_cols,
        "qi",
        (F.col("v_lo") + F.col("frac") * (F.col("v_hi") - F.col("v_lo"))).alias("q"),
    )
    quants = per_q.groupBy(*group_cols).agg(
        *[
            F.min(F.when(F.col("qi") == i, F.col("q"))).alias(f"q_{i}")
            for i in range(len(probs))
        ]
    ).withColumnsRenamed({c: f"_g_{c}" for c in group_cols})
    final_cond = None
    for c in group_cols:
        eq = F.col(c).eqNullSafe(F.col(f"_g_{c}"))
        final_cond = eq if final_cond is None else final_cond & eq
    return n_per_group.join(quants, final_cond, "left").select(
        *group_cols, "n", *[f"q_{i}" for i in range(len(probs))]
    )


def distributed_ntile(
    df: DataFrame, k: int, order_cols: list[str], out_col: str = "bucket"
) -> DataFrame:
    """``ntile(k) OVER (ORDER BY order_cols)`` without the single-task
    global window: the same range-sort + rank-recovery recipe as
    :func:`exact_quantiles` (parallel range exchange -> per-partition
    row_number + broadcast cumulative offsets = exact global rank), then
    ntile's bucket arithmetic applied to the rank as a plain expression
    (the first ``n % k`` buckets get ``floor(n/k)+1`` rows, the rest
    ``floor(n/k)`` — SQL-standard ntile).

    REQUIRES ``order_cols`` to be a deterministic total order (include a
    unique id as the last column): ntile's result for tied rows depends on
    tie placement, so a non-unique order would be engine-defined on both
    sides. With a total order, the output is bit-identical to the window
    form — pinned by the oracle-checked ``length_curriculum_buckets``."""
    ranked = (
        df.orderBy(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        # Two consumers (counts + rank join) of a nondeterministically
        # range-partitioned lineage: materialize once, same correctness
        # argument as exact_quantiles.
        .localCheckpoint(eager=True)
    )
    w_pid = Window.partitionBy("_pid").orderBy(*order_cols)
    ranked = ranked.withColumn("_rn", F.row_number().over(w_pid))
    counts = ranked.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off")
    )
    n_row = counts.agg(F.sum("_cnt").alias("_n"))
    r = F.col("_off") + F.col("_rn")  # 1-based global rank
    n = F.col("_n")
    m = n % k  # number of big buckets
    size_big = F.floor(n / k) + 1
    size_small = F.floor(n / k)
    bucket = F.when(
        r <= m * size_big, F.floor((r - 1) / size_big) + 1
    ).otherwise(m + F.floor((r - m * size_big - 1) / size_small) + 1)
    return (
        ranked.join(F.broadcast(offsets), "_pid")
        .crossJoin(F.broadcast(n_row))
        .withColumn(out_col, bucket.cast("int"))
        .drop("_pid", "_rn", "_off", "_n")
    )


# ---------------------------------------------------------------------------
# Mergeable histogram quantile sketch (round 7)
# ---------------------------------------------------------------------------


def value_histogram(
    df: DataFrame, value_col: str, lo: float, hi: float, n_bins: int = 256
) -> DataFrame:
    """Fixed-bin value histogram under EXPLICIT bounds: ``(bucket int,
    cnt long)``, ≤ ``n_bins`` rows. Buckets clamp on BOTH sides (the PSI
    monitor's lesson: values outside the fitted range land in the edge
    bins, they are never dropped). Histograms over different shards that
    share bounds MERGE by ``groupBy(bucket).sum(cnt)`` — addition, the CMS
    property — which is what makes this the shard-parallel /streaming
    quantile state."""
    check_range("n_bins", n_bins, 1)
    x = F.col(value_col).cast("double")
    if hi > lo:
        b = F.least(
            F.lit(n_bins - 1),
            F.greatest(
                F.lit(0),
                F.floor((x - F.lit(lo)) / (F.lit(hi) - F.lit(lo)) * F.lit(n_bins)).cast(
                    "int"
                ),
            ),
        )
    else:
        b = F.lit(0)
    return (
        df.filter(x.isNotNull())
        .select(b.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_quantiles(
    df: DataFrame, value_col: str, probs: list[float], n_bins: int = 256
) -> DataFrame:
    """Single-pass-reducible approximate quantiles: ``(p double, est
    double)``, one row per requested probability. The explicit,
    cross-engine-replayable member of the sketch quartet (CMS=frequency,
    HLL=distinct, Bloom=membership, histogram=quantiles): where
    ``percentile_approx`` is an engine-opaque t-digest-style sketch
    (invariant-checked via ``approx_quantile_check``), this one's entire
    state is a ≤ ``n_bins``-row bucket-count table a DuckDB oracle
    replays bit-for-bit.

    Plan: one min/max/count aggregate (1 row, broadcast) fixes the bin
    grid; one bucket aggregate reduces the corpus to ≤ n_bins counted
    rows; the estimate walks the cumulative histogram (a window over
    ≤ n_bins rows) to the bucket where the running count crosses
    ``target = clamp(p·n, 1, n)`` and linearly interpolates WITHIN that
    bucket in count space::

        est = lo + width · (bucket + (target - cum_below) / cnt_bucket)

    rounded 6dp (every operand is an exact integer count or an
    exactly-rounded IEEE op, so both engines agree to the last bit before
    the display rounding). Error bound: the true rank-⌈target⌉ value lies
    inside the crossing bucket, so |est − that value| ≤ one bin width —
    asserted in tests. Versus the exact path (:func:`exact_quantiles`,
    a full range sort + rank recovery), this reads the corpus twice and
    shuffles only n_bins integers — at 100 TB the histogram aggregate is
    map-side-combined to ≤ n_bins rows per partition and the sort never
    happens; shards/streams merge histograms by adding counts
    (:func:`value_histogram`).

    Degenerate inputs: all values equal (hi == lo) → est = lo for every
    p; empty/all-NULL input → empty result.

    Build-time cost (ADVICE r14): the grid-fit bounds aggregate is
    pinned with an EAGER localCheckpoint, so merely CONSTRUCTING the
    returned DataFrame runs the full min/max/count corpus scan — a
    caller that builds the estimator and never collects it still pays
    one corpus pass. This is the repo-wide pinning style for bounded
    multi-consumer frames; call only when the result will be consumed.
    """
    if not probs:
        raise ValueError("probs must be a non-empty list of probabilities")
    x = F.col(value_col).cast("double")
    vals = df.select(x.alias("x")).filter(F.col("x").isNotNull())
    bounds = vals.agg(
        F.min("x").alias("lo"), F.max("x").alias("hi"), F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=True)
    # ^ pin the 1-row grid-fit aggregate (round 14, guide §2.4): THREE
    # consumers reference it (the prob fan-out, the degenerate filter,
    # the broadcast into the bucket pass) and each un-pinned reference
    # re-ran the min/max/count CORPUS SCAN — the captured before-plan
    # held 4 parquet scans where the documented cost is 2 (fit + bucket).
    # The pin is a bounded one-row frame; with it the corpus is read
    # exactly twice at any scale.
    pf = bounds.select(
        F.explode(F.array(*[F.lit(float(p)) for p in probs])).alias("p"),
        "lo",
        "hi",
        "n",
    )
    # Degenerate branch: every value identical -> every quantile is lo.
    flat = pf.filter(F.col("hi") == F.col("lo")).select(
        "p", F.round(F.col("lo"), 6).alias("est")
    )
    # Normal branch: bucket aggregate under the fitted grid, cumulative
    # walk, crossing-bucket interpolation. The bucket expression must stay
    # textually identical to the oracle's: (x-lo)/(hi-lo)*n_bins, floor,
    # clamp both sides.
    bb = F.broadcast(bounds.filter(F.col("hi") > F.col("lo")))
    hist = (
        vals.crossJoin(bb)
        .select(
            F.least(
                F.lit(n_bins - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col("x") - F.col("lo"))
                        / (F.col("hi") - F.col("lo"))
                        * F.lit(n_bins)
                    ).cast("int"),
                ),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("bucket", "cnt", F.sum("cnt").over(w).alias("cum"))
    targets = pf.filter(F.col("hi") > F.col("lo")).select(
        "p",
        "lo",
        "hi",
        F.least(
            F.col("n").cast("double"),
            F.greatest(F.lit(1.0), F.col("p") * F.col("n")),
        ).alias("tr"),
    )
    # min_by picks the FIRST bucket whose running count reaches the target
    # (buckets are unique, so arg-min is unambiguous).
    sel = (
        targets.join(F.broadcast(cum), F.col("cum") >= F.col("tr"))
        .groupBy("p", "lo", "hi", "tr")
        .agg(F.min_by(F.struct("bucket", "cnt", "cum"), F.col("bucket")).alias("s"))
    )
    normal = sel.select(
        "p",
        F.round(
            F.col("lo")
            + (F.col("hi") - F.col("lo"))
            / F.lit(n_bins)
            * (
                F.col("s.bucket")
                + (F.col("tr") - (F.col("s.cum") - F.col("s.cnt"))) / F.col("s.cnt")
            ),
            6,
        ).alias("est"),
    )
    return flat.unionByName(normal)


# ---------------------------------------------------------------------------
# Closed-form grouped OLS (round 7)
# ---------------------------------------------------------------------------


def grouped_ols(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    y_decimal: str = "decimal(18,2)",
) -> DataFrame:
    """Per-group simple linear regression y = slope·x + intercept by the
    closed-form normal equations — ONE map-side-combinable aggregate, no
    iteration, no gradient rounds (the GD logistic fit's antithesis:
    when the loss is squared error, the optimum is five sufficient
    statistics).

    Determinism discipline: double summation is order-dependent, so every
    sufficient statistic is accumulated EXACTLY — x as integer sums, y
    cast to ``y_decimal`` so Σy, Σxy, Σy² are exact decimal sums
    (associative in any partition order) — and only then cast to double
    for the closed-form arithmetic, which is a fixed IEEE expression both
    engines evaluate identically. Output per group: ``n`` (points),
    ``slope``, ``intercept``, ``r2``, each rounded 6dp; groups with zero
    x-variance get NULL slope/intercept/r2 (division guarded).

    At 100 TB: a single partial-aggregate shuffle of 5 numbers per group
    — the same cost as a sum, regardless of how many points each group
    holds. ``x_col`` must be integral (epoch month/day index); ``y_col``
    must fit ``y_decimal``."""
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast(y_decimal)
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(y * y).alias("_syy"),
    )
    dn = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    syy = F.col("_syy").cast("double")
    num = dn * sxy - sx * sy
    denx = dn * sxx - sx * sx
    deny = dn * syy - sy * sy
    slope = F.when(denx > 0, num / denx)
    intercept = F.when(denx > 0, (sy - (num / denx) * sx) / dn)
    r2 = F.when((denx > 0) & (deny > 0), (num * num) / (denx * deny))
    return agg.select(
        *group_cols,
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def grouped_histogram_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    probs: list[float],
    n_bins: int = 256,
) -> DataFrame:
    """Per-GROUP histogram quantiles — :func:`histogram_quantiles` with a
    group key threaded through every stage: per-group min/max/count fits
    each group its own bin grid, one (group, bucket) aggregate reduces
    the corpus to ≤ n_bins counted rows per group, and the cumulative
    crossing-bucket walk runs under a group-partitioned window (never a
    global sort). Output: ``group_cols + (p, est)``.

    The few-huge-groups shape this exists for (languages over a corpus,
    event types over a year) is exactly where the built-in ``percentile``
    concentrates each group's whole value set in one merge buffer;
    here a group's state is ≤ n_bins integers no matter how many rows it
    holds, and per-group histograms from different shards merge by count
    addition. Every arithmetic step replays bit-identically in DuckDB
    (the :func:`histogram_quantiles` discipline). NULL group keys are
    dropped at entry (the grid join is key-equality; filter or coalesce
    upstream if a NULL group matters); NULL values likewise. All-equal
    groups (hi == lo) estimate every p at lo."""
    if not probs:
        raise ValueError("probs must be a non-empty list of probabilities")
    vals = df.select(
        *[F.col(c) for c in group_cols], F.col(value_col).cast("double").alias("x")
    ).filter(F.col("x").isNotNull())
    for c in group_cols:
        vals = vals.filter(F.col(c).isNotNull())
    bounds = vals.groupBy(*group_cols).agg(
        F.min("x").alias("lo"), F.max("x").alias("hi"), F.count(F.lit(1)).alias("n")
    )
    pf = bounds.select(
        *group_cols,
        F.explode(F.array(*[F.lit(float(p)) for p in probs])).alias("p"),
        "lo",
        "hi",
        "n",
    )
    flat = pf.filter(F.col("hi") == F.col("lo")).select(
        *group_cols, "p", F.round(F.col("lo"), 6).alias("est")
    )
    bb = bounds.filter(F.col("hi") > F.col("lo"))
    hist = (
        vals.join(F.broadcast(bb), group_cols)
        .select(
            *group_cols,
            F.least(
                F.lit(n_bins - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col("x") - F.col("lo"))
                        / (F.col("hi") - F.col("lo"))
                        * F.lit(n_bins)
                    ).cast("int"),
                ),
            ).alias("bucket"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        *group_cols, "bucket", "cnt", F.sum("cnt").over(w).alias("cum")
    )
    targets = pf.filter(F.col("hi") > F.col("lo")).select(
        *group_cols,
        "p",
        "lo",
        "hi",
        F.least(
            F.col("n").cast("double"),
            F.greatest(F.lit(1.0), F.col("p") * F.col("n")),
        ).alias("tr"),
    )
    sel = (
        targets.join(cum, group_cols)
        .filter(F.col("cum") >= F.col("tr"))
        .groupBy(*group_cols, "p", "lo", "hi", "tr")
        .agg(F.min_by(F.struct("bucket", "cnt", "cum"), F.col("bucket")).alias("s"))
    )
    normal = sel.select(
        *group_cols,
        "p",
        F.round(
            F.col("lo")
            + (F.col("hi") - F.col("lo"))
            / F.lit(n_bins)
            * (
                F.col("s.bucket")
                + (F.col("tr") - (F.col("s.cum") - F.col("s.cnt"))) / F.col("s.cnt")
            ),
            6,
        ).alias("est"),
    )
    return flat.unionByName(normal)
