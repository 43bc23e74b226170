"""Frequency-sketch operators: exact top-k heavy hitters at 100 TB scale.

The naive top-k over a high-cardinality column (``groupBy(item).count()``
then sort) shuffles EVERY distinct item — at corpus scale that is billions
of n-grams through a full aggregate exchange just to read back twenty rows.
:func:`heavy_hitters` is the classic two-pass sketch-then-verify plan
(Misra-Gries summaries, Agarwal et al., "Mergeable Summaries", PODS'12):

1. **Sketch pass** — each input partition folds its rows into a bounded
   Misra-Gries summary of ``capacity`` counters (``mapInPandas``; the
   per-batch counting is vectorized ``value_counts``, the merge touches only
   distinct-per-batch keys). A summary never exceeds ``capacity`` keys, and
   any item occurring more than ``n_p/(capacity+1)`` times in partition *p*
   is guaranteed to survive that partition's summary.
2. **Exact recount** — the union of partition candidate keys (≤ capacity ×
   partitions rows, in practice far fewer) is broadcast back against the
   input; only candidate rows enter the count aggregate, so the shuffle
   carries ≤ capacity × partitions distinct keys instead of the full
   vocabulary. Candidates get EXACT global counts.
3. **Guarantee check** — an item absent from every partition summary has
   total count ≤ Σ n_p/(capacity+1) = N/(capacity+1). If the k-th candidate
   count exceeds that bound, the exact top-k provably lies inside the
   candidate set. Otherwise the operator FALLS BACK to the plain exact
   aggregate — the result is exact either way; the sketch is purely the
   scale path. The check reads two scalars driver-side (a bounded action,
   same contract as the catalog's query-vector ``.first()`` lookups).

Determinism: output is the exact top-k ordered by (count desc, item asc) —
no RNG, no hash seeds — so the operator is fully DuckDB-oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dampr_spark.operators._knobs import check_range

_SKETCH_SCHEMA = "item string, wt long"


def _mg_merge(acc: dict[str, int], counts: dict[str, int], capacity: int) -> None:
    """Merge a batch's exact counts into a Misra-Gries summary in place,
    pruning to ``capacity`` keys by subtracting the (capacity+1)-th largest
    weight from every counter (the mergeable-summaries pruning step)."""
    for k, v in counts.items():
        acc[k] = acc.get(k, 0) + int(v)
    if len(acc) > capacity:
        spill = sorted(acc.values(), reverse=True)[capacity]
        for k in list(acc):
            w = acc[k] - spill
            if w > 0:
                acc[k] = w
            else:
                del acc[k]


def _sketch_partitions(item_col: str, capacity: int):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[str, int] = {}
        total = 0
        for pdf in batches:
            vals = pdf[item_col].dropna()
            total += len(vals)
            if len(vals):
                _mg_merge(acc, vals.value_counts().to_dict(), capacity)
        # One summary row per surviving key plus a NULL-keyed row carrying
        # the partition's total item count (for the global N/(m+1) bound).
        yield pd.DataFrame(
            {
                "item": list(acc.keys()) + [None],
                "wt": [int(w) for w in acc.values()] + [total],
            }
        )

    return run


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    k: int,
    capacity: int = 8192,
) -> DataFrame:
    """Exact global top-``k`` items of ``item_col`` by count, ordered by
    (count desc, item asc), computed via per-partition Misra-Gries summaries
    plus an exact candidate recount. NULL items are ignored (they are not
    countable keys). Output columns: ``item``, ``cnt``.

    ``capacity`` bounds both the summary size and the recount shuffle; the
    exactness guarantee holds whenever the k-th heaviest count exceeds
    N/(capacity+1), which the operator verifies — and silently falls back to
    the full exact aggregate when the data is too flat for the sketch.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    if capacity <= k:
        raise ValueError("capacity must exceed k")
    # Parallelism note: parallelize BEFORE any expensive item-producing
    # transform (explode, n-gram expansion) feeding this operator — a
    # repartition here would shuffle the already-materialized item rows and
    # leave the producing transform serial (measured 4s single-task at
    # sf0.1 before the fix; see plans/textops.heavy_hitter_ngrams).
    items = df.select(F.col(item_col).alias("item")).filter(F.col("item").isNotNull())

    sketch = items.mapInPandas(
        _sketch_partitions("item", capacity), schema=_SKETCH_SCHEMA
    ).localCheckpoint(eager=True)  # one materialization feeds N, candidates, recount

    n_total = sketch.filter(F.col("item").isNull()).agg(
        F.coalesce(F.sum("wt"), F.lit(0)).alias("n")
    )
    candidates = sketch.filter(F.col("item").isNotNull()).select("item").distinct()

    exact = (
        items.join(F.broadcast(candidates), "item", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Eager pin: the guarantee check below and the caller's eventual action
    # both consume the recount — without it the candidate join + aggregate
    # would execute twice.
    topk = (
        exact.orderBy(F.col("cnt").desc(), F.col("item").asc())
        .limit(k)
        .localCheckpoint(eager=True)
    )

    # Bounded driver-side guarantee check: two scalars.
    rows = topk.select("cnt").collect()
    n = n_total.first()["n"]
    kth = rows[-1]["cnt"] if len(rows) == k else 0
    if len(rows) == k and kth * (capacity + 1) > n:
        return topk
    # Flat data (or fewer candidates than k): the sketch bound cannot
    # certify the answer — recount everything exactly. Same result shape,
    # full-vocabulary shuffle, still correct.
    return (
        items.groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("item").asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Count-Min Sketch (round 7)
# ---------------------------------------------------------------------------


def cms_bucket(item, row: int, width: int):
    """CMS hash for one sketch row: the shared cross-engine md5 bucket
    (functions/hashing.md5_bucket) of ``item`` salted with the row index —
    sketch contents, and therefore estimates, are bit-identical in Spark
    and DuckDB, making CMS queries fully oracle-checkable."""
    from pyspark.sql import functions as F

    from dampr_spark.functions.hashing import md5_bucket

    return md5_bucket(F.concat(item.cast("string"), F.lit(f"#cms{row}")), width)


def cms_build(
    df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 512,
    weight_col: str | None = None,
) -> DataFrame:
    """Build a Count-Min sketch as a DataFrame of ``(row, bucket, cnt)`` —
    depth×width cells, each the sum of every item hashing there. One scan:
    each input row explodes into ``depth`` cell-increment rows (×depth row
    amplification before the aggregate — the honest cost model), which
    map-side partials collapse to ≤ depth×width rows per partition.
    Sketches over different shards MERGE by summing cells (groupBy row,
    bucket) — the property that makes CMS the streaming/distributed
    frequency sketch."""
    from pyspark.sql import functions as F

    check_range("depth", depth, 1)
    check_range("width", width, 1)
    w = F.col(weight_col) if weight_col else F.lit(1)
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                cms_bucket(F.col(item_col), r, width).alias("bucket"),
            )
            for r in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("c"), w.alias("w"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.sum("w").cast("long").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame, items: DataFrame, item_col: str, depth: int = 4, width: int = 512
) -> DataFrame:
    """Point-frequency estimates for ``items`` from a built sketch:
    ``est = min over rows of cell count`` — the classic CMS upper bound
    (est >= true count always; overestimate bounded by collisions). The
    probe joins ``depth`` cells per item against the depth×width sketch —
    broadcastable by construction."""
    from pyspark.sql import functions as F

    probes = items.select(
        F.col(item_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        cms_bucket(F.col(item_col), r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("c"),
    ).select(item_col, F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est"))
    )


# ---------------------------------------------------------------------------
# Bloom filter (round 7)
# ---------------------------------------------------------------------------


def bloom_bit(item, j: int, n_bits: int):
    """Bit index for Bloom hash ``j``: the shared cross-engine md5 bucket
    (functions/hashing.md5_bucket) of ``item`` salted with the hash index —
    the CMS salting discipline, so the bit SET (and therefore every
    membership verdict) is bit-identical in Spark and DuckDB and Bloom
    queries hash-compare against a full oracle."""
    from dampr_spark.functions.hashing import md5_bucket

    return md5_bucket(F.concat(item.cast("string"), F.lit(f"#bloom{j}")), n_bits)


def bloom_build(
    df: DataFrame, item_col: str, n_hashes: int = 5, n_bits: int = 4096
) -> DataFrame:
    """Build a Bloom filter as a DataFrame of its SET bit positions
    ``(bit int)`` — ≤ ``n_bits`` rows regardless of input size. One scan:
    each item explodes into ``n_hashes`` bit rows (map-side partials
    collapse each partition to ≤ n_bits rows before the exchange), then a
    global distinct. Filters over different shards MERGE by
    ``union().distinct()`` — bit-set union is associative and idempotent
    (the HLL register-max property in OR form), which is what makes the
    Bloom filter the shard-parallel membership sketch.

    Sizing: false-positive rate ≈ (1 - e^(-k·n/m))^k for k hashes, n keys,
    m bits; k=5, m/n≈8 gives ~2%. The defaults suit a ~500-key dim — size
    ``n_bits`` to the build side, never the probe side."""
    check_range("n_hashes", n_hashes, 1)
    check_range("n_bits", n_bits, 1)
    bits = F.array(*[bloom_bit(F.col(item_col), j, n_bits) for j in range(n_hashes)])
    return (
        df.filter(F.col(item_col).isNotNull())
        .select(F.explode(bits).alias("bit"))
        .distinct()
    )


def bloom_might_contain(bits: list[int], item, n_hashes: int = 5, n_bits: int = 4096):
    """Pure-EXPRESSION membership test from a materialized bit list — the
    explicit runtime-filter shape: pack the set bits into ``n_bits/64``
    long literals, then the probe evaluates ``n_hashes`` md5-bucket
    expressions and bit tests entirely inside whole-stage codegen. Zero
    shuffle, zero join, no UDF — at 100 TB this prunes the probe-side SCAN
    OUTPUT before any exchange, exactly what Spark's AQE-injected runtime
    bloom filter (``spark.sql.optimizer.runtime.bloomFilter.enabled``)
    does, but reusable across jobs (persist ``bloom_build``'s bit table
    once, prune forever) and oracle-replayable.

    No false negatives ever (every true member's bits are set by
    construction); false positives at the documented rate pass the filter
    and are eliminated by the real join that follows — the filter only
    PRUNES, it never decides."""
    n_words = (n_bits + 63) // 64
    words = [0] * n_words
    for b in bits:
        words[b // 64] |= 1 << (b % 64)
    # Python ints are unbounded; lits must be signed 64-bit.
    packed = F.array(
        *[
            F.lit(w - (1 << 64) if w >= (1 << 63) else w).cast("long")
            for w in words
        ]
    )
    cond = F.lit(True)
    for j in range(n_hashes):
        pos = bloom_bit(item, j, n_bits)
        word = F.element_at(packed, (F.floor(pos / 64) + 1).cast("int"))
        # getbit reads the two's-complement bit, so the test is exact even
        # when bit 63 makes the packed word negative.
        cond = cond & (F.getbit(word, (pos % F.lit(64)).cast("long")) == F.lit(1))
    return cond


def bloom_prune(
    probe: DataFrame,
    bloom_bits: DataFrame,
    item_col: str,
    n_hashes: int = 5,
    n_bits: int = 4096,
) -> DataFrame:
    """Filter ``probe`` to rows whose ``item_col`` MIGHT be in the set the
    Bloom filter was built over. Collects the bit table driver-side — a
    bounded action (≤ n_bits ints; 4096 bits = one 32 KB bitmap, the same
    driver budget class as the catalog's query-vector ``.first()``
    lookups) — then applies :func:`bloom_might_contain` as a scan-level
    predicate."""
    bits = [r["bit"] for r in bloom_bits.collect()]
    return probe.filter(
        bloom_might_contain(bits, F.col(item_col), n_hashes, n_bits)
    )


def hll_register(item, p: int = 9):
    """(reg, rho) pair for one item — the explicit-register HyperLogLog
    cell, built ENTIRELY from exact integer arithmetic on the shared
    cross-engine md5 hash so Spark and DuckDB produce bit-identical
    register tables (the CMS discipline applied to distinct counting;
    Spark's builtin hll_sketch_agg is engine-opaque, this one is
    oracle-replayable).

    Layout of the 32 uniform md5 bits: low ``p`` bits → register index;
    the remaining ``32 - p`` bits v → rho = trailing zeros of v + 1
    (v = 0 → the max rho, 32 - p + 1). Trailing zeros are computed
    branch-free as bit_count((v & -v) - 1) — exact in both engines, no
    float log anywhere."""
    from dampr_spark.functions.hashing import md5_uint

    m = 1 << p
    u = md5_uint(item.cast("string"))
    v = F.floor(u / F.lit(m)).cast("long")
    rho = F.when(v == 0, F.lit(32 - p + 1)).otherwise(
        F.bit_count((v.bitwiseAND(-v)) - F.lit(1)) + F.lit(1)
    )
    return (u % m).cast("int").alias("reg"), rho.cast("int").alias("rho")


def hll_build(df: DataFrame, item_col: str, p: int = 9) -> DataFrame:
    """Register table (reg, rho) for the distinct items of ``item_col`` —
    ≤ 2^p rows, rho = max over items landing in the register. One scan +
    one register-keyed aggregate (map-side partial collapses each
    partition to ≤ 2^p rows). Tables over different shards MERGE by
    groupBy(reg).max(rho) — register max is associative/idempotent, which
    is what makes HLL the distributed/streaming distinct sketch. ``p``
    is 4..16: the register index and rho share 32 md5 bits."""
    check_range("p", p, 4, 16)
    reg, rho = hll_register(F.col(item_col), p)
    return (
        df.filter(F.col(item_col).isNotNull())
        .select(reg, rho)
        .groupBy("reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(registers: DataFrame, p: int = 9) -> DataFrame:
    """One-row cardinality estimate from a register table: the classic
    HLL formula E = alpha_m m² / Σ 2^-rho (absent registers contribute
    2^0), with the small-range linear-counting correction
    (E ≤ 2.5m and empty registers exist → m ln(m/V)).

    Determinism note: every 2^-rho is an exact double and every partial
    sum fits in a 53-bit mantissa (values ≥ 2^-(33-p), total < 2^p), so
    the register sum is EXACT regardless of merge order — the estimate is
    bit-identical across engines and runs, no rounding discipline needed
    until the final display rounding. 32 md5 bits saturate around ~100M
    distinct; beyond that use Spark's builtin hll_sketch_agg rollups
    (the engine-opaque path, invariant-checked instead)."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = registers.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    # Empty register table (no non-null items yet): coalesce the NULL sum
    # to 0 so s = m, V = m, and the linear-counting branch returns exactly
    # 0.0 instead of propagating NULL.
    s = F.coalesce(F.col("s_present"), F.lit(0.0)) + (F.lit(m) - F.col("n_present"))
    v = F.lit(m) - F.col("n_present")
    e_raw = F.lit(alpha * m * m) / s
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    ).otherwise(e_raw)
    return agg.select(F.round(est, 2).alias("est_distinct"))


def cms_inner_product(
    sketch_a: DataFrame, sketch_b: DataFrame, depth: int = 4
) -> DataFrame:
    """Join-size estimate from two CMS sketches (the classic CMS inner
    product): for each hash row, Σ over buckets of cnt_a·cnt_b; the
    estimate is the MIN across rows. For sketches built on the two join
    keys this upper-bounds |A ⋈ B| = Σ_k f_A(k)·f_B(k) — every true
    (key, key) product lands in a shared cell, collisions only ADD — so
    ``est ≥ exact`` always, with the overestimate bounded by
    Σf_A·Σf_B/width per row (Cormode-Muthukrishnan). All arithmetic is
    exact integers on the shared md5 cells, so both engines agree to the
    last digit.

    The planner's question this answers at 100 TB: how big would this
    join be, WITHOUT running it — from two ≤depth×width-int tables that
    each shard already maintains (CMS cells merge by addition), e.g. to
    choose broadcast vs shuffle or to veto a runaway join in CI."""
    a = sketch_a.select("row", "bucket", F.col("cnt").alias("ca"))
    b = sketch_b.select("row", "bucket", F.col("cnt").alias("cb"))
    per_row = (
        a.join(b, ["row", "bucket"])
        .groupBy("row")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    # absent rows cannot happen when both inputs are non-empty (every row
    # index 0..depth-1 has cells); empty input -> empty join -> est 0
    return per_row.agg(
        F.coalesce(F.min("dot"), F.lit(0)).cast("long").alias("est_join_size")
    )
