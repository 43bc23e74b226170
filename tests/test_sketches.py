"""Heavy-hitter sketch: Misra-Gries merge properties, exactness of the
two-pass plan, and the certified fallback on flat data."""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from dampr_spark.operators.sketches import _mg_merge, heavy_hitters


def _exact_topk(items: list[str], k: int) -> list[tuple[str, int]]:
    c = Counter(items)
    return sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def test_mg_merge_bound_and_coverage():
    """After merging arbitrary batches into a capacity-m summary, (a) the
    summary never exceeds m keys, and (b) any item with true count
    > N/(m+1) survives — the Misra-Gries guarantee the recount relies on."""
    rng = random.Random(7)
    m = 16
    items = [f"hot{i}" for i in range(4)] * 200 + [
        f"cold{rng.randrange(500)}" for _ in range(800)
    ]
    rng.shuffle(items)
    acc: dict[str, int] = {}
    for start in range(0, len(items), 97):  # uneven batch boundaries
        _mg_merge(acc, Counter(items[start : start + 97]), m)
        assert len(acc) <= m
    n = len(items)
    true = Counter(items)
    for item, cnt in true.items():
        if cnt > n / (m + 1):
            assert item in acc, f"{item} (count {cnt}) lost from summary"


def test_heavy_hitters_exact_skewed(spark):
    """Zipf-ish data where the sketch certifies: result equals the exact
    top-k with deterministic tie-break."""
    rng = random.Random(42)
    vals = []
    for i in range(40):
        vals += [f"w{i:03d}"] * (500 // (i + 1))
    vals += [f"rare{rng.randrange(2000)}" for _ in range(1500)]
    rng.shuffle(vals)
    df = spark.createDataFrame([(v,) for v in vals], "item string").repartition(8)
    got = [(r.item, r.cnt) for r in heavy_hitters(df, "item", k=10, capacity=256).collect()]
    assert got == _exact_topk(vals, 10)


def test_heavy_hitters_fallback_flat(spark):
    """Near-flat data at tiny capacity: the bound cannot certify, the
    operator must fall back to the full aggregate and still be exact."""
    vals = [f"t{i % 97:02d}" for i in range(970)]  # every count == 10, ties
    df = spark.createDataFrame([(v,) for v in vals], "item string").repartition(4)
    got = [(r.item, r.cnt) for r in heavy_hitters(df, "item", k=5, capacity=8).collect()]
    assert got == _exact_topk(vals, 5)


def test_heavy_hitters_ignores_null(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",)], "item string"
    )
    got = [(r.item, r.cnt) for r in heavy_hitters(df, "item", k=2, capacity=16).collect()]
    assert got == [("a", 2), ("b", 1)]


def test_heavy_hitters_recount_is_exact_not_estimate(spark):
    """The emitted counts are the exact recount, not the sketch weights:
    force heavy pruning (capacity barely above k) and check counts."""
    vals = ["x"] * 50 + ["y"] * 30 + ["z"] * 20 + [f"n{i}" for i in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], "item string").repartition(6)
    got = dict(
        (r.item, r.cnt)
        for r in heavy_hitters(df, "item", k=3, capacity=5).collect()
    )
    assert got == {"x": 50, "y": 30, "z": 20}


def test_distributed_ntile_matches_window_ntile(spark):
    """distributed_ntile must be bit-identical to ntile() OVER (ORDER BY
    total order) for n % k != 0, n < k, and heavy-tie inputs."""
    from pyspark.sql.window import Window as W

    from dampr_spark.operators.stats import distributed_ntile

    for n, k in [(10, 4), (3, 4), (1, 4), (97, 8), (64, 8)]:
        rows = [(i, (i * 7919) % 5) for i in range(n)]  # heavy value ties
        df = spark.createDataFrame(rows, "id long, v long")
        got = {
            r.id: r.bucket
            for r in distributed_ntile(df, k, ["v", "id"]).collect()
        }
        want = {
            r.id: r.bucket
            for r in df.select(
                "id", F.ntile(k).over(W.orderBy("v", "id")).alias("bucket")
            ).collect()
        }
        assert got == want, f"n={n} k={k}"


def test_cms_upper_bound_and_merge(spark):
    """CMS invariants: est >= exact for EVERY item (not just the probed
    top-k); building one sketch over the union equals merging per-shard
    sketches by summing cells; a zero-count item estimates near 0."""
    from pyspark.sql import functions as F

    from dampr_spark.operators.sketches import cms_build, cms_estimate

    rows = [(f"item{i % 50}",) for i in range(2000)] + [("rare",)]
    df = spark.createDataFrame(rows, "g string")
    sketch = cms_build(df, "g", depth=4, width=64)
    items = df.distinct()
    est = {r.g: r.est for r in cms_estimate(sketch, items, "g", 4, 64).collect()}
    exact = {r.g: r.cnt for r in df.groupBy("g").agg(F.count("*").alias("cnt")).collect()}
    assert all(est[g] >= exact[g] for g in exact)
    # 40 heavy items in 64 buckets x 4 rows: min-over-rows keeps the heavy
    # estimates within one collision of truth
    assert est["item0"] < exact["item0"] + 2000

    # mergeability: shard sketches summed cell-wise == whole-corpus sketch
    a = df.filter(F.crc32("g") % 2 == 0)
    b = df.filter(F.crc32("g") % 2 == 1)
    merged = (
        cms_build(a, "g", 4, 64)
        .unionByName(cms_build(b, "g", 4, 64))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    whole = {(r.row, r.bucket): r.cnt for r in cms_build(df, "g", 4, 64).collect()}
    got = {(r.row, r.bucket): r.cnt for r in merged.collect()}
    assert got == whole

    # absent item: every cell it hashes to may still collide, but with
    # width 64 and 2001 rows the bound is loose — just assert it is small
    # relative to the heavy mass and >= 0
    ghost = spark.createDataFrame([("never-seen-xyz",)], "g string")
    g_est = cms_estimate(sketch, ghost, "g", 4, 64).first().est
    assert 0 <= g_est <= 200


def test_hll_registers_match_python_model(spark):
    import hashlib

    from dampr_spark.operators.sketches import hll_build, hll_estimate

    def model(s, p=9):
        u = int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
        reg, v = u % (1 << p), u >> p
        rho = (32 - p + 1) if v == 0 else (v & -v).bit_length()
        return reg, rho

    items = [f"u{i}" for i in range(500)]
    df = spark.createDataFrame([(x,) for x in items], "item string")
    got = {r.reg: r.rho for r in hll_build(df, "item").collect()}
    want = {}
    for s in items:
        r, rho = model(s)
        want[r] = max(want.get(r, 0), rho)
    assert got == want
    est = hll_estimate(hll_build(df, "item")).first()["est_distinct"]
    assert abs(est - 500) / 500 < 0.15, est  # m=512 => RSE ~4.6%


def test_hll_merge_equals_direct_and_is_idempotent(spark):
    """Register-max merge of two shard sketches equals the whole-corpus
    sketch; merging a sketch with itself changes nothing (idempotent) —
    the properties that make sharded/streaming rollups exact."""
    from pyspark.sql import functions as F

    from dampr_spark.operators.sketches import hll_build

    items = [(f"k{i}", i % 2) for i in range(400)]
    df = spark.createDataFrame(items, "item string, shard int")
    direct = {r.reg: r.rho for r in hll_build(df, "item").collect()}
    shards = [
        hll_build(df.filter(F.col("shard") == s), "item") for s in (0, 1)
    ]
    merged = {
        r.reg: r.rho
        for r in shards[0]
        .unionByName(shards[1])
        .unionByName(shards[0])  # duplicate shard: idempotence
        .groupBy("reg")
        .agg(F.max("rho").alias("rho"))
        .collect()
    }
    assert merged == direct


def test_hll_estimate_exact_sum_determinism(spark):
    """The register sum is exact (all addends are powers of two sharing one
    53-bit mantissa window), so repartitioning cannot change the estimate
    even in the last bit."""
    from dampr_spark.operators.sketches import hll_build, hll_estimate

    df = spark.createDataFrame([(f"x{i}",) for i in range(300)], "item string")
    regs = hll_build(df, "item")
    a = hll_estimate(regs.repartition(1)).first()["est_distinct"]
    b = hll_estimate(regs.repartition(13)).first()["est_distinct"]
    assert a == b


def test_hll_estimate_empty_registers_is_zero(spark):
    """No non-null items -> empty register table -> estimate must be
    exactly 0.0 (linear counting with V = m), never NULL."""
    from dampr_spark.operators.sketches import hll_build, hll_estimate

    df = spark.createDataFrame([(None,), (None,)], "item string")
    regs = hll_build(df, "item")
    assert regs.count() == 0
    est = hll_estimate(regs).first()["est_distinct"]
    assert est == 0.0


def test_bloom_no_false_negatives_and_prunes(spark):
    """Every true member passes (the Bloom guarantee); the 500 non-members
    are overwhelmingly pruned (fp rate (bits_set/m)^k, a few percent at
    this sizing)."""
    from dampr_spark.operators.sketches import bloom_build, bloom_might_contain

    keys = [f"k{i}" for i in range(300)]
    df = spark.createDataFrame([(k,) for k in keys], "item string").repartition(6)
    bits_df = bloom_build(df, "item", n_hashes=5, n_bits=2048)
    bits = [r.bit for r in bits_df.collect()]
    assert 0 < len(bits) <= 5 * 300
    assert all(0 <= b < 2048 for b in bits)
    probe = spark.createDataFrame(
        [(k,) for k in keys] + [(f"x{i}",) for i in range(500)], "item string"
    )
    passed = {
        r.item
        for r in probe.filter(
            bloom_might_contain(bits, F.col("item"), 5, 2048)
        ).collect()
    }
    assert set(keys) <= passed, "false negative: a built key failed membership"
    false_pos = len(passed) - len(keys)
    # p_fp = (bits_set/2048)^5 ~= 0.5^5 ~= 3%; 500 probes -> expect ~16.
    assert false_pos < 100


def test_bloom_merge_equals_direct(spark):
    """Shard blooms merge by union+distinct into exactly the bit set the
    whole-corpus build produces — the shard-parallel membership property."""
    from dampr_spark.operators.sketches import bloom_build

    a = spark.createDataFrame([(f"a{i}",) for i in range(80)], "item string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(80)], "item string")
    merged = sorted(
        r.bit
        for r in bloom_build(a, "item").union(bloom_build(b, "item")).distinct().collect()
    )
    direct = sorted(r.bit for r in bloom_build(a.union(b), "item").collect())
    assert merged == direct


def test_bloom_empty_filter_rejects_everything(spark):
    """An empty bit table (nothing built yet) passes no probe row — the
    streaming-start / empty-dim edge."""
    from dampr_spark.operators.sketches import bloom_might_contain

    probe = spark.createDataFrame([(f"p{i}",) for i in range(50)], "item string")
    out = probe.filter(bloom_might_contain([], F.col("item"))).collect()
    assert out == []


def test_bloom_prune_plan_is_pure_scan_filter(spark, sf_dir):
    """bloom_prune's probe side is a scan-level codegen predicate: the
    pruned frame's plan holds NO Exchange and NO Join — the bitmap lives
    in the filter expression, exactly the runtime-filter shape that makes
    this free at 100 TB."""
    from dampr_spark.operators.sketches import bloom_build, bloom_prune
    from dampr_spark.sources.readers import read_table

    cust = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
    )
    bloom = bloom_build(cust, "k")
    pruned = bloom_prune(read_table(spark, sf_dir, "orders"), bloom, "o_custkey")
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan
    assert "Join" not in plan
    # The whole tree is Filter -> ColumnarToRow -> Scan ("formatted" prints
    # the node once in the tree and once in the details section).
    assert "* Filter" in plan
    assert plan.count("Scan parquet  (1)") == 1


def test_histogram_quantiles_within_bin_width(spark):
    """|est - true rank-ceil(target) value| <= one bin width on skewed
    data — the crossing-bucket guarantee the catalog certificate reports."""
    import math
    import random

    from dampr_spark.operators.stats import histogram_quantiles

    rng = random.Random(11)
    # lognormal-ish skew + heavy ties + outliers
    xs = [round(math.exp(rng.gauss(4, 1)), 3) for _ in range(4000)]
    xs += [7.0] * 300 + [99999.0, 0.001]
    df = spark.createDataFrame([(v,) for v in xs], "x double").repartition(8)
    probs = [0.01, 0.25, 0.5, 0.9, 0.999]
    n_bins = 128
    got = {r.p: r.est for r in histogram_quantiles(df, "x", probs, n_bins).collect()}
    assert set(got) == set(probs)
    s = sorted(xs)
    n = len(s)
    width = (s[-1] - s[0]) / n_bins
    for p in probs:
        target = min(float(n), max(1.0, p * n))
        true_rank_val = s[math.ceil(target) - 1]
        assert abs(got[p] - true_rank_val) <= width + 1e-6, (p, got[p], true_rank_val)


def test_histogram_merge_equals_whole(spark):
    """Shard histograms under SHARED bounds merge by adding counts into
    exactly the whole-corpus histogram — the property that makes the
    bucket table streaming/shard-parallel quantile state."""
    from dampr_spark.operators.stats import value_histogram

    xs = [float(i % 37) * 1.5 for i in range(900)]
    a = spark.createDataFrame([(v,) for v in xs[:400]], "x double")
    b = spark.createDataFrame([(v,) for v in xs[400:]], "x double")
    whole = spark.createDataFrame([(v,) for v in xs], "x double")
    lo, hi = min(xs), max(xs)
    merged = (
        value_histogram(a, "x", lo, hi, 64)
        .union(value_histogram(b, "x", lo, hi, 64))
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    got = sorted((r.bucket, r.cnt) for r in merged.collect())
    want = sorted(
        (r.bucket, r.cnt) for r in value_histogram(whole, "x", lo, hi, 64).collect()
    )
    assert got == want


def test_histogram_clamps_both_sides(spark):
    """Values outside the explicit bounds land in the EDGE bins, never
    dropped (the PSI low-side-clamp lesson applied here from day one)."""
    from dampr_spark.operators.stats import value_histogram

    df = spark.createDataFrame(
        [(-50.0,), (0.0,), (5.0,), (10.0,), (999.0,)], "x double"
    )
    rows = {r.bucket: r.cnt for r in value_histogram(df, "x", 0.0, 10.0, 10).collect()}
    assert rows[0] == 2  # -50 clamped low + 0.0
    assert rows[9] == 2  # 10.0 (== hi) and 999 clamped high
    assert sum(rows.values()) == 5


def test_histogram_quantiles_degenerate_and_empty(spark):
    """All-equal input -> every quantile is that value; empty/all-NULL
    input -> empty result (documented contract)."""
    from dampr_spark.operators.stats import histogram_quantiles

    same = spark.createDataFrame([(3.25,)] * 40, "x double")
    got = {r.p: r.est for r in histogram_quantiles(same, "x", [0.1, 0.9]).collect()}
    assert got == {0.1: 3.25, 0.9: 3.25}
    empty = spark.createDataFrame([(None,)], "x double")
    assert histogram_quantiles(empty, "x", [0.5]).collect() == []


@pytest.mark.parametrize(
    "fn, knob, value",
    [
        ("cms_build", "depth", 0),
        ("cms_build", "width", 0),
        ("bloom_build", "n_hashes", 0),
        ("bloom_build", "n_bits", 0),
        ("value_histogram", "n_bins", 0),
        ("value_histogram", "n_bins", -3),
        ("hll_build", "p", 0),
        ("hll_build", "p", 3),
        ("hll_build", "p", 17),
        ("hll_build", "p", 40),
        ("cms_stream", "width", 0),
        ("bloom_stream", "n_hashes", 0),
        ("histogram_stream", "n_bins", -3),
        ("hll_stream", "p", 40),
    ],
)
def test_sketch_size_out_of_range_raises_at_call(spark, tmp_path, fn, knob, value):
    """A sketch size out of range is refused when the builder, or the
    stream that wraps it, is called. Left through, ``n_hashes=0`` gives an
    empty Bloom filter that rejects every probe, ``n_bins=0`` puts every
    row in bucket -1, ``p=0`` keeps one HLL register, and ``width=0``,
    ``n_bits=0`` or ``p=40`` die mid-stage."""
    import os

    from dampr_spark import streaming
    from dampr_spark.operators import sketches, stats

    df = spark.range(100).withColumnRenamed("id", "x")
    stream = spark.readStream.schema("x long").parquet(str(tmp_path))
    out = str(tmp_path / "out")
    calls = {
        "cms_build": lambda **k: sketches.cms_build(df, "x", **k),
        "bloom_build": lambda **k: sketches.bloom_build(df, "x", **k),
        "hll_build": lambda **k: sketches.hll_build(df, "x", **k),
        "value_histogram": lambda **k: stats.value_histogram(df, "x", 0.0, 100.0, **k),
        "cms_stream": lambda **k: streaming.cms_stream(stream, out, lambda b: b, **k),
        "bloom_stream": lambda **k: streaming.bloom_stream(stream, out, lambda b: b, **k),
        "histogram_stream": lambda **k: streaming.histogram_stream(
            stream, out, F.col("x"), 0.0, 100.0, **k
        ),
        "hll_stream": lambda **k: streaming.hll_stream(stream, out, lambda b: b, **k),
    }
    with pytest.raises(ValueError, match=f"^{knob}={value} must be"):
        calls[fn](**{knob: value})
    assert not os.path.exists(out + "_checkpoint")


# ---------------------------------------------------------------------------
# HLL set algebra (inclusion-exclusion overlap)
# ---------------------------------------------------------------------------


def test_hll_union_merge_equals_direct_union_sketch(spark):
    """Register-max merge of two audience sketches is EXACTLY the sketch
    of the union — not an approximation: both sides reduce the same
    (reg, rho) cells with max, so the merged table must be row-identical
    to hll_build over the concatenated keys."""
    from dampr_spark.operators.sketches import hll_build

    a = spark.range(0, 4000).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    b = spark.range(2500, 6000).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    ra, rb = hll_build(a, "k"), hll_build(b, "k")
    merged = {
        (r["reg"], r["rho"])
        for r in ra.union(rb).groupBy("reg").agg(F.max("rho").alias("rho")).collect()
    }
    direct = {(r["reg"], r["rho"]) for r in hll_build(a.union(b), "k").collect()}
    assert merged == direct


def test_hll_inclusion_exclusion_overlap_estimate(spark):
    """est_inter = est_a + est_b - est_union lands within a few standard
    errors (1.04/sqrt(512) ~ 4.6% per estimate; inclusion-exclusion sums
    three of them) of the true 1500-key overlap."""
    from dampr_spark.operators.sketches import hll_build, hll_estimate

    a = spark.range(0, 4000).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    b = spark.range(2500, 6000).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    ra, rb = hll_build(a, "k"), hll_build(b, "k")
    ru = ra.union(rb).groupBy("reg").agg(F.max("rho").alias("rho"))
    ea = hll_estimate(ra).first()["est_distinct"]
    eb = hll_estimate(rb).first()["est_distinct"]
    eu = hll_estimate(ru).first()["est_distinct"]
    est_inter = ea + eb - eu
    # true: |A|=4000, |B|=3500, |A∪B|=6000, |A∩B|=1500. Absolute error of
    # the I-E estimate scales with the UNION size; allow 3 combined sigma
    # (~8% of 6000 ≈ 480).
    assert abs(ea - 4000) < 0.15 * 4000
    assert abs(eb - 3500) < 0.15 * 3500
    assert abs(eu - 6000) < 0.15 * 6000
    assert abs(est_inter - 1500) < 480


# ---------------------------------------------------------------------------
# Closed-form grouped OLS
# ---------------------------------------------------------------------------


def test_grouped_ols_matches_numpy(spark):
    """slope/intercept/r2 agree with numpy's lstsq fit per group, and a
    zero-x-variance group yields NULLs instead of a division error."""
    import numpy as np

    rng = random.Random(11)
    rows = []
    for g, (a, b) in (("up", (3.5, 10.0)), ("down", (-2.25, 500.0))):
        for x in range(1, 41):
            noise = rng.uniform(-5, 5)
            rows.append((g, x, round(a * x + b + noise, 2)))
    rows += [("flat", 7, 1.0), ("flat", 7, 2.0), ("flat", 7, 3.0)]
    df = spark.createDataFrame(rows, "g string, x int, y double")

    from dampr_spark.operators.stats import grouped_ols

    got = {r["g"]: r for r in grouped_ols(df, ["g"], "x", "y").collect()}
    for g in ("up", "down"):
        pts = [(x, y) for gg, x, y in rows if gg == g]
        xs = np.array([p[0] for p in pts], dtype=float)
        ys = np.array([p[1] for p in pts], dtype=float)
        slope, intercept = np.polyfit(xs, ys, 1)
        pred = slope * xs + intercept
        r2 = 1 - ((ys - pred) ** 2).sum() / ((ys - ys.mean()) ** 2).sum()
        assert got[g]["n"] == 40
        assert abs(got[g]["slope"] - slope) < 1e-5, g
        assert abs(got[g]["intercept"] - intercept) < 1e-4, g
        assert abs(got[g]["r2"] - r2) < 1e-5, g
    flat = got["flat"]
    assert flat["n"] == 3
    assert flat["slope"] is None and flat["intercept"] is None and flat["r2"] is None


def test_grouped_histogram_quantiles_error_bound(spark):
    """Per-group estimates land within one bin width of the true
    quantile; an all-equal group estimates every p at its value; NULL
    group keys are dropped at entry (documented contract)."""
    rows = []
    for i in range(2000):
        rows.append(("uniform", float(i % 1000)))
    for i in range(1500):
        rows.append(("squared", float((i % 100) ** 2)))
    rows += [("flat", 42.0)] * 50 + [(None, 7.0)] * 10
    df = spark.createDataFrame(rows, "g string, v double")

    from dampr_spark.operators.stats import grouped_histogram_quantiles

    probs = [0.25, 0.5, 0.9]
    got = {
        (r["g"], r["p"]): r["est"]
        for r in grouped_histogram_quantiles(df, ["g"], "v", probs).collect()
    }
    assert set(g for g, _ in got) == {"uniform", "squared", "flat"}

    import numpy as np

    import math

    for g, n_bins_width in (("uniform", 999 / 256), ("squared", 99**2 / 256)):
        vals = np.sort(np.array([v for gg, v in rows if gg == g]))
        for p in probs:
            # the documented bound is vs the rank-ceil(p*n) order statistic
            # (the crossing-bucket definition), not numpy's (n-1)p blend
            exact = float(vals[math.ceil(p * len(vals)) - 1])
            assert abs(got[(g, p)] - exact) <= n_bins_width + 1e-6, (g, p)
    for p in probs:
        assert got[("flat", p)] == 42.0


def test_cms_inner_product_upper_bounds_join_size(spark):
    """est >= exact join size always (collisions only add), exact on a
    collision-free key space, and 0 for disjoint/empty inputs."""
    from dampr_spark.operators.sketches import cms_build, cms_inner_product

    a = spark.createDataFrame(
        [(f"k{i % 20}",) for i in range(400)], "k string"
    )  # f_A(k) = 20 each
    b = spark.createDataFrame(
        [(f"k{i}",) for i in range(10)] * 3, "k string"
    )  # f_B(k) = 3 for k0..k9
    exact = 20 * 3 * 10  # sum over shared keys
    est = cms_inner_product(cms_build(a, "k"), cms_build(b, "k")).first()[
        "est_join_size"
    ]
    assert est >= exact
    # 30 distinct keys over 512 buckets: collisions improbable per row and
    # the min across 4 rows removes them — expect exactness here
    assert est == exact

    disjoint = spark.createDataFrame([("z1",), ("z2",)], "k string")
    est0 = cms_inner_product(cms_build(a, "k"), cms_build(disjoint, "k")).first()[
        "est_join_size"
    ]
    assert est0 >= 0  # may collide, never negative
    empty = spark.createDataFrame([], "k string")
    assert (
        cms_inner_product(cms_build(a, "k"), cms_build(empty, "k")).first()[
            "est_join_size"
        ]
        == 0
    )
