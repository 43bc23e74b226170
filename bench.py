#!/usr/bin/env python
"""Benchmark harness: runs the headline catalog queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``.

Each query is executed with a count-style action that materializes the full
result (no driver-side collect of wide rows). A warmup run of a tiny query
first amortizes JVM/session startup out of per-query numbers.

Each query runs FOUR times: one cold run + three warm reps. The headline
``value`` (and ``queries``) is the COLD first-run number — the same meaning
the key had in round 1, so round-over-round comparisons stay
apples-to-apples. The warm number per query is the MEDIAN of the three
warm reps (round 5's apparent q1/wordcount "regressions" were single-rep
host noise on a host with documented up-to-2x CPU variance; medians make
round-over-round warm deltas signal): per-lineage codegen/planning cold
cost dominates at this tiny scale (3-4x on the UDF-heavy dedup queries),
so the warm numbers are the better signal for *plan* regressions while
cold covers startup/planning regressions.

OUTPUT FORMAT (round 6): the driver machine-reads only the tail of stdout
(BENCH_r05 recorded ``parsed: null`` because round 5's single line outgrew
the driver's 2000-char capture), so the LAST stdout line is now a compact
summary guaranteed to fit — headline cold total, per-query cold seconds,
warm_total, and the r3-queryset subtotals. The full verbose payload
(per-query warm medians + raw reps, calibration, family subtotals,
normalized timings) goes to an earlier stdout line prefixed ``#VERBOSE ``
(comment-prefixed so a line-oriented JSON reader skips it) and is also
written to ``benchmarks/last_bench_verbose.json``.

WARM SEMANTICS CHANGED IN ROUND 5: lingering localCheckpoint blocks are now
released between the two runs, so the warm run measures a clean re-execution
instead of contending with the cold run's dead blocks. Warm numbers for
checkpoint-heavy queries (near_dedup_corpus, minhash_lsh_dedup,
kmeans_clusters) are therefore NOT comparable with the r3/r4 recorded
warm baselines; cold numbers are unaffected.

PROVENANCE (round 9): cross-round bench deltas were un-attributable among
three confounders — plan changes, TESTDATA regeneration (text density,
dup-pair counts), and host CPU availability (calibration 0.46 vs 0.31
across r8→r9 alone explains most of r8's "+30% regression"). Two
additions separate them machine-readably:

1. **Corpus stats** (``corpus`` key): doc/token counts, exact-dup rows,
   and the 2-token-block candidate-pair count of the CURRENT sf dir —
   the density knobs that move text/dedup query times. If a query's time
   moved and these moved too, suspect the data first.
2. **Frozen anchor** (``anchor*`` keys): a committed, never-regenerated
   copy of the round-9 sf0.001 tables (benchmarks/frozen_anchor/). Six
   anchor queries run against it every bench; their calibration-
   normalized warm times compare against benchmarks/
   frozen_anchor_baseline.json (written on first run). On frozen data a
   normalized delta can only be a PLAN effect (or residual host jitter
   the calibration ratio didn't capture) — any anchor >1.25x its
   baseline ratio is flagged in ``anchor_regressed`` and owes a
   benchmarks/RESULTS.md diagnosis.

ANCHOR PROTOCOL v2 (round 10): the r9 record flagged simhash_dedup at
1.35x with the code unchanged — the run's own calibration sandwich
showed ~32% host drift WITHIN the run, so a single whole-run calibration
scalar put the instrument's false-positive floor AT its own 1.25x
threshold. Three changes (VERDICT r9 next-round #1 + ADVICE #4):

- **Adjacent calibration**: a calibration sample is taken between each
  anchor's rep block; anchor i normalizes by the mean of its two
  surrounding samples, so within-run drift is interpolated out instead
  of averaged across the whole anchor loop.
- **Median of 3 warm reps** (was min of 2): the same estimator the main
  query loop uses; per-anchor raw reps + spread are recorded so a flag
  is auditable against its own rep noise.
- **Scaled absolute floor**: the old flat ``warm - baseline > 0.5 s``
  silently disabled the gate for sub-0.5 s anchors (q1 warm ~0.15 s
  could triple unflagged). Now ``max(0.1, 0.5 * baseline_warm)``; ratio
  breaches under the floor are annotated in ``anchor_watch`` instead of
  suppressed.

ANCHOR PROTOCOL v3 (round 10, same day): two same-shape v2 runs showed
the 50M-row calibration job JIT-warming to ~0.10-0.16 s by the anchor
loop, with the warmed denominator moving ~1.7x BETWEEN runs — enough to
ratio-flag anchors whose raw seconds had IMPROVED (the absolute floor
correctly kept them watch-only, but a denominator that noisy defeats
the ratio). v3 uses a 4x heavier (200M-row, ~0.5-1 s) workload for the
anchor-adjacent samples only; the run-level sandwich stays at 50M for
historical comparability of ``calibration_sec``.

The baseline file carries ``protocol: 3``; an old-protocol baseline is
re-baselined (overwritten) on the first v3 run rather than compared
against incompatibly — per-anchor normalization changes the norm's
meaning.

ANCHOR PROTOCOL v3.1 (round 11, diagnostic-only — the gate and the
baseline are unchanged): the r10 DRIVER record put bigram_doc_perplexity
and heavy_hitter_ngrams on anchor_watch at 1.35x/1.31x norm while the
builder-host run of the same code showed both empty. The split inside
the driver run itself is the diagnosis (benchmarks/RESULTS.md round 11):
the xxhash calibration probe ran 8-9% FASTER than baseline while the
memory-traffic-heavy anchors ran 15-25% slower and the codegen-bound
anchors (q1, bloom) tracked the probe — i.e. the probe measures
register-resident codegen CPU and is blind to the memory/IPC bandwidth
that mapInPandas transfers and localCheckpoint pins pay. v3.1 therefore
records a SECOND adjacent probe through exactly that path — a
``mapInPandas`` pass-through sum (Arrow serialize -> Python worker ->
Arrow deserialize) — as ``cal_arrow_adj``/``norm_arrow`` per anchor.
Future ratio breaches come with a measured attribution (probe-CPU drift
vs Arrow/memory drift) instead of an inferred one. The v3 norm still
gates; norm_arrow never does (a two-probe gate would need a re-frozen
baseline and double the false-positive surface).

ANCHOR PROTOCOL v4 (round 12, VERDICT r11 next-round #1 — the gate
self-attributes): v3.1 left the Arrow probe diagnostic-only, so
BENCH_r11 — the record of note — carried a false
``anchor_regressed: ["heavy_hitter_ngrams"]`` that took a manual
worktree A/B to refute, and symmetrically a REAL regression landing in
a degraded window could have been hand-waved as host. v4 freezes BOTH
probes' idle baselines into frozen_anchor_baseline.json
(``cal_cpu_sec`` = the 200M-row xxhash adjacent sample,
``cal_arrow_sec`` = the 8M-row mapInPandas pass-through; medians of an
idle round-12 window; the per-anchor ``norm``/``warm_sec`` baselines
are UNCHANGED — same numbers, same meaning, per the never-regenerate
rule) and tags each anchor with its dominant axis (``axis``: "cpu" for
the codegen-bound q1/bloom, "arrow" for the memory/IPC-bound
simhash/textrank/perplexity/heavy-hitter four — exactly the split the
r10/r11 degraded windows measured). Classification of a ratio breach
that clears the raw-seconds floor:

- per-anchor probe ratios C = cal_adj / cal_cpu_sec and
  A = cal_arrow_adj / cal_arrow_sec;
- expected host inflation of the CPU-normalized norm is A/C for an
  arrow-axis anchor (its numerator scales with A while the denominator
  scales with C) and 1.0 for a cpu-axis anchor (C cancels), clamped at
  >= 1 so a faster-than-idle probe never excuses a breach;
- ``adjusted_norm = norm / expected``: still over the ratio threshold
  -> ``anchor_regressed`` (a plan regression survives host
  attribution — the injected-slowdown pytest pins this); under it ->
  ``anchor_hostwindow`` (named, with axis + probe ratios + adjusted
  norm recorded inline in the anchor detail).

The attribution assumes dominant-axis scaling (a breach only PARTLY
explained by the window still flags regressed, because the residual is
in adjusted_norm); the worktree code A/B (benchmarks/RESULTS.md
round-11 addendum) remains the dispositive manual tool for anything
attribution leaves ambiguous. A protocol-3 baseline (no probe idles)
still gates exactly as before — every breach lands in regressed/watch,
none in hostwindow — so the gate degrades to v3, never silently off.
"""

from __future__ import annotations

import json
import os
import sys
import time

# The exact query list BENCH_r03 recorded — the cross-round comparability
# subtotal is computed over THIS tuple, so append new flagships to the
# round-4 block below, never into this one.
_R3_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "inner_join_agg",
    "q10_returned_revenue",
    "q14_promo_revenue_share",
    "semi_join_by_count",
    "wordcount",
    "tfidf",
    "exact_dedup",
    "training_data_prep",
    "minhash_lsh_dedup",
    "ngram_jaccard_dups",
    "ann_cosine_topk",
    "events_hourly",
    "sessionization",
    # LLM-pipeline + join flagships (round 3): track the extension layer's
    # perf round-over-round, not just its correctness.
    "near_dedup_corpus",
    "simhash_dedup",
    "bm25_rank",
    "q7_nation_volume",
    "q18_large_volume_customer",
    "q19_discounted_revenue",
    # corpus-pipeline flagships (round 3)
    "decontaminate_ngram",
    "pack_token_budget",
)

BENCH_QUERIES = [
    *_R3_QUERIES,
    # round-4 curation flagships: PII scrub (pure regex scan), sliding
    # chunker (explode-only), substring-dup pairs (posting-list self-join),
    # and distributed k-means (iterative broadcast-join refinement).
    "pii_redact",
    "chunk_documents",
    "common_substring_dups",
    "kmeans_clusters",
    # round-5 flagships: quality-rule gate (single-scan expression columns),
    # vocabulary/OOV coverage (broadcast vocab probe), per-session roll-up
    # (one shared window sort), and the skew-safe bucketed rolling window.
    "gopher_rules_report",
    "oov_rate_by_lang",
    "session_stats",
    "rolling_event_value_bucketed",
    "order_value_quantiles",
    # round-5b flagships: heavy-hitter sketch (two-pass MG + exact recount),
    # span-level boilerplate removal, blocked Levenshtein matching, the
    # declarative EWMA fold, and the Z-order curve projection.
    "heavy_hitter_ngrams",
    "boilerplate_chunk_removal",
    "fuzzy_match_pairs",
    "user_value_ewma",
    "zorder_curve_topk",
    # iterative-algorithm flagships (round 5b): fixpoint connected
    # components, BPE tokenizer training, PCA sufficient-statistics pass.
    "fuzzy_dup_components",
    "bpe_merges",
    "pca_embeddings",
    # round-6 flagships: fuzzy benchmark decontamination (broadcast bench
    # postings + per-doc argmax), n-gram first-appearance novelty (one
    # gram-keyed shuffle), and the centroid-outlier screen (broadcast
    # centroid + TakeOrdered, no corpus shuffle).
    "fuzzy_decontaminate",
    "ngram_novelty",
    "embedding_centroid_outliers",
    # round-6b flagships: PMI collocation mining (two vocab aggregates +
    # heap top-k) and hybrid BM25+vector RRF retrieval (two bounded pools
    # fused rank-wise).
    "bigram_pmi",
    "hybrid_rrf_search",
    # round-7 flagships: suffix-run substring dedup (anchor postings ->
    # diagonal gaps-and-islands runs) and the Gopher-style within-doc
    # duplication score (positional grams -> per-doc interval union).
    "repeated_substrings",
    "duplicate_ngram_coverage",
    # round-7 flagships (selection): DSIR hashed-bigram importance toward
    # the en slice (two bucket aggregates + broadcast ratio join) and the
    # corpus-fit bigram-LM perplexity gate (one pinned pair-explode).
    "dsir_en_importance",
    "bigram_doc_perplexity",
    # round-7b flagships (iterative, oracle-unrolled): TextRank keyword
    # PageRank (two corpus aggregates + 4 broadcast-join rounds on a
    # 150-node graph) and the GD logistic-regression quality-classifier
    # fit (3 single-aggregate gradient rounds over a persisted frame).
    "textrank_keywords",
    "quality_logreg_fit",
    # round-7c flagships (explicit sketches): Bloom runtime join pruning
    # (bit-table build + pure codegen probe filter) and the mergeable
    # histogram quantile sketch vs the exact rank-recovery path.
    "bloom_join_prune",
    "histogram_quantile_sketch",
    # round-7d flagships: HLL set-algebra audience overlap (sketch-only
    # union/intersection), positional phrase search (posting-list slot
    # union), token-keyed source cosine, closed-form OLS trend.
    "hll_audience_overlap",
    "phrase_search",
    "source_similarity_cosine",
    "segment_revenue_trend_ols",
    # round-7e flagships: the pre-join planner pair (sketch-estimated join
    # size + key-skew diagnosis) and sorted-neighborhood fuzzy dedup.
    "cms_join_size_estimate",
    "join_key_skew_report",
    "sorted_neighborhood_dups",
    # round-7f flagship: deterministic grid semantic dedup end-to-end
    # (broadcast grid fit -> codegen cell assign -> capped in-cell cosine
    # -> fixpoint components), the oracle-replayable SemDeDup anchor.
    "semantic_grid_dedup",
    # round-10 flagships: the sizing instruments — banding occupancy from
    # one pinned signature pass (minhash candidates + simhash), and the
    # decontamination gram-join budget (sum cf*bf raw vs capped) from one
    # semi-joined corpus scan. Audits must stay cheap relative to the
    # jobs they price; their per-round timing here is that contract.
    "lsh_band_audit",
    "contamination_posting_audit",
    # round-10b flagships: the window family's sizing instrument — hot-key
    # partition mass and sliding-frame budget from one per-(user, hour)
    # count rollup; prices rolling_event_value vs its bucketed twin — and
    # the substring family's (anchor-posting occupancy + diagonal-pair
    # budget from one positional-anchor pass).
    "window_frame_audit",
    "substring_posting_audit",
    # round-11 flagship: the ANN family's sizing instrument — one corpus
    # assignment pass at the finest n_lists candidate, nested-quantizer
    # rollups pricing every candidate's list depth and bytes/query, with
    # the ~sqrt(N) candidate recommended (closes the audit set; evidence:
    # benchmarks/ivf_scale_proof_100x.py's 13-recall-point stale-config
    # cliff, now priced pre-build).
    "ivf_list_audit",
    # round-11b flagship: the re-crawl governance loop — two GD gate fits
    # off one persisted feature frame, both applied in one scan, drift +
    # smoothed PSI over per-source keep mass (the new pipeline SHAPE of
    # the round; everything oracle-replayed end-to-end).
    "quality_gate_refit_drift",
    # round-11c flagship: the corpus-wide kNN graph primitive (queries ARE
    # the corpus: one list_id shuffle, per-list Arrow cogroup matmul,
    # bounded window merge; n_lists ~ sqrt(N) per the audit). The
    # clustering/keep-best endpoints are thin compositions over it.
    "ivf_knn_graph",
    # round-12 flagship: the capstone curation pipeline — exact keep-best
    # dedup -> near-dup keep-best -> quality gate -> split -> shard
    # manifest, one persisted corpus scan feeding every stage (the
    # composition discipline quality_gate_refit_drift proved, applied to
    # the full production shape; oracle replays it end-to-end incl. the
    # recursive component closure).
    "curate_training_slice",
    "curate_training_slice_v2",
]

# Frozen-anchor query set: one representative per regression class the r8
# postmortem identified (scan+agg baseline, density-sensitive dedup,
# multi-job sketch certificate, iterative graph, pair-explode LM, and the
# two-pass MG sketch that looked like a 13s cold cliff in r8 but was host
# contention). Runs against benchmarks/frozen_anchor/ — see module
# docstring.
ANCHOR_QUERIES = (
    "q1_pricing_summary",
    "simhash_dedup",
    "bloom_join_prune",
    "textrank_keywords",
    "bigram_doc_perplexity",
    "heavy_hitter_ngrams",
)
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
ANCHOR_DIR = os.path.join(_REPO_DIR, "benchmarks", "frozen_anchor")
ANCHOR_BASELINE = os.path.join(
    _REPO_DIR, "benchmarks", "frozen_anchor_baseline.json"
)
ANCHOR_REGRESSION_RATIO = 1.25
# Dominant cost axis per anchor — the r10/r11 degraded-window split:
# q1/bloom tracked the xxhash (codegen CPU) probe while the four
# memory/IPC-bound anchors tracked the Arrow probe. Frozen into the
# baseline file (the file's copy wins at runtime); this map seeds a
# fresh baseline.
ANCHOR_AXIS = {
    "q1_pricing_summary": "cpu",
    "bloom_join_prune": "cpu",
    "simhash_dedup": "arrow",
    "textrank_keywords": "arrow",
    "bigram_doc_perplexity": "arrow",
    "heavy_hitter_ngrams": "arrow",
}


def gate_class(
    norm_old,
    norm_new,
    warm_old: float,
    warm_new: float,
    ratio: float = ANCHOR_REGRESSION_RATIO,
) -> str | None:
    """The ONE gate predicate (shared with benchmarks/compare_bench.py so
    the cross-round comparator can never drift from the per-run anchor
    gate): None (no ratio breach or no baseline), "regressed" (ratio
    breach AND raw seconds over the scaled floor), or "watch" (ratio
    breach with seconds under the floor — a denominator artifact)."""
    if not norm_old or norm_new <= ratio * norm_old:
        return None
    if warm_new - warm_old > max(0.1, 0.5 * warm_old):
        return "regressed"
    return "watch"


def classify_anchors(
    anchor_detail: dict, base: dict, ratio: float = ANCHOR_REGRESSION_RATIO
) -> tuple[list, list, list]:
    """The anchor gate, pure (unit-tested in tests/test_round10_fixes.py
    and tests/test_round12_fixes.py). v3 layer: an anchor whose
    calibration-normalized warm exceeds ``ratio`` × its baseline norm is
    a BREACH when its raw warm seconds also exceed the baseline by the
    scaled floor ``max(0.1, 0.5 * baseline_warm)`` (ADVICE r10 #4), and
    WATCH-annotated otherwise (a ratio breach with flat-or-better raw
    seconds is a denominator artifact). v4 layer (module docstring):
    a breach self-attributes via the frozen probe idles — the expected
    host inflation of the norm is A/C (arrow-axis anchors) or 1 (cpu
    axis), clamped >= 1; the breach lands in HOSTWINDOW when the
    host-adjusted norm clears the threshold and in REGRESSED when it
    does not (a real plan regression survives attribution even inside a
    degraded window). With a protocol-3 baseline (no probe idles) every
    breach is REGRESSED — the gate degrades to v3, never silently off.
    Mutates each detail dict with its ``baseline_norm`` (and, for
    breaches under v4, the attribution evidence) for the record.
    Returns (regressed, hostwindow, watch)."""
    regressed: list = []
    hostwindow: list = []
    watch: list = []
    cpu_idle = base.get("cal_cpu_sec")
    arrow_idle = base.get("cal_arrow_sec")
    axes = base.get("axis") or {}
    for name, d in anchor_detail.items():
        b = (base.get("norm") or {}).get(name)
        bw = (base.get("warm_sec") or {}).get(name, 0.0)
        d["baseline_norm"] = b
        cls = gate_class(b, d["norm"], bw, d["warm"], ratio)
        if cls == "watch":
            watch.append(name)
            continue
        if cls != "regressed":
            continue
        axis = axes.get(name, "cpu")
        can_attribute = (
            cpu_idle
            and arrow_idle
            and d.get("cal_adj")
            and d.get("cal_arrow_adj")
        )
        if not can_attribute:
            regressed.append(name)
            continue
        c_ratio = d["cal_adj"] / cpu_idle
        a_ratio = d["cal_arrow_adj"] / arrow_idle
        expected = max(a_ratio / c_ratio, 1.0) if axis == "arrow" else 1.0
        adjusted = d["norm"] / expected
        d["axis"] = axis
        d["probe_ratio_cpu"] = round(c_ratio, 3)
        d["probe_ratio_arrow"] = round(a_ratio, 3)
        d["host_factor"] = round(expected, 3)
        d["adjusted_norm"] = round(adjusted, 3)
        if adjusted > ratio * b:
            regressed.append(name)
        else:
            hostwindow.append(name)
    return regressed, hostwindow, watch


def shed_compact_line(
    compact: dict,
    cold_timings: dict[str, float],
    anchor_regressed: list,
    anchor_hostwindow: list,
    budget: int = 1990,
) -> str:
    """Serialize the compact record into ONE JSON line that fits the
    driver's tail capture, shedding gracefully (pure — unit-tested in
    tests/test_round15_fixes.py).

    The driver machine-reads the LAST 2000 chars of stdout (BENCH_r05
    recorded ``parsed: null`` when the line outgrew it; BENCH_r14's tail
    is exactly 2000 chars). This line is the last thing printed, so
    line + trailing newline must fit in 2000 chars: budget 1990 leaves
    9 chars of margin.

    SHED ORDER CHANGED IN ROUND 15 (VERDICT r14 next-round #2): the old
    order kept the provenance extras (corpus, r3 subtotals, anchor_norm)
    and degraded the per-query map to the NAMELESS ``queries_v`` array,
    which left the driver's PERF per-query comparison blind
    (``per_query: {}``, geomean null, and a misleading 50-query "dropped"
    list that was really the rotating correctness window). The NAMED
    ``queries`` map is part of the bench contract ({"metric", "value",
    "unit", "queries": {name: sec}, "sf"}), so it now sheds LAST: the
    provenance extras — all of which also live in the committed verbose
    payload — drop first.
    """

    def _line() -> str:
        return json.dumps(compact, separators=(",", ":"))

    line = _line()
    if len(line) > budget and "queries" in compact:
        # Stage 1: per-query values to 1 decimal (full precision lives in
        # the verbose payload).
        compact["queries"] = {
            q: round(t, 1) for q, t in cold_timings.items()
        }
        line = _line()
    # Stage 2: shed provenance extras one at a time, cheapest-loss first —
    # every one of them is recorded in the verbose payload this run wrote.
    for key in (
        "corpus",
        "anchor_norm",
        "cold_total_r3_queryset",
        "warm_total_r3_queryset",
    ):
        if len(line) <= budget:
            break
        compact.pop(key, None)
        line = _line()
    if len(line) > budget and (anchor_regressed or anchor_hostwindow):
        # Stage 3: regressed/hostwindow NAMES live in the verbose payload;
        # the compact record keeps the counts.
        if anchor_regressed:
            compact["anchor_regressed"] = len(anchor_regressed)
        if anchor_hostwindow:
            compact["anchor_hostwindow"] = len(anchor_hostwindow)
        line = _line()
    # Stage 3.5: the run-level scalars are also in the verbose payload;
    # losing them from the driver record costs less than losing every
    # per-query NAME (which is what stage 4 does).
    for key in ("calibration_sec", "warm_total"):
        if len(line) <= budget:
            break
        compact.pop(key, None)
        line = _line()
    if len(line) > budget and "queries" in compact:
        # Stage 4 (last resort, pre-r15 behavior): per-query values survive
        # as a compact ARRAY in the order of the record's query keys
        # (names recoverable from BENCH_QUERIES / the verbose payload)
        # instead of disappearing from the driver record entirely.
        order = list(compact["queries"])
        compact.pop("queries")
        compact["queries_v"] = [round(cold_timings[q], 1) for q in order]
        line = _line()
    if len(line) > budget:
        compact.pop("queries_v", None)
        line = _line()
    return line


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from dampr_spark.plans import all_queries
    from dampr_spark.session import get_spark

    spark = get_spark(app_name="dampr-spark-bench")
    catalog = all_queries()

    # Warmup: trigger JVM classloading + parquet footer reads.
    catalog["count_total"].builder(spark, sf_dir).collect()
    # ...and spawn the Python/Arrow worker pool (one per core, each paying a
    # numpy+pandas import) so pandas-UDF queries measure compute, not forks.
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dampr_spark.functions.udf import series_udf

    @series_udf(T.LongType())
    def _noop(x):
        # Brief sleep so all warmup tasks overlap — worker reuse would
        # otherwise let a few fast workers serve every task and leave most
        # of the pool unspawned.
        import time as _t

        _t.sleep(0.3)
        return x

    par = spark.sparkContext.defaultParallelism
    (
        spark.range(par)
        .repartition(par)
        .select(F.sum(_noop(F.col("id"))))
        .collect()
    )
    # ...and the driver-local createDataFrame + eager localCheckpoint path
    # (first use costs ~2s of one-time session setup — measured round 6;
    # kmeans++ seeding and the centroid queries hit it mid-query otherwise,
    # which would bill per-session overhead to one query's cold number).
    spark.createDataFrame(
        [(1, [0.0])], "a int, b array<double>"
    ).localCheckpoint(eager=True).count()

    def release_checkpoints() -> None:
        # Unpersist every lingering persisted RDD (localCheckpoint blocks from
        # the run that just finished). Queries with eager localCheckpoints
        # (near_dedup_corpus, minhash_lsh_dedup, kmeans_clusters) otherwise
        # leave their blocks behind between the cold and warm runs: the warm
        # run re-checkpoints from scratch (new lineage, no reuse possible)
        # while contending with the dead blocks — which made warm read SLOWER
        # than cold for near_dedup_corpus in rounds 3-4 and hid real plan
        # regressions. JavaSparkContext.getPersistentRDDs is a java.util.Map;
        # py4j exposes it as a Python mapping. blocking=True so removal has
        # actually finished before the next timed run starts (async removal
        # would leak the contention into the warm measurement).
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def calibrate(n_rows: int = 50_000_000) -> float:
        # Fixed, data-independent CPU workload (codegen'd xxhash64 sum over
        # range) measured per bench invocation: the host's CPU availability
        # varies up to ~2x between rounds (virtualized), which swamps
        # round-over-round query totals. Per-query ratios to this number
        # separate host drift from plan regressions without re-deriving
        # medians.
        t0 = time.perf_counter()
        from pyspark.sql import functions as F

        # pmod keeps the running sum < 5e13 — a raw xxhash64 sum overflows
        # long under ANSI mode.
        spark.range(0, n_rows, 1, 32).select(
            F.sum(F.pmod(F.xxhash64("id"), F.lit(1_000_000)))
        ).collect()
        return time.perf_counter() - t0

    import pandas as pd

    def _arrow_cal_batches(it):
        for batch in it:
            yield pd.DataFrame({"v": [int(batch["id"].sum())]})

    def calibrate_arrow(n_rows: int = 8_000_000) -> float:
        # Protocol v3.1 diagnostic probe (round 11, see module docstring):
        # the same fixed-workload adjacent-sample discipline as
        # calibrate(), but routed through the Python-worker/Arrow path —
        # Arrow serialize -> worker IPC -> pandas reduce -> Arrow return —
        # the bandwidth-bound machinery that mapInPandas anchors
        # (heavy_hitter_ngrams) and big pinned frames
        # (bigram_doc_perplexity's pair-explode localCheckpoint) pay and
        # the register-resident xxhash probe cannot see. Recorded per
        # anchor as cal_arrow_adj/norm_arrow; never gates.
        t0 = time.perf_counter()
        spark.range(0, n_rows, 1, 32).mapInPandas(
            _arrow_cal_batches, "v long"
        ).agg(F.sum("v")).collect()
        return time.perf_counter() - t0

    def run_once(name: str, data_dir: str | None = None) -> float:
        t0 = time.perf_counter()
        # noop sink materializes every row/column of the result without
        # shipping it to the driver (a bare count() would let Catalyst prune
        # the computed columns away).
        catalog[name].builder(spark, data_dir or sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        dt = time.perf_counter() - t0
        release_checkpoints()
        return dt

    # Calibration sandwich: measure once before and once after the query
    # loop, report the mean (CPU availability can drift WITHIN a bench run
    # too — the spread is visible in the two raw numbers).
    cal_pre = calibrate()

    import statistics

    warm_reps = int(os.environ.get("SPARK_GRAFT_BENCH_WARM_REPS", "3"))
    cold_timings: dict[str, float] = {}
    warm_timings: dict[str, float] = {}
    warm_raw: dict[str, list[float]] = {}
    cold_total = 0.0
    warm_total = 0.0
    for name in BENCH_QUERIES:
        cold = run_once(name)
        reps = [run_once(name) for _ in range(warm_reps)]
        warm = statistics.median(reps)
        cold_total += cold
        warm_total += warm
        cold_timings[name] = round(cold, 4)
        warm_timings[name] = round(warm, 4)
        warm_raw[name] = [round(r, 4) for r in reps]
        print(
            f"# {name}: cold {cold:.3f}s (warm median {warm:.3f}s of "
            f"{['%.3f' % r for r in reps]})",
            file=sys.stderr,
        )

    cal_post = calibrate()
    calibration_sec = (cal_pre + cal_post) / 2

    # ---- provenance 1: corpus stats of the CURRENT (regenerated) sf dir.
    def corpus_stats() -> dict:
        from dampr_spark.sources.readers import read_table

        docs = read_table(spark, sf_dir, "documents")
        r = docs.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(
                F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
            ).alias("toks"),
            (F.count(F.lit(1)) - F.count_distinct("text")).alias("dup_rows"),
        ).first()
        # Candidate-pair mass of the 2-token-prefix blocker — the density
        # knob behind the fuzzy/simhash/jaccard query family (r8's only
        # explained regression was exactly this moving).
        bp = (
            docs.filter(F.col("text").isNotNull())
            .select(
                F.concat_ws(
                    " ", F.slice(F.split(F.col("text"), " "), 1, 2)
                ).alias("blk")
            )
            .groupBy("blk")
            .count()
            .agg(
                F.coalesce(
                    F.sum(F.expr("`count` * (`count` - 1) / 2")), F.lit(0)
                )
                .cast("long")
                .alias("bp")
            )
            .first()["bp"]
        )
        return {
            "docs": int(r["docs"]),
            "toks": int(r["toks"] or 0),
            "dup_rows": int(r["dup_rows"]),
            "block_pairs": int(bp),
            "emb": read_table(spark, sf_dir, "embeddings").count(),
            "events": read_table(spark, sf_dir, "events").count(),
            "lineitem": read_table(spark, sf_dir, "lineitem").count(),
        }

    corpus = corpus_stats()

    # ---- provenance 2: frozen-anchor runs (plan-vs-host separation).
    # Protocol v2 — see module docstring: adjacent-calibration
    # normalization, median-of-3 warm reps with recorded spreads, scaled
    # absolute floor with flag-but-annotate for sub-floor ratio breaches.
    anchor_detail: dict[str, dict] = {}
    anchor_regressed: list[str] = []
    anchor_hostwindow: list[str] = []
    anchor_watch: list[str] = []
    anchor_norm_total = None
    if os.path.isdir(ANCHOR_DIR):
        # Protocol 3 refinement: the anchor-adjacent samples use a 4x
        # heavier workload than the run-level sandwich. Two same-shape v2
        # runs showed the 50M-row job JIT-warming to ~0.10-0.16 s by the
        # anchor loop, where scheduler noise and JIT-depth differences
        # moved the denominator ~1.7x BETWEEN runs and flagged anchors
        # whose raw seconds had gone DOWN (watch-only, thanks to the
        # absolute floor — but a noisy denominator defeats the ratio's
        # purpose). At 200M rows the sample sits near 0.5-1 s, where the
        # fixed overheads it exists to cancel are amortized.
        cal_samples = [calibrate(200_000_000)]
        arrow_samples = [calibrate_arrow()]
        for name in ANCHOR_QUERIES:
            cold = run_once(name, ANCHOR_DIR)
            reps = [run_once(name, ANCHOR_DIR) for _ in range(3)]
            cal_samples.append(calibrate(200_000_000))
            arrow_samples.append(calibrate_arrow())
            warm = statistics.median(reps)
            # Adjacent calibration: the mean of the samples taken
            # immediately before and after THIS anchor's rep block —
            # within-run host drift (measured 32% inside the r9 run)
            # normalizes out per anchor instead of smearing across the
            # loop.
            cal_adj = (cal_samples[-2] + cal_samples[-1]) / 2
            anchor_detail[name] = {
                "cold": round(cold, 4),
                "warm": round(warm, 4),
                "warm_reps": [round(r, 4) for r in reps],
                "rep_spread": round(
                    (max(reps) - min(reps)) / max(warm, 1e-9), 3
                ),
                "cal_adj": round(cal_adj, 4),
                "norm": round(warm / cal_adj, 3),
                # v3.1 diagnostic pair — records, never gates.
                "cal_arrow_adj": round(
                    (arrow_samples[-2] + arrow_samples[-1]) / 2, 4
                ),
                "norm_arrow": round(
                    warm * 2 / (arrow_samples[-2] + arrow_samples[-1]), 3
                ),
            }
        anchor_norm_total = round(
            sum(d["norm"] for d in anchor_detail.values()), 3
        )
        base = None
        if os.path.exists(ANCHOR_BASELINE):
            with open(ANCHOR_BASELINE) as f:
                base = json.load(f)
            if base.get("protocol") not in (3, 4):
                base = None  # pre-v2 norms aren't comparable: re-baseline
            # A v3 baseline (no probe idles) still gates — classify_anchors
            # degrades to v3 semantics (no hostwindow attribution).
        if base is not None:
            anchor_regressed, anchor_hostwindow, anchor_watch = (
                classify_anchors(anchor_detail, base)
            )
        else:
            with open(ANCHOR_BASELINE, "w") as f:
                json.dump(
                    {
                        "written_by": (
                            "bench.py first run under anchor protocol v4 "
                            "(round 12: v3 adjacent 200M-row calibration + "
                            "median of 3 warm reps, plus frozen dual-axis "
                            "probe idles and per-anchor axis tags for "
                            "breach self-attribution)"
                        ),
                        "protocol": 4,
                        "calibration_sec": round(calibration_sec, 4),
                        # Probe idles: medians of the adjacent samples of
                        # THIS (baseline-writing) run — the same
                        # instruments future runs ratio against.
                        "cal_cpu_sec": round(
                            statistics.median(cal_samples), 4
                        ),
                        "cal_arrow_sec": round(
                            statistics.median(arrow_samples), 4
                        ),
                        "axis": {
                            n: ANCHOR_AXIS.get(n, "cpu")
                            for n in anchor_detail
                        },
                        "norm": {
                            n: d["norm"] for n, d in anchor_detail.items()
                        },
                        "warm_sec": {
                            n: d["warm"] for n, d in anchor_detail.items()
                        },
                        "warm_reps": {
                            n: d["warm_reps"] for n, d in anchor_detail.items()
                        },
                    },
                    f,
                    indent=1,
                )

    # Per-family subtotals: lets a reader see where time goes without
    # re-grouping 40+ lines (families from the catalog's tags would drift
    # with registration details; this static map names the bench's own
    # groupings).
    families = {
        "tpch": [q for q in BENCH_QUERIES if q.startswith("q1") or q.startswith("q3")
                 or q.startswith("q5") or q.startswith("q6") or q.startswith("q7")
                 or q.startswith("q9") or q in ("inner_join_agg", "semi_join_by_count")],
        "dedup": [q for q in BENCH_QUERIES if "dedup" in q or "dup" in q
                  or q in ("minhash_lsh_dedup", "ngram_jaccard_dups",
                            "boilerplate_chunk_removal", "fuzzy_match_pairs")],
        "text": [q for q in BENCH_QUERIES if q in (
            "wordcount", "tfidf", "bm25_rank", "training_data_prep",
            "decontaminate_ngram", "pack_token_budget", "gopher_rules_report",
            "oov_rate_by_lang", "heavy_hitter_ngrams", "bpe_merges",
            "pii_redact", "chunk_documents", "fuzzy_decontaminate",
            "ngram_novelty", "bigram_pmi", "hybrid_rrf_search")],
        "events": [q for q in BENCH_QUERIES if q in (
            "events_hourly", "sessionization", "session_stats",
            "rolling_event_value_bucketed", "order_value_quantiles",
            "user_value_ewma")],
        "vector": [q for q in BENCH_QUERIES if q in (
            "ann_cosine_topk", "kmeans_clusters", "pca_embeddings",
            "zorder_curve_topk", "embedding_centroid_outliers")],
        "sketch": [q for q in BENCH_QUERIES if q in (
            "bloom_join_prune", "histogram_quantile_sketch",
            "hll_audience_overlap", "cms_join_size_estimate")],
    }
    family_totals = {
        fam: round(sum(cold_timings.get(q, 0.0) for q in qs), 4)
        for fam, qs in families.items()
    }

    # Round-over-round comparability: the query list GROWS each round, so
    # the headline total is not comparable across rounds by itself. Emit a
    # subtotal over the round-3 query set (the last externally-recorded
    # list) next to the full totals.
    r3_set = _R3_QUERIES
    verbose = {
        "metric": "dampr_spark_bench_verbose",
        # Host-jitter normalization: divide any query's cold seconds by
        # calibration_sec before comparing across rounds.
        "calibration_sec": round(calibration_sec, 4),
        "calibration_pre_post": [round(cal_pre, 4), round(cal_post, 4)],
        # Round 15: the r3-queryset subtotals moved here from the compact
        # line (see the shed logic below) — the verbose payload is the
        # canonical home for every provenance number the compact line
        # sheds, and it is committed per round.
        "cold_total_r3_queryset": round(
            sum(cold_timings[q] for q in r3_set), 4
        ),
        "warm_total_r3_queryset": round(
            sum(warm_timings[q] for q in r3_set), 4
        ),
        "queries_norm": {
            q: round(t / calibration_sec, 3) for q, t in cold_timings.items()
        },
        "family_cold_totals": family_totals,
        "queries_warm": warm_timings,
        "queries_warm_reps": warm_raw,
        "corpus": corpus,
        "anchor": anchor_detail,
        "anchor_regressed": anchor_regressed,
        "anchor_hostwindow": anchor_hostwindow,
        "anchor_watch": anchor_watch,
    }
    os.makedirs("benchmarks", exist_ok=True)
    # SPARK_GRAFT_BENCH_OUT redirects the verbose record to a named file —
    # used by the per-round sf1.0 bench (benchmarks/bench_sf1_r{N}.json) so
    # an off-scale run never clobbers last_bench_verbose.json, which must
    # stay the sf0.1 record the driver's BENCH_r{N} corresponds to (an
    # sf0.001 verify run polluted it in round 8).
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", "benchmarks/last_bench_verbose.json"
    )
    with open(out_path, "w") as f:
        json.dump(verbose, f, indent=1)
    print("#VERBOSE " + json.dumps(verbose))

    compact = {
        "metric": "dampr_spark_bench_total",
        "value": round(cold_total, 4),
        "unit": "sec",
        "n_queries": len(BENCH_QUERIES),
        "queries": {q: round(t, 2) for q, t in cold_timings.items()},
        "warm_total": round(warm_total, 4),
        "cold_total_r3_queryset": round(sum(cold_timings[q] for q in r3_set), 4),
        "warm_total_r3_queryset": round(sum(warm_timings[q] for q in r3_set), 4),
        "calibration_sec": round(calibration_sec, 4),
        # Compact corpus stats as a fixed-order array (the named dict lives
        # in the verbose payload; the compact line must stay under the
        # driver's ~2000-char tail capture):
        # [docs, doc_tokens, exact_dup_rows, block_pairs, embeddings,
        #  events, lineitem]
        "corpus": [
            corpus["docs"],
            corpus["toks"],
            corpus["dup_rows"],
            corpus["block_pairs"],
            corpus["emb"],
            corpus["events"],
            corpus["lineitem"],
        ],
        "anchor_norm": anchor_norm_total,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if anchor_regressed:
        compact["anchor_regressed"] = anchor_regressed
    if anchor_hostwindow:
        compact["anchor_hostwindow"] = anchor_hostwindow
    if anchor_watch:
        compact["anchor_watch"] = anchor_watch
    line = shed_compact_line(
        compact, cold_timings, anchor_regressed, anchor_hostwindow
    )
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
