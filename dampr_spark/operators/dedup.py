"""Deduplication operators for large-scale training-data pipelines.

Five strategies, all expressed as declarative DataFrame plans (no Python in
the row path — every hash/shingle/band is a JVM-side expression, so the whole
family survives a 100 TB corpus):

- :func:`exact_dedup` — hash-groupBy on a normalized fingerprint.
- :func:`minhash_lsh_candidates` / :func:`minhash_lsh_dedup` — shingle →
  minhash signature → banded LSH bucket join → exact-Jaccard verify.
- :func:`simhash` / :func:`simhash_dedup` — 64-bit SimHash with banded
  hamming candidate generation.
- :func:`ngram_jaccard_pairs` — exact n-gram Jaccard via a posting-list
  self-join (the non-approximate baseline the LSH variants approximate).
- :func:`embedding_cosine_dups` — near-duplicate pairs by embedding cosine.

Shuffle budget at scale (the design constraint): every strategy reduces to
(1) a narrow per-row signature projection, (2) ONE explode+groupBy shuffle
keyed on a small bucket key, (3) a verify step joined only within buckets.
Nothing ever shuffles full documents by document key; candidate pairs carry
ids, and text is re-joined only for the verify step on the (tiny) candidate
set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dampr_spark.functions.text import fingerprint
from dampr_spark.functions.udf import series_udf
from dampr_spark.operators.pinning import pin

def _ensure_parallelism(df: DataFrame, *cols: str) -> DataFrame:
    """Round-robin repartition (hash on ``cols`` when given) when the
    input would SCAN into fewer partitions than the cluster has slots. A
    small corpus read from one parquet file arrives as ONE partition,
    serializing every per-row signature/shingle pass onto a single core
    (measured 4× on the sf0.1 bench); at real scale inputs already carry
    thousands of files and this is a no-op.

    Deliberately consults ``df.inputFiles()`` (a FileIndex listing), NOT
    ``df.rdd.getNumPartitions()``: the RDD conversion builds a whole
    deserialized-row physical plan on every call — a driver-side planning tax
    on the hot constructor path of every dedup query — and is unavailable
    under Spark Connect. File count alone under-estimates scan partitions
    for LARGE single files (maxPartitionBytes splits them), so locally
    statable files contribute ceil(size/maxPartitionBytes) each — a 10 GB
    single-file corpus is correctly left alone. Files on remote filesystems
    aren't statted; a remote corpus small in file count is assumed
    cluster-sized and left alone (the conservative default — repartitioning
    100 TB by accident is the worse failure). Non-file-backed inputs
    (in-memory test frames) report zero files and are left alone.

    Hashing on ``cols`` fixes the partition count of a following
    ``groupBy(*cols)``, which reuses the partitioning: AQE would
    otherwise size that stage by its few input bytes, coalescing it to
    one task however much work comes after it."""
    spark = df.sparkSession
    try:
        target = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no sparkContext — use the shuffle conf
        target = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    files = df.inputFiles()
    if not files or len(files) >= target:
        return df
    import os

    max_bytes = 128 * 1024 * 1024
    try:
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes", str(max_bytes))
        digits = "".join(c for c in raw if c.isdigit())
        if digits:
            max_bytes = int(digits) * (1024 * 1024 if raw.rstrip("b").lower().endswith("m") else 1)
    except Exception:
        pass
    est = 0
    for f in files:
        path = f[7:] if f.startswith("file://") else f[5:] if f.startswith("file:") else f
        if not os.path.isabs(path):
            return df  # remote/virtual path: don't guess, don't shuffle
        try:
            size = os.path.getsize(path)
        except OSError:
            return df
        est += max(-(-size // max_bytes), 1)
        if est >= target:
            return df
    return df.repartition(target, *cols)


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: md5-fingerprint groupBy keeping the lowest id as
    canonical. One shuffle on a 32-byte key."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("canonical_" + id_col), F.count("*").alias("n_copies"))
    )


def drop_exact_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep only the canonical (min-id) row per fingerprint — the filtering
    companion to :func:`exact_dedup`."""
    canon = exact_dedup(df, text_col, id_col).select(
        F.col("canonical_" + id_col).alias(id_col)
    )
    return df.join(canon, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def char_shingles(col: str, k: int = 5) -> Column:
    """Distinct k-char shingles of a string as an array column — JVM-side:
    transform over an index sequence + substring."""
    c = F.col(col)
    n = F.greatest(F.length(c) - (k - 1), F.lit(1))
    idx = F.sequence(F.lit(1), n)
    return F.array_distinct(F.transform(idx, lambda i: c.substr(i, F.lit(k))))


def minhash_signature(hashes: Column, num_perm: int = 64) -> Column:
    """MinHash signature from pre-hashed shingles: permutation j re-hashes
    each shingle hash with seed j (xxhash64 of the pair) and takes the min —
    num_perm independent orderings of the shingle universe.

    Deliberately NOT the textbook affine family ((a·h+b) mod p): with a,b
    bounded so the product fits a signed long, that map wraps at most once
    and stays piecewise-monotonic in h, so all "permutations" share most of
    their ordering and MinHash overestimates Jaccard badly (measured: sig
    agreement 0.66 on a true-J 0.24 pair → 2M LSH candidates for 224 real
    near-dups at sf0.1).

    NOTE: this pure-SQL form is the semantic spec, but Spark evaluates
    higher-order lambdas interpreted (no codegen), so num_perm passes over
    every shingle array dominate wall-clock. The hot path is the
    Arrow-vectorized :func:`minhash_text_signature_udf`.
    """
    return F.array(
        *[
            F.array_min(F.transform(hashes, lambda h: F.xxhash64(h, F.lit(j))))
            for j in range(num_perm)
        ]
    )


_SIG_UDF_CACHE: dict = {}


def minhash_text_signature_udf(num_perm: int = 64, shingle_k: int = 5, seed: int = 42):
    """End-to-end Arrow-vectorized MinHash signature straight from the text
    column: byte k-shingles are packed into 64-bit ints with a sliding-window
    dot product and deduped per row; permutation j is splitmix64 over the
    packed shingle xor a per-permutation salt (independent orderings — see
    :func:`minhash_signature` for why an affine family is NOT usable), with
    per-row mins via ``np.minimum.reduceat``. Everything except the per-row
    ``np.unique`` is one numpy pass per batch, so the whole signature costs
    ~1 s per million shingles per core — this is the hot path used by
    :func:`minhash_lsh_candidates`. Per-batch memory is
    O(batch_rows·num_perm + total_shingles), independent of corpus size.

    Shingling is over UTF-8 *bytes* (multibyte chars span shingles); for LSH
    bucketing this is an equally valid shingle definition to char-shingles.
    """
    key = ("text", num_perm, shingle_k, seed)
    if key in _SIG_UDF_CACHE:
        return _SIG_UDF_CACHE[key]

    import random

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    assert shingle_k <= 8, "packed byte shingles support k ≤ 8"
    rng = random.Random(seed)
    salts = np.array([rng.getrandbits(64) for _ in range(num_perm)], dtype=np.uint64)
    pows = (np.uint64(256) ** np.arange(shingle_k, dtype=np.uint64)).astype(np.uint64)
    _SENTINEL = np.iinfo(np.int64).max  # empty-doc signature component

    def _mix(x):
        # splitmix64 finalizer — full-avalanche 64-bit mix, so each salt
        # induces an effectively independent ordering of the shingle universe.
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        x ^= x >> np.uint64(30)
        x = (x * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        x ^= x >> np.uint64(27)
        x = (x * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        return x ^ (x >> np.uint64(31))

    @series_udf(T.ArrayType(T.LongType()))
    def sig(texts):
        n = len(texts)
        if n == 0:
            return pd.Series([], dtype=object)
        uniq_per_row = []
        for t in texts:
            if t is None or len(t) == 0:
                uniq_per_row.append(np.empty(0, dtype=np.uint64))
                continue
            b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
            if len(b) < shingle_k:
                b = np.pad(b, (0, shingle_k - len(b)))
            w = np.lib.stride_tricks.sliding_window_view(b, shingle_k)
            uniq_per_row.append(np.unique(w.astype(np.uint64) @ pows))
        lengths = np.fromiter((len(u) for u in uniq_per_row), dtype=np.int64, count=n)
        out = np.full((n, num_perm), _SENTINEL, dtype=np.int64)
        nonempty = lengths > 0
        if nonempty.any():
            flat = np.concatenate([u for u in uniq_per_row if len(u)])
            offsets = np.zeros(n, dtype=np.int64)
            np.cumsum(lengths[:-1], out=offsets[1:])
            ne_off = offsets[nonempty]
            for j in range(num_perm):
                mins = np.minimum.reduceat(_mix(flat ^ salts[j]), ne_off)
                out[nonempty, j] = mins.view(np.int64)
        return pd.Series(list(out))

    _SIG_UDF_CACHE[key] = sig
    return sig


def choose_bands(num_perm: int, threshold: float) -> int:
    """Pick the band count whose LSH S-curve threshold (1/b)^(1/r) sits
    closest below the verify threshold: the largest rows-per-band r (so the
    fewest, most selective bands) with (1/b)^(1/r) ≤ threshold. Mistuned
    banding is the classic LSH failure — e.g. 16 bands × 4 rows has S-curve
    0.5, so verifying at 0.8 over-generates candidates by ~10000× on a
    template-heavy corpus (measured: 2.06M candidates → 224 survivors at
    sf0.1)."""
    best = num_perm  # r=1: S-curve threshold ~0 — always valid fallback
    for r in range(num_perm, 0, -1):
        if num_perm % r:
            continue
        b = num_perm // r
        if (1.0 / b) ** (1.0 / r) <= threshold:
            best = b
            break
    return best


def _banded_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    bands: int,
    shingle_k: int,
) -> DataFrame:
    """(id, band, band_hash) rows: Arrow-vectorized MinHash signature →
    per-band xxhash64 of the signature slice. The shared banding step of
    the self-join (:func:`minhash_lsh_candidates`) and asymmetric
    (:func:`incremental_minhash_pairs`) candidate generators — band
    semantics MUST stay identical between them or their candidate sets
    silently diverge."""
    assert num_perm % bands == 0, "bands must divide num_perm"
    sig = _ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        minhash_text_signature_udf(num_perm, shingle_k)(F.col(text_col)).alias("sig"),
    )
    return sig.select(
        "id",
        F.posexplode(_band_hashes("sig", num_perm, bands)).alias(
            "band", "band_hash"
        ),
    )


def _band_hashes(sig_col: str, num_perm: int, bands: int) -> Column:
    """Per-band xxhash64 of the signature slices — the ONE band-key
    expression shared by :func:`_banded_signatures` (self-join and
    incremental candidate generators) and :func:`lsh_band_audit` (the
    sizing instrument), so what the audit prices is byte-for-byte what
    the production pipelines shuffle on."""
    rows_per_band = num_perm // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band)
        ),
    )


def band_occupancy_stats(banded: DataFrame, max_bucket: int) -> DataFrame:
    """One aggregate row of bucket-occupancy stats over an
    ``(id, band, band_hash)`` frame: how full the LSH buckets are and what
    the ``max_bucket`` cap would drop. All pair arithmetic is exact
    integer ``div`` (a 1e9-doc bucket's n²/2 exceeds double's 2^53).

    Columns: ``band_rows`` (Σ bucket sizes — equals docs×bands by
    construction, the conservation invariant the catalog query pins),
    ``buckets_ge2``, ``max_bucket_sz``, ``buckets_over_cap``,
    ``docs_over_cap`` (doc-slot mass in over-cap buckets — the candidate
    recall silently lost to the cap), ``raw_pairs`` / ``capped_pairs``
    (Σ C(n,2) before/after the cap) and ``pairs_dropped``."""
    counts = banded.groupBy("band", "band_hash").agg(
        F.count(F.lit(1)).alias("n")
    )
    return counts.agg(*_occupancy_aggs(max_bucket)).select(
        "*",
        (F.col("raw_pairs") - F.col("capped_pairs")).alias("pairs_dropped"),
    )


def _occupancy_aggs(max_bucket: int) -> list[Column]:
    """The seven occupancy/budget aggregate expressions over a
    ``(.., n)`` bucket-count frame — shared by the global
    :func:`band_occupancy_stats` and the grouped single-exchange path in
    :func:`lsh_band_audit` so the two can never drift."""
    raw_pairs = F.expr("(n * (n - 1)) div 2")
    over = F.col("n") > max_bucket
    return [
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("band_rows"),
        F.coalesce(F.sum(F.when(F.col("n") >= 2, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("buckets_ge2"),
        F.coalesce(F.max("n"), F.lit(0)).cast("long").alias("max_bucket_sz"),
        F.coalesce(F.sum(F.when(over, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("buckets_over_cap"),
        F.coalesce(F.sum(F.when(over, F.col("n")).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("docs_over_cap"),
        F.coalesce(F.sum(raw_pairs), F.lit(0)).cast("long").alias("raw_pairs"),
        F.coalesce(
            F.sum(F.when(~over, raw_pairs).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("capped_pairs"),
    ]


def lsh_band_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    band_candidates: tuple[int, ...] = (8, 16, 32),
    shingle_k: int = 5,
    max_bucket: int = 1000,
    include_simhash: bool = True,
    simhash_configs: tuple[tuple[int, int], ...] = ((64, 4),),
) -> DataFrame:
    """Price the LSH banding knob BEFORE paying for the pair join — the
    minhash/simhash twin of :func:`similarity.grid_resolution_audit`
    (VERDICT r9 next-round #3: the grid family could audit its resolution
    in one pass; the banded families had only a silent ``max_bucket`` hard
    cap, and at 100 TB the cap's dropped mass is the go/no-go signal a
    user needs before the run).

    One row per banding config — ``(family, bands, band_width, n_docs)``
    plus :func:`band_occupancy_stats`' occupancy/budget columns and
    ``recommended``:

    - ``family='minhash'``: one row per ``band_candidates`` entry (each
      must divide ``num_perm``); ``band_width`` = signature rows per band.
      More bands ⇒ higher S-curve recall but fuller buckets — the audit
      shows exactly where occupancy crosses the cap.
    - ``family='simhash'`` (``include_simhash``): one row per
      ``simhash_configs`` (bits, bands) geometry of :func:`simhash_dedup`
      — a tunable knob since round 11; the default prices the 4×16-bit
      pipeline. ``band_width`` = bits/bands. Unlike minhash bandings,
      each geometry pays its own signature pass (different bit planes
      can't re-slice one signature); candidate the geometries you'd
      actually run — e.g. ((64, 4), (96, 4)) to price the 24-bit-band
      remedy for the 16-bit pigeonhole floor next to the default.
    - ``recommended`` marks the minhash candidate with the MOST bands and
      zero over-cap buckets (best blocking recall at equal safety — the
      grid audit's coarsest-safe rule mirrored to banding, where recall
      grows with bands); none marked when every candidate saturates,
      which is itself the report: no banding at these candidates fits the
      cap, re-shingle or raise num_perm.

    Corpus cost is CANDIDATE-INDEPENDENT where it matters: the minhash
    signature (the dominant Arrow-UDF pass) is computed ONCE at
    ``num_perm`` and pinned; every candidate banding re-slices the same
    pinned signatures (``_band_hashes`` — the byte-identical expression
    the production generators shuffle on) into one explode + one
    (band, hash)-keyed count each. The audit therefore costs one
    signature pass + k bounded aggregates — the same first stage the
    production run would pay anyway, with no pair join.

    ``docs_over_cap``/``pairs_dropped`` quantify what
    :func:`minhash_lsh_candidates`' and :func:`simhash_dedup`'s hot-bucket
    guards would silently prune at each config."""
    cands = sorted(set(int(b) for b in band_candidates))
    if not cands or cands[0] < 1:
        raise ValueError("band_candidates must be positive ints")
    for b in cands:
        if num_perm % b:
            raise ValueError(f"bands={b} does not divide num_perm={num_perm}")

    # ONE corpus scan + ONE pinned frame for every signature family
    # (round 15, guide §2.4/§6): the minhash signature and — in the
    # multi-geometry case — the simhash vote matrix are computed in the
    # same select, so the corpus text is scanned once and one eager pin
    # materializes both (previously two scans + two pin jobs). Values
    # are unchanged: the UDFs are independent per-column expressions.
    _multi_sim = bool(
        include_simhash and simhash_configs and len(simhash_configs) > 1
    )
    sig_cols = [
        F.col(id_col).alias("id"),
        minhash_text_signature_udf(num_perm, shingle_k)(
            F.col(text_col)
        ).alias("sig"),
    ]
    if _multi_sim:
        sig_cols.append(
            simhash_multi_bands_udf(tuple(simhash_configs))(
                F.transform(
                    F.array_distinct(F.split(F.col(text_col), " ")),
                    lambda t: F.xxhash64(t),
                )
            ).alias("msh")
        )
    sig = (
        _ensure_parallelism(df)
        .select(*sig_cols)
        .localCheckpoint(eager=True)  # one UDF pass, k band re-slices
    )
    # Single-exchange occupancy rollup (round 14, guide §2.4): the old
    # shape ran band_occupancy_stats once PER CONFIG — k+|geometries|
    # separate two-exchange aggregate legs unioned after the fact (8-10
    # Exchanges in the final plan, each a full pass over its banded
    # rows). Every leg is keyed the same way, so one tagged union of the
    # banded frames feeds ONE (family, bands, band_width, band,
    # band_hash) bucket count and ONE grouped stats aggregate — 2
    # Exchanges total, identical numbers (the aggregate expressions are
    # the shared _occupancy_aggs). The config spine (a literal k+g-row
    # frame) left-joins the stats back so a config whose banded frame is
    # EMPTY (degenerate corpus) still emits its all-zeros row exactly as
    # the per-leg global aggregates did.
    configs: list[tuple[str, int, int]] = [
        ("minhash", b, num_perm // b) for b in cands
    ]
    legs = [
        sig.select(
            F.lit("minhash").alias("family"),
            F.lit(b).cast("long").alias("bands"),
            F.lit(num_perm // b).cast("long").alias("band_width"),
            F.posexplode(_band_hashes("sig", num_perm, b)).alias(
                "band", "band_hash"
            ),
        )
        for b in cands
    ]
    if include_simhash and simhash_configs:
        tok_hashes = F.transform(
            F.array_distinct(F.split(F.col(text_col), " ")),
            lambda t: F.xxhash64(t),
        )
        # One audit row per candidate fingerprint geometry. Round 14:
        # the geometries share their bit planes by construction (plane 0
        # = raw token hash, plane k = the k-th splitmix64 remix), so one
        # multi-geometry Arrow pass (simhash_multi_bands_udf) computes
        # the vote matrix ONCE at max(bits) and each candidate re-slices
        # its own packed bands from the pinned result — one corpus scan
        # + one vote pass for g geometries instead of g of each (the
        # minhash legs' re-slice-one-signature economics, extended to
        # simhash). Per-geometry band values are bit-identical to
        # simhash_bands_udf (pinned by tests/test_round14_opt.py).
        if _multi_sim:
            # The vote matrix rides the shared pinned frame (see sig
            # above) — each geometry re-slices its own packed bands.
            for j, (sh_bits, sh_bands) in enumerate(simhash_configs):
                width = _simhash_geometry(sh_bits, sh_bands)
                configs.append(("simhash", sh_bands, width))
                legs.append(
                    sig.select(
                        F.lit("simhash").alias("family"),
                        F.lit(sh_bands).cast("long").alias("bands"),
                        F.lit(width).cast("long").alias("band_width"),
                        F.posexplode(F.get("msh", j)).alias(
                            "band", "band_hash"
                        ),
                    )
                )
        else:
            for sh_bits, sh_bands in simhash_configs:
                width = _simhash_geometry(sh_bits, sh_bands)
                configs.append(("simhash", sh_bands, width))
                legs.append(
                    _ensure_parallelism(df).select(
                        F.lit("simhash").alias("family"),
                        F.lit(sh_bands).cast("long").alias("bands"),
                        F.lit(width).cast("long").alias("band_width"),
                        F.posexplode(
                            simhash_bands_udf(sh_bits, sh_bands)(tok_hashes)
                        ).alias("band", "band_hash"),
                    )
                )
    if len(set(configs)) != len(configs):
        # The grouped rollup merges same-keyed legs into one bucket count
        # (doubling n); the old per-leg shape emitted two identical rows.
        # Neither is useful — fail loudly instead.
        raise ValueError(
            "duplicate banding configs share a (family, bands, band_width) "
            f"key: {configs}"
        )
    banded_all = legs[0]
    for leg in legs[1:]:
        banded_all = banded_all.unionByName(leg)
    cfg_cols = ["family", "bands", "band_width"]
    counts = banded_all.groupBy(*cfg_cols, "band", "band_hash").agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = counts.groupBy(*cfg_cols).agg(*_occupancy_aggs(max_bucket))
    spine = df.sparkSession.createDataFrame(
        configs, "family string, bands long, band_width long"
    )
    zero = F.lit(0).cast("long")
    table = spine.join(stats, cfg_cols, "left").select(
        *cfg_cols,
        F.expr("coalesce(band_rows, 0L) div bands").alias("n_docs"),
        *[
            F.coalesce(F.col(c), zero).alias(c)
            for c in (
                "band_rows",
                "buckets_ge2",
                "max_bucket_sz",
                "buckets_over_cap",
                "docs_over_cap",
                "raw_pairs",
                "capped_pairs",
            )
        ],
        F.coalesce(
            F.col("raw_pairs") - F.col("capped_pairs"), zero
        ).alias("pairs_dropped"),
    )
    # Pin the (<= k+g)-row stats table: `best` below re-reads it, and an
    # unpinned plan would execute the occupancy rollup — including the
    # simhash legs' full corpus scans — TWICE per action (round-10
    # review finding; the grid audit pins its bounded table the same way).
    table = table.localCheckpoint(eager=True)
    best = (
        table.filter(
            (F.col("family") == "minhash") & (F.col("buckets_over_cap") == 0)
        )
        .agg(F.max("bands").alias("best_bands"))
    )
    return (
        table.crossJoin(F.broadcast(best))
        .select(
            "family",
            "bands",
            "band_width",
            "n_docs",
            "band_rows",
            "buckets_ge2",
            "max_bucket_sz",
            "buckets_over_cap",
            "docs_over_cap",
            "raw_pairs",
            "capped_pairs",
            "pairs_dropped",
            F.coalesce(
                (F.col("family") == "minhash")
                & (F.col("bands") == F.col("best_bands")),
                F.lit(False),
            ).alias("recommended"),
        )
        .orderBy("family", "bands", "band_width")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    max_bucket: int = 1000,
    salt_bucket: int = 128,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    Pipeline: signature (narrow) → explode into ``bands`` band-hashes →
    groupBy (band, band_hash) → intra-bucket id pairs (a < b) → distinct.
    The only shuffle is on the band-hash key; documents sharing any band
    collide. rows-per-bucket stays tiny for non-pathological corpora; a hot
    bucket (boilerplate spam) is the known failure mode — cap it with the
    ``max_bucket`` guard. Below the cap, buckets larger than
    ``salt_bucket`` pair in chunks spread over tasks (see
    :func:`_bucket_pairs`). Size (num_perm, bands, max_bucket) BEFORE the
    run with :func:`lsh_band_audit`: one signature pass prices each
    config's bucket occupancy and the cap's dropped pair/doc mass.
    Building the frame runs no job; the signature pass and the bucket
    shuffle run in the caller's action.
    """
    _check_salt_bucket(salt_bucket)
    # One Arrow-vectorized pass does shingling + hashing + permutations
    # (the pure-SQL form evaluates interpreted higher-order lambdas and is
    # ~20× slower); the band key is an 8-byte xxhash64 per (doc, band).
    banded = _banded_signatures(df, text_col, id_col, num_perm, bands, shingle_k)
    # Sub-cap skew guard (round 15, VERDICT r14 #5, guide §2.5): the
    # in-row pair explode materializes a bucket's FULL C(B,2) pair
    # fan-out in the one task that holds the bucket row — at the
    # max_bucket default that is ~500k pairs funneled through a single
    # task — so buckets larger than ``salt_bucket`` are chunked and the
    # explode runs distributed (see _bucket_pairs; the pair set is
    # exactly the unchunked one, locked by tests/test_round15_opt.py).
    return (
        _bucket_pairs(
            banded, ["band", "band_hash"], max_bucket=max_bucket, salt_bucket=salt_bucket
        )
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )


def _check_salt_bucket(salt_bucket: int) -> None:
    """Reject a salt size that would change results: below 1 the chunk
    arithmetic divides by zero (0) or drops pairs silently (negative)."""
    if salt_bucket < 1:
        raise ValueError(f"salt_bucket={salt_bucket} must be >= 1 (docs per salted chunk)")


def jaccard(a_set: Column, b_set: Column) -> Column:
    inter = F.size(F.array_intersect(a_set, b_set))
    union = F.size(F.array_union(a_set, b_set))
    return inter / F.greatest(union, F.lit(1))


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int | None = None,
    shingle_k: int = 5,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs: LSH candidates verified with exact shingle Jaccard.
    Only candidate ids re-join the shingle sets — the verify join is
    broadcast-sized relative to the corpus. ``bands=None`` tunes the banding
    to the verify threshold via :func:`choose_bands` so the candidate set
    tracks the true near-dup set instead of exploding quadratically."""
    if bands is None:
        bands = choose_bands(num_perm, threshold)

    # localCheckpoint the (tiny) candidate-pair set: the id-shrink semi-join
    # and the two verify joins all consume it. An eager local checkpoint
    # computes the expensive signature+banding lineage exactly once AND
    # truncates it, so the downstream plan holds a small checkpoint scan
    # instead of three copies of the full lineage — cheaper to analyze/codegen
    # than the previous persist + count, and immune to the broadcast-exchange
    # race that made the eager count necessary (concurrent exchange jobs each
    # racing to populate the cache). Executor-local blocks, no HDFS dir needed;
    # on a cluster a lost executor forces a stage recompute, which is the
    # standard localCheckpoint trade and fine for a deterministic plan.
    cands = minhash_lsh_candidates(
        df, text_col, id_col, num_perm, bands, shingle_k, max_bucket
    ).localCheckpoint(eager=True)
    # Shrink to candidate ids BEFORE building shingle arrays: the semi-join
    # filters rows first, so the (expensive, wide) shingle projection runs
    # only for docs that appear in some candidate pair — typically a few
    # dozen rows, which then broadcast into the verify join.
    cand_ids = cands.select(F.explode(F.array("id_a", "id_b")).alias("id")).distinct()
    sh = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
        .join(cand_ids, "id", "left_semi")
        .select(F.col("id"), char_shingles("_txt", shingle_k).alias("sh"))
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def near_dup_clusters(
    pairs: DataFrame,
    iters: int | str = 3,
    max_driver_edges: int = 50_000,
) -> DataFrame:
    """Cluster near-dup pairs into (id, canonical) via min-label
    propagation: every id starts as its own label; each round takes the min
    of its own and its neighbors' labels. Pure joins — no driver-side
    union-find, so it runs at any scale. ``iters`` rounds converge for
    clusters of graph diameter ≤ iters; LSH near-dup clusters are
    near-cliques (every member collides with most others), so diameter is
    almost always ≤ 2 — documented approximation, raise ``iters`` for
    chain-shaped clusters, or pass ``iters="converge"`` to run min-label
    propagation to FIXPOINT via ``graph.connected_components`` (pointer
    jumping, O(log diameter) rounds, change-detected, 50-round bound) —
    exact for ANY component shape, which is what the oracle-replayed
    keep-best pipelines require (their DuckDB oracles compute the full
    recursive transitive closure; a fixed iters silently diverges on a
    chain deeper than iters hops — ADVICE r12).

    Lineage discipline (measured on the sf0.1 bench pipeline): the input
    pair lineage is typically expensive (LSH verify joins), and the
    symmetric edge union would execute it TWICE — checkpoint the pair set
    once and derive both edge directions from the checkpoint. Each
    iteration then checkpoints its label table: round N's plan would
    otherwise nest N copies of the edge join and re-run them all at the
    final action, while an eager checkpoint makes every round O(1) jobs
    over executor-local blocks — no driver collect, any scale.

    Bounded-graph fast path (operators/graph.py's ``pin_probe_edges`` +
    ``driver_fixpoint`` — round 10 unified the six hand-rolled copies):
    the update is a pure min over labels, so ``iters`` driver-side rounds
    are trivially identical to the join plan when the pair set fits under
    ``max_driver_edges`` — the helper pins before it probes, which is
    also this function's standing lineage discipline. NULL-endpoint pairs
    identify nothing and are dropped on BOTH paths (round-10 ADVICE: the
    fast path previously raised TypeError on a NULL id while the join
    plan silently dropped it). Near-dup pair sets are small at every
    corpus scale whenever dup rate is low; ``max_driver_edges=0`` forces
    the joins."""
    from dampr_spark.operators.graph import (
        _common_id_type,
        _undirected_adj,
        connected_components,
        driver_fixpoint,
        pin_probe_edges,
    )

    if iters == "converge":
        # Full-closure mode: components to fixpoint (pointer jumping +
        # change detection, driver fast path included) — exactly the
        # recursive-CTE closure the keep-best oracles compute.
        return connected_components(
            pairs,
            src="id_a",
            dst="id_b",
            max_driver_edges=max_driver_edges,
        ).select("id", F.col("component").alias("canonical"))

    p, small = pin_probe_edges(
        pairs.select("id_a", "id_b").filter(
            F.col("id_a").isNotNull() & F.col("id_b").isNotNull()
        ),
        max_driver_edges,
    )
    id_type = _common_id_type(p, "id_a", "id_b")
    if small is not None and id_type is not None:
        from pyspark.sql.types import StructField, StructType

        nbrs = _undirected_adj(small, "id_a", "id_b")

        def step(labels: dict) -> tuple[dict, bool]:
            new = {
                v: min(labels[v], min((labels[n] for n in ns), default=labels[v]))
                for v, ns in nbrs.items()
            }
            return new, new != labels

        return driver_fixpoint(
            pairs.sparkSession,
            StructType(
                [StructField("id", id_type), StructField("canonical", id_type)]
            ),
            {v: v for v in nbrs},
            step,
            lambda labels: sorted(labels.items()),
            iters=iters,
        )

    edges = p.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).union(
        p.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        # pin(), not raw localCheckpoint: per-round pins in a fixpoint
        # loop must persist-then-checkpoint (the Catalyst stats snowball,
        # operators/pinning.py) and honor the reliable-checkpoint knob.
        labels = pin(
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
        )
    return labels.select("id", F.col("label").alias("canonical"))


def drop_near_dups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    iters: int | str = 3,
) -> DataFrame:
    """Filtering companion to the near-dup pair generators: keep one
    canonical (min-id) row per near-dup cluster, plus every row in no
    cluster — the step that actually shrinks a training corpus. Join cost:
    the cluster table is ~|dup ids| rows, typically a small fraction of the
    corpus, and broadcasts."""
    clusters = near_dup_clusters(pairs, iters)
    losers = clusters.filter(F.col("id") != F.col("canonical")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def drop_near_dups_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score: Column,
    id_col: str = "doc_id",
    iters: int | str = 3,
) -> DataFrame:
    """Quality-aware near-dup collapse: keep the HIGHEST-``score`` member
    of every near-dup cluster (ties -> lowest id), plus every unclustered
    row — the near-dup twin of exact ``keep-best`` dedup (a crawl usually
    holds one clean copy and several mangled ones; min-id keep is
    arbitrary, keep-best keeps the clean one). Representative selection is
    a component-keyed max_by aggregate (no window sort); the loser table
    is ~|dup ids| rows and broadcasts into the anti-join."""
    clusters = near_dup_clusters(pairs, iters)
    scored = clusters.join(
        df.select(F.col(id_col).alias("id"), score.alias("_q")), "id"
    )
    winners = scored.groupBy("canonical").agg(
        F.max_by(
            F.col("id"), F.struct(F.col("_q"), (-F.col("id")).alias("_neg"))
        ).alias("keep_id")
    )
    losers = (
        clusters.join(
            winners, clusters.canonical == winners.canonical
        )
        .filter(F.col("id") != F.col("keep_id"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_votes(col: str = "text", bits: int = 64) -> Column:
    """SimHash bit votes: per (distinct) token a 64-bit xxhash64; each bit
    position accumulates +1/−1 across tokens. One pass over the token array
    (single JVM aggregate producing an int array), no UDF."""
    toks = F.array_distinct(F.split(F.col(col), " "))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    # Literal bit masks; bit 63 is the sign bit of a signed long.
    masks = F.array(
        *[F.lit((1 << p) if p < 63 else -(1 << 63)) for p in range(bits)]
    )
    zeros = F.array_repeat(F.lit(0), bits)
    return F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                masks, lambda m: F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)
            ),
            lambda a, b: a + b,
        ),
    )


def simhash_bands(votes: Column, bits: int = 64) -> Column:
    """Pack a vote vector into ``bits/16`` 16-bit band values — the banded
    fingerprint used for pigeonhole hamming search. Feed a *materialized*
    votes column (not the raw expression) so the aggregate runs once."""
    pow2 = F.array(*[F.lit(1 << i) for i in range(16)])
    return F.transform(
        F.sequence(F.lit(0), F.lit(bits // 16 - 1)),
        lambda b: F.aggregate(
            F.zip_with(
                F.slice(votes, b * 16 + 1, 16),
                pow2,
                lambda v, pw: F.when(v > 0, pw).otherwise(F.lit(0)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ),
    )


def _simhash_geometry(bits: int, bands: int) -> int:
    """Validate a (bits, bands) fingerprint geometry; returns band width.
    Width is capped at 62 so a packed band value always fits a signed
    long (the join key / xor-popcount type)."""
    if bits < 1 or bands < 1 or bits % bands:
        raise ValueError(
            f"bands={bands} must be a positive divisor of bits={bits}"
        )
    width = bits // bands
    if width > 62:
        raise ValueError(
            f"band width {width} exceeds 62 (packed band must fit a long); "
            "use more bands or fewer bits"
        )
    return width


def _simhash_remix(h, k: int):
    """splitmix64 finalizer over ``h ^ k*golden`` — the ONE remix recipe
    both simhash UDFs share (factored round 15, ADVICE r14: the
    single-geometry and multi-geometry paths previously duplicated this
    verbatim, and any drift would silently break the per-geometry
    bit-identity ``lsh_band_audit`` relies on). Standard recipe for
    deriving independent 64-bit hash streams from one hash."""
    import numpy as np

    z = h ^ (np.uint64(0x9E3779B97F4A7C15) * np.uint64(k))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _simhash_vote_signs(hash_arrays, bits: int):
    """Shared vote-matrix builder (factored round 15, ADVICE r14): from a
    pandas Series of per-document token-hash arrays, return
    ``(nulls, pos)`` — the per-row null mask and the (n, bits) boolean
    positive-vote matrix. Bit plane 0 reads the raw token hash; plane k
    (bits 64k..64k+63) reads the k-th :func:`_simhash_remix` — identical
    math for every geometry, which is what lets the multi-geometry UDF
    pack each config's prefix of one shared matrix."""
    import numpy as np

    n = len(hash_arrays)
    nulls = np.fromiter((h is None for h in hash_arrays), dtype=bool, count=n)
    lengths = np.fromiter(
        (0 if h is None else len(h) for h in hash_arrays),
        dtype=np.int64,
        count=n,
    )
    votes = np.zeros((n, bits), dtype=np.int64)
    nonempty = lengths > 0
    if nonempty.any():
        flat = np.concatenate(
            [
                np.asarray(h, dtype=np.int64)
                for h in hash_arrays
                if h is not None and len(h)
            ]
        ).view(np.uint64)
        # bit matrix: (total_tokens, bits) of 0/1 → votes 2*ones - count.
        planes = []
        for k in range((bits + 63) // 64):
            hk = flat if k == 0 else _simhash_remix(flat, k)
            nb = min(64, bits - 64 * k)
            sh = np.arange(nb, dtype=np.uint64)
            planes.append((hk[:, None] >> sh[None, :]) & np.uint64(1))
        ones = planes[0] if len(planes) == 1 else np.concatenate(planes, axis=1)
        offsets = np.zeros(n, dtype=np.int64)
        np.cumsum(lengths[:-1], out=offsets[1:])
        sums = np.add.reduceat(ones.astype(np.int64), offsets[nonempty], axis=0)
        votes[nonempty] = 2 * sums - lengths[nonempty, None]
    return nulls, votes > 0


def simhash_bands_udf(bits: int = 64, bands: int = 4):
    """Arrow-vectorized hot path for ``simhash_bands(simhash_votes(...))``:
    takes the per-document array of 64-bit token hashes (computed JVM-side —
    ``transform(array_distinct(split(text)), xxhash64)`` is one cheap
    interpreted pass) and produces the ``bands``×``bits/bands``-bit banded
    fingerprint in one numpy pass per batch. At the 64/4 default it is
    bit-exact to the SQL spec form (simhash_votes→simhash_bands): per bit
    position a +1/−1 vote per token hash, band value packs the
    positive-vote bits.

    Wider fingerprints (round 11, VERDICT r10 #6): ``bits`` may exceed 64
    — bit planes past the first 64 are derived from the same token hash
    via splitmix64 finalizer remixes (vectorized, deterministic), giving
    each token ``bits`` independent hash bits without a second JVM hash
    pass. This is the structural remedy for the 4×16 pigeonhole floor the
    100x proof measured (2^16 buckets per band ⇒ quadratic raw budget
    past ~1e5 docs regardless of data): 24-bit bands give 2^24 buckets
    per band, 16.7M — the floor recedes by 256x per band.

    Why a UDF: the SQL form's 64-mask ``zip_with`` aggregate runs
    interpreted per token, and CollapseProject inlines the vote aggregate
    into each band expression — the corpus pays the aggregate per band.
    Here the (tokens × bits) work is two vectorized numpy ops (measured
    ~5× faster at sf0.1, and it no longer multiplies with downstream
    column references)."""
    width = _simhash_geometry(bits, bands)
    key = ("bands", bits, bands)
    if key in _SIG_UDF_CACHE:
        return _SIG_UDF_CACHE[key]

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    n_bands = bands
    pow2 = (np.uint64(1) << np.arange(width, dtype=np.uint64)).astype(np.int64)

    @series_udf(T.ArrayType(T.LongType()))
    def bands_udf(hash_arrays):
        n = len(hash_arrays)
        if n == 0:
            return pd.Series([], dtype=object)
        # null token array (null text) → null fingerprint, matching the SQL
        # spec form so posexplode drops the row instead of bucketing nulls.
        nulls, pos = _simhash_vote_signs(hash_arrays, bits)
        out = np.empty((n, n_bands), dtype=np.int64)
        for b in range(n_bands):
            out[:, b] = pos[:, b * width : (b + 1) * width] @ pow2
        return pd.Series([None if nulls[i] else out[i] for i in range(n)])

    _SIG_UDF_CACHE[key] = bands_udf
    return bands_udf


def simhash_multi_bands_udf(configs: tuple[tuple[int, int], ...]):
    """Multi-geometry twin of :func:`simhash_bands_udf` (round 14): ONE
    Arrow pass emitting the banded fingerprint for SEVERAL (bits, bands)
    geometries as ``array<array<long>>`` (one inner array per config,
    in ``configs`` order).

    Bit planes are shared by construction — plane 0 is the raw token
    hash and plane k is the k-th splitmix64 remix, for every geometry —
    so the (tokens × max_bits) vote matrix is computed ONCE and each
    geometry packs its own prefix of it. Per config the packed band
    values are bit-identical to ``simhash_bands_udf(bits, bands)``
    (pinned by tests). :func:`lsh_band_audit` uses this to price g
    geometries with one corpus scan + one vote pass instead of g."""
    cfgs = tuple((int(b), int(g)) for b, g in configs)
    if not cfgs:
        raise ValueError("configs must be a non-empty tuple of (bits, bands)")
    widths = [_simhash_geometry(b, g) for b, g in cfgs]
    key = ("multibands", cfgs)
    if key in _SIG_UDF_CACHE:
        return _SIG_UDF_CACHE[key]

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    max_bits = max(b for b, _ in cfgs)
    pows = [
        (np.uint64(1) << np.arange(w, dtype=np.uint64)).astype(np.int64)
        for w in widths
    ]

    @series_udf(T.ArrayType(T.ArrayType(T.LongType())))
    def multi_bands_udf(hash_arrays):
        n = len(hash_arrays)
        if n == 0:
            return pd.Series([], dtype=object)
        # ONE shared vote matrix at max(bits); each geometry packs its
        # own prefix — same helper as simhash_bands_udf, so the
        # per-geometry values cannot drift (ADVICE r14).
        nulls, pos = _simhash_vote_signs(hash_arrays, max_bits)
        outs = []
        for (bits_c, bands_c), width, pw in zip(cfgs, widths, pows):
            out = np.empty((n, bands_c), dtype=np.int64)
            for b in range(bands_c):
                out[:, b] = pos[:, b * width : (b + 1) * width] @ pw
            outs.append(out)
        return pd.Series(
            [
                None if nulls[i] else [o[i] for o in outs]
                for i in range(n)
            ]
        )

    _SIG_UDF_CACHE[key] = multi_bands_udf
    return multi_bands_udf


def simhash(col: str = "text", bits: int = 64) -> Column:
    """64-bit SimHash as an array of four 16-bit band ints. Convenience
    single-expression form; inside a plan prefer
    ``withColumn("votes", simhash_votes(...))`` + ``simhash_bands(col("votes"))``
    so the token aggregate isn't re-evaluated per band."""
    return simhash_bands(simhash_votes(col, bits), bits)


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = 1000,
    bits: int = 64,
    bands: int = 4,
    salt_bucket: int = 128,
) -> DataFrame:
    """Near-dup pairs by SimHash: documents sharing any band are
    candidates (pigeonhole: hamming ≤ bands-1 ⇒ at least one band
    identical); verify with full hamming distance.

    ``bits``/``bands`` (round 11, VERDICT r10 #6) turn the fingerprint
    geometry into a knob instead of a migration: the default 4×16-bit
    banding has a 2^16-buckets-per-band pigeonhole floor that makes the
    raw candidate budget quadratic past ~1e5 docs on ANY corpus (measured
    183x at the 100x proof; benchmarks/lsh_scale_proof_100x.py). Wider
    bands recede the floor by 2^(width-16) per band — e.g. bits=96,
    bands=4 (24-bit bands) gives 16.7M buckets/band; bits=96, bands=6
    keeps 16-bit bands but raises the guaranteed-recall radius to
    hamming ≤ 5. The pigeonhole guarantee requires max_hamming < bands
    (validated). Bit planes past 64 derive deterministically from the
    same token hashes (see simhash_bands_udf).

    Candidate generation is a self-join on (band, band_val) — NOT the
    collect_list-bucket shape minhash uses. SimHash's fixed 16-bit bands are
    far less selective than tuned MinHash bands (a sf0.1 corpus already has
    buckets of 800+ docs, ~1.5M candidate pairs), so materializing each
    bucket's B²/2 pair array in a single row would concentrate quadratic
    interpreted array work in one task; the join streams the same pairs
    through codegen'd operators distributed across tasks. Measured at
    sf0.1 on 4 cores, the in-row :func:`_bucket_pairs` shape took this
    operator from 1.95 to 2.99 s (+53%), so it keeps the salted join.

    ``max_bucket`` is the skew guard: a bucket with B docs emits B²/2 join
    rows landing on ONE key, so a boilerplate band value shared corpus-wide
    (template spam) is the scale killer. Over-cap buckets are identified with
    a cheap count aggregate and anti-joined away from both sides before the
    pair join. The over-cap list is bounded by corpus_bands/max_bucket rows —
    tiny, so AQE turns the anti-join into a broadcast. Dropping a band this
    common loses no real signal (exact template dups belong to exact_dedup).
    The hamming verify runs on band columns carried through the join —
    codegen'd bit_count/xor over longs, no second pass over the corpus.
    :func:`lsh_band_audit` (include_simhash=True, simhash_configs=...)
    prices each candidate banding's bucket occupancy and the cap's
    dropped mass before the pair join."""
    _check_salt_bucket(salt_bucket)
    _simhash_geometry(bits, bands)
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands > max_hamming "
            f"(pigeonhole recall guarantee); got bands={bands}"
        )
    n_bands = bands
    # Eager local checkpoint: three consumers (bucket sizing + both join
    # sides) read the banded signatures; checkpointing computes the
    # interpreted vote aggregate once and truncates the lineage (same
    # rationale as minhash_lsh_dedup's candidate checkpoint).
    # Token hashes JVM-side (cheap single interpreted pass), vote+band
    # packing Arrow-vectorized — see simhash_bands_udf for why the pure-SQL
    # form (simhash_votes → simhash_bands) is the slow path here.
    tok_hashes = F.transform(
        F.array_distinct(F.split(F.col(text_col), " ")), lambda t: F.xxhash64(t)
    )
    banded = (
        _ensure_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            simhash_bands_udf(bits, bands)(tok_hashes).alias("sh"),
        )
        .select(
            "id",
            *[F.col("sh")[i].alias(f"b{i}") for i in range(n_bands)],
            F.posexplode("sh").alias("band", "band_val"),
        )
        .localCheckpoint(eager=True)
    )
    # Hot-band skew guard v2 (round 15, VERDICT r14 #5, guide §2.5): the
    # anti-join cap bounds the WORST bucket, but a sub-cap bucket of B
    # docs still emits B²/2 join rows through ONE (band, band_val) hash
    # partition — at sf0.1 the fullest simhash band bucket holds 800+
    # docs (~0.5M pairs in one task class), and AQE's skew-join splitter
    # never fires because its 256 MB threshold sees the tiny INPUT
    # bytes, not the quadratic OUTPUT. Buckets larger than
    # ``salt_bucket`` are therefore TRIANGLE-SALTED: each doc gets a
    # deterministic chunk c = pmod(xxhash64(id), nc) with
    # nc = ceil(B / salt_bucket); the left leg replicates a row into
    # combos (c, j) for j ≥ c and the right leg into (i, c) for i ≤ c,
    # so the join key (band, band_val, i, j) spreads one bucket's pair
    # fan-out over nc·(nc+1)/2 independent hash keys, each emitting at
    # most ~salt_bucket² pairs. The candidate PAIR SET is unchanged
    # (locked by tests/test_round15_opt.py against the unsalted shape):
    # a pair with chunks (cx ≤ cy) meets in exactly combo (cx, cy) —
    # once for cx < cy (ids normalized via least/greatest; hamming is
    # xor-symmetric so orientation is irrelevant), and both orientations
    # in the diagonal combo, where the id_a < id_b filter keeps one.
    # NULL fingerprints never reach either path (posexplode drops them).
    # salt_bucket above max_bucket would carve sub-cap buckets out of
    # the ``flagged`` superset and silently disable the hot cap; clamp
    # so flagged ⊇ hot always (salt_bucket == max_bucket disables
    # salting outright — the equivalence test's control arm).
    salt_bucket = min(salt_bucket, max_bucket)
    sizes = banded.groupBy("band", "band_val").agg(
        F.count(F.lit(1)).alias("_bsz")
    )
    flagged = (
        sizes.filter(F.col("_bsz") > salt_bucket)
        # Bounded pin: ≤ corpus_bands / salt_bucket rows (each flagged
        # bucket holds > salt_bucket docs); feeds the hot anti-join AND
        # the warm tag join without re-running the size aggregate.
        .localCheckpoint(eager=True)
    )
    # ONE join pipeline for cold AND salted buckets (the round-15 first
    # cut split the rows into two pipelines, which re-ran the
    # anti/tag joins per leg and doubled the warm rows through two
    # extra explodes — caught by the bench at +90% on simhash_dedup and
    # unified here): a single broadcast left join against the bounded
    # flagged table both DROPS over-cap buckets (the old anti-join,
    # now a filter on the joined _bsz) and attaches the chunk count
    # (nc = 1 for buckets at or under salt_bucket); rows chunk
    # deterministically (§2.5: never rand() — retried map tasks must
    # reproduce the assignment), and the two sides explode their combo
    # ranges. A cold row's ranges are both [0], so it appears exactly
    # once per side and the join key degenerates to the old
    # (band, band_val) join with a constant (0, 0) suffix.
    rows = (
        banded.join(F.broadcast(flagged), ["band", "band_val"], "left")
        .filter(F.col("_bsz").isNull() | (F.col("_bsz") <= max_bucket))
        .withColumn(
            "_nc",
            F.when(
                F.col("_bsz").isNotNull(),
                F.ceil(F.col("_bsz") / F.lit(salt_bucket)).cast("int"),
            ).otherwise(F.lit(1)),
        )
        .withColumn(
            "_c", F.pmod(F.xxhash64(F.col("id")), F.col("_nc")).cast("int")
        )
    )
    hamming = sum(
        F.bit_count(F.col(f"a_b{i}").bitwiseXOR(F.col(f"c_b{i}")))
        for i in range(n_bands)
    )
    a = rows.select(
        F.col("id").alias("id_a"), "band", "band_val",
        *[F.col(f"b{i}").alias(f"a_b{i}") for i in range(n_bands)],
        F.col("_c").alias("_ci"),
        F.explode(F.sequence(F.col("_c"), F.col("_nc") - 1)).alias("_cj"),
    )
    c = rows.select(
        F.col("id").alias("id_b"), "band", "band_val",
        *[F.col(f"b{i}").alias(f"c_b{i}") for i in range(n_bands)],
        F.explode(F.sequence(F.lit(0), F.col("_c"))).alias("_ci"),
        F.col("_c").alias("_cj"),
    )
    return (
        a.join(c, ["band", "band_val", "_ci", "_cj"])
        # Diagonal combos (cold rows always; warm in-chunk) see both
        # orientations — keep a < b; cross combos see exactly one
        # orientation — normalize via least/greatest (hamming is
        # xor-symmetric, so orientation never changes it).
        .filter(
            (F.col("_ci") != F.col("_cj"))
            | (F.col("id_a") < F.col("id_b"))
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _sorted_struct_pairs(docs: Column) -> Column:
    # Bind the SORTED array once as a lambda variable (round 14): the
    # previous shape captured `array_sort(docs)` inside the lambda body,
    # and captured expressions re-evaluate per element (the
    # word_ngram_strings discipline) — every posting was re-SORTED B
    # times, O(B²·log B) comparisons per bucket where the pair fan-out
    # itself is O(B²). Wrapping the sorted array in a 1-element array and
    # transforming over it makes `s` a bound lambda variable, which
    # reads the already-computed value. Output identical (same pairs,
    # same order; NULL/[] propagate unchanged).
    return F.get(
        F.transform(
            F.array(F.array_sort(docs)),
            lambda s: F.flatten(
                F.transform(
                    s,
                    lambda a, i: F.transform(
                        F.slice(
                            s, i + 2, F.greatest(F.size(s) - i - 1, F.lit(0))
                        ),
                        lambda b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                )
            ),
        ),
        0,
    )


def _bucket_pairs(
    rows: DataFrame,
    key: list[str],
    payload: tuple[str, ...] | list[str] = (),
    max_bucket: int | None = None,
    salt_bucket: int | None = None,
) -> DataFrame:
    """Every member pair of every bucket — the one "bucket → all pairs"
    step of the blocked operators. ``rows`` carry an ``id`` column plus
    the ``key`` and ``payload`` columns; they group by ``key`` into
    member lists, buckets of 2..``max_bucket`` members survive (no upper
    cap when None), and each emits one ``(*key, a, b)`` row per pair of
    member positions with ``a <= b``. A member is ``struct(id,
    *payload)``, or the bare id when there is no payload (NULL ids then
    drop out, as ``collect_list`` skips them; pairing plain longs took
    ``common_substring_dups`` from 1.88 to 1.74 s against one-field
    structs, sf0.1 on 4 cores). Ids sort first, so members sharing an id
    but not a payload (the substring finder's within-doc ``(id, pos)``
    occurrences) still pair; callers wanting distinct ids filter
    ``a.id < b.id``.

    A bucket's pairs are built in its row, so one task holds its whole
    C(B, 2) fan-out. ``salt_bucket`` bounds that: every bucket splits
    into sorted chunks of ``salt_bucket`` members, one row per (i <= j)
    chunk combo, repartitioned by ``(*key, i, j)`` before the explode,
    so a combo emits at most ~salt_bucket² pairs. The pair multiset is
    unchanged — in-chunk combos emit their ordered pairs, and a cross
    combo (i < j) emits the full ci × cj product, every member of chunk
    i sorting at or before every member of chunk j. The repartition
    shuffles every bucket, so only a caller whose buckets go hot passes
    it: salting ``ngram_jaccard_pairs`` (capped buckets) cost +29%."""
    key = list(key)
    size = F.size("_m")
    keep = size >= 2 if max_bucket is None else size.between(2, max_bucket)
    buckets = (
        rows.groupBy(*key)
        .agg(F.collect_list(F.struct("id", *payload) if payload else "id").alias("_m"))
        .filter(keep)
    )
    if salt_bucket is None:
        pairs = _sorted_struct_pairs(F.col("_m"))
    else:
        nc = F.ceil(size / F.lit(salt_bucket)).cast("int")
        combos = F.flatten(
            F.transform(
                F.sequence(F.lit(0), nc - 1),
                lambda i: F.transform(
                    F.sequence(i, nc - 1),
                    lambda j: F.struct(i.alias("i"), j.alias("j")),
                ),
            )
        )

        def chunk(c: str) -> Column:
            return F.slice(F.col("_s"), F.col(c) * salt_bucket + 1, salt_bucket)

        buckets = (
            buckets.select(*key, F.array_sort("_m").alias("_s"), F.explode(combos).alias("_c"))
            .select(
                *key,
                F.col("_c.i").alias("_i"),
                F.col("_c.j").alias("_j"),
                chunk("_c.i").alias("_ci"),
                chunk("_c.j").alias("_cj"),
            )
            # Keyed deterministically (§2.5 — never rand()): a retried task
            # must reproduce its combos.
            .repartition(*key, "_i", "_j")
        )
        cross = F.flatten(
            F.transform(
                F.col("_ci"),
                lambda a: F.transform(
                    F.col("_cj"), lambda b: F.struct(a.alias("a"), b.alias("b"))
                ),
            )
        )
        pairs = F.when(
            F.col("_i") == F.col("_j"), _sorted_struct_pairs(F.col("_ci"))
        ).otherwise(cross)
    return buckets.select(*key, F.explode(pairs).alias("_p")).select(
        *key, F.col("_p.a").alias("a"), F.col("_p.b").alias("b")
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (the non-approximate baseline)
# ---------------------------------------------------------------------------


def word_ngrams(col: str, n: int = 3) -> Column:
    # O(n·len) shared gram expression (round 14 — the quadratic
    # slice-in-lambda shape is retired; see
    # functions.text.word_ngram_strings). NULL-text contract (corrected
    # round 15, ADVICE r14): the RETIRED transform shape returned ['']
    # on NULL text (size(NULL) = -1 made its sequence emit one slot and
    # concat_ws folded the NULL slice to ''); the coalesce below maps
    # NULL text to [] instead — a DELIBERATE behavior change, kept
    # because an empty gram set is the honest reading of "no content"
    # and the '' gram spuriously paired NULL-text docs with empty-text
    # docs in explode_outer posting paths. No query path can observe the
    # difference: every caller in operators/, plans/ and streaming/
    # filters text IS NOT NULL before building grams (verified round 15;
    # oracle parity green across all 255 queries with the [] semantics).
    from dampr_spark.functions.text import word_ngram_strings

    return F.array_distinct(
        F.coalesce(
            word_ngram_strings(col, n), F.array().cast("array<string>")
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_posting: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard via posting-list self-join: explode n-grams,
    pair ids sharing a gram, count shared grams per pair, then
    J = |∩| / (|A| + |B| − |∩|). No O(N²) compare — cost is bounded by
    posting-list sizes.

    ``max_posting`` is the hot-gram (skew) mitigation: grams whose posting
    list exceeds the cap are dropped before pairing, bounding the worst
    per-gram pair fan-out at C(max_posting, 2). A stopword-like gram shared
    by k docs otherwise emits k² pairs into one task — the classic skew
    killer at corpus scale. Dropping a gram can only *undercount*
    intersections (Jaccard biased low → fewer pairs, never false ones);
    with the cap above the longest posting list the output is exactly the
    uncapped result (tests/test_dedup.py::test_ngram_hot_gram_cap)."""
    return (
        _gram_overlaps(df, text_col, id_col, n, max_posting)
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _gram_overlaps(
    df: DataFrame, text_col: str, id_col: str, n: int, max_posting: int | None
) -> DataFrame:
    """``(id_a, id_b, n_a, n_b, inter)``: shared distinct n-gram count per
    doc pair with each side's gram count — the posting-overlap body of
    :func:`ngram_jaccard_pairs` and :func:`ngram_containment_pairs`."""
    # Single-scan posting-list pairing: each doc's gram count rides along the
    # explode, postings group by gram, and in-bucket id pairs aggregate to
    # intersection counts — ONE evaluation of the (interpreted, expensive)
    # word_ngrams expression and two narrow shuffles, vs. a two-lineage
    # self-join that re-evaluates it per side plus size joins. explode_outer
    # on purpose: plain explode adds an implicit `size(arr) > 0` filter that
    # predicate pushdown rewrites to re-evaluate the whole ngram expression a
    # second time per row (word_ngrams never yields an empty array, so outer
    # adds no rows). Hot-gram skew is the known risk at scale — cap or drop
    # the top-frequency grams first (stopword pruning) on real corpora.
    # Null texts emit nothing (concat_ws would silently fold NULL into the
    # empty-string gram, spuriously pairing null docs with empty docs —
    # minhash/simhash already treat null as "no content").
    df = df.filter(F.col(text_col).isNotNull())
    grams = _ensure_parallelism(df).withColumn("_arr", word_ngrams(text_col, n)).select(
        F.col(id_col).alias("id"),
        F.size("_arr").alias("n_grams"),
        F.explode_outer("_arr").alias("gram"),
    )
    return (
        _bucket_pairs(grams, ["gram"], ["n_grams"], max_bucket=max_posting)
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_grams").alias("n_a"),
            F.col("b.n_grams").alias("n_b"),
        )
        .agg(F.count("*").alias("inter"))
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (corpus × bench gram joins)
# ---------------------------------------------------------------------------


def hot_bench_grams(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    max_df: int = 1000,
) -> DataFrame:
    """The grams the ``max_df`` cap would drop — bench grams whose corpus
    document frequency exceeds the cap — as a one-column ``gram`` frame,
    pinned. This IS the cap's pricing pass (the same cf aggregate
    :func:`contamination_posting_audit` runs): compute it ONCE, then feed
    it to :func:`ngram_contamination` / :func:`fuzzy_contamination` via
    ``hot_grams=`` so the production join pays no second frequency pass —
    the audit-then-run flow costs audit + uncapped-join, not audit +
    (frequency pass + join). The frame is bounded by the bench gram count
    (eval-suite sized), so it broadcasts. It carries a ``gram_width``
    literal column the consumers validate against their own ``n`` — a hot
    frame built at the wrong width (e.g. this function's bigram default
    fed to the trigram contamination check) would otherwise anti-join
    NOTHING and silently run uncapped."""
    c = corpus.filter(F.col(text_col).isNotNull())
    b = bench.filter(F.col(text_col).isNotNull())
    bench_set = (
        b.select(F.explode_outer(word_ngrams(text_col, n)).alias("gram"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return (
        _ensure_parallelism(c)
        .select(F.explode_outer(word_ngrams(text_col, n)).alias("gram"))
        .join(F.broadcast(bench_set), "gram", "left_semi")
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_cf"))
        .filter(F.col("_cf") > max_df)
        .select("gram", F.lit(n).cast("int").alias("gram_width"))
        .localCheckpoint(eager=True)
    )


def _bench_gram_filter(
    corpus_grams: DataFrame,
    bench_grams: DataFrame,
    max_df: int | None,
    hot_grams: DataFrame | None = None,
    n: int | None = None,
) -> DataFrame:
    """Apply the posting cap: drop bench grams whose CORPUS document
    frequency exceeds ``max_df`` — the decontamination twin of
    ``ngram_jaccard_pairs``' ``max_posting`` hot-gram guard. A
    stopword-like gram ("of the", "in a") matches essentially every
    corpus document: it multiplies the join by cf(g) rows while carrying
    zero contamination signal (leakage is identified by RARE shared
    grams). Capping can only lower per-doc overlap counts — never invent
    a hit. Size the cap with :func:`contamination_posting_audit`.

    Cost note: the cap's premium is one extra corpus gram pass (cf must
    be counted before the join it prunes — inherent, and exactly what
    the audit prices). The frequency AGGREGATE is semi-joined to the
    broadcast bench gram set first, so only bench-matching gram rows
    (typically a tiny corpus fraction) enter its exchange — cf values
    for those grams are identical either way. A precomputed ``hot_grams``
    frame (:func:`hot_bench_grams` — the audit-then-run flow) skips the
    pass entirely; its ``gram_width`` tag is validated against ``n`` so a
    width mismatch fails fast instead of silently disabling the cap."""
    if hot_grams is not None:
        if n is not None and "gram_width" in hot_grams.columns:
            # The hot frame is bounded and pinned — this probe is one
            # cheap local-block read, paid once per operator call.
            row = hot_grams.select("gram_width").first()
            if row is not None and row[0] != n:
                raise ValueError(
                    f"hot_grams was built at gram width {row[0]} but this "
                    f"operator uses n={n} — the anti-join would drop "
                    "nothing and the run would proceed UNCAPPED. Rebuild "
                    "hot_bench_grams with the matching n."
                )
        return bench_grams.join(
            F.broadcast(hot_grams.select("gram")), "gram", "left_anti"
        )
    if max_df is None:
        return bench_grams
    bench_set = bench_grams.select("gram").distinct()
    hot = (
        corpus_grams.join(F.broadcast(bench_set), "gram", "left_semi")
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_cf"))
        .filter(F.col("_cf") > max_df)
        .select("gram")
    )
    return bench_grams.join(hot, "gram", "left_anti")


def ngram_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int | None = None,
    hot_grams: DataFrame | None = None,
) -> DataFrame:
    """Exact benchmark decontamination: per corpus document, the fraction
    of its distinct word ``n``-grams appearing ANYWHERE in the benchmark
    set — ``(doc_id, n_grams, n_shared, contamination)``. The GPT-3/Llama
    n-gram contamination check, generalized from the
    ``decontaminate_ngram`` catalog query (which binds corpus/bench to the
    ``doc_id % 97`` split of the documents table).

    Plan shape for 100 TB: the bench side is an eval suite — bounded, so
    its DISTINCT gram set broadcasts; one corpus scan explodes grams and
    the broadcast join marks hits in place; the only shuffle is the
    per-doc count aggregate, collapsed map-side. Work = Σ_g cf(g) over
    bench grams — linear in the corpus with a constant set by how COMMON
    the bench grams are: ``max_df`` (with
    :func:`contamination_posting_audit` as the sizing instrument) caps
    that constant when the gram width is too narrow for the corpus.
    NULL-text docs are dropped (grams undefined)."""
    c = corpus.filter(F.col(text_col).isNotNull())
    b = bench.filter(F.col(text_col).isNotNull())
    corpus_grams = _ensure_parallelism(c).select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(word_ngrams(text_col, n)).alias("gram"),
    )
    bench_grams = (
        b.select(F.explode_outer(word_ngrams(text_col, n)).alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    bench_grams = _bench_gram_filter(corpus_grams, bench_grams, max_df, hot_grams, n)
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_shared"),
            F.round(F.count("_hit") / F.count(F.lit(1)), 6).alias(
                "contamination"
            ),
        )
    )


def fuzzy_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    tau: float = 0.05,
    max_df: int | None = None,
    hot_grams: DataFrame | None = None,
) -> DataFrame:
    """Fuzzy benchmark decontamination: flag a corpus document when its
    word-``n``-gram Jaccard with ANY bench document reaches ``tau``,
    reporting the worst offender — ``(doc_id, bench_doc_id, jaccard)``.
    The paraphrase-leakage complement of :func:`ngram_contamination`,
    generalized from the ``fuzzy_decontaminate`` catalog query.

    Plan shape for 100 TB: bench gram postings broadcast; candidate
    (doc, bench_doc) pairs only form for docs sharing a gram, and the
    shared-count aggregate collapses gram rows map-side before the one
    doc-keyed shuffle; the argmax is a groupBy max_by. Gram-set sizes
    RIDE ALONG the explode (the ``ngram_jaccard_pairs`` discipline), so
    the corpus is scanned exactly once with no checkpoint and — the
    round-10 fix — no corpus-sized size join back onto the pair table
    (the previous shape shuffled a (doc_id, n) frame the size of the
    corpus into the scoring join). Join work = Σ_g cf(g)·bf(g) — linear
    in the corpus for a FIXED eval suite, but the constant explodes when
    bench grams are stopword-common (narrow ``n`` on a big corpus):
    every corpus doc then pairs with every bench doc through "of the".
    ``max_df`` drops those signal-free grams (lowering Jaccard estimates
    only — never inventing a pair); :func:`contamination_posting_audit`
    prices the raw-vs-capped join BEFORE running, and widening ``n`` is
    the other knob."""
    # explode_outer on purpose (ngram_jaccard_pairs' documented gotcha):
    # plain explode adds an implicit size(arr)>0 filter that predicate
    # pushdown rewrites into a SECOND evaluation of the whole (expensive,
    # interpreted) ngram expression per row; word_ngrams never yields an
    # empty array, so outer adds no rows.
    corpus_grams = (
        _ensure_parallelism(corpus.filter(F.col(text_col).isNotNull()))
        .withColumn("_arr", word_ngrams(text_col, n))
        .select(
            F.col(id_col).alias("doc_id"),
            F.size("_arr").alias("na"),
            F.explode_outer("_arr").alias("gram"),
        )
    )
    bench_grams = (
        bench.filter(F.col(text_col).isNotNull())
        .withColumn("_arr", word_ngrams(text_col, n))
        .select(
            F.col(id_col).alias("bench_doc_id"),
            F.size("_arr").alias("nb"),
            F.explode_outer("_arr").alias("gram"),
        )
    )
    bench_grams = _bench_gram_filter(corpus_grams, bench_grams, max_df, hot_grams, n)
    # na/nb are functionally dependent on the ids: grouping by them adds
    # no groups and keeps the sizes available without any re-join.
    pairs = (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id", "bench_doc_id", "na", "nb")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    scored = (
        pairs.withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6
            ),
        )
        .filter(
            F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
            >= F.lit(tau)
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.max(
                F.struct(F.col("jaccard"), (-F.col("bench_doc_id")).alias("negb"))
            ).alias("m")
        )
        .select(
            "doc_id",
            (-F.col("m.negb")).alias("bench_doc_id"),
            F.col("m.jaccard").alias("jaccard"),
        )
    )


def contamination_posting_audit(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    max_df: int = 1000,
) -> DataFrame:
    """Price the decontamination join BEFORE paying for it — the
    posting-list twin of :func:`lsh_band_audit` /
    ``similarity.grid_resolution_audit`` (VERDICT r9 #4). One audit row:

    - ``n_bench_grams`` — distinct grams in the eval suite;
    - ``grams_matched`` — bench grams present in the corpus at all;
    - ``grams_over_cap`` — bench grams whose corpus document frequency
      exceeds ``max_df`` (the stopword-common mass ``max_df`` would drop);
    - ``raw_join_rows`` = Σ_g cf(g)·bf(g) — the exact row count the
      fuzzy pair join would stream uncapped;
    - ``capped_join_rows`` — the same sum over under-cap grams;
    - ``rows_dropped`` — what the cap saves.

    Cost: one corpus gram-frequency aggregate (linear scan, the same
    explode the production join pays) + a bounded bench-side count — no
    pair ever forms. When ``raw_join_rows`` reads as corpus×bench-shaped
    (every doc pairing with every bench doc), the knobs are ``max_df``
    (drop the hot grams) or a wider ``n`` (rarer grams); this audit
    re-run prices either choice."""
    c = corpus.filter(F.col(text_col).isNotNull())
    b = bench.filter(F.col(text_col).isNotNull())
    bf = (
        b.select(F.explode_outer(word_ngrams(text_col, n)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("bf"))
        .localCheckpoint(eager=True)  # bounded eval-suite grams; read twice
    )
    # cf is only consumed joined to bench grams, so only bench-matching
    # corpus gram rows need to enter the frequency exchange (a broadcast
    # semi-join on the exploded rows; values for those grams identical).
    cf = (
        _ensure_parallelism(c)
        .select(F.explode_outer(word_ngrams(text_col, n)).alias("gram"))
        .join(F.broadcast(bf.select("gram")), "gram", "left_semi")
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cf"))
    )
    joined = bf.join(cf, "gram", "left").select(
        "gram", "bf", F.coalesce(F.col("cf"), F.lit(0)).alias("cf")
    )
    over = F.col("cf") > max_df
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_bench_grams"),
        F.coalesce(F.sum(F.when(F.col("cf") > 0, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("grams_matched"),
        F.coalesce(F.sum(F.when(over, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("grams_over_cap"),
        F.coalesce(F.sum(F.col("cf") * F.col("bf")), F.lit(0))
        .cast("long")
        .alias("raw_join_rows"),
        F.coalesce(
            F.sum(F.when(~over, F.col("cf") * F.col("bf")).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("capped_join_rows"),
    ).select(
        "*",
        (F.col("raw_join_rows") - F.col("capped_join_rows")).alias(
            "rows_dropped"
        ),
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_posting: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs — Broder's asymmetric resemblance
    twin: score = |A ∩ B| / min(|A|, |B|). Jaccard misses subset
    duplication (a doc embedded whole inside a much longer one scores
    |A|/|B| << 1 on Jaccard but 1.0 on containment); this is the right
    measure for quote-inclusion, page-within-crawl, and chunk-of-document
    dup shapes. Same posting-list machinery, shuffles, and ``max_posting``
    hot-gram cap as :func:`ngram_jaccard_pairs` (the cap can only
    undercount — never false pairs)."""
    return (
        _gram_overlaps(df, text_col, id_col, n, max_posting)
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / F.least(F.col("n_a"), F.col("n_b")), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_cosine_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold (brute-force
    pairwise — exact baseline; use similarity.lsh_bucketed_pairs for the
    O(N·bucket) scale path). NULL/zero-norm vectors are excluded at entry
    (cosine is undefined for them)."""
    from dampr_spark.functions.vector import cosine, valid_vector

    df = df.filter(valid_vector(vec_col))
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("v_a"), F.col("v_b")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# shared token-window (common-substring) detection
# ---------------------------------------------------------------------------


def shared_window_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 8,
    min_shared: int = 2,
    max_posting: int = 16,
) -> DataFrame:
    """Document pairs sharing long verbatim token runs: any two documents
    with ≥ ``min_shared`` distinct ``window_tokens``-token windows in common
    (the scalable stand-in for suffix-array substring dedup — a shared
    50-token substring implies many shared fixed-size windows, so window
    matches are the detection primitive).

    Plan: explode each doc's distinct windows, group postings by window,
    pair ids in-bucket, count shared windows per pair. ``max_posting`` drops
    boilerplate windows (same skew guard as :func:`ngram_jaccard_pairs` —
    a window shared corpus-wide would emit k² pairs into one task; dropping
    it only undercounts, never fabricates pairs). One narrow shuffle on the
    window string, one on the id pair."""
    g = (
        _ensure_parallelism(df.filter(F.col(text_col).isNotNull()))
        .select(
            F.col(id_col).alias("id"),
            F.explode_outer(word_ngrams(text_col, window_tokens)).alias("gram"),
        )
    )
    return (
        _bucket_pairs(g, ["gram"], max_bucket=max_posting)
        .groupBy(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# incremental (new-shard vs historical-corpus) dedup
# ---------------------------------------------------------------------------


def drop_seen_exact(
    new_df: DataFrame,
    history_fps: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: drop new documents whose fingerprint already
    exists in the historical corpus, then drop within-shard exact dups
    (keep min-id). ``history_fps`` is a DataFrame with an ``fp`` column —
    the persisted fingerprint store a continuously-ingesting pipeline
    maintains (at 100 TB: a bucketed parquet table keyed on fp, so this
    anti-join is exchange-free on the history side).

    Two narrow shuffles on 32-byte digests; document bodies never move."""
    fp = new_df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    fresh = fp.join(history_fps.select("fp"), "fp", "left_anti")
    keep = fresh.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return new_df.join(keep.select(id_col), id_col, "left_semi")


def incremental_minhash_pairs(
    new_df: DataFrame,
    history_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    max_bucket: int = 1000,
) -> DataFrame:
    """Asymmetric LSH candidates: (new_id, hist_id) pairs sharing a MinHash
    band — near-dup detection of a NEW shard against the historical corpus
    without ever self-joining history (the history side's band table is
    computed once and reused/persisted across shards in a real pipeline).

    Same signature UDF and banding as :func:`minhash_lsh_candidates`; the
    join is new-bands ⋈ history-bands on (band, band_hash), so cost scales
    with |new| × bucket-hit-rate, not |history|². Hot historical buckets
    (boilerplate) are capped with ``max_bucket`` on the history side."""
    hist = _banded_signatures(
        history_df, text_col, id_col, num_perm, bands, shingle_k
    )
    hot = (
        hist.groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter(F.col("_bsz") > max_bucket)
        .select("band", "band_hash")
    )
    hist_pruned = hist.join(hot, ["band", "band_hash"], "left_anti").select(
        F.col("id").alias("hist_id"), "band", "band_hash"
    )
    new_bands = _banded_signatures(
        new_df, text_col, id_col, num_perm, bands, shingle_k
    ).select(F.col("id").alias("new_id"), "band", "band_hash")
    return (
        new_bands.join(hist_pruned, ["band", "band_hash"])
        .select("new_id", "hist_id")
        .distinct()
    )


# ---------------------------------------------------------------------------
# span-level (chunk) boilerplate removal
# ---------------------------------------------------------------------------


def remove_boilerplate_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 10,
    min_docs: int = 3,
) -> DataFrame:
    """Span-level boilerplate removal (the RefinedWeb/CCNet line-dedup shape
    at fixed-chunk granularity): every document is cut into consecutive
    ``chunk_tokens``-token chunks; a chunk appearing verbatim in ≥
    ``min_docs`` DISTINCT documents is boilerplate and is removed from ALL
    of them; survivors reassemble in original order.

    Output per input document (NULL-text rows are dropped): ``n_chunks``,
    ``n_removed``, ``n_tokens_after`` and ``clean_fp`` (md5 of the
    reassembled text — the content proof without shipping full strings).

    Plan: one narrow chunk projection → ONE shuffle keyed by the chunk
    string (distinct-doc counts) → anti-join → per-doc re-aggregation that
    reuses the id partitioning. Nothing holds more than one document's
    chunk list in memory; the hot set is corpus-shrink-sized (boilerplate
    is by definition repeated, so distinct hot chunks ≪ corpus chunks). At
    real scale the chunk JOIN KEY would be xxhash64(chunk) to keep the
    exchange narrow — kept as the raw string here so the DuckDB oracle can
    replay the identical plan."""
    toks = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("long")
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), n_chunks.alias("n_chunks"), toks.alias("_toks")
    )
    base = _ensure_parallelism(base)
    chunks = base.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_chunks")),
                lambda i: F.concat_ws(
                    " ", F.slice("_toks", (i - F.lit(1)) * chunk_tokens + 1, chunk_tokens)
                ),
            )
        ).alias("pos", "chunk"),
    # Eager pin: `chunks` feeds BOTH the hot-set aggregate and the anti-join
    # — without it the scan + split + explode lineage executes twice (plus
    # once more for the final accounting join below, which re-derives only
    # (id, n_chunks) through a column-pruned scan).
    ).localCheckpoint(eager=True)
    hot = (
        chunks.groupBy("chunk")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("chunk")
    )
    kept = chunks.join(hot, "chunk", "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.size(F.split("chunk", " "))).cast("long").alias("n_tokens_after"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "chunk"))),
                    lambda s: s.chunk,
                ),
            )
        ).alias("clean_fp"),
    )
    zero = F.lit(0).cast("long")
    return base.select(id_col, "n_chunks").join(agg, id_col, "left").select(
        id_col,
        "n_chunks",
        (F.col("n_chunks") - F.coalesce(F.col("n_kept"), zero)).alias("n_removed"),
        F.coalesce(F.col("n_tokens_after"), zero).alias("n_tokens_after"),
        F.coalesce(F.col("clean_fp"), F.md5(F.lit(""))).alias("clean_fp"),
    )


# ---------------------------------------------------------------------------
# blocked fuzzy (edit-distance) matching
# ---------------------------------------------------------------------------


def fuzzy_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_tokens: int = 2,
    prefix_chars: int = 80,
    max_distance: int = 25,
    max_block: int = 64,
) -> DataFrame:
    """Blocked edit-distance matching (the entity-resolution / fuzzy-join
    primitive): documents are BLOCKED on their first ``block_tokens`` tokens,
    and only same-block pairs are scored with Levenshtein distance over the
    first ``prefix_chars`` characters; pairs at distance ≤ ``max_distance``
    are emitted as ``(id_a, id_b, lev)``.

    The blocking is what makes edit distance survive corpus scale: the
    O(len²)-per-pair DP runs only inside blocks, never across the full N²
    — the standard blocking-key design from the record-linkage literature.
    ``max_block`` is the hot-block guard (same role as ``max_posting`` in
    :func:`ngram_jaccard_pairs`): a template-heavy block of k docs would
    emit k² DP comparisons into one task, so over-cap blocks are dropped —
    only ever undercounting, and a no-op when every block is under the cap
    (at the cap's default the current corpus max block is 4).

    Plan: narrow (id, block, prefix) projection → ONE shuffle on the block
    key collecting each block's members → in-row pair explode
    (:func:`_bucket_pairs`) + JVM-side ``levenshtein``. No pin and no
    self-join, so building the frame runs no job. A small input hashes
    on the block key into one partition per core, which the block
    shuffle reuses: AQE sizes that stage by its few input bytes and
    coalesced it to one task, putting every Levenshtein on one core
    (``fuzzy_match_pairs`` at sf0.1 on 4 cores: 1.45 → 0.83 s). Exact and
    deterministic → fully oracle-checkable."""
    d = _ensure_parallelism(
        df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            F.concat_ws(
                " ", F.slice(F.split(F.col(text_col), " "), 1, block_tokens)
            ).alias("blk"),
            F.substring(F.col(text_col), 1, prefix_chars).alias("pre"),
        ),
        "blk",
    )
    return (
        _bucket_pairs(d, ["blk"], ["pre"], max_bucket=max_block)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein("a.pre", "b.pre").alias("lev"),
        )
        .filter(F.col("lev") <= max_distance)
    )


def ngram_novelty_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Per-document n-gram novelty (the fraction of a doc's distinct word
    n-grams whose corpus-wide first appearance — min ``id_col`` — is this
    doc): (id, n_grams, n_novel, novelty). The operator form behind the
    oracle-checked ``ngram_novelty`` catalog query; see it for semantics.

    Round-10 plan: the old shape checkpointed EVERY gram row and joined
    the (gram, first_doc) table back at GRAM granularity — re-shuffling
    the full gram set a second time just to count, per doc, the grams it
    was first on. But that count is already determined by the gram-min
    table alone: credit each gram to its ``first_doc`` and aggregate —
    (first_doc, n_novel) — while ``n_grams`` is a pure scan expression
    (``size(word_ngrams(...))``), no explode needed. What remains is one
    gram-keyed min shuffle (map-side partials collapse repeats), one
    doc-keyed count of the gram-distinct table, and one doc-keyed join
    of two narrow per-doc frames — the corpus-sized gram exchange and
    the checkpoint I/O are gone (sf1.0 warm measured 13.8 -> ~4 s). The
    ngram expression evaluates once per scan side (two total), which is
    cheaper than spilling every gram row through executor disk."""
    d = df.filter(F.col(text_col).isNotNull())
    per_doc = _ensure_parallelism(d).select(
        F.col(id_col).alias("doc_id"),
        F.size(word_ngrams(text_col, n)).alias("n_grams"),
    )
    grams = _ensure_parallelism(d).select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(word_ngrams(text_col, n)).alias("gram"),
    )
    novel = (
        grams.groupBy("gram")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    nn = F.coalesce(F.col("n_novel"), F.lit(0)).cast("long")
    return per_doc.join(novel, "doc_id", "left").select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        nn.alias("n_novel"),
        F.round(nn / F.col("n_grams"), 6).alias("novelty"),
    )


# ---------------------------------------------------------------------------
# suffix-run substring dedup (arbitrary-length repeated substrings)
# ---------------------------------------------------------------------------


def positional_windows(col: str, n: int) -> Column:
    """Every ``n``-token window of a whitespace-tokenized text WITH its
    1-based token position: ``array<struct<pos:int, gram:string>>``. Unlike
    :func:`word_ngrams` this is NOT distinct — positional identity is the
    whole point (the suffix-run machinery chains adjacent positions into
    maximal matches). Texts shorter than ``n`` tokens emit an empty array."""
    # O(n·len) gram fold (round 14, the word_ngram_strings discipline —
    # the sequence+slice lambda re-evaluated the split per element); the
    # index-form transform lambda touches only its own arguments, so no
    # captured expression re-evaluates. A doc shorter than n tokens
    # takes the empty branch exactly as before (word_ngram_strings'
    # min-1-gram semantics never apply: cnt >= 1 iff size >= n).
    from dampr_spark.functions.text import word_ngram_strings

    toks = F.split(F.col(col), " ")
    cnt = F.size(toks) - (n - 1)
    return F.when(
        cnt >= 1,
        F.transform(
            word_ngram_strings(col, n),
            lambda g, i: F.struct(
                (i + F.lit(1)).alias("pos"), g.alias("gram")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,gram:string>>"))


def positional_anchor_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    anchor_tokens: int = 8,
    hash_anchors: bool = False,
) -> DataFrame:
    """(id, pos, gram) — one row per token position carrying its
    ``anchor_tokens``-window (or its 8-byte xxhash64 under
    ``hash_anchors``, the scale path). The shared entry stage of the
    suffix-run family; the streaming incremental sink persists exactly
    these rows as its anchor store."""
    anchor = (
        F.xxhash64(F.col("w.gram")) if hash_anchors else F.col("w.gram")
    )
    return (
        _ensure_parallelism(df.filter(F.col(text_col).isNotNull()))
        .select(
            F.col(id_col).alias("id"),
            F.explode(positional_windows(text_col, anchor_tokens)).alias("w"),
        )
        .select("id", F.col("w.pos").alias("pos"), anchor.alias("gram"))
    )


def substring_posting_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    anchor_tokens: int = 8,
    max_posting: int = 16,
    hash_anchors: bool = False,
) -> DataFrame:
    """Price the suffix-run family's posting stage BEFORE paying it — the
    substring-dedup sizing instrument, same discipline as
    :func:`lsh_band_audit` / :func:`contamination_posting_audit` /
    `similarity.grid_resolution_audit` / `skew.window_frame_audit`.

    :func:`repeated_substring_spans` (and the report/trim wrappers) pays
    Σ C(occ, 2) diagonal pairs per anchor window, capped at
    ``max_posting`` OCCURRENCES; a boilerplate window shared corpus-wide
    is the blowup, and the cap's dropped-position mass is the recall
    silently lost. One :func:`positional_anchor_rows` pass (the
    production pipelines' own entry stage, byte-identical keys — pass
    ``hash_anchors=True`` to price the 8-byte-key 100 TB path) feeds one
    occurrence-count aggregate; the pair arithmetic is
    :func:`band_occupancy_stats`' exact integer ``div`` (shared
    implementation, not a re-derivation). One row:
    ``anchor_positions`` (total position rows = the posting shuffle's
    volume), ``anchors_ge2``, ``max_posting_sz``, ``anchors_over_cap``,
    ``positions_over_cap``, ``raw_pairs`` / ``capped_pairs`` /
    ``pairs_dropped`` (the diagonal-pair budget the run would stream,
    before/after the cap)."""
    pos = positional_anchor_rows(
        df, text_col, id_col, anchor_tokens, hash_anchors=hash_anchors
    )
    banded = pos.select(
        F.lit(0).alias("band"), F.col("gram").alias("band_hash")
    )
    return band_occupancy_stats(banded, max_posting).select(
        F.col("band_rows").alias("anchor_positions"),
        F.col("buckets_ge2").alias("anchors_ge2"),
        F.col("max_bucket_sz").alias("max_posting_sz"),
        F.col("buckets_over_cap").alias("anchors_over_cap"),
        F.col("docs_over_cap").alias("positions_over_cap"),
        "raw_pairs",
        "capped_pairs",
        "pairs_dropped",
    )


def repeated_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    anchor_tokens: int = 8,
    min_len: int | None = None,
    max_posting: int = 16,
    within_doc: bool = False,
    hash_anchors: bool = False,
) -> DataFrame:
    """Maximal repeated substrings of ≥ ``min_len`` tokens across documents
    — the distributed stand-in for suffix-array substring dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better";
    reference scope: the engine has no such operator, this is extension
    surface). Returns ``(id_a, start_a, id_b, start_b, match_len)`` spans
    with 1-based token starts; a shared substring of L ≥ ``anchor_tokens``
    tokens appears as one span of ``match_len == L``.

    Suffix-run algorithm (MapReduce suffix-array approximation): every
    ``anchor_tokens``-token window is emitted AT ITS POSITION; windows are
    grouped (the posting list), in-bucket occurrence pairs are keyed by the
    pair diagonal ``(id_a, id_b, offset)``, and consecutive anchor positions
    on a diagonal chain into maximal runs (gaps-and-islands): a run of R
    consecutive matching anchors is exactly a common substring of
    R + anchor_tokens - 1 tokens. Exact for any repeat ≥ ``anchor_tokens``
    tokens whose windows survive the ``max_posting`` cap; hot (boilerplate)
    windows are dropped on both engines, which can only shorten or split
    runs, never fabricate them.

    Shuffle budget: (1) one explode+groupBy keyed by the window (with
    ``hash_anchors=True`` the key is the 8-byte xxhash64 of the window —
    the 100 TB path; anchor strings never shuffle), (2) one hash shuffle on
    the pair diagonal for the run window-function; the island groupBy reuses
    that partitioning (subset-key clustering), so no third exchange.

    ``within_doc=True`` returns self-repetition runs instead (offset > 0),
    the primitive behind looping/degenerate-text quality filters.

    Size (anchor_tokens, max_posting) BEFORE the run with
    :func:`substring_posting_audit`: one anchor pass prices the posting
    occupancy and the cap's dropped diagonal-pair/position mass."""
    if min_len is None:
        min_len = anchor_tokens
    if min_len < anchor_tokens:
        raise ValueError(
            f"min_len ({min_len}) must be >= anchor_tokens ({anchor_tokens}): "
            "runs are detected at anchor granularity"
        )
    pos = positional_anchor_rows(
        df, text_col, id_col, anchor_tokens, hash_anchors=hash_anchors
    )
    pairs = _bucket_pairs(pos, ["gram"], ["pos"], max_bucket=max_posting).select(
        F.col("a.id").alias("id_a"),
        F.col("a.pos").alias("pos_a"),
        F.col("b.id").alias("id_b"),
        (F.col("b.pos") - F.col("a.pos")).alias("offset"),
    )
    pairs = (
        pairs.filter(F.col("id_a") == F.col("id_b"))
        if within_doc
        else pairs.filter(F.col("id_a") != F.col("id_b"))
    )
    return spans_from_anchor_pairs(pairs, anchor_tokens, min_len)


def spans_from_anchor_pairs(
    pairs: DataFrame, anchor_tokens: int, min_len: int
) -> DataFrame:
    """Run extension: matched-anchor pairs ``(id_a, pos_a, id_b, offset)``
    → maximal spans via gaps-and-islands on the pair diagonal. Shared by
    the batch operator and the streaming incremental sink (whose pairs
    come from a store join instead of in-bucket pairing); the island
    groupBy reuses the window's diagonal hash partitioning."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("id_a", "id_b", "offset").orderBy("pos_a")
    return (
        pairs.withColumn("isl", F.col("pos_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "offset", "isl")
        .agg(
            F.min("pos_a").alias("start_a"),
            (F.count(F.lit(1)) + (anchor_tokens - 1)).alias("match_len"),
        )
        .filter(F.col("match_len") >= min_len)
        .select(
            "id_a",
            F.col("start_a").cast("long").alias("start_a"),
            "id_b",
            (F.col("start_a") + F.col("offset")).cast("long").alias("start_b"),
            F.col("match_len").cast("long").alias("match_len"),
        )
    )


def _interval_union_tokens(sides: DataFrame) -> DataFrame:
    """Per-id token count covered by the UNION of [s, e] intervals:
    (id, s, e) -> (id, dup_tokens). Thin aggregate over
    :func:`_merged_intervals` (which owns the gaps-and-islands machinery
    and its determinism rationale) — merged intervals are disjoint, so
    coverage is just their summed lengths."""
    return (
        _merged_intervals(sides)
        .groupBy("id")
        .agg(
            F.sum(F.col("me") - F.col("ms") + 1)
            .cast("long")
            .alias("dup_tokens")
        )
    )


def substring_dedup_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    anchor_tokens: int = 8,
    min_len: int = 20,
    max_posting: int = 16,
    hash_anchors: bool = False,
) -> DataFrame:
    """Per-document cross-doc repeated-substring exposure: for every doc
    touched by a ≥ ``min_len``-token shared span, ``(doc_id, n_partners,
    max_match_len, dup_tokens, n_tokens, dup_frac)`` where ``dup_tokens``
    is the UNION of its span intervals (overlapping spans counted once) and
    ``dup_frac`` the covered fraction of the doc. The curation form of
    :func:`repeated_substring_spans` — "drop/trim docs with > X% verbatim
    shared content" filters read straight off ``dup_frac``."""
    spans = repeated_substring_spans(
        df,
        text_col=text_col,
        id_col=id_col,
        anchor_tokens=anchor_tokens,
        min_len=min_len,
        max_posting=max_posting,
        hash_anchors=hash_anchors,
    )
    sides = spans.select(
        F.col("id_a").alias("id"),
        F.col("id_b").alias("partner"),
        F.col("start_a").alias("s"),
        (F.col("start_a") + F.col("match_len") - 1).alias("e"),
        "match_len",
    ).unionByName(
        spans.select(
            F.col("id_b").alias("id"),
            F.col("id_a").alias("partner"),
            F.col("start_b").alias("s"),
            (F.col("start_b") + F.col("match_len") - 1).alias("e"),
            "match_len",
        )
    )
    stats = sides.groupBy("id").agg(
        F.countDistinct("partner").cast("long").alias("n_partners"),
        F.max("match_len").alias("max_match_len"),
    )
    cov = _interval_union_tokens(sides.select("id", "s", "e"))
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )
    return (
        stats.join(cov, "id")
        .join(toks, "id")
        .select(
            F.col("id").alias("doc_id"),
            "n_partners",
            "max_match_len",
            "dup_tokens",
            "n_tokens",
            F.round(F.col("dup_tokens") / F.col("n_tokens"), 6).alias(
                "dup_frac"
            ),
        )
    )


def duplicate_ngram_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Gopher-style within-document duplication score (Rae et al. 2021
    quality filters): per doc, the fraction of tokens covered by word
    ``n``-grams that occur MORE THAN ONCE inside the same document —
    ``(doc_id, n_tokens, dup_tokens, dup_frac)`` for EVERY non-null doc
    (clean docs score 0.0). Looping/degenerate generations and boilerplate
    scaffolds light up on this metric while cross-doc dedup misses them.

    Plan: positional n-grams → per-(id, gram) POSITION LISTS (collect_list
    bounded by within-doc repeats of one gram — not corpus-wide posting
    lists) keep only grams occurring ≥ 2× in the doc → each kept position
    spans [pos, pos+n-1] → per-doc interval union. Everything after the
    explode is keyed by id (one hash partitioning reused across the window
    and both aggregates)."""
    base = df.filter(F.col(text_col).isNotNull())
    pos = _ensure_parallelism(base).select(
        F.col(id_col).alias("id"),
        F.explode(positional_windows(text_col, n)).alias("w"),
    )
    dup_positions = (
        pos.groupBy("id", F.col("w.gram").alias("gram"))
        .agg(F.collect_list("w.pos").alias("ps"))
        .filter(F.size("ps") >= 2)
        .select(
            "id",
            F.explode("ps").alias("s"),
        )
        .withColumn("e", F.col("s") + (n - 1))
    )
    cov = _interval_union_tokens(dup_positions.select("id", "s", "e"))
    toks = base.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )
    return (
        toks.join(cov, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def _merged_intervals(sides: DataFrame) -> DataFrame:
    """Merge overlapping [s, e] intervals per id (classic merge-overlaps:
    running max of prior ends marks island starts): (id, s, e) ->
    (id, ms, me) disjoint per id. The running-max window and the island
    aggregate share one hash partitioning on id.

    Intervals are DISTINCT-ed first — not just because duplicates are
    redundant, but for determinism: with duplicate (s, e) rows the
    ORDER BY (s, e) is not a total order, and an engine that evaluates the
    running-max and running-sum windows as separate passes (DuckDB does
    for the nested form) may tie-break them differently, splitting one
    island in two. Distinct rows make (s, e) a total order, so every
    engine agrees."""
    from pyspark.sql.window import Window

    sides = sides.select("id", "s", "e").distinct()
    wp = (
        Window.partitionBy("id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wr = (
        Window.partitionBy("id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    m = sides.withColumn("prev_e", F.max("e").over(wp)).withColumn(
        "isl",
        F.sum(
            F.when(
                F.col("prev_e").isNull() | (F.col("s") > F.col("prev_e")), 1
            ).otherwise(0)
        ).over(wr),
    )
    return m.groupBy("id", "isl").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )


def trim_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    anchor_tokens: int = 8,
    min_len: int = 20,
    max_posting: int = 16,
    hash_anchors: bool = False,
    within_doc: bool = False,
) -> DataFrame:
    """The dedup ACTION for :func:`repeated_substring_spans` — Lee et al.
    ExactSubstr semantics: every repeated substring of ≥ ``min_len`` tokens
    keeps exactly its first-by-``id_col`` occurrence; later documents have
    their copy of the span CUT OUT (not the whole doc dropped). Returns
    ``(doc_id, n_tokens_before, n_tokens_after, text)`` for every non-null
    doc, with ``text`` rebuilt from the surviving tokens (single-space
    joined — original inter-token whitespace is not preserved).

    Because spans are keyed ``id_a < id_b``, cutting only the ``id_b`` side
    is exactly keep-first: content shared by docs A < B < C is cut from B
    (via the A-B span) and from C (via both A-C and B-C spans, unioned),
    leaving A the sole holder. Cut intervals per doc are interval-merged,
    then tokens inside any merged interval are dropped by a JVM expression
    (no explode of the corpus on the rebuild side — the only per-token work
    is the original anchor explode in span detection).

    ``within_doc=True`` trims SELF-repetition instead: for every repeated
    run inside one document, only the first occurrence survives (cuts land
    on the later ``start_b`` side; spans always have offset > 0). Periodic
    text collapses to a single period — "a b a b a b" with 2-token anchors
    keeps exactly "a b" — the ACTION form of the Gopher duplication
    score."""
    spans = repeated_substring_spans(
        df,
        text_col=text_col,
        id_col=id_col,
        anchor_tokens=anchor_tokens,
        min_len=min_len,
        max_posting=max_posting,
        within_doc=within_doc,
        hash_anchors=hash_anchors,
    )
    cuts = _merged_intervals(
        spans.select(
            F.col("id_b").alias("id"),
            F.col("start_b").alias("s"),
            (F.col("start_b") + F.col("match_len") - 1).alias("e"),
        )
    )
    per_doc = cuts.groupBy("id").agg(
        F.sort_array(F.collect_list(F.struct("ms", "me"))).alias("ivals")
    )
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_text")
    )
    toks = F.split(F.col("_text"), " ")
    ivals = F.coalesce(
        F.col("ivals"),
        F.array().cast("array<struct<ms:bigint,me:bigint>>"),
    )
    kept = F.filter(
        F.transform(
            toks, lambda t, i: F.struct((i + 1).cast("long").alias("pos"), t.alias("t"))
        ),
        lambda x: ~F.exists(
            ivals,
            lambda iv: (iv["ms"] <= x["pos"]) & (x["pos"] <= iv["me"]),
        ),
    )
    return (
        base.join(per_doc, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.size(toks).cast("long").alias("n_tokens_before"),
            F.size(kept).cast("long").alias("n_tokens_after"),
            F.concat_ws(
                " ", F.transform(kept, lambda x: x["t"])
            ).alias("text"),
        )
    )


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ ``threshold`` via PPJoin-style PREFIX
    FILTERING (Chaudhuri et al. SSJoin / Xiao et al. PPJoin): a LOSSLESS
    candidate pruning that replaces "pair every two docs sharing ANY
    gram" with "pair docs sharing a PREFIX gram".

    Order every doc's gram set by ascending document frequency (rarest
    first; ties broken by the gram string — any total order is correct,
    rare-first minimizes candidates). If J(A,B) ≥ t then A and B must
    share a gram within their first ``|X| − ⌈t·|X|⌉ + 1`` grams in that
    shared order (else their overlap is too small to reach t), so only
    PREFIX postings generate candidates; full gram arrays then verify
    exact Jaccard per candidate. Same answer as
    :func:`ngram_jaccard_pairs` at the same threshold — strictly fewer
    intermediate pairs (pinned by test).

    Why it matters at 100 TB: the stopword-dominated grams that force
    ``max_posting`` caps (a recall trade) in the plain posting join are
    exactly the grams prefix filtering SKIPS — every doc's most-frequent
    grams fall outside its prefix at any useful threshold — so the
    candidate set shrinks to rare-gram collisions with NO recall loss.
    At t=0.8 the prefix is ~20% of each doc; candidate volume drops
    roughly quadratically in that fraction. Plan: one gram-keyed join
    (df counts), one per-doc window over the doc's own grams, prefix
    self-join, then an array_intersect verify per surviving candidate."""
    from pyspark.sql.window import Window

    df = df.filter(F.col(text_col).isNotNull())
    docs = _ensure_parallelism(df).select(
        F.col(id_col).alias("id"), word_ngrams(text_col, n).alias("arr")
    )
    docs = docs.withColumn("n_grams", F.size("arr")).localCheckpoint(eager=True)
    grams = docs.select("id", "n_grams", F.explode_outer("arr").alias("gram"))
    dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("dfc"))
    ranked = grams.join(dfreq, "gram")
    w = Window.partitionBy("id").orderBy("dfc", "gram")
    prefix_len = F.col("n_grams") - F.ceil(F.lit(threshold) * F.col("n_grams")) + 1
    prefix = (
        ranked.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= prefix_len)
        .select("id", "gram")
    )
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "gram")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    fa = docs.select(
        F.col("id").alias("id_a"), F.col("arr").alias("arr_a"), F.col("n_grams").alias("n_a")
    )
    fb = docs.select(
        F.col("id").alias("id_b"), F.col("arr").alias("arr_b"), F.col("n_grams").alias("n_b")
    )
    inter = F.size(F.array_intersect(F.col("arr_a"), F.col("arr_b")))
    return (
        cands.join(fa, "id_a")
        .join(fb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                inter / (F.col("n_a") + F.col("n_b") - inter), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_chars: int = 40,
    window: int = 3,
    prefix_chars: int = 80,
    max_distance: int = 25,
) -> DataFrame:
    """Sorted-neighborhood matching (Hernández & Stolfo merge/purge): sort
    the corpus by a blocking KEY (first ``key_chars`` chars) and compare
    each record only to its next ``window`` neighbors in that order —
    the classic complement to hash blocking
    (:func:`fuzzy_prefix_pairs`): no block can explode (every record
    scores exactly ≤ window successors, skew-immune by construction),
    and near-boundary matches that a hash block would split land
    adjacent in the sort instead.

    Distributed form — the single-task global window is the anti-pattern
    this avoids: a parallel range sort assigns partition-local row
    numbers, broadcast cumulative partition counts recover the EXACT
    global rank (the :func:`~dampr_spark.operators.stats.distributed_ntile`
    recipe), and the sliding window becomes an equi-join: each record
    explodes its ``window`` successor ranks and joins records on rank —
    bit-identical to ``row_number() OVER (ORDER BY key, id)`` + a rank
    band join, with no single task ever holding the corpus. Candidates
    verify with JVM ``levenshtein`` over the first ``prefix_chars``
    chars; output ``(id_a, id_b, lev)`` with ids canonically ordered."""
    from pyspark.sql.window import Window

    d = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.substring(F.col(text_col), 1, key_chars).alias("key"),
        F.substring(F.col(text_col), 1, prefix_chars).alias("pfx"),
    )
    ranked = (
        _ensure_parallelism(d)
        .orderBy("key", "id")
        .withColumn("_pid", F.spark_partition_id())
        # two consumers of a nondeterministic range exchange: materialize
        .localCheckpoint(eager=True)
    )
    w_pid = Window.partitionBy("_pid").orderBy("key", "id")
    ranked = ranked.withColumn("_rn", F.row_number().over(w_pid))
    counts = ranked.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off")
    )
    # Pin the globally-ranked frame (round 14): BOTH join sides below
    # consume it, and the unpinned lineage re-ran the _pid window + the
    # offsets broadcast join once per side — at corpus scale that is a
    # second full window pass for nothing. One narrow (id, pfx, rank)
    # materialization; the checkpoint read above it is unchanged.
    base = (
        ranked.join(F.broadcast(offsets), "_pid")
        .select("id", "pfx", (F.col("_off") + F.col("_rn")).alias("_grn"))
        .localCheckpoint(eager=True)
    )
    left = base.select(
        F.col("id").alias("_ida"),
        F.col("pfx").alias("_pfxa"),
        F.explode(
            F.sequence(F.col("_grn") + 1, F.col("_grn") + F.lit(window))
        ).alias("_pr"),
    )
    right = base.select(
        F.col("_grn").alias("_pr"),
        F.col("id").alias("_idb"),
        F.col("pfx").alias("_pfxb"),
    )
    lev = F.levenshtein(F.col("_pfxa"), F.col("_pfxb"))
    return (
        left.join(right, "_pr")
        .select(
            F.least(F.col("_ida"), F.col("_idb")).alias("id_a"),
            F.greatest(F.col("_ida"), F.col("_idb")).alias("id_b"),
            lev.alias("lev"),
        )
        .filter(F.col("lev") <= max_distance)
    )
