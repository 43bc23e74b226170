"""Dedup / similarity / multimodal operator tests: planted-duplicate
correctness, recall of approximate methods vs their exact baselines, and the
binary-column pipeline plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dampr_spark.operators import dedup, multimodal, similarity


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from dampr_spark.sources.readers import read_table

    return read_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from dampr_spark.sources.readers import read_table

    return read_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def planted(spark):
    """Corpus with known exact and near duplicates."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("today", "tomorrow")),  # near dup of 1
        (4, "completely different content about spark query engines and shuffles"),
        (5, "another unrelated document mentioning embeddings and vectors only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_planted(planted):
    res = dedup.exact_dedup(planted).collect()
    groups = {r.canonical_doc_id: r.n_copies for r in res}
    assert groups[1] == 2  # docs 1,2 collapse
    assert groups[3] == 1 and groups[4] == 1 and groups[5] == 1
    kept = dedup.drop_exact_dups(planted)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3, 4, 5]


def test_minhash_lsh_planted(planted):
    pairs = dedup.minhash_lsh_dedup(planted, threshold=0.5).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found  # exact dup: jaccard 1.0
    assert (1, 3) in found and (2, 3) in found  # near dup
    assert all(a in (1, 2, 3) and b in (1, 2, 3) for a, b in found)


def test_simhash_planted(planted):
    pairs = dedup.simhash_dedup(planted, max_hamming=3).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found
    hams = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert hams[(1, 2)] == 0
    assert all(a in (1, 2, 3) and b in (1, 2, 3) for a, b in found)


def test_simhash_udf_matches_sql_spec(planted, spark):
    """The Arrow-vectorized band UDF is bit-exact to the SQL spec form
    (simhash_bands ∘ simhash_votes) on every non-null text. Null text is the
    one deliberate difference: the SQL form yields an array of 4 null bands
    (transform keeps the outer array), the UDF a null array — both explode
    to zero joinable band rows, so pair output is identical."""
    from pyspark.sql import functions as F

    rows = [(10, None), (11, ""), (12, "a b"), (13, "ab")]
    df = planted.union(spark.createDataFrame(rows, "doc_id long, text string"))
    tok_hashes = F.transform(
        F.array_distinct(F.split(F.col("text"), " ")), lambda t: F.xxhash64(t)
    )
    got = df.select(
        "doc_id",
        dedup.simhash_bands_udf()(tok_hashes).alias("u"),
        dedup.simhash_bands(dedup.simhash_votes("text")).alias("s"),
    ).collect()
    for r in got:
        if r.u is None:
            assert r.s is None or all(b is None for b in r.s), (r.doc_id, r.s)
        else:
            assert r.u == r.s, (r.doc_id, r.u, r.s)


def test_simhash_hot_bucket_cap(planted):
    """Bucket cap: above any real bucket size it's a no-op (identical pairs
    and hamming values); a cap of 1 drops every bucket, so no pairs."""
    base = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_dedup(planted, max_hamming=3).collect()
    }
    capped_hi = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_dedup(planted, max_hamming=3, max_bucket=10**6).collect()
    }
    assert capped_hi == base and base  # planted dups exist
    assert dedup.simhash_dedup(planted, max_hamming=3, max_bucket=1).count() == 0


def test_ngram_jaccard_planted(planted):
    pairs = dedup.ngram_jaccard_pairs(planted, threshold=0.5).collect()
    found = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert found[(1, 2)] == 1.0
    assert (1, 3) in found and found[(1, 3)] < 1.0


def test_minhash_recall_vs_exact(docs):
    """MinHash LSH must find the overwhelming majority of true char-shingle
    near-dups in the TESTDATA corpus (which has planted near-duplicates)."""
    sh = docs.select(
        F.col("doc_id").alias("id"), dedup.char_shingles("text").alias("sh")
    ).cache()
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    truth = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", dedup.jaccard(F.col("sh_a"), F.col("sh_b")).alias("j")
        )
        .filter(F.col("j") >= 0.5)
        .collect()
    )
    true_pairs = {(r.id_a, r.id_b) for r in truth}
    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_dedup(docs, threshold=0.5).collect()
    }
    # verification step guarantees precision; check recall
    assert got <= true_pairs
    if true_pairs:
        recall = len(got & true_pairs) / len(true_pairs)
        assert recall >= 0.9, f"recall {recall}: {true_pairs - got}"


def test_lsh_ann_recall_vs_brute_force(emb):
    q = emb.filter("vec_id = 0").first()
    rest = emb.filter("vec_id <> 0")
    exact = {
        r.vec_id
        for r in similarity.brute_force_topk(rest, list(q.embedding), k=10).collect()
    }
    lsh = similarity.RandomHyperplaneLSH(dim=64, n_planes=6, n_tables=8)
    approx = {
        r.vec_id
        for r in lsh.query_topk(lsh.bucketize(rest), list(q.embedding), k=10).collect()
    }
    # Approximate: expect at least half of the true top-10 in the probe set.
    assert len(exact & approx) >= 5, f"ANN recall too low: {exact & approx}"


def test_bucketed_pairs_subset_of_brute_force(emb):
    lsh = similarity.RandomHyperplaneLSH(dim=64, n_planes=4, n_tables=6)
    approx = lsh.bucketed_pairs(emb, threshold=0.4).collect()
    exact = dedup.embedding_cosine_dups(emb, threshold=0.4).collect()
    a = {(r.id_a, r.id_b) for r in approx}
    e = {(r.id_a, r.id_b) for r in exact}
    assert a <= e


def test_ngram_hot_gram_cap(planted):
    """Hot-gram pruning: a cap above the longest posting list is a no-op
    (identical pairs + jaccard values); an impossible cap (below any shared
    gram) prunes everything; an intermediate cap only ever drops/undercounts
    (subset at the same threshold, never false pairs)."""
    base = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(planted, threshold=0.5).collect()
    }
    capped_hi = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            planted, threshold=0.5, max_posting=10**6
        ).collect()
    }
    assert capped_hi == base
    assert (
        dedup.ngram_jaccard_pairs(planted, threshold=0.5, max_posting=1).count()
        == 0
    )
    capped_mid = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            planted, threshold=0.5, max_posting=2
        ).collect()
    }
    assert set(capped_mid) <= set(base)
    assert all(capped_mid[k] <= base[k] for k in capped_mid)


def test_bucketed_pairs_recall(emb):
    """The registered embedding_near_dups configuration (3 planes × 12
    tables, matched to the corpus's 0.4-cosine band) must recover ≥ 90% of
    the brute-force pairs while emitting no false positives (the exact
    cosine verify on candidates guarantees precision)."""
    lsh = similarity.RandomHyperplaneLSH(dim=64, n_planes=3, n_tables=12)
    approx = {
        (r.id_a, r.id_b)
        for r in lsh.bucketed_pairs(emb, threshold=0.4).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_cosine_dups(emb, threshold=0.4).collect()
    }
    assert approx <= exact  # precision 1.0
    recall = len(approx & exact) / max(len(exact), 1)
    assert recall >= 0.9, f"recall {recall}"


def test_multimodal_features(planted):
    media = multimodal.documents_as_media(planted)
    feats = multimodal.extract_features(media, fake=True).collect()
    assert len(feats) == 5
    by_id = {r.media_id: r for r in feats}
    assert all(len(r.features) == multimodal.FEATURE_DIM for r in feats)
    # deterministic: identical payloads → identical features
    assert by_id[1].features == by_id[2].features
    assert by_id[1].features != by_id[4].features
    assert by_id[1].n_bytes > 0


def test_multimodal_decode_stub_raises(planted):
    """Without pillow on the executors, fake=False must fail loudly (the
    honest can't-decode marker). Auto-skips where pillow IS installed —
    there the real path is exercised by test_real_image_decode instead."""
    if multimodal._pil_image() is not None:
        pytest.skip("pillow installed: real decode path active")
    media = multimodal.documents_as_media(planted)
    with pytest.raises(Exception, match="NotImplementedError|real image decode"):
        multimodal.extract_features(media, fake=False).collect()


def test_real_image_decode(spark):
    """Real image decode path: with pillow where installed (PNG payload),
    otherwise with the hermetic minicodec PNM codec injected — the SAME
    real-path code either way, so this no longer skips anywhere. Corrupt
    payload → null features (no crash)."""
    import io

    import numpy as np

    from dampr_spark.operators import minicodec

    Image = multimodal._pil_image()
    if Image is not None:
        buf = io.BytesIO()
        Image.new("L", (10, 10), color=128).save(buf, format="PNG")
        payload, codec, opener = buf.getvalue(), None, Image.open
    else:
        payload = minicodec.encode_pnm(np.full((10, 10), 128, np.uint8))
        codec, opener = minicodec.image, minicodec.image.open
    rows = [
        (1, "image", payload, "image/png", 10, 10, None),
        (2, "image", b"not-an-image", "image/png", None, None, None),
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    feats = {
        r.media_id: r
        for r in multimodal.extract_features(media, image_codec=codec).collect()
    }
    assert len(feats[1].features) == multimodal.FEATURE_DIM
    assert all(abs(v - 128 / 255) < 1e-6 for v in feats[1].features)
    assert feats[2].features is None

    resized = {
        r.media_id: r
        for r in multimodal.resize_images(
            media, width=4, height=4, image_codec=codec
        ).collect()
    }
    assert resized[1].mime == "image/png"
    assert opener(io.BytesIO(bytes(resized[1].content))).size == (4, 4)
    assert resized[2].content is None


def test_real_av_decode(spark):
    """Real audio decode path: with PyAV where installed, otherwise with
    the hermetic minicodec WAV codec injected (same real-path code) — no
    longer skips anywhere. Segments come from the DECODED waveform."""
    import io
    import struct
    import wave as wave_mod

    from dampr_spark.operators import minicodec

    av = multimodal._pyav()
    codec = None if av is not None else minicodec.av
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<" + "h" * 16000, *([1000] * 16000)))  # 2s
    rows = [(1, "audio", buf.getvalue(), "audio/wav", None, None, None)]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    segs = multimodal.audio_segments(media, segment_ms=1000, av_codec=codec).collect()
    assert len(segs) == 2
    assert segs[0].start_ms == 0 and segs[0].end_ms == 1000
    assert all(len(s.features) == multimodal.FEATURE_DIM for s in segs)


def test_frame_sample(spark):
    rows = [(1, "video", b"fakevideobytes", "video/mp4", None, None, 3500)]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    frames = multimodal.frame_sample(media, every_ms=1000, fake=True).collect()
    assert [f.frame_ms for f in frames] == [0, 1000, 2000, 3000]
    assert all(len(f.features) == multimodal.FEATURE_DIM for f in frames)


def test_ivf_ann_recall_vs_brute_force(emb):
    q = emb.filter("vec_id = 0").first()
    rest = emb.filter("vec_id <> 0")
    exact = {
        r.vec_id
        for r in similarity.brute_force_topk(rest, list(q.embedding), k=10).collect()
    }
    ivf = similarity.IVFIndex(n_lists=16, nprobe=6).fit(rest)
    assigned = ivf.assign(rest)
    approx = {
        r.vec_id
        for r in ivf.query_topk(assigned, list(q.embedding), k=10).collect()
    }
    # nprobe=6 of 16 lists must recover most of the true top-10
    assert len(exact & approx) >= 6, exact - approx
    # sanity: assignment is a complete partition of the corpus
    assert assigned.count() == rest.count()


def test_ivf_fit_sample_unbiased(spark):
    """On data sorted adversarially by cluster (first partitions hold ONLY
    cluster A), a first-N sample would train every centroid on cluster A.
    The seeded random sample must place at least one centroid near each
    cluster's direction even with sample_size far below cluster A's size."""
    import numpy as np

    rng = np.random.default_rng(7)
    a = rng.normal(loc=[10, 0, 0, 0], scale=0.1, size=(4000, 4))
    b = rng.normal(loc=[0, 10, 0, 0], scale=0.1, size=(4000, 4))
    rows = [(i, v.tolist()) for i, v in enumerate(np.vstack([a, b]))]
    # repartitionByRange on vec_id keeps cluster A physically first.
    df = (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        .repartitionByRange(8, "vec_id")
        .sortWithinPartitions("vec_id")
    )
    ivf = similarity.IVFIndex(n_lists=4, nprobe=1).fit(df, sample_size=500)
    c = ivf.centroids
    for target in ([1, 0, 0, 0], [0, 1, 0, 0]):
        sims = c @ np.asarray(target, dtype=np.float64)
        assert sims.max() > 0.9, (target, sims)


def test_indexer_union_intersect(docs, tmp_path, spark):
    from dampr_spark.operators.indexer import Indexer

    ix = Indexer(str(tmp_path / "idx")).build(docs, "text", "doc_id")
    keys = ["spark", "shuffle"]
    # oracle: recompute from the corpus directly
    toks = docs.select(
        "doc_id", F.array_distinct(F.split("text", r"\s+")).alias("t")
    )
    want_any = {
        r.doc_id
        for r in toks.filter(
            F.arrays_overlap("t", F.array(*[F.lit(k) for k in keys]))
        ).collect()
    }
    got_any = {r.doc_id for r in ix.union(spark, keys).collect()}
    assert got_any == want_any and got_any

    want_both = {
        r.doc_id
        for r in toks.filter(
            F.size(F.array_intersect("t", F.array(*[F.lit(k) for k in keys]))) >= 2
        ).collect()
    }
    got_both = {r.doc_id for r in ix.intersect(spark, keys, 2).collect()}
    assert got_both == want_both
    assert got_both <= got_any

    # retrieve joins hits back to full rows
    rows = ix.retrieve(docs, ix.union(spark, keys))
    assert {r.doc_id for r in rows.collect()} == want_any


def _posting_set(spark, ix):
    return {(r.token, r.doc_id) for r in ix._postings(spark).collect()}


def test_indexer_incremental_shards_equal_full_rebuild(docs, tmp_path, spark):
    """A 2-shard incremental build (half the corpus, then append the rest)
    must yield EXACTLY the full rebuild's posting set, before and after
    compaction — and all query paths must agree between the two indexes."""
    from dampr_spark.operators.indexer import Indexer

    full = Indexer(str(tmp_path / "full")).build(docs, "text", "doc_id")
    part_a = docs.filter(F.col("doc_id") % 2 == 0)
    part_b = docs.filter(F.col("doc_id") % 2 == 1)
    incr = Indexer(str(tmp_path / "incr")).build(part_a, "text", "doc_id")
    incr.append(part_b, "text", "doc_id")
    assert incr._shard_ids(spark, incr.path) == [0, 1]

    want = _posting_set(spark, full)
    assert _posting_set(spark, incr) == want

    keys = ["spark", "shuffle"]
    assert {r.doc_id for r in incr.union(spark, keys).collect()} == {
        r.doc_id for r in full.union(spark, keys).collect()
    }
    assert {
        (r.doc_id, r.n_matched) for r in incr.intersect(spark, keys, 2).collect()
    } == {(r.doc_id, r.n_matched) for r in full.intersect(spark, keys, 2).collect()}

    # compaction folds to one shard, posting set unchanged
    incr.compact(spark)
    assert incr._shard_ids(spark, incr.path) == [0]
    assert _posting_set(spark, incr) == want


def test_indexer_scored_append_matches_full_bm25(docs, tmp_path, spark):
    """BM25 over an appended scored index must equal the full rebuild's
    scores exactly: the corpus stats (N, avgdl) aggregate over the sharded
    stats sidecar, so they reflect the grown corpus."""
    from dampr_spark.operators.indexer import Indexer

    full = Indexer(str(tmp_path / "sfull")).build_scored(docs, "text", "doc_id")
    incr = Indexer(str(tmp_path / "sincr")).build_scored(
        docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id"
    )
    incr.append_scored(docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id")
    terms = ["spark", "shuffle", "window"]
    want = [(r.doc_id, r.bm25) for r in full.search_bm25(spark, terms, k=10).collect()]
    got = [(r.doc_id, r.bm25) for r in incr.search_bm25(spark, terms, k=10).collect()]
    assert got == want and want
    incr.compact(spark)
    assert [
        (r.doc_id, r.bm25) for r in incr.search_bm25(spark, terms, k=10).collect()
    ] == want


def test_indexer_positional_append_matches_full_phrase(docs, tmp_path, spark):
    from dampr_spark.operators.indexer import Indexer

    full = Indexer(str(tmp_path / "pfull")).build_positional(docs, "text", "doc_id")
    incr = Indexer(str(tmp_path / "pincr")).build_positional(
        docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id"
    )
    incr.append_positional(docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id")
    # pick a phrase that actually occurs: first two tokens of some doc
    first = docs.select(F.split("text", r"\s+").alias("t")).first()["t"][:2]
    want = {(r.doc_id, r.start) for r in full.phrase(spark, list(first)).collect()}
    got = {(r.doc_id, r.start) for r in incr.phrase(spark, list(first)).collect()}
    assert got == want and want


def test_resize_images(planted):
    media = multimodal.documents_as_media(planted)
    out = multimodal.resize_images(media, width=8, height=4, fake=True).collect()
    assert len(out) == planted.count()
    assert all(len(r.content) == 8 * 4 for r in out)
    assert all((r.width, r.height) == (8, 4) for r in out)
    # deterministic: same payload -> same resized bytes (docs 1,2 identical)
    by_id = {r.media_id: bytes(r.content) for r in out}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[4]


def test_dedup_null_empty_short_texts(spark):
    """Degenerate documents must not crash any strategy and must not emit
    spurious cross-pairs: null-text docs pair with nothing (null shingle
    sets fail the verify), identical empty/short docs pair with each other."""
    rows = [
        (1, None),
        (2, ""),
        (3, ""),
        (4, "ab"),  # shorter than shingle_k
        (5, "ab"),
        (6, "a completely normal document about spark shuffles and joins"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mh = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_dedup(df, threshold=0.5).collect()}
    assert (2, 3) in mh and (4, 5) in mh
    assert all(a not in (1,) and b not in (1,) for a, b in mh)
    assert all({a, b} <= {2, 3} or {a, b} <= {4, 5} for a, b in mh)

    ng = {(r.id_a, r.id_b) for r in dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()}
    assert (4, 5) in ng
    assert all(6 not in p and 1 not in p for p in ng)

    sh = {(r.id_a, r.id_b) for r in dedup.simhash_dedup(df).collect()}
    assert (2, 3) in sh and (4, 5) in sh


def test_choose_bands_s_curve():
    # threshold 0.5 with 64 perms -> 16 bands of 4 rows (S-curve exactly 0.5)
    assert dedup.choose_bands(64, 0.5) == 16
    # threshold 0.8 -> 8 bands of 8 rows (S-curve 0.77)
    assert dedup.choose_bands(64, 0.8) == 8
    # near-exact threshold -> single band of all 64 rows
    assert dedup.choose_bands(64, 1.0) == 1
    # very low threshold -> r=1 fallback (every perm its own band)
    assert dedup.choose_bands(64, 0.01) == 64


def test_near_dup_clusters_and_drop(spark):
    # pair graph: {1,2,3} a triangle-ish cluster (1-2, 2-3: chain, diameter 2),
    # {7,8} a pair, 9 isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    labels = {r.id: r.canonical for r in dedup.near_dup_clusters(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}

    df = spark.createDataFrame(
        [(i, f"doc{i}") for i in (1, 2, 3, 7, 8, 9)], "doc_id long, text string"
    )
    kept = sorted(r.doc_id for r in dedup.drop_near_dups(df, pairs).collect())
    assert kept == [1, 7, 9]

    # chain of diameter 4 needs more iterations
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    l3 = {r.id: r.canonical for r in dedup.near_dup_clusters(chain, iters=4).collect()}
    assert set(l3.values()) == {1}


def test_minhash_to_drop_pipeline(planted):
    """End-to-end corpus shrink: pair generation -> cluster -> drop."""
    pairs = dedup.minhash_lsh_dedup(planted, threshold=0.5)
    kept = dedup.drop_near_dups(planted, pairs)
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [1, 4, 5]  # 2 (exact dup) and 3 (near dup) collapse into 1


def test_asof_join_semantics(spark):
    from dampr_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 100, "L1"), (1, 200, "L2"), (2, 50, "L3")], "k long, ts long, lv string"
    )
    right = spark.createDataFrame(
        [(1, 100, "R1"), (1, 150, "R2"), (2, 60, "R3")], "k long, ts long, rv string"
    )
    out = {
        r.lv: (r.asof_rv, r.asof_ts)
        for r in asof_join(left, right, on=["k"], ts_col="ts").collect()
    }
    assert out["L1"] == ("R1", 100)  # inclusive: right at equal ts matches
    assert out["L2"] == ("R2", 150)  # most recent prior, not first
    assert out["L3"] == (None, None)  # no right row at/before ts=50


def test_kmeans_deterministic_and_improving(spark, sf_dir):
    """Distributed Lloyd's: deterministic across runs (fixed init), exactly
    k clusters, and refinement must not worsen the mean centroid cosine
    relative to the unrefined (init-centroid) assignment."""
    from dampr_spark.operators.similarity import kmeans_fit_assign
    from dampr_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "embeddings")

    def run(iters):
        rows = kmeans_fit_assign(e, k=8, iters=iters).collect()
        mean = sum(r.sim for r in rows) / len(rows)
        return {r.id: r.cluster for r in rows}, mean

    a1, m1 = run(0)
    a2, m2 = run(3)
    a3, m3 = run(3)
    assert a2 == a3 and m2 == m3  # reproducible
    assert len(set(a2.values())) == 8
    assert m2 >= m1 - 1e-9  # refinement never hurts the fit
    assert m2 > m1 + 1e-4  # ...and actually moves on this data


def test_kmeans_scans_source_once_per_fit(spark):
    """The corpus frame is persisted across Lloyd rounds: the source
    lineage (here a Python map carrying an accumulator) must execute once
    per input row for the WHOLE fit — seeding sample, every
    assign+recompute round, and the final assignment all read the cache,
    not re-run the scan (the iters+2-scans regression flagged in round 6)."""
    import numpy as np
    from pyspark.sql import Row

    from dampr_spark.operators.similarity import kmeans_fit_assign

    rng = np.random.default_rng(7)
    data = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(200)]
    acc = spark.sparkContext.accumulator(0)

    def tap(t):
        acc.add(1)
        return Row(vec_id=t[0], embedding=t[1])

    df = spark.createDataFrame(
        spark.sparkContext.parallelize(data, 4).map(tap),
        "vec_id long, embedding array<double>",
    )
    res = kmeans_fit_assign(df, k=4, iters=3)
    assert res.count() == 200
    assert acc.value == 200, f"source scanned {acc.value / 200:.1f}x per fit"


def test_drop_seen_exact_incremental(spark):
    """New-shard rows already fingerprinted in history are dropped; fresh
    dups within the shard collapse to the min id."""
    from dampr_spark.functions.text import fingerprint
    from dampr_spark.operators.dedup import drop_seen_exact

    hist = spark.createDataFrame(
        [(100, "seen before"), (101, "also seen")], "doc_id long, text string"
    ).select(fingerprint("text").alias("fp"))
    new = spark.createDataFrame(
        [
            (1, "seen before"),      # exact historical dup -> dropped
            (2, "Seen   BEFORE "),   # normalized historical dup -> dropped
            (3, "brand new"),
            (4, "brand new"),        # within-shard dup -> collapses to 3
            (5, "another fresh"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in drop_seen_exact(new, hist).collect())
    assert kept == [3, 5]


def test_incremental_minhash_pairs_asymmetric(spark):
    """A new doc near-identical to a historical one pairs with it; unrelated
    new docs pair with nothing; history never pairs with itself."""
    from dampr_spark.operators.dedup import incremental_minhash_pairs

    base = "the quick brown fox jumps over the lazy dog " * 8
    hist = spark.createDataFrame(
        [(100, base), (101, "completely different historical text " * 8)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, base + "tail"), (2, "nothing like anything in history at all " * 8)],
        "doc_id long, text string",
    )
    pairs = {
        (r.new_id, r.hist_id)
        for r in incremental_minhash_pairs(new, hist).collect()
    }
    assert (1, 100) in pairs
    assert all(n == 1 for n, _ in pairs), pairs  # doc 2 pairs with nothing


def test_asof_join_directions_and_tolerance(spark):
    from dampr_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 100, "L1"), (1, 205, "L2"), (2, 50, "L3")], "k long, ts long, lv string"
    )
    right = spark.createDataFrame(
        [(1, 100, "R1"), (1, 150, "R2"), (1, 300, "R3"), (2, 60, "R4")],
        "k long, ts long, rv string",
    )

    fwd = {
        r.lv: (r.asof_rv, r.asof_ts)
        for r in asof_join(left, right, ["k"], "ts", direction="forward").collect()
    }
    assert fwd["L1"] == ("R1", 100)  # inclusive at equal ts
    assert fwd["L2"] == ("R3", 300)  # earliest following
    assert fwd["L3"] == ("R4", 60)

    near = {
        r.lv: (r.asof_rv, r.asof_ts)
        for r in asof_join(left, right, ["k"], "ts", direction="nearest").collect()
    }
    assert near["L1"] == ("R1", 100)
    assert near["L2"] == ("R2", 150)  # 55 back vs 95 forward
    assert near["L3"] == ("R4", 60)   # no backward match at all

    tol = {
        r.lv: (r.asof_rv, r.asof_ts)
        for r in asof_join(
            left, right, ["k"], "ts", direction="nearest", tolerance=20
        ).collect()
    }
    assert tol["L1"] == ("R1", 100)
    assert tol["L2"] == (None, None)  # nearest is 55 away > 20
    assert tol["L3"] == ("R4", 60)    # 10 away, inside tolerance

    # nearest tie prefers backward
    tie_left = spark.createDataFrame([(1, 200, "T")], "k long, ts long, lv string")
    tie_right = spark.createDataFrame(
        [(1, 150, "B"), (1, 250, "F")], "k long, ts long, rv string"
    )
    t = asof_join(tie_left, tie_right, ["k"], "ts", direction="nearest").first()
    assert (t.asof_rv, t.asof_ts) == ("B", 150)


def test_asof_join_timestamp_tolerance(spark):
    """Interval tolerance over real timestamps (abs of a day-time interval)."""
    import datetime as dt

    from dampr_spark.operators.temporal import asof_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, t0, "L1")], "k long, ts timestamp, lv string"
    )
    right = spark.createDataFrame(
        [(1, t0 - dt.timedelta(minutes=45), "R1")], "k long, ts timestamp, rv string"
    )
    hit = asof_join(
        left, right, ["k"], "ts", tolerance="INTERVAL 1 HOUR"
    ).first()
    assert hit.asof_rv == "R1"
    miss = asof_join(
        left, right, ["k"], "ts", tolerance="INTERVAL 10 MINUTES"
    ).first()
    assert miss.asof_rv is None


def test_audio_segments(spark):
    from dampr_spark.operators import multimodal

    rows = [(7, "audio", b"0123456789" * 10, "audio/wav", None, None, 12_000)]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    segs = multimodal.audio_segments(media, segment_ms=5000, fake=True).collect()
    # 12s clip at 5s windows -> [0,5000) [5000,10000) [10000,12000)
    assert [(s.seg_id, s.start_ms, s.end_ms) for s in segs] == [
        (0, 0, 5000),
        (1, 5000, 10000),
        (2, 10000, 12000),
    ]
    # byte slices tile the clip exactly and features are per-segment
    assert sum(s.n_bytes for s in segs) == 100
    assert all(len(s.features) == multimodal.FEATURE_DIM for s in segs)
    assert segs[0].features != segs[1].features

    import pytest as _pytest

    with _pytest.raises(Exception, match="NotImplementedError|audio codec"):
        multimodal.audio_segments(media, fake=False).collect()


def test_audio_segments_zero_duration(spark):
    """Unknown/zero duration: one whole-clip segment with an honest [0,0]
    span, not a phantom 1 ms segment."""
    from dampr_spark.operators import multimodal

    rows = [(8, "audio", b"payload", "audio/wav", None, None, 0)]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    segs = multimodal.audio_segments(media, segment_ms=5000, fake=True).collect()
    assert [(s.seg_id, s.start_ms, s.end_ms, s.n_bytes) for s in segs] == [
        (0, 0, 0, 7)
    ]


def test_audio_segments_null_duration(spark):
    """NULL duration_ms (what documents_as_media emits) reaches pandas as
    NaN in a float64 column — NaN is truthy, so `or 0` can't guard it; the
    unknown-duration path must still fire instead of ValueError."""
    from dampr_spark.operators import multimodal

    rows = [(9, "audio", b"nulldur", "audio/wav", None, None, None)]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    segs = multimodal.audio_segments(media, segment_ms=5000, fake=True).collect()
    assert [(s.seg_id, s.start_ms, s.end_ms, s.n_bytes) for s in segs] == [
        (0, 0, 0, 7)
    ]


def test_frame_sample_null_duration(spark):
    """Same NaN-duration guard for video: a NULL-duration clip yields the
    single frame at offset 0 (max(dur,1) floor), not a crash."""
    from dampr_spark.operators import multimodal

    rows = [(10, "video", b"nulldurvid", "video/mp4", None, None, None)]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    frames = multimodal.frame_sample(media, every_ms=1000, fake=True).collect()
    assert [f.frame_ms for f in frames] == [0]


def test_remove_boilerplate_chunks_semantics(spark):
    """A chunk shared by >= min_docs docs is stripped from every doc; the
    reassembled fingerprint preserves original chunk order; a fully-removed
    doc keeps a row with md5('')."""
    import hashlib

    from dampr_spark.operators.dedup import remove_boilerplate_chunks

    boiler = "b0 b1 b2"  # 3-token boilerplate chunk (chunk_tokens=3)
    rows = [
        (1, f"{boiler} x1 x2 x3 y1 y2 y3"),
        (2, f"k1 k2 k3 {boiler}"),
        (3, f"{boiler} z1 z2 z3"),
        (4, boiler),          # all chunks removed
        (5, "u1 u2 u3 u4"),   # untouched (2 chunks: 'u1 u2 u3', 'u4')
        (6, None),            # NULL text: dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in remove_boilerplate_chunks(
            df, chunk_tokens=3, min_docs=3
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    assert (out[1].n_chunks, out[1].n_removed, out[1].n_tokens_after) == (3, 1, 6)
    assert out[1].clean_fp == hashlib.md5(b"x1 x2 x3 y1 y2 y3").hexdigest()
    assert (out[2].n_chunks, out[2].n_removed) == (2, 1)
    assert out[2].clean_fp == hashlib.md5(b"k1 k2 k3").hexdigest()
    assert (out[4].n_removed, out[4].n_tokens_after) == (1, 0)
    assert out[4].clean_fp == hashlib.md5(b"").hexdigest()
    assert (out[5].n_removed, out[5].n_tokens_after) == (0, 4)
    assert out[5].clean_fp == hashlib.md5(b"u1 u2 u3 u4").hexdigest()


def test_fuzzy_prefix_pairs_semantics(spark):
    """Same-block pairs scored by prefix Levenshtein; cross-block and
    over-distance pairs dropped; an over-cap hot block emits nothing."""
    from dampr_spark.operators.dedup import fuzzy_prefix_pairs

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma DELTA"),   # same block, lev 5 over full prefix
        (3, "alpha beta totally different tail"),
        (4, "other block entirely"),
        # hot block: 4 docs sharing block 'hot blk' with cap 3 -> dropped
        (10, "hot blk aaaa"),
        (11, "hot blk aaab"),
        (12, "hot blk aaac"),
        (13, "hot blk aaad"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.lev
        for r in fuzzy_prefix_pairs(
            df, block_tokens=2, prefix_chars=80, max_distance=10, max_block=3
        ).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 5
    assert all(a < b for a, b in got)
    assert not any(i in p for p in got for i in (10, 11, 12, 13)), "hot block must be dropped"
    assert (1, 3) not in got, "distance above threshold must be dropped"


def test_kmeans_kmeanspp_seeding_on_adversarial_id_order(spark):
    """Planted-cluster fixture with ADVERSARIAL id layout: the 50 lowest
    ids all sit in one cluster, so the legacy lowest-id init drops every
    seed into the same blob. The default k-means++ init (deterministic
    D^2 draw over a hash-ordered sample) must still find all 4 planted
    clusters, fit at least as well as the legacy init, and stay
    reproducible."""
    import numpy as np

    from dampr_spark.operators.similarity import kmeans_fit_assign

    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    for c in range(4):
        base = np.zeros(8)
        base[2 * c] = 1.0
        for _ in range(50):
            v = base + rng.normal(0, 0.03, 8)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def fit(init):
        res = kmeans_fit_assign(df, k=4, iters=3, init=init).collect()
        labels = {r.id: r.cluster for r in res}
        return sum(r.sim for r in res) / len(res), labels

    m_pp, l_pp = fit("kmeanspp")
    m_pp2, l_pp2 = fit("kmeanspp")
    m_lo, _ = fit("lowest_id")
    assert l_pp == l_pp2 and m_pp == m_pp2  # deterministic
    assert len(set(l_pp.values())) == 4, "k-means++ must find all planted clusters"
    assert m_pp >= m_lo - 1e-9, f"new init fits worse: {m_pp} < {m_lo}"
    assert m_pp > 0.99  # planted clusters are tight; the fit must be too
    # Every planted cluster maps to ONE label under the k-means++ fit.
    for c in range(4):
        assert len({l_pp[i] for i in range(50 * c, 50 * (c + 1))}) == 1


def test_ivf_write_partitioned_search_prunes(spark, sf_dir, tmp_path_factory):
    """IVFIndex.write_partitioned + search_pruned: results must match
    query_topk on the in-memory assignment, AND the pruned search must
    physically read ONLY the nprobe probed list directories — partition
    pruning is the entire point of the layout (VERDICT r5 next-3)."""
    import re

    import numpy as np

    from dampr_spark.operators.similarity import IVFIndex
    from dampr_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "embeddings")
    idx = IVFIndex(n_lists=8, nprobe=2).fit(e, sample_size=2000)
    assigned = idx.assign(e)
    out = str(tmp_path_factory.mktemp("ivf") / "corpus")
    idx.write_partitioned(assigned, out)

    qvec = [float(x) for x in e.select("embedding").first()[0]]
    want = [(r.vec_id, r.cos_sim) for r in idx.query_topk(assigned, qvec, k=5).collect()]
    res = idx.search_pruned(spark, out, qvec, k=5)
    got = [(r.vec_id, r.cos_sim) for r in res.collect()]
    assert got == want

    # Physical proof of pruning: every file actually read by the pruned
    # search lives under a probed list_id directory.
    q = np.asarray(qvec)
    q /= np.linalg.norm(q)
    probes = {int(p) for p in np.argsort(-(idx.centroids @ q))[: idx.nprobe]}
    probed_rel = (
        spark.read.parquet(out)
        .filter(F.col("list_id").isin(list(probes)))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    dirs = {re.search(r"list_id=(\d+)", r.f).group(1) for r in probed_rel}
    assert dirs == {str(p) for p in probes}, f"read dirs {dirs} != probes {probes}"
    # Plan lock: the list_id predicate reaches the scan as a PARTITION
    # filter, not a post-scan Filter.
    plan = (
        spark.read.parquet(out)
        .filter(F.col("list_id").isin(list(probes)))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "list_id" in plan.split("PartitionFilters")[1][:200]


def test_containment_dominates_jaccard(spark, sf_dir):
    """For every pair, containment (inter/min) >= jaccard (inter/union) —
    so at equal thresholds the containment pair set is a superset, and on
    the planted subset-dup shape containment flags what Jaccard misses."""
    from dampr_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )
    from dampr_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.1, max_posting=64).collect()
    }
    con = {
        (r.id_a, r.id_b): r.containment
        for r in ngram_containment_pairs(docs, n=3, threshold=0.1, max_posting=64).collect()
    }
    assert set(jac) <= set(con), "containment>=jaccard implies superset at equal tau"
    for k, j in jac.items():
        assert con[k] >= j - 1e-9

    # planted subset shape: short doc fully inside a 5x longer one
    short = "alpha beta gamma delta epsilon zeta eta theta"
    long = " ".join(["filler%d word%d stuff%d" % (i, i, i) for i in range(12)]) + " " + short
    planted = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    c = ngram_containment_pairs(planted, n=3, threshold=0.9).collect()
    j = ngram_jaccard_pairs(planted, n=3, threshold=0.9).collect()
    assert [(r.id_a, r.id_b) for r in c] == [(1, 2)] and j == []


def test_scalar_quantizer_roundtrip_and_recall(spark, sf_dir):
    """SQ8: codes are bytes, deterministic across two encodes, per-dim
    reconstruction error is bounded by half a quantization step, and the
    quantized top-20 recovers >= 18/20 of the exact top-20."""
    from dampr_spark.operators.similarity import ScalarQuantizer, brute_force_topk
    from dampr_spark.functions.vector import valid_vector
    from dampr_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "embeddings").filter(valid_vector("embedding"))
    sq = ScalarQuantizer().fit(e)
    enc = sq.encode(e).localCheckpoint(eager=True)
    assert dict(enc.dtypes)["codes"] == "array<tinyint>"

    # determinism: re-encode equals first encode
    enc2 = sq.encode(e)
    diff = (
        enc.select("vec_id", F.col("codes").alias("c1"))
        .join(enc2.select("vec_id", F.col("codes").alias("c2")), "vec_id")
        .filter(F.col("c1") != F.col("c2"))
        .count()
    )
    assert diff == 0

    # reconstruction error bound: |x - x̂| <= step/2 per dim (+ float eps)
    rec = enc.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        sq.decoded("codes").alias("r"),
    )
    worst_steps = max(
        (hi - lo) / 255.0 for lo, hi in zip(sq.lo, sq.hi) if hi > lo
    )
    max_err = rec.select(
        F.aggregate(
            F.zip_with("e", "r", lambda x, y: F.abs(x - y)),
            F.lit(0.0),
            lambda a, t: F.greatest(a, t),
        ).alias("m")
    ).agg(F.max("m")).first()[0]
    assert max_err <= worst_steps / 2 + 1e-9

    q = list(e.orderBy("vec_id").first().embedding)
    exact = {r.vec_id for r in brute_force_topk(e, q, k=20).collect()}
    quant = {r.vec_id for r in sq.topk(enc, q, k=20).collect()}
    assert len(exact & quant) >= 18


def test_scalar_quantizer_clamps_out_of_range_values(spark):
    """Fit on one corpus, encode new data outside the fitted per-dim
    range (the train/encode split every streamed corpus hits): values
    must clamp to the range edges — codes stay in [-128, 127] with no
    tinyint wraparound, and reconstruction stays inside [lo, hi]."""
    from dampr_spark.operators.similarity import ScalarQuantizer

    train = spark.createDataFrame(
        [(1, [0.0, 10.0]), (2, [1.0, 20.0])],
        "vec_id long, embedding array<double>",
    )
    sq = ScalarQuantizer().fit(train)
    assert sq.lo == [0.0, 10.0] and sq.hi == [1.0, 20.0]
    fresh = spark.createDataFrame(
        [(3, [-5.0, 25.0]), (4, [0.5, 15.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r.vec_id: r for r in sq.encode(fresh).collect()}
    assert list(rows[3].codes) == [-128, 127]  # clamped to edges, no wrap
    assert all(-128 <= c <= 127 for c in rows[4].codes)
    rec = {
        r.vec_id: r.r
        for r in sq.encode(fresh).select("vec_id", sq.decoded("codes").alias("r")).collect()
    }
    assert rec[3][0] == 0.0 and rec[3][1] == 20.0  # reconstructs at the edge


def test_ivf_sq8_composition_pruned_quantized_search(spark, sf_dir, tmp_path_factory):
    """The full ANN-at-scale story composed: IVF-assign the corpus, SQ8
    encode it, write hive-partitioned by list_id WITHOUT the float
    column, then search by (a) pruning to the probed lists and (b)
    ranking cosine on the byte-code reconstruction — the float vectors
    are never stored or read. Result must match running the same
    quantized ranking over the unpruned in-memory frame restricted to
    the probe lists."""
    import numpy as np

    from dampr_spark.functions.vector import valid_vector
    from dampr_spark.operators.similarity import IVFIndex, ScalarQuantizer
    from dampr_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "embeddings").filter(valid_vector("embedding"))
    idx = IVFIndex(n_lists=8, nprobe=3).fit(e, sample_size=2000)
    sq = ScalarQuantizer().fit(e)
    enc = sq.encode(idx.assign(e)).select("vec_id", "list_id", "codes")
    out = str(tmp_path_factory.mktemp("ivf_sq8") / "corpus")
    idx.write_partitioned(enc, out)

    stored = spark.read.parquet(out)
    assert "embedding" not in stored.columns  # codes only: 4x smaller

    qvec = [float(x) for x in e.orderBy("vec_id").first().embedding]
    q = np.asarray(qvec)
    q /= np.linalg.norm(q)
    probes = [int(p) for p in np.argsort(-(idx.centroids @ q))[: idx.nprobe]]

    got = sq.topk(stored.filter(F.col("list_id").isin(probes)), qvec, k=10).collect()
    want = sq.topk(enc.filter(F.col("list_id").isin(probes)), qvec, k=10).collect()
    assert [(r.vec_id, r.cos_sim) for r in got] == [
        (r.vec_id, r.cos_sim) for r in want
    ]
    # and the probed read really pruned: only probe directories touched
    import re

    files = stored.filter(F.col("list_id").isin(probes)).select(
        F.input_file_name().alias("f")
    ).distinct().collect()
    dirs = {re.search(r"list_id=(\d+)", r.f).group(1) for r in files}
    assert dirs == {str(p) for p in probes}


# ---------------------------------------------------------------------------
# suffix-run substring dedup
# ---------------------------------------------------------------------------


def _words(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


@pytest.fixture(scope="module")
def substring_planted(spark):
    """Docs with a KNOWN 30-token shared run at known positions, plus noise."""
    shared = _words("run", 30)
    rows = [
        # doc 1: 5 unique tokens, then the 30-token run (starts at pos 6)
        (1, _words("a", 5) + " " + shared + " " + _words("b", 4)),
        # doc 2: run starts at pos 11
        (2, _words("c", 10) + " " + shared),
        # doc 3: all-unique noise
        (3, _words("z", 40)),
        # doc 4: looping text — 4-token phrase repeated 5x back-to-back
        (4, " ".join([_words("loop", 4)] * 5)),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repeated_substring_spans_planted(substring_planted):
    spans = dedup.repeated_substring_spans(
        substring_planted, anchor_tokens=8, min_len=20
    ).collect()
    cross = [r for r in spans if {r.id_a, r.id_b} == {1, 2}]
    assert len(cross) == 1
    (r,) = cross
    assert (r.id_a, r.start_a, r.id_b, r.start_b, r.match_len) == (1, 6, 2, 11, 30)


def test_repeated_substring_spans_min_len_filters(substring_planted):
    # raising min_len above the planted run drops it
    spans = dedup.repeated_substring_spans(
        substring_planted, anchor_tokens=8, min_len=31
    ).collect()
    assert not [r for r in spans if {r.id_a, r.id_b} == {1, 2}]


def test_repeated_substring_spans_hash_anchors_equal(substring_planted):
    a = sorted(
        tuple(r)
        for r in dedup.repeated_substring_spans(
            substring_planted, anchor_tokens=8, min_len=20
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in dedup.repeated_substring_spans(
            substring_planted, anchor_tokens=8, min_len=20, hash_anchors=True
        ).collect()
    )
    assert a == b and len(a) >= 1


def test_repeated_substring_spans_within_doc(substring_planted):
    # doc 4 = 4-token phrase x5 = 20 tokens; with 8-token anchors the
    # periodic structure yields runs on every multiple-of-4 diagonal whose
    # longest (offset 4) spans tokens 1..16 matching 5..20 => match_len 16
    spans = dedup.repeated_substring_spans(
        substring_planted, anchor_tokens=8, min_len=8, within_doc=True
    ).collect()
    assert all(r.id_a == r.id_b == 4 for r in spans)
    best = max(r.match_len for r in spans)
    assert best == 16
    # cross-doc mode must not report doc 4 against itself
    cross = dedup.repeated_substring_spans(
        substring_planted, anchor_tokens=8, min_len=8
    ).collect()
    assert not [r for r in cross if r.id_a == r.id_b]


def test_repeated_substring_cap_undercounts_never_fabricates(spark):
    # 6 docs all sharing one 12-token run: posting size 6 > cap 4 drops the
    # hot anchors entirely — no pairs, but nothing invented either
    shared = _words("hot", 12)
    rows = [(i, _words(f"u{i}_", 3) + " " + shared) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.repeated_substring_spans(
        df, anchor_tokens=8, min_len=12, max_posting=4
    ).collect()
    assert capped == []
    full = dedup.repeated_substring_spans(
        df, anchor_tokens=8, min_len=12, max_posting=64
    ).collect()
    assert len(full) == 15  # C(6,2) pairs, one span each
    assert all(r.match_len == 12 for r in full)


def test_repeated_substring_min_len_validation(substring_planted):
    with pytest.raises(ValueError):
        dedup.repeated_substring_spans(
            substring_planted, anchor_tokens=8, min_len=5
        )


def test_substring_report_interval_union(spark):
    # doc 1 shares [1..30] with doc 2 and [21..50] with doc 3: the union is
    # 50 tokens, NOT 60 — overlapping spans must merge
    seg_a = _words("p", 20)  # tokens 1..20 of doc 1
    seg_b = _words("q", 10)  # tokens 21..30
    seg_c = _words("r", 20)  # tokens 31..50
    rows = [
        (1, " ".join([seg_a, seg_b, seg_c])),
        (2, " ".join([seg_a, seg_b]) + " " + _words("x", 10)),
        (3, _words("y", 10) + " " + " ".join([seg_b, seg_c])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rep = {
        r.doc_id: r
        for r in dedup.substring_dedup_report(
            df, anchor_tokens=8, min_len=20
        ).collect()
    }
    assert rep[1].n_partners == 2
    assert rep[1].dup_tokens == 50 and rep[1].n_tokens == 50
    assert rep[1].dup_frac == 1.0
    assert rep[2].dup_tokens == 30  # [1..30] of doc 2
    assert rep[3].dup_tokens == 30  # [11..40] of doc 3


def test_duplicate_ngram_coverage_planted(substring_planted):
    cov = {
        r.doc_id: r
        for r in dedup.duplicate_ngram_coverage(
            substring_planted, n=3
        ).collect()
    }
    # doc 4 (4-token phrase x5): every 3-gram window is part of a repeated
    # phrase => full coverage
    assert cov[4].dup_frac == 1.0 and cov[4].dup_tokens == cov[4].n_tokens
    # docs with all-unique tokens score exactly 0 and still appear
    assert cov[3].dup_frac == 0.0 and cov[3].dup_tokens == 0
    assert set(cov) == {1, 2, 3, 4}


def test_repeated_substring_plan_shuffles(substring_planted):
    # the island groupBy must REUSE the window's diagonal partitioning:
    # exactly 3 exchanges (parallelize round-robin, anchor groupBy, diagonal
    # window) and no nested-loop/cartesian anywhere
    spans = dedup.repeated_substring_spans(
        substring_planted, anchor_tokens=8, min_len=20
    )
    plan = spans._jdf.queryExecution().executedPlan().toString()
    # ONE diagonal shuffle serves both the run window and the island groupBy
    assert plan.count("hashpartitioning(id_a") == 1, plan
    # anchor groupBy is the only other hash exchange
    assert plan.count("hashpartitioning(gram") == 1, plan
    assert plan.count("Exchange") <= 3, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_trim_repeated_spans_keep_first(spark):
    shared = _words("run", 30)
    rows = [
        (1, _words("a", 5) + " " + shared + " " + _words("b", 4)),
        (2, _words("c", 10) + " " + shared),
        (3, shared),  # doc entirely the shared run
        (4, _words("z", 40)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = {
        r.doc_id: r
        for r in dedup.trim_repeated_spans(
            df, anchor_tokens=8, min_len=20
        ).collect()
    }
    # lowest doc keeps the run verbatim
    assert res[1].n_tokens_after == 39 and shared in res[1].text
    # later docs lose exactly the span, keeping their unique prefix
    assert res[2].text == _words("c", 10)
    # a doc that IS the span trims to empty, not dropped
    assert res[3].n_tokens_after == 0 and res[3].text == ""
    # untouched docs pass through verbatim
    assert res[4].text == _words("z", 40)
    # every doc appears exactly once
    assert sorted(res) == [1, 2, 3, 4]


def test_trim_repeated_spans_overlapping_cuts_union(spark):
    # doc 3 shares [1..30] with doc 1 and [21..50] with doc 2: cuts merge
    # to [1..50] (not 60 tokens of cuts), leaving exactly the tail
    seg_a, seg_b, seg_c = _words("p", 20), _words("q", 10), _words("r", 20)
    rows = [
        (1, " ".join([seg_a, seg_b]) + " " + _words("x", 10)),
        (2, _words("y", 10) + " " + " ".join([seg_b, seg_c])),
        (3, " ".join([seg_a, seg_b, seg_c]) + " " + _words("tail", 5)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = {
        r.doc_id: r
        for r in dedup.trim_repeated_spans(
            df, anchor_tokens=8, min_len=20
        ).collect()
    }
    assert res[3].n_tokens_before == 55
    assert res[3].text == _words("tail", 5)
    # earlier docs keep their copies (cuts only land on the id_b side);
    # doc 2's copy of seg_b+seg_c is cut nowhere because doc 3 > 2
    assert res[1].n_tokens_after == res[1].n_tokens_before
    assert res[2].n_tokens_after == res[2].n_tokens_before


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------


def test_pq_fit_deterministic_and_code_shape(emb):
    pq1 = similarity.ProductQuantizer(m=8, k=256).fit(emb)
    pq2 = similarity.ProductQuantizer(m=8, k=256).fit(emb)
    import numpy as np

    assert np.array_equal(pq1.codebooks, pq2.codebooks)
    assert pq1.codebooks.shape == (8, 256, 8)
    rows = pq1.encode(emb).select("pq_codes").limit(20).collect()
    for r in rows:
        assert len(r.pq_codes) == 8
        assert all(-128 <= c <= 127 for c in r.pq_codes)


def test_pq_adc_equals_decoded_cosine(emb):
    """ADC lookup-table scoring must rank exactly like cosine on the full
    reconstruction — the tables ARE the reconstruction's dot/norm, just
    grouped per subspace."""
    from dampr_spark.functions.vector import cosine

    pq = similarity.ProductQuantizer(m=8, k=256).fit(emb)
    enc = pq.encode(emb).localCheckpoint(eager=True)
    q = [float(x) for x in emb.orderBy("vec_id").first().embedding]
    adc = pq.adc_topk(enc, q, topk=10).collect()
    dec = (
        enc.select(
            "vec_id",
            F.round(
                cosine(pq.decoded(), F.array(*[F.lit(x) for x in q])), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
        .collect()
    )
    assert [(r.vec_id, r.cos_sim) for r in adc] == [
        (r.vec_id, r.cos_sim) for r in dec
    ]


def test_pq_recall_vs_brute_force(emb):
    """8-byte PQ codes (64x compression) must keep the exact top-20 overlap
    far above the broken-index floor: measured 12-17/20 across corpora and
    queries; floor 6 catches an encode/table bug, never quantization
    noise (chance overlap is under 1 vector)."""
    pq = similarity.ProductQuantizer(m=8, k=256).fit(emb)
    enc = pq.encode(emb).localCheckpoint(eager=True)
    q = [float(x) for x in emb.orderBy("vec_id").first().embedding]
    exact = {r.vec_id for r in similarity.brute_force_topk(emb, q, k=20).collect()}
    got = {r.vec_id for r in pq.adc_topk(enc, q, topk=20).collect()}
    assert len(got & exact) >= 6, f"overlap {len(got & exact)}"


def test_pq_validation():
    with pytest.raises(ValueError):
        similarity.ProductQuantizer(m=8, k=1000)


def test_ivf_pq_composition_pruned_adc_search(spark, sf_dir, tmp_path_factory):
    """The full PQ-at-scale story composed: IVF-assign the corpus, PQ-encode
    it (8 bytes/vector), write hive-partitioned by list_id WITHOUT floats,
    then search by pruning to the probed lists and ADC-ranking the byte
    codes. Result must match the same ADC ranking over the unpruned
    in-memory frame restricted to the probe lists — and only probed
    directories may be touched."""
    import re

    import numpy as np

    from dampr_spark.functions.vector import valid_vector
    from dampr_spark.operators.similarity import IVFIndex, ProductQuantizer
    from dampr_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "embeddings").filter(valid_vector("embedding"))
    idx = IVFIndex(n_lists=8, nprobe=3).fit(e, sample_size=2000)
    pq = ProductQuantizer(m=8, k=256).fit(e)
    enc = pq.encode(idx.assign(e)).select("vec_id", "list_id", "pq_codes")
    out = str(tmp_path_factory.mktemp("ivf_pq") / "corpus")
    idx.write_partitioned(enc, out)

    stored = spark.read.parquet(out)
    assert "embedding" not in stored.columns

    qvec = [float(x) for x in e.orderBy("vec_id").first().embedding]
    q = np.asarray(qvec)
    q /= np.linalg.norm(q)
    probes = [int(p) for p in np.argsort(-(idx.centroids @ q))[: idx.nprobe]]

    got = pq.adc_topk(
        stored.filter(F.col("list_id").isin(probes)), qvec, topk=10
    ).collect()
    want = pq.adc_topk(
        enc.filter(F.col("list_id").isin(probes)), qvec, topk=10
    ).collect()
    assert [(r.vec_id, r.cos_sim) for r in got] == [
        (r.vec_id, r.cos_sim) for r in want
    ]
    files = (
        stored.filter(F.col("list_id").isin(probes))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    dirs = {re.search(r"list_id=(\d+)", r.f).group(1) for r in files}
    assert dirs == {str(p) for p in probes}


def test_trim_within_doc_collapses_periodic_text(spark):
    rows = [
        (1, "a b a b a b"),                 # period 2 -> keeps "a b"
        (2, _words("u", 12)),                # all-unique: untouched
        (3, " ".join([_words("loop", 3)] * 4)),  # period 3 x4 -> one period
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = {
        r.doc_id: r
        for r in dedup.trim_repeated_spans(
            df, anchor_tokens=2, min_len=2, within_doc=True
        ).collect()
    }
    assert res[1].text == "a b" and res[1].n_tokens_after == 2
    assert res[2].text == _words("u", 12)
    assert res[3].text == _words("loop", 3)
    # cross-doc mode must leave these single docs alone
    cross = {
        r.doc_id: r
        for r in dedup.trim_repeated_spans(
            df, anchor_tokens=2, min_len=2, within_doc=False
        ).collect()
    }
    assert cross[1].text == "a b a b a b"


def test_drop_near_dups_keep_best_planted(spark):
    """Keep-best must keep the highest-quality cluster member (not min-id),
    singletons untouched; min-id keep (drop_near_dups) keeps a different
    member on the same corpus."""
    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "today while reading a long article about distributed systems"
    )
    rows = [
        (1, base + " aaaaaa!!!! ????"),   # mangled copy (worse quality)
        (2, base),                          # clean copy
        (3, base + " zz@@##"),             # another mangled copy
        (4, "completely different content about spark engines and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from dampr_spark.functions.text import quality_score

    pairs = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.3).select("id_a", "id_b")
    assert {(r.id_a, r.id_b) for r in pairs.collect()} >= {(1, 2), (1, 3), (2, 3)}
    best = sorted(
        r.doc_id
        for r in dedup.drop_near_dups_keep_best(
            df, pairs, quality_score("text")
        ).collect()
    )
    q = {r.doc_id: r.q for r in df.select("doc_id", quality_score("text").alias("q")).collect()}
    assert q[2] > q[1] and q[2] > q[3]
    assert best == [2, 4]
    minid = sorted(r.doc_id for r in dedup.drop_near_dups(df, pairs).collect())
    assert minid == [1, 4]


def test_indexer_phrase_positional(tmp_path, spark):
    """Persisted positional index: exact-phrase hits with overlapping
    occurrences, repeated-word phrases, and no false hits when the words
    appear out of order or with gaps."""
    from dampr_spark.operators.indexer import Indexer

    rows = [
        (0, "the quick brown fox"),          # one hit at 1
        (1, "quick brown quick brown fox"),  # "quick brown" at 0 and 2
        (2, "brown quick fox"),              # reversed: no hit
        (3, "quick red brown fox"),          # gap: no hit
        (4, "go go go stop"),                # "go go" overlapping at 0,1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ix = Indexer(str(tmp_path / "pidx")).build_positional(docs, "text", "doc_id")

    hits = {
        (r.doc_id, r.start)
        for r in ix.phrase(spark, ["quick", "brown"]).collect()
    }
    assert hits == {(0, 1), (1, 0), (1, 2)}

    # repeated-word phrase: each slot must nominate independently
    gg = {(r.doc_id, r.start) for r in ix.phrase(spark, ["go", "go"]).collect()}
    assert gg == {(4, 0), (4, 1)}

    # single-word phrase degenerates to positional occurrences
    fox = {(r.doc_id, r.start) for r in ix.phrase(spark, ["fox"]).collect()}
    assert fox == {(0, 3), (1, 4), (2, 2), (3, 3)}

    # absent phrase -> empty
    assert ix.phrase(spark, ["fox", "quick"]).count() == 0


def test_prefix_filtered_jaccard_equals_exact_and_prunes(spark):
    """Prefix filtering is LOSSLESS: the pair set equals the plain
    uncapped posting-join result at the same threshold — on a corpus
    where a universal stopword gram would otherwise pair EVERY doc —
    and the prefix posting lists provably exclude that stopword gram."""
    from dampr_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filtered_jaccard_pairs,
        word_ngrams,
    )

    # every doc shares the "the end of" gram; only 0/1 are near-dups
    rows = [
        (0, "alpha beta gamma delta epsilon zeta theta iota kappa lam mu nu xi omicron pi rho sigma the end of"),
        (1, "alpha beta gamma delta epsilon zeta theta iota kappa lam mu nu xi omicron pi rho tau the end of"),
        (2, "one two three four five six the end of"),
        (3, "seven eight nine ten eleven twelve the end of"),
        (4, "red green blue cyan magenta yellow the end of"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    t = 0.5
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in prefix_filtered_jaccard_pairs(docs, threshold=t).collect()
    }
    want = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=t).collect()
    }
    assert got == want and got  # lossless, non-empty (0,1 pair survives)
    assert all(a == 0 and b == 1 for a, b, _ in got)

    # pruning evidence: the rarest-first prefix of each doc excludes the
    # universal gram, so prefix postings never contain "the end of"
    grams = docs.select(
        "doc_id", F.explode(word_ngrams("text", 3)).alias("gram")
    )
    dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("dfc"))
    from pyspark.sql.window import Window

    sz = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ranked = (
        grams.join(dfreq, "gram")
        .join(sz, "doc_id")
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("dfc", "gram")),
        )
    )
    prefix = ranked.filter(
        F.col("_rn") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1
    )
    assert prefix.filter(F.col("gram") == "the end of").count() == 0
    # candidate volume: prefix collisions pair only (0,1); any-gram
    # collisions pair all C(5,2)=10 docs
    any_pairs = (
        grams.alias("a")
        .join(grams.alias("b"), "gram")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    pref_pairs = (
        prefix.alias("a")
        .join(prefix.select("doc_id", "gram").alias("b"), "gram")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert any_pairs == 10 and pref_pairs < any_pairs


def test_sorted_neighborhood_matches_single_window_model(spark):
    """The distributed rank-recovery plan must equal the naive
    single-window model (sort all, compare each row to its next w
    neighbors) INCLUDING pairs that straddle range-partition boundaries —
    forced here by many partitions over few rows."""
    import itertools
    import random

    rng = random.Random(13)
    rows = []
    for i in range(60):
        base = f"prefix{i:03d} " + " ".join(f"w{rng.randrange(50)}" for _ in range(12))
        rows.append((i, base))
        if i % 7 == 0:  # planted near-dup adjacent in sort order
            rows.append((1000 + i, base[:-1] + "x"))
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)

    from dampr_spark.operators.dedup import sorted_neighborhood_pairs

    got = {
        (r.id_a, r.id_b, r.lev)
        for r in sorted_neighborhood_pairs(
            docs, window=3, max_distance=25
        ).collect()
    }

    # driver-side model
    w, kc, pc, md = 3, 40, 80, 25
    def lev(a, b):
        la, lb = len(a), len(b)
        dp = list(range(lb + 1))
        for i in range(1, la + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, lb + 1):
                cur = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
                prev, dp[j] = dp[j], cur
        return dp[lb]

    srt = sorted(((t[:kc], i, t[:pc]) for i, t in rows), key=lambda x: (x[0], x[1]))
    want = set()
    for a, b in itertools.combinations(range(len(srt)), 2):
        if b - a <= w:
            d = lev(srt[a][2], srt[b][2])
            if d <= md:
                ia, ib = srt[a][1], srt[b][1]
                want.add((min(ia, ib), max(ia, ib), d))
    assert got == want and want


# --- grid semantic dedup (deterministic SemDeDup variant) ---


@pytest.fixture(scope="module")
def grid_planted(spark):
    """Vectors with two planted near-identical groups plus singletons.
    Group A: ids 1,2,3 identical direction (cos 1.0); group B: ids 10,11
    identical; ids 20,21 nearly opposite corners (never pair)."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    a = rng.normal(size=64)
    b = rng.normal(size=64)
    for i in (1, 2, 3):
        rows.append((i, (a * (1.0 + 0.001 * i)).tolist()))  # same direction
    for i in (10, 11):
        rows.append((i, (b * (1.0 + 0.001 * i)).tolist()))
    rows.append((20, rng.normal(size=64).tolist()))
    rows.append((21, (-a).tolist()))
    rows.append((30, None))  # invalid: dropped
    rows.append((31, [0.0] * 64))  # zero vector: dropped
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_grid_cells_one_cell_per_valid_vector(grid_planted):
    cells = similarity.grid_cells(grid_planted, dims=4, buckets=4).collect()
    ids = {r.id for r in cells}
    assert ids == {1, 2, 3, 10, 11, 20, 21}  # null + zero vector dropped
    assert all(0 <= r.cell < 4**4 for r in cells)
    # scaled copies of the same direction share sign structure but grid
    # cells depend on magnitude too; identical-direction-and-near-identical
    # magnitude copies must land together
    by_id = {r.id: r.cell for r in cells}
    assert by_id[1] == by_id[2] == by_id[3]
    assert by_id[10] == by_id[11]


def test_semantic_grid_pairs_planted(grid_planted):
    pairs = similarity.semantic_grid_pairs(
        grid_planted, dims=4, buckets=4, tau=0.9
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert got == {(1, 2), (1, 3), (2, 3), (10, 11)}
    assert all(r.cos_sim >= 0.999 for r in pairs)


def test_semantic_grid_pairs_subset_of_brute_force(emb):
    blocked = similarity.semantic_grid_pairs(emb, tau=0.30).collect()
    exact = dedup.embedding_cosine_dups(emb, threshold=0.30).collect()
    b = {(r.id_a, r.id_b) for r in blocked}
    e = {(r.id_a, r.id_b) for r in exact}
    assert b <= e, f"blocking invented pairs: {b - e}"
    assert b, "expected at least one in-cell pair on the test corpus"


def test_semantic_grid_hot_cell_cap(grid_planted):
    # cap below group A's cell size (3) drops that cell entirely; group B
    # (2 members) survives — cap semantics identical to the posting-list ops
    pairs = similarity.semantic_grid_pairs(
        grid_planted, dims=4, buckets=4, tau=0.9, max_cell=2
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(10, 11)}


def test_semantic_grid_survivors_partition_the_corpus(spark, emb, sf_dir):
    """Survivors + dropped members partition the valid corpus: every
    cluster contributes exactly its min id, absorbed counts sum back to
    the corpus size."""
    from dampr_spark.plans import all_queries
    from dampr_spark.functions.vector import valid_vector

    total = emb.filter(valid_vector("embedding")).count()
    rows = all_queries()["semantic_grid_survivors"].builder(spark, sf_dir).collect()
    ids = [r.vec_id for r in rows]
    assert len(ids) == len(set(ids))  # each survivor exactly once
    assert sum(r.n_members for r in rows) == total  # absorbed counts cover all
    assert all(r.n_members >= 1 for r in rows)


def test_probe_pairs_superset_of_plain_and_subset_of_brute(emb):
    plain = {
        (r.id_a, r.id_b)
        for r in similarity.semantic_grid_pairs(emb, buckets=6, tau=0.30).collect()
    }
    probe = {
        (r.id_a, r.id_b)
        for r in similarity.semantic_grid_probe_pairs(
            emb, buckets=6, tau=0.30
        ).collect()
    }
    brute = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_cosine_dups(emb, threshold=0.30).collect()
    }
    assert plain <= probe, f"probe lost same-cell pairs: {plain - probe}"
    assert probe <= brute, f"probe invented pairs: {probe - brute}"
    assert len(probe) > len(plain), "probing must add boundary pairs here"


def test_probe_pairs_guarantee_exact(emb, spark):
    """The guarantee, asserted as EQUALITY: the probe set is exactly the
    brute-force tau-pairs whose per-dim bucket distance <= 1 (cap lifted
    so participation cannot differ) — not just a superset."""
    from dampr_spark.functions.vector import valid_vector

    buckets, tau = 6, 0.30
    probe = {
        (r.id_a, r.id_b)
        for r in similarity.semantic_grid_probe_pairs(
            emb, buckets=buckets, tau=tau, max_cell=10**9
        ).collect()
    }
    cells = {
        r.id: r.cell
        for r in similarity.grid_cells(emb, buckets=buckets).collect()
    }

    def digits(c):
        return [(c // buckets ** (3 - i)) % buckets for i in range(4)]

    want = set()
    for r in dedup.embedding_cosine_dups(
        emb.filter(valid_vector("embedding")), threshold=tau
    ).collect():
        da, db = digits(cells[r.id_a]), digits(cells[r.id_b])
        if all(abs(x - y) <= 1 for x, y in zip(da, db)):
            want.add((r.id_a, r.id_b))
    assert probe == want, f"missing={want - probe} extra={probe - want}"


def test_probe_pairs_planted_boundary_pair(spark):
    """Two near-identical vectors placed to straddle a cell wall: plain
    same-cell blocking misses them, probing finds them."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.normal(size=64)
    rows = []
    # spread fillers to pin the per-dim grid bounds around [-3, 3]
    for i in range(20):
        v = rng.normal(size=64)
        v[0] = -3.0 + 6.0 * (i / 19.0)
        rows.append((100 + i, v.tolist()))
    # boundary straddlers: identical except a hair's width across a wall
    # in dim 1 (cells differ there, adjacent), cosine ~ 1.0
    a = base.copy(); a[0] = -0.01
    b = base.copy(); b[0] = +0.01
    rows += [(1, a.tolist()), (2, b.tolist())]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    plain = {
        (r.id_a, r.id_b)
        for r in similarity.semantic_grid_pairs(df, buckets=6, tau=0.9).collect()
    }
    probe = {
        (r.id_a, r.id_b)
        for r in similarity.semantic_grid_probe_pairs(
            df, buckets=6, tau=0.9
        ).collect()
    }
    cells = {r.id: r.cell for r in similarity.grid_cells(df, buckets=6).collect()}
    if cells[1] == cells[2]:  # bounds landed the wall elsewhere: still found
        assert (1, 2) in plain and (1, 2) in probe
    else:
        assert (1, 2) not in plain  # the boundary blindness, demonstrated
        assert (1, 2) in probe  # and its fix


@pytest.mark.parametrize("salt_bucket", [0, -1])
@pytest.mark.parametrize("op", [dedup.minhash_lsh_candidates, dedup.simhash_dedup])
def test_salt_bucket_below_one_raises_at_call(planted, op, salt_bucket):
    # 0 used to die mid-stage (DIVIDE_BY_ZERO), -1 to drop pairs silently.
    with pytest.raises(ValueError, match="salt_bucket"):
        op(planted, salt_bucket=salt_bucket)
