"""The shared "bucket → every pair in it" step and the operators built on it.

1. ``dedup._bucket_pairs`` emits, per bucket, exactly the pairs
   ``itertools.combinations`` draws from the bucket's sorted members —
   with a two-column key, a payload, the 2..cap size window, a repeated
   id, every ``salt_bucket`` chunking, and an empty input; without a
   payload the members are bare ids and NULL ids drop out.
2. Building any of the eight operators that use it runs no Spark job:
   pairs are generated inside the action, never by an eager pin.
"""

from __future__ import annotations

import itertools
from collections import Counter

import pytest

from dampr_spark.operators import dedup, similarity
from dampr_spark.operators.dedup import _bucket_pairs
from dampr_spark.sources.readers import read_table

_SCHEMA = "k1 int, k2 string, id long, p int"

# (k1, k2) buckets of size 1, 4 (the cap below), 5 (cap + 1), 3 with id 7
# twice under different payloads, and 2. (0, "x") and (1, "x") differ
# only in k1, (1, "x") and (1, "y") only in k2.
_ROWS = (
    [(0, "x", 1, 0)]
    + [(0, "y", i, i % 2) for i in (4, 2, 9, 3)]
    + [(1, "x", i, 0) for i in (5, 1, 3, 8, 6)]
    + [(1, "y", 7, 2), (1, "y", 8, 0), (1, "y", 7, 1)]
    + [(2, "z", 11, 5), (2, "z", 10, 5)]
)


def _oracle(rows, max_bucket, payload=True):
    buckets: dict = {}
    for k1, k2, id_, p in rows:
        if payload or id_ is not None:
            buckets.setdefault((k1, k2), []).append((id_, p) if payload else id_)
    out = Counter()
    for key, members in buckets.items():
        if len(members) < 2 or (max_bucket is not None and len(members) > max_bucket):
            continue
        for a, b in itertools.combinations(sorted(members), 2):
            out[(*key, a, b)] += 1
    return out


def _pairs(df, **kw):
    out = _bucket_pairs(df, ["k1", "k2"], ["p"], **kw)
    assert out.columns == ["k1", "k2", "a", "b"]
    return Counter(
        (r.k1, r.k2, tuple(r.a), tuple(r.b)) for r in out.collect()
    )


@pytest.mark.parametrize("max_bucket", [4, None])
def test_bucket_pairs_match_combinations(spark, max_bucket):
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    want = _oracle(_ROWS, max_bucket)
    got = _pairs(df, max_bucket=max_bucket)
    assert got == want
    keys = {k[:2] for k in want}
    assert (0, "y") in keys  # size == cap kept
    assert ((1, "x") in keys) == (max_bucket is None)  # cap + 1 dropped
    assert (0, "x") not in keys  # singleton never pairs
    # the repeated id pairs with itself under its two payloads
    assert want[(1, "y", (7, 1), (7, 2))] == 1


@pytest.mark.parametrize("salt_bucket", [1, 2, 3])
def test_bucket_pairs_salted_equals_unchunked(spark, salt_bucket):
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    for max_bucket in (4, None):
        want = _oracle(_ROWS, max_bucket)
        assert _pairs(df, max_bucket=max_bucket, salt_bucket=salt_bucket) == want


@pytest.mark.parametrize("salt_bucket", [None, 2])
def test_bucket_pairs_bare_ids_without_payload(spark, salt_bucket):
    rows = _ROWS + [(2, "z", None, 5)]  # a NULL id never pairs
    df = spark.createDataFrame(rows, _SCHEMA)
    out = _bucket_pairs(df, ["k1", "k2"], max_bucket=4, salt_bucket=salt_bucket)
    got = Counter((r.k1, r.k2, r.a, r.b) for r in out.collect())
    assert got == _oracle(rows, 4, payload=False)
    assert got[(1, "y", 7, 7)] == 1  # a repeated id pairs with itself


def test_bucket_pairs_empty_input(spark):
    df = spark.createDataFrame([], _SCHEMA)
    assert _pairs(df) == Counter()
    assert _pairs(df, max_bucket=4, salt_bucket=2) == Counter()


def _operators(docs, emb):
    return {
        "minhash_lsh_candidates": lambda: dedup.minhash_lsh_candidates(docs),
        "ngram_jaccard_pairs": lambda: dedup.ngram_jaccard_pairs(docs),
        "ngram_containment_pairs": lambda: dedup.ngram_containment_pairs(docs),
        "shared_window_pairs": lambda: dedup.shared_window_pairs(docs),
        "repeated_substring_spans": lambda: dedup.repeated_substring_spans(docs),
        "bucketed_pairs": lambda: similarity.RandomHyperplaneLSH(
            dim=64
        ).bucketed_pairs(emb),
        "fuzzy_prefix_pairs": lambda: dedup.fuzzy_prefix_pairs(docs),
        "semantic_grid_pairs": lambda: similarity.semantic_grid_pairs(emb),
    }


def test_building_pair_operators_runs_no_jobs(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    sc = spark.sparkContext
    jobs = {}
    for name, build in _operators(docs, emb).items():
        group = f"bucket_pairs_build.{name}"
        sc.setJobGroup(group, f"build {name}")
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == {name: 0 for name in jobs}
