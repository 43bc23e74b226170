"""The benchmark's workloads, each driven through the program's public surface.

A workload generates its inputs, registers them during set-up, runs passes
(or, for the stream, micro-batches) and checks outputs untimed. Why each one
exists is in README.md and BENCHMARK.json.
"""

from __future__ import annotations

import contextlib
import math
import os
import re
import shutil
import time
from collections import Counter

import inputs

CORPUS_MB = 24
STREAM_BANDS = 16

_RX = re.compile(r"[^\w]+")


def _words(line: str) -> set:
    return set(_RX.split(line.lower()))


def _idf_row(df, total):
    return (df[0], df[1], math.log(1 + (float(total) / df[1])))


def _span(spans, name: str):
    return spans.span(name) if spans else contextlib.nullcontext()


def _group(spark, spans, name: str) -> None:
    """Put the next jobs in job group ``name`` (traced passes only)."""
    if spans:
        spark.sparkContext.setJobGroup(name, name)


class DslTfidf:
    """``Dampr.text`` -> ``flat_map`` -> ``count`` (map-side combine) ->
    ``cross_right(memory=True)`` with the corpus line count -> ``sink_tsv``:
    the chain of the reference library's own TF-IDF benchmark."""

    name = "dsl_tfidf"
    # Untimed passes after the first; README.md shows wall and CPU time per
    # pass are flat after them.
    warmup = 2

    def __init__(self, work: str, seed: int):
        self.corpus = os.path.join(work, "corpus.txt")
        self.out_root = os.path.join(work, "out")
        self.props = {"corpus": inputs.text_corpus(seed, self.corpus, CORPUS_MB)}
        self.expected = self.reference()

    def register(self, spark) -> None:
        from dampr_spark.api import Dampr

        Dampr.use_session(spark)
        self.chunk = int(os.path.getsize(self.corpus) / spark.sparkContext.defaultParallelism) + 1

    def run_pass(self, spark, i: int, spans) -> tuple[dict, str]:
        """One pass; with ``spans`` (traced passes) its parts get spans and
        job groups. Returns the layer times and the sink directory."""
        from dampr_spark.api import Dampr

        out = os.path.join(self.out_root, f"p{i}")
        t0 = time.perf_counter()
        with _span(spans, "api.build"):
            _group(spark, spans, f"p{i}.build")
            docs = Dampr.text(self.corpus, chunk_size=self.chunk)
            doc_freq = docs.flat_map(_words).count()
            idf = doc_freq.cross_right(docs.len(), _idf_row, memory=True)
        t1 = time.perf_counter()
        with _span(spans, "api.run"):
            _group(spark, spans, f"p{i}.run")
            idf.sink_tsv(out).run()
        t2 = time.perf_counter()
        return {"api.build_s": t1 - t0, "api.run_s": t2 - t1}, out

    def release(self, out) -> None:
        if out:
            shutil.rmtree(out, ignore_errors=True)

    def reference(self) -> list[str]:
        with open(self.corpus) as f:
            lines = f.read().split("\n")[:-1]
        df = Counter(w for line in lines for w in _words(line))
        return sorted("\t".join(str(x) for x in _idf_row(kv, len(lines))) for kv in df.items())

    def check(self, spark, out) -> int:
        """Failed operations in one pass: 0 when the sink equals a pure-Python
        Counter TF-IDF over the same corpus, else 1."""
        got = []
        for p in sorted(os.listdir(out)):
            if p.startswith("part-"):
                with open(os.path.join(out, p)) as f:
                    got.extend(f.read().splitlines())
        return int(sorted(got) != self.expected)


class StreamDedup:
    """``streaming.incremental_neardup_stream`` replaying the documents and a
    boilerplate family as seeded micro-batches, one parquet file a trigger."""

    name = "stream_dedup"
    # The replay: batch 0 is the first pass, the next ``warmup`` are not
    # timed, the rest are measured. Wall time per batch is flat after 3, CPU
    # per batch only after about 6 (README.md has the warm-up study).
    batches = 13
    warmup = 6
    # Traced runs also build and run this catalog query over every replayed
    # document: the batch path of the same dedup, whose builder pins eagerly
    # and whose hot LSH bucket takes the salted pair explode. The first pass
    # warms it; the second is measured.
    plans_query = "minhash_lsh_dedup"
    plans_passes = 2

    def __init__(self, work: str, seed: int):
        tables = os.path.join(work, "tables")
        inputs.scaled_tables(tables)
        self.in_dir = os.path.join(work, "in")
        self.docs_dir = os.path.join(work, "replayed")
        self.store = os.path.join(work, "store")
        self.out = os.path.join(work, "pairs")
        self.props = {
            "stream": inputs.micro_batches(seed, tables, self.in_dir, self.batches, self.docs_dir)
        }

    def register(self, spark) -> None:
        self.source = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.in_dir)
        )

    def start(self, spark):
        """Start the replay; it ends by itself once every file is read."""
        from dampr_spark import streaming

        return streaming.incremental_neardup_stream(self.source, self.store, self.out)

    def plans_pass(self, spark, i: int) -> tuple[dict, set]:
        """Build :attr:`plans_query` over the replayed documents and collect
        its pairs, each in a job group of its own. Returns the two times and
        the pair set."""
        from dampr_spark.plans.catalog import get_query

        build = get_query(self.plans_query).builder
        sc = spark.sparkContext
        t0 = time.perf_counter()
        sc.setJobGroup(f"plans{i}.build", "plans build")
        df = build(spark, self.docs_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(f"plans{i}.action", "plans action")
        pairs = {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}
        t2 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        return {"plans.build_s": t1 - t0, "plans.action_s": t2 - t1}, pairs

    def plans_max_bucket(self, spark) -> int:
        """The largest LSH bucket under :attr:`plans_query`'s banding."""
        from dampr_spark.operators.dedup import choose_bands, lsh_band_audit

        docs = spark.read.parquet(os.path.join(self.docs_dir, "documents.parquet"))
        audit = lsh_band_audit(docs, band_candidates=(choose_bands(64, 0.8),), include_simhash=False)
        return audit.first()["max_bucket_sz"]

    def check(self, spark) -> int:
        """0 when the read view equals the batch ``minhash_lsh_candidates``
        over every replayed document and the store holds docs x bands rows."""
        from pyspark.sql import functions as F

        from dampr_spark import streaming
        from dampr_spark.operators.dedup import minhash_lsh_candidates

        docs = spark.read.parquet(self.in_dir)
        got = {tuple(r) for r in streaming.neardup_pairs_view(spark, self.out, self.store).collect()}
        want = {tuple(r) for r in minhash_lsh_candidates(docs).select("id_a", "id_b").collect()}
        buckets = spark.read.parquet(self.store).groupBy("band", "band_hash").count()
        self.state_rows, self.max_bucket = buckets.agg(F.sum("count"), F.max("count")).first()
        self.props["stream"]["max_lsh_bucket"] = self.max_bucket
        n_docs = self.props["stream"]["docs"]
        return int(got != want or not want or self.state_rows != n_docs * STREAM_BANDS)


WORKLOADS = {w.name: w for w in (DslTfidf, StreamDedup)}
