"""Seeded input generator: the program only ever sees the files written here.

Every input is a function of the seed and of files committed in the repo, so
the same seed gives byte-identical inputs:

- a Zipf-vocabulary text corpus for the DSL TF-IDF chain;
- a 10x structure-preserving copy of the committed sf0.001 tables
  (``benchmarks/frozen_anchor``), made by ``benchmarks/gen_scale_data.py``
  itself with its output redirected;
- a boilerplate near-duplicate family, large enough that its LSH buckets pass
  the batch operator's ``salt_bucket=128`` hot-bucket threshold;
- the micro-batch split of documents + family for the streaming replay, and
  the same rows as one documents table for the catalog query.
"""

from __future__ import annotations

import contextlib
import os
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ANCHOR = os.path.join(ROOT, "benchmarks", "frozen_anchor")

COPIES = 10
FAMILY_SIZE = 200
FAMILY_EDITS = 1


def text_corpus(seed: int, path: str, mb: float) -> dict:
    """Lines of words drawn from a Zipf(1.2) law over a seeded vocabulary of
    random lowercase words of 2-9 letters; each line starts capitalised and
    ends with '.'."""
    rng = np.random.default_rng([seed, 1])
    v = 40_000
    # Word length is a fixed function of frequency rank, so every seed's
    # corpus has the same byte count to within sampling noise: the chain's
    # cost follows bytes, and a seed must not change how much work a pass is.
    lens = 2 + (np.arange(v) * 5) % 8
    chars = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)[
        rng.integers(0, 26, size=int(lens.sum()))
    ]
    vocab = np.array(
        [w.tobytes().decode() for w in np.split(chars, np.cumsum(lens)[:-1])], dtype=object
    )
    n_tokens = int(mb * 1e6 / 6.5)
    tokens = vocab[(rng.zipf(1.2, size=n_tokens) - 1) % v]
    line_lens = rng.integers(4, 24, size=n_tokens // 13)
    bounds = np.cumsum(line_lens)
    bounds = bounds[bounds <= n_tokens]
    lines = [
        " ".join(seg).capitalize() + "."
        for seg in np.split(tokens[: bounds[-1]], bounds[:-1])
    ]
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    return {
        "bytes": os.path.getsize(path),
        "lines": len(lines),
        "tokens": int(bounds[-1]),
        "vocab": int(len(set(tokens[: bounds[-1]]))),
        "exact_dup_lines": len(lines) - len(set(lines)),
    }


def scaled_tables(out_dir: str) -> dict:
    """10 copies of the committed sf0.001 tables via gen_scale_data: per-copy
    key offsets, and a per-copy alphabet rotation of document text that keeps
    every within-copy similarity exactly while copies share no shingles."""
    sys.path.insert(0, os.path.join(ROOT, "benchmarks"))
    import gen_scale_data

    gen_scale_data.SRC, gen_scale_data.DST = ANCHOR, out_dir
    with contextlib.redirect_stdout(sys.stderr):
        gen_scale_data.main(COPIES)
    return {t.removesuffix(".parquet"): os.path.getsize(os.path.join(out_dir, t)) for t in os.listdir(out_dir)}


def boilerplate_family(seed: int, template: str, vocab: list[str], first_id: int) -> list[tuple]:
    """``FAMILY_SIZE`` near-copies of ``template``, each with ``FAMILY_EDITS``
    words replaced by seeded vocabulary words: the shape of crawl boilerplate
    that puts one document family into the same LSH buckets."""
    rng = np.random.default_rng([seed, 2])
    words = template.split()
    out = []
    for i in range(FAMILY_SIZE):
        w = list(words)
        for pos in rng.integers(0, len(w), size=FAMILY_EDITS):
            w[pos] = vocab[rng.integers(0, len(vocab))]
        out.append((first_id + i, " ".join(w)))
    return out


def _write_docs(rows: list[tuple], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, texts = zip(*rows)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}), path
    )


def micro_batches(seed: int, tables_dir: str, out_dir: str, n_batches: int, docs_dir: str) -> dict:
    """Documents of the 10x tables plus one seeded boilerplate family, spread
    evenly in a seeded order over ``n_batches`` parquet files
    ``b000.parquet``... that a file stream reads one per trigger; and all of
    them as ``docs_dir/documents.parquet``, the table a catalog query reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(tables_dir, "documents.parquet"), columns=["doc_id", "text"])
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    rng = np.random.default_rng([seed, 3])
    vocab = sorted({w for t in texts for w in t.split()})
    # The longest document is the family's template for every seed, so the
    # family costs the same to shingle; the seed picks the edits.
    template = max(texts, key=len)
    family = boilerplate_family(seed, template, vocab, max(ids) + 1)
    organic = list(zip(ids, texts))
    organic = [organic[i] for i in rng.permutation(len(organic))]

    # Every batch gets the same share of the family and of the organic
    # documents, so each batch meets the same pairing work whatever the
    # seed; the seed picks which documents and their order.
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(organic) // n_batches)
    batches = [organic[b * per : (b + 1) * per] + family[b::n_batches] for b in range(n_batches)]
    for b, chunk in enumerate(batches):
        chunk = [chunk[i] for i in rng.permutation(len(chunk))]
        _write_docs(chunk, os.path.join(out_dir, f"b{b:03d}.parquet"))
    rows = [r for chunk in batches for r in chunk]
    os.makedirs(docs_dir, exist_ok=True)
    _write_docs(rows, os.path.join(docs_dir, "documents.parquet"))
    all_texts = [r[1] for r in rows]
    return {
        "docs": len(rows),
        "bytes": sum(len(t.encode()) for t in all_texts),
        "vocab": len(vocab),
        "exact_dup_rows": len(all_texts) - len(set(all_texts)),
        "family_size": FAMILY_SIZE,
        "batches": n_batches,
        "docs_per_batch": max(len(c) for c in batches),
    }

