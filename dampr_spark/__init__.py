"""dampr_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of Refefer/Dampr, re-expressed Spark-first.

Dampr (reference: /root/reference, ``dampr/__init__.py:1-11``) is a pure-Python
single-machine MapReduce/dataflow library.  This package provides:

- ``dampr_spark.api`` — a fluent, Dampr-compatible pipeline API
  (``Dampr``/``PMap``/``PReduce``/``ARReduce``/``PJoin``) whose execution is
  Spark (DataFrames where expressible, RDDs for arbitrary Python lambdas).
- ``dampr_spark.plans`` — a catalog of declarative DataFrame queries covering
  every operator in SURVEY.md §2 plus the LLM-data-pipeline extension layer,
  each paired with an ANSI-SQL oracle.
- ``dampr_spark.operators`` — scale-oriented operators: dedup (exact, MinHash
  LSH, SimHash, n-gram Jaccard, embedding cosine), similarity search,
  multimodal column plumbing.
- ``dampr_spark.functions`` — text analysis (language-ID, quality scoring,
  token counting, fingerprinting) and vector math on array columns.
- ``dampr_spark.sources`` / ``dampr_spark.streaming`` — IO connectors and the
  Structured Streaming surface.
"""

__version__ = "0.1.0"

__all__ = ["get_spark", "__version__"]


def __getattr__(name: str):
    # Lazy (PEP 562): importing the package must not import pyspark, so the
    # worker bootstrap ``python -m dampr_spark._daemon`` can fix the import
    # path before pyspark's first import.
    if name == "get_spark":
        from dampr_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
