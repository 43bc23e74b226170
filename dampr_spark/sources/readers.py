"""Input connectors.

The reference's source surface (`dampr/inputs.py`, `dampr/dampr.py:845-912`):
memory lists, text files/dirs/globs (gzip-aware), newline JSON, custom
datasets, URLs.  Spark provides all of these natively; this module adds the
TESTDATA parquet loader plus thin wrappers that keep predicate pushdown and
column pruning intact (everything returns a lazy DataFrame — no collect).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession

# The driver's TPC-H-ish star schema + extension tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Per-(SparkContext, path) memo of the INFERRED PARQUET SCHEMA — metadata
# only, never data. ``spark.read.parquet`` re-reads footers to merge the
# schema on every call (~0.1 s of driver work per call, measured round 15:
# infer 0.10-0.12 s vs 0.02 s with an explicit schema); a bench pass builds
# 94 read_table calls per run, so inference alone cost ~9 s per cold pass.
# Keyed by applicationId so a fresh session (driver-owned or test) re-infers
# against whatever data landed; each entry carries the table's freshness
# token, so a table rewritten mid-session is re-inferred. The files
# themselves are still scanned fresh by every query — this caches the
# column list, not results.
_SCHEMA_CACHE: dict[tuple[str, str], tuple] = {}


def _freshness(path: str) -> tuple | None:
    """(mtime, size) of a parquet file, plus those of every entry when it is
    a directory; None when the path is not a local one (no memo then)."""
    try:
        st = os.stat(path)
        token = (st.st_mtime_ns, st.st_size)
        if stat.S_ISDIR(st.st_mode):
            with os.scandir(path) as it:
                token += tuple(sorted((e.name, e.stat().st_mtime_ns, e.stat().st_size) for e in it))
        return token
    except OSError:
        return None


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one TESTDATA table. Plain ``spark.read.parquet`` so Catalyst can
    push filters/projections into the scan (PushedFilters/ReadSchema).

    ``events.ts`` is TIMESTAMP(NANOS) in parquet, which Spark reads as a
    nanosecond long (``spark.sql.legacy.parquet.nanosAsLong``); convert to
    TIMESTAMP_NTZ at microsecond precision — the same truncation DuckDB
    applies — so downstream window/session logic sees a real timestamp.
    """
    from pyspark.sql import functions as F

    if name == "events":
        # Runtime SQL conf — must be set here (not only in get_spark) because
        # the correctness driver calls these builders with its own session.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    key = (spark.sparkContext.applicationId, path)
    token = _freshness(path)
    memo_token, schema = _SCHEMA_CACHE.get(key, (None, None))
    if token is None or memo_token != token:
        df = spark.read.parquet(path)
        if token is not None:
            _SCHEMA_CACHE[key] = (token, df.schema)
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All TESTDATA tables as lazy DataFrames keyed by name."""
    return {name: read_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every TESTDATA table as a temp view so ``spark.sql`` works
    against the same names the DuckDB oracles use — plain ANSI SQL becomes a
    third query surface next to the DataFrame catalog and the fluent API."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Newline-delimited text → DataFrame[value: string].

    Covers ``Dampr.text`` (reference `dampr/dampr.py:879-895`): Spark's text
    source natively handles files, directories, globs and ``.gz`` (gzip is
    read unsplit, same semantics as the reference `dampr/inputs.py:49-50`).
    """
    return spark.read.text(path)


def read_json(spark: SparkSession, path: str) -> DataFrame:
    """Newline-delimited JSON with schema inference.

    Reference: ``Dampr.json`` = text + ``json.loads`` (`dampr/dampr.py:897-902`)
    producing opaque dicts; Spark infers a real schema instead.
    """
    return spark.read.json(path)


def from_memory(spark: SparkSession, items, schema=None, partitions: int | None = None) -> DataFrame:
    """In-memory collection → DataFrame (reference ``Dampr.memory``,
    `dampr/dampr.py:845-855`). Use only for small driver-side fixtures."""
    df = spark.createDataFrame(items, schema=schema)
    return df.repartition(partitions) if partitions else df


def read_urls(spark: SparkSession, urls: list[str], skip_on_error: bool = True) -> DataFrame:
    """Fetch newline text from HTTP URLs, one row per line.

    Reference: ``UrlsInput``/``UrlDataset`` (`dampr/inputs.py:74-97`) streams
    ``urllib`` lines, optionally skipping HTTP errors.  Spark-side this is a
    parallelized fetch: each URL is one task so a large URL list distributes
    across the cluster; the fetch itself runs in executors, never the driver.
    """
    sc = spark.sparkContext

    def fetch(url: str):
        from urllib.error import URLError
        from urllib.request import urlopen

        try:
            with urlopen(url) as resp:
                for line in resp.read().decode("utf-8", errors="replace").splitlines():
                    yield (url, line)
        except (URLError, OSError, ValueError):
            # Same skip set as the fluent api.py urls(): timeouts surface as
            # OSError and malformed URLs as ValueError, not just URLError.
            if not skip_on_error:
                raise

    rdd = sc.parallelize(urls, max(1, len(urls))).flatMap(fetch)
    return spark.createDataFrame(rdd, schema="url string, value string")


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV connector (no analogue in the reference — its text source plus
    user map() plays this role; provided so tabular drops ingest without a
    hand-rolled parser). With an explicit ``schema`` the read is
    single-pass; without one Spark runs an inference scan first — always
    pass the schema at 100 TB. Returns a lazy DataFrame; filters and
    projections still prune (CSV supports column pruning; predicate
    pushdown is format-limited — land parquet for real scan economics)."""
    reader = spark.read.option("header", str(header).lower()).option("sep", delimiter)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC connector — same pushdown/pruning semantics as the parquet
    reader (both are columnar with min/max statistics)."""
    return spark.read.orc(path)
