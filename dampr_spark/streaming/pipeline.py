"""Structured Streaming surface.

The reference engine is strictly batch (SURVEY §2.10 — no windows,
watermarks, or stateful streaming anywhere in its source tree); this module
is the extension layer that makes the same event-table semantics runnable as
a stream: file-source ingestion, watermarked tumbling windows, session
windows, and streaming dedup. Each transformation mirrors a batch catalog
query (``plans/eventops.py``) and the tests assert stream==batch equivalence
by replaying the events table with ``trigger(availableNow=True)``.

Scale notes:
- the file source lists+checkpoints incrementally — the same code ingests a
  continuous S3/Kafka-landed directory at cluster scale;
- watermarks bound state: hourly windows keep ~(watermark/1h) open windows
  per key; session windows and dropDuplicates state are evicted past the
  watermark — without one, 100 TB of stream state OOMs the store;
- ``availableNow`` gives batch-replay semantics for backfills with the same
  query definition as the live stream.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dampr_spark.operators._knobs import check_range


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Stream the events table from a parquet *directory* (the file source
    watches a directory; a bare file path fails with "basePath must be a
    directory"). New files under ``path`` become micro-batches — the pattern
    for continuously-landing data directories.

    The file source needs an explicit schema; it is inferred from the files
    already landed (one footer read) rather than hardcoded, because the
    events fixture has shipped with both TIMESTAMP(NANOS) (arrives as a
    nanosecond long under ``nanosAsLong``) and TIMESTAMP(MICROS) (arrives as
    a timestamp) — the conversion branches on what actually landed, same as
    sources/readers.read_table."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        schema = spark.read.parquet(path).schema
    except Exception:
        # Empty landing directory (stream started before the first file
        # lands — the normal continuous-ingestion case): fall back to
        # ``ts long``, which reads BOTH flavors (a TIMESTAMP(NANOS) file
        # arrives as a nanosecond long under nanosAsLong=true; a
        # TIMESTAMP(MICROS) file is read as its raw microsecond long against
        # a declared long column — measured, not assumed). A ``ts
        # timestamp`` fallback would hard-fail on a late-landing NANOS file.
        # The unit is disambiguated per-value below.
        schema = (
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(path)
    # Watermarks require TIMESTAMP (with local tz), not TIMESTAMP_NTZ or a
    # raw long (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); sessions run in UTC so
    # the wall-clock values still line up with the batch reader's NTZ column.
    if dict(raw.dtypes).get("ts") == "bigint":
        # A long ts is nanos (inferred NANOS schema) or micros (empty-dir
        # fallback over a MICROS file). Epoch magnitude separates them
        # exactly for any timestamp between 1973 and 5138: micros for the
        # current era are ~1.8e15, nanos ~1.8e18; threshold 1e17.
        micros = F.when(
            F.col("ts") > F.lit(10**17), F.expr("ts div 1000")
        ).otherwise(F.col("ts"))
        return raw.withColumn("ts", F.timestamp_micros(micros))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_aggregate(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windows per event_type: counts + value sums — the
    streaming twin of the batch ``events_hourly`` catalog query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("win.start").alias("hour"), "event_type", "n_events", "total_value")
    )


def hopping_aggregate(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Hopping (sliding) windows per event_type — the streaming twin of the
    batch ``hopping_event_counts`` catalog query, sharing the exact same
    ``F.window(ts, window, slide)`` operator so batch replays and live
    streams produce identical window assignments."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Gap-based sessions per user via ``session_window`` — the streaming
    twin of the batch lag-based ``sessionization`` query. Boundary nuance:
    session_window treats an event at exactly ``gap`` after the previous as
    a new session (half-open [start, start+gap)); the batch query flags
    ``> gap`` — identical unless a gap is exactly 30:00.000000."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )


def streaming_dedup(events: DataFrame, keys: list[str], watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: keep the first event per key within the
    watermark horizon (state for keys older than the watermark is evicted).
    The streaming form of the LLM-pipeline exact-dedup operator."""
    return events.withWatermark("ts", watermark).dropDuplicates(keys)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count and cumulative value, carried across micro-batches
    in explicit group state. This is the escape hatch for stateful logic
    that watermarked windows can't express (running totals never close).

    Scale notes: state is one (long, double) pair per user — the state
    store scales with |users|, not |events|; each micro-batch touches only
    the users present in it, as Arrow batches. Unbounded-key streams should
    add a TTL via ``GroupStateTimeout.ProcessingTimeTimeout`` + timeout
    handling in the update function.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def session_finalize(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "1 minute"
) -> DataFrame:
    """Custom stateful sessionizer via ``applyInPandasWithState`` +
    ``EventTimeTimeout``: per user, accumulate the open session (start, end,
    count, value sum, first/last event type); a new event past the gap
    closes and emits the previous session, and the event-time timeout closes
    idle sessions once the watermark passes session_end + gap. This is the
    operator ``session_window`` cannot express — arbitrary per-session
    payload (first/last event type here; in a real pipeline, whole
    event-sequence features) with explicit state lifecycle.

    Scale notes: state is ONE fixed-width row per open session per user —
    bounded by active users, evicted by the timeout, never proportional to
    event count. Events arrive per micro-batch as Arrow batches, sorted
    in-function (Spark guarantees grouping, not order).

    Emission contract (what the equivalence test checks): a session is
    emitted iff it is closed — by a successor event in the same replay, or
    by the watermark reaching end + gap (no-data micro-batches fire the
    final timeouts under availableNow). Sessions still open at query stop
    are discarded with the state store.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, total_value double, first_type string, last_type string"
    )
    state_schema = (
        "start long, end long, n long, total double, first_type string, "
        "last_type string"
    )
    gap_us = gap_minutes * 60 * 1_000_000

    def _emit(key, st):
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start": [pd.Timestamp(st[0], unit="us")],
                "session_end": [pd.Timestamp(st[1], unit="us")],
                "n_events": [st[2]],
                "total_value": [round(st[3], 2)],
                "first_type": [st[4]],
                "last_type": [st[5]],
            }
        )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # Watermark passed end + gap: the open session is final.
            yield _emit(key, state.get)
            state.remove()
            return
        # Sort on (ts, event_id), not ts alone: pandas' default quicksort is
        # unstable, so same-microsecond events would order nondeterministically
        # and first_type/last_type could diverge from the batch comparator,
        # which tie-breaks with min_by/max_by over struct(ts, event_id).
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        st = state.get if state.exists else None
        for r in rows.itertuples(index=False):
            ts_us = r.ts.value // 1000  # pandas ns -> µs (state holds longs)
            if st is not None and ts_us - st[1] > gap_us:
                yield _emit(key, st)
                st = None
            if st is None:
                st = (ts_us, ts_us, 1, float(r.value), r.event_type, r.event_type)
            else:
                st = (
                    st[0],
                    max(st[1], ts_us),
                    st[2] + 1,
                    st[3] + float(r.value),
                    st[4],
                    r.event_type,
                )
        state.update(st)
        # Fire once the watermark passes the idle horizon of the open session.
        state.setTimeoutTimestamp(st[1] // 1000 + gap_minutes * 60 * 1000)

    # EventTimeTimeout requires a watermark on the input stream.
    return events.withWatermark("ts", watermark).groupBy("user_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def stream_click_attribution(
    events: DataFrame, horizon: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream self-join: purchases joined to clicks by the same user
    within ``horizon`` — the streaming twin of the batch
    ``range_join_attribution`` catalog query. Both sides carry watermarks
    and the join condition bounds event-time distance, so the state store
    evicts rows older than watermark+horizon instead of buffering the
    streams forever (the stream-stream join state-bound requirement)."""
    c = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    return p.join(
        c,
        F.expr(
            f"p_user = c_user AND c_ts <= p_ts AND c_ts > p_ts - INTERVAL {horizon}"
        ),
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))


def _checkpoint_loc(out_dir: str) -> str:
    """Checkpoint location for a sink directory: the SIBLING directory
    ``<out_dir>_checkpoint``, also for ``out/`` (trailing separators are
    stripped, or the sink's readers would parse a child checkpoint)."""
    import os

    return out_dir.rstrip("/" + os.sep) + "_checkpoint"


class _Batch(NamedTuple):
    """Micro-batch ``id`` of the query ``query``: the query id Spark keeps
    in its checkpoint's ``metadata`` file, the same across restarts.
    ``prefix`` starts the name of each file the batch writes."""

    id: int
    query: str

    @property
    def prefix(self) -> str:
        return f"batch-{self.id}-{self.query}-"


def _start_batches(stream: DataFrame, handle, out_dir: str):
    """Start ``handle(batch_df, batch)``, ``batch`` a :class:`_Batch`, as
    the ``foreachBatch`` sink of ``stream`` over all currently-available
    input, checkpointed next to ``out_dir``. Returns the started
    StreamingQuery (caller awaits termination)."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        handle(batch_df, _Batch(batch_id, _query_id(batch_df.sparkSession, out_dir)))

    return (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", _checkpoint_loc(out_dir))
        .trigger(availableNow=True)
        .start()
    )


def _query_id(spark: SparkSession, out_dir: str) -> str:
    """The id of the query checkpointed next to ``out_dir``: Spark writes
    ``{"id": ...}`` to the checkpoint's ``metadata`` file at its start."""
    import json

    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(_checkpoint_loc(out_dir) + "/metadata")
    stream = path.getFileSystem(spark._jsc.hadoopConfiguration()).open(path)
    try:
        return json.loads(jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8"))["id"]
    finally:
        stream.close()


def _batch_write(df: DataFrame, path: str, batch: _Batch) -> None:
    """Write ``df`` as ``batch``'s files of the flat parquet sink ``path``,
    replacing an earlier attempt's: stage it in the hidden
    ``path/_staging``, delete the files in ``path`` named with
    ``batch.prefix``, and rename the new ``part-*`` files in under that
    prefix. Spark re-runs a batch whose commit entry is missing; a rerun
    leaves what one run leaves. The prefix names the query too: a store
    can outlive its checkpoint, and a query on a fresh one must keep an
    earlier query's batch N. Flat, not ``batch=N`` subdirectories: those
    add a ``batch`` column to every reader, and past 32 of them each read
    lists them in a Spark job."""
    Path = df.sparkSession._jvm.org.apache.hadoop.fs.Path
    root = Path(path)
    staging = Path(root, "_staging/" + batch.prefix.rstrip("-"))
    df.write.mode("overwrite").parquet(staging.toString())
    fs = root.getFileSystem(df.sparkSession._jsc.hadoopConfiguration())
    for st in fs.globStatus(Path(root, batch.prefix + "*")):
        if not fs.delete(st.getPath(), False):
            raise OSError(f"could not delete {st.getPath()}")
    for st in fs.globStatus(Path(staging, "part-*")):
        if not fs.rename(st.getPath(), Path(root, batch.prefix + st.getPath().getName())):
            raise OSError(f"could not move {st.getPath()} into {path}")
    fs.delete(staging, True)


def _read_store(
    spark: SparkSession, path: str, schema: str, batch: _Batch | None = None
) -> DataFrame:
    """An incremental stream's on-disk store, read with its declared
    ``schema`` (inferring it would cost a footer-reading job per batch);
    an empty frame of that schema until the first batch creates ``path``.
    Given ``batch``, its own files are skipped, so a retried batch never
    reads its first attempt as history. Spark drops them when it plans
    the read, before it opens any file, so the retry may delete them
    (:func:`_batch_write`) after this frame is built. Existence is asked
    of the path's Hadoop FileSystem: reading a missing path logs a
    FileNotFoundException stack trace before it raises."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not hpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hpath):
        return spark.createDataFrame([], schema)
    store = spark.read.schema(schema).parquet(path)
    if batch is None:
        return store
    return store.filter(~F.col("_metadata.file_name").startswith(batch.prefix))


def _capped_bucket_pairs(
    new: DataFrame,
    store: DataFrame,
    key: list[str],
    cap: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Candidate pairs of one micro-batch of the near-dup, semantic and
    substring sinks: every two rows with distinct ids sharing a ``key``
    bucket, at least one from ``new``, where the bucket's CUMULATIVE
    (store ∪ new) size is at most ``cap`` distinct rows ``(id, *carry)``:
    ids for the first two (``e`` is a function of the id), (id, pos)
    occurrences for substrings, as their batch operators cap. Distinct,
    not raw: a source can redeliver a document already in the store, and
    raw counts would push a bucket the batch operator keeps over the cap.
    Rows are ``(id_a < id_b, *key)`` plus ``<c>_a`` and ``<c>_b`` for each
    ``carry`` column; a redelivered document's pairs repeat, so the
    caller deduplicates.

    One shuffle. Only the store rows in buckets ``new`` touches can pair,
    so a broadcast semi-join keeps those. With ``new`` they cross a single
    exchange clustered by ``key``, where a window ranks the distinct rows
    of each bucket: its size is the top rank, with no second exchange and
    no join back. The under-cap ``new`` rows then merge-join the under-cap
    rows within the same partitions; both sides read the one exchange.
    new × new matches keep only ``id_n < id_o``, so each within-batch pair
    is joined once."""
    from pyspark.sql.window import Window

    cols = ["id", *key, *carry]
    touched = store.select(*cols).join(F.broadcast(new.select(*key)), key, "left_semi")
    bucket = Window.partitionBy(*key)
    kept = (
        touched.withColumn("_new", F.lit(False))
        .unionByName(new.select(*cols).withColumn("_new", F.lit(True)))
        .filter(F.col("id").isNotNull())
        .withColumn("_r", F.dense_rank().over(bucket.orderBy("id", *carry)))
        .withColumn("_n", F.max("_r").over(bucket))
        .filter(F.col("_n") <= cap)
    )

    def side(df: DataFrame, s: str) -> DataFrame:
        return df.select(
            F.col("id").alias(f"id_{s}"),
            *key,
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
            F.col("_new").alias(f"_new_{s}"),
        )

    low = F.col("id_n") < F.col("id_o")
    return (
        side(kept.filter("_new"), "n")
        # both sides are already clustered by key on the one exchange; a
        # broadcast of this side would cost one more job per batch
        .hint("merge")
        .join(side(kept, "o"), key)
        # every new row meets its own copy, and a redelivered document's
        # id is already in the store: the self-match would fabricate an
        # (X, X) pair. Reading _new_o also keeps _new in both copies of the
        # exchange, which its reuse needs (a pruned column makes the copies
        # differ).
        .filter((F.col("id_n") != F.col("id_o")) & (low | ~F.col("_new_o")))
        .select(
            F.least("id_n", "id_o").alias("id_a"),
            F.greatest("id_n", "id_o").alias("id_b"),
            *key,
            *[
                F.when(low, F.col(f"{c}_{x}")).otherwise(F.col(f"{c}_{y}")).alias(f"{c}_{ab}")
                for c in carry
                for ab, x, y in (("a", "n", "o"), ("b", "o", "n"))
            ],
        )
    )


def _bucket_pair_step(
    new: DataFrame,
    batch: _Batch,
    store_dir: str,
    out_dir: str,
    schema: str,
    key: list[str],
    cap: int,
    emit=lambda pairs: pairs,
) -> None:
    """The store step of the near-dup, semantic and substring sinks: pin
    the batch's store rows ``new`` once, write ``emit(pairs).distinct()``
    of :func:`_capped_bucket_pairs` against the store's earlier batches to
    ``out_dir``, then write ``new`` as the batch's store files. The store
    columns are ``schema``'s; the carried columns are those not ``id`` or
    in ``key``."""
    new = new.localCheckpoint(eager=True)  # feeds the pair plan and the store
    store = _read_store(new.sparkSession, store_dir, schema, batch)
    carry = tuple(c for c in store.columns if c != "id" and c not in key)
    pairs = emit(_capped_bucket_pairs(new, store, key, cap, carry)).distinct()
    _batch_write(pairs, out_dir, batch)
    _batch_write(new.select(*store.columns), store_dir, batch)


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "complete") -> DataFrame:
    """Execute a streaming query to completion over all currently-available
    input (``availableNow``) into an in-memory table; returns the result as
    a batch DataFrame. Test/backfill helper."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def incremental_dedup_stream(
    docs_stream: DataFrame,
    history_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming incremental exact-dedup via ``foreachBatch``: every
    micro-batch anti-joins the persisted fingerprint store, writes its
    survivors to ``out_dir``, and writes their fingerprints to
    ``history_dir`` — so a document seen in ANY earlier batch (or earlier
    in the same batch, min-id wins) never lands twice. This is the
    continuously-ingesting corpus pipeline: the landed directory is the
    stream, the fingerprint store is the only state, and both live on disk,
    not in the state store.

    Scale notes: the store carries 32-byte digests only and at 100 TB is
    written fp-bucketed (operators/bucketing) so the per-batch anti-join
    shuffles just the incoming shard. A retried batch reads the store
    without its own fingerprints and replaces its survivors and
    fingerprints (:func:`_batch_write`).

    Returns the started StreamingQuery (caller awaits termination).
    """
    from dampr_spark.functions.text import fingerprint
    from dampr_spark.operators.dedup import drop_seen_exact

    def handle(batch_df: DataFrame, batch: _Batch) -> None:
        hist = _read_store(batch_df.sparkSession, history_dir, "fp string", batch)
        # Persist the survivors: two writes consume them, and without the
        # pin the whole anti-join + min-id plan would execute twice.
        kept = drop_seen_exact(batch_df, hist, text_col, id_col).persist()
        try:
            _batch_write(kept, out_dir, batch)
            fps = kept.select(fingerprint(text_col).alias("fp"))
            _batch_write(fps, history_dir, batch)
        finally:
            kept.unpersist()

    return _start_batches(docs_stream, handle, out_dir)


def user_value_ewma_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``user_value_ewma`` catalog query: the
    α=0.5 exponentially-weighted average as an ``applyInPandasWithState``
    fold. State per user is exactly (ewma double, n long) — the whole point
    of EWMA as a streaming metric: O(1) state where the batch form folds an
    array. Events fold in (ts, event_id) order within each micro-batch, so
    a chronologically-replayed stream reproduces the batch fold exactly
    (same float operation sequence, same tie-break).

    Update-mode emission: one row per user per micro-batch carrying the
    running (n_events, ewma); the latest row per user is the final answer.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, ewma double"
    state_schema = "e double, n long"

    def update(key, pdfs, state: GroupState):
        e, n = state.get if state.exists else (None, 0)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows[rows["value"].notna()].sort_values(["ts", "event_id"])
        for v in rows["value"]:
            v = float(v)
            e = v if e is None else e * 0.5 + v * 0.5
            n += 1
        if e is not None:
            state.update((e, n))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "ewma": [round(e, 6)]}
            )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def enrich_with_dim(events: DataFrame, dim: DataFrame, key: str = "user_id") -> DataFrame:
    """Stream-static join: each streaming event picks up the columns of a
    STATIC dimension row (user tier, account metadata, model-version
    routing). Stream-static joins are stateless — the static side is simply
    (re)read per micro-batch and broadcast when small, so there is no state
    store to bound and no watermark requirement; this is the right shape
    for slowly-changing dims at 100 TB (the static side refreshes on
    restart, or becomes a stream-stream join if it must update live)."""
    return events.join(F.broadcast(dim), key, "left")


def streaming_dedup_within_watermark(
    events: DataFrame, keys: list[str], watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup via ``dropDuplicatesWithinWatermark``: unlike
    ``dropDuplicates`` (whose per-key state under a watermark is evicted on
    EVENT TIME of first sight), this guarantees dedup among events whose
    times are within the watermark delta of each other while still evicting
    state — the late-data-tolerant form recommended for at-least-once
    sources (a redelivered event with a slightly different arrival batch
    still dedups)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


_NEARDUP_STORE = "id long, band int, band_hash long"


def incremental_neardup_stream(
    docs_stream: DataFrame,
    store_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    max_bucket: int = 1000,
):
    """Streaming incremental NEAR-dup candidate generation via
    ``foreachBatch`` — the LSH twin of :func:`incremental_dedup_stream`:
    every micro-batch (a) computes MinHash band signatures for its
    documents, (b) emits candidate pairs within the batch AND against the
    PERSISTED signature store of everything ingested before (asymmetric
    band join — history is never self-joined), then (c) appends its own
    signatures to the store. Across any replay, the union of emitted pairs
    equals the full-corpus banded candidate set when no bucket exceeds
    ``max_bucket`` (pinned by the batch-equivalence test).

    State is the on-disk store of (id, band, band_hash) rows — 16 small
    rows per document, bucketable by (band, band_hash) at scale so each
    batch's join shuffles only the batch side.

    ``max_bucket`` caps the CUMULATIVE (store + current batch) size of each
    (band, band_hash) bucket: once a bucket's total signature count exceeds
    the cap, BOTH its cross-store and its within-batch pairing are skipped
    for this and every later batch (signatures still append, so the count
    keeps reflecting the full corpus). The RAW sink is a superset of the
    batch operator's capped set (pairs emitted from a bucket while it was
    still under the cap can't be retracted from an append-only sink), but
    every pair row records its emitting (band, band_hash), so
    :func:`neardup_pairs_view` recovers EXACT batch equivalence at read
    time by dropping pairs whose every recorded bucket has since crossed
    the cap (pinned by the cap-equivalence test). Per-batch work stays
    bounded: a hot bucket never pairs again after crossing the cap.
    Emitted pairs are CANDIDATES; the exact-Jaccard verify joins document
    text downstream (the store deliberately holds signatures, not text).

    Each batch is one store step (:func:`_bucket_pair_step`), 5 Spark
    jobs: the batch's signatures are pinned once, one pair plan over a
    single shuffle clustered by (band, band_hash)
    (:func:`_capped_bucket_pairs`) writes the cross-store and
    within-batch pairs, and the signatures are written to the store."""
    check_range("max_bucket", max_bucket, 1)
    from dampr_spark.operators.dedup import _banded_signatures

    def handle(batch_df: DataFrame, batch: _Batch) -> None:
        new = _banded_signatures(batch_df, text_col, id_col, num_perm, bands, shingle_k)
        _bucket_pair_step(
            new, batch, store_dir, out_dir, _NEARDUP_STORE, ["band", "band_hash"], max_bucket
        )

    return _start_batches(docs_stream, handle, out_dir)


def neardup_pairs_view(
    spark: SparkSession,
    out_dir: str,
    store_dir: str,
    max_bucket: int = 1000,
) -> DataFrame:
    """Batch-equivalent read view over :func:`incremental_neardup_stream`'s
    append-only pair sink: keeps a candidate pair iff at least one of its
    recorded emitting buckets is STILL under ``max_bucket`` in the full
    signature store — read-time retraction for buckets that went hot after
    emitting. This is exactly the batch operator's rule (a pair survives
    the cap iff some under-cap bucket contains both documents), so under
    an active cap this view EQUALS ``minhash_lsh_candidates(...,
    max_bucket=...)`` over the ingested corpus, not just a superset
    (pinned by the cap-equivalence test). One small aggregate over the
    16-rows-per-doc store + an anti-join — no document text is read.

    Pairs missing their provenance columns (a sink written by a pre-
    provenance version of the stream, mixed into this out_dir) are DROPPED
    rather than kept: a null (band, band_hash) never matches the hot
    anti-join, so keeping such rows would silently exempt them from
    retraction — under-reporting is the conservative failure for a capped
    candidate view."""
    check_range("max_bucket", max_bucket, 1)
    return _capped_pairs_view(
        spark, out_dir, store_dir, ["band", "band_hash"], max_bucket, ["id_a", "id_b"]
    )


def _capped_pairs_view(
    spark: SparkSession,
    out_dir: str,
    store_dir: str,
    key: list[str],
    cap: int,
    cols: list[str],
) -> DataFrame:
    """Distinct ``cols`` of the pair rows in ``out_dir`` whose emitting
    ``key`` bucket holds at most ``cap`` distinct ids in the store at
    ``store_dir`` — the read-time retraction of both bucket sinks. Rows
    with a null ``key`` column are dropped. countDistinct, not count, for
    the store step's reason: a redelivered document's rows must not push
    a bucket the batch operator keeps over the cap."""
    pairs = spark.read.parquet(out_dir).dropna(subset=key)
    hot = (
        spark.read.parquet(store_dir)
        .groupBy(*key)
        .agg(F.countDistinct("id").alias("_n"))
        .filter(F.col("_n") > cap)
    )
    return pairs.join(hot, key, "left_anti").select(*cols).distinct()


def incremental_novelty_stream(
    docs_stream: DataFrame,
    store_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
):
    """Streaming incremental n-gram NOVELTY via ``foreachBatch`` — the
    stream twin of the batch ``ngram_novelty`` catalog query: per document,
    the fraction of its distinct word n-grams appearing for the first time
    in the corpus SO FAR. State is the on-disk store of distinct grams
    already seen; every micro-batch (a) explodes its docs' distinct grams,
    (b) anti-joins the store to find never-seen grams, (c) credits each
    new gram to its min-id doc WITHIN the batch, (d) appends per-doc
    (n_grams, n_novel, novelty) rows and the new grams to the store.

    Equivalence: when batches partition the corpus in ``id_col`` order
    (each batch's ids all below the next batch's — the natural shape for
    an append-only ingest log), a gram's first-appearance doc under this
    incremental rule IS the global min doc_id, so the replayed union
    equals the batch query row-for-row (pinned by the equivalence test).
    Out-of-order batches redefine "first" as "first ARRIVED" — the honest
    streaming semantics, same caveat family as incremental dedup's
    history-is-what-arrived-earlier.

    Scale notes: the store is one distinct-gram column — at 100 TB write
    it gram-bucketed (operators/bucketing) so the per-batch anti-join
    shuffles only the batch side; storing xxhash64(gram) longs instead of
    strings cuts the store ~8x at a documented collision risk of
    n_grams^2 / 2^65. A retried batch reads the store without its own
    grams, so it scores its documents as its first attempt did."""
    from dampr_spark.operators.dedup import word_ngrams

    def handle(batch_df: DataFrame, batch: _Batch) -> None:
        d = (
            batch_df.filter(F.col(text_col).isNotNull())
            .select(
                F.col(id_col).alias("doc_id"),
                F.explode(word_ngrams(text_col, n)).alias("gram"),
            )
            .localCheckpoint(eager=True)  # feeds firsts, the join, and the agg
        )
        store = _read_store(batch_df.sparkSession, store_dir, "gram string", batch)
        new_grams = (
            d.groupBy("gram")
            .agg(F.min("doc_id").alias("first_doc"))
            .join(store, "gram", "left_anti")
            .localCheckpoint(eager=True)  # consumed by the credit join AND the store write
        )
        _batch_write(new_grams.select("gram"), store_dir, batch)
        novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
        scores = d.join(new_grams, "gram", "left").groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(novel).cast("long").alias("n_novel"),
            F.round(F.sum(novel) / F.count(F.lit(1)), 6).alias("novelty"),
        )
        _batch_write(scores, out_dir, batch)

    return _start_batches(docs_stream, handle, out_dir)


def fit_value_histogram(
    df: DataFrame, value_col: str = "value", buckets: int = 10
):
    """Fit the static reference for :func:`value_drift_stream`: equal-width
    bucket bounds (lo, hi) over the non-null values and the per-bucket
    reference counts — a ``buckets``-element list. One min/max aggregate +
    one bucket-keyed count; the result is O(buckets) driver-side state
    (the documented bounded-scalar shape)."""
    v = df.select(F.col(value_col).alias("v"))  # min, max and buckets skip nulls
    lo, hi = v.agg(F.min("v"), F.max("v")).first()
    if lo is None or hi is None:
        raise ValueError(
            f"fit_value_histogram: no non-null values in {value_col!r} — "
            "cannot fit bucket bounds on an empty reference window"
        )
    counts = _bucket_counts(v, float(lo), float(hi), buckets)
    return float(lo), float(hi), counts


def _bucket_counts(v: DataFrame, lo: float, hi: float, buckets: int) -> list[int]:
    """Counts of ``v`` per equal-width bucket of ``lo..hi``, clamped on BOTH
    sides (operators/stats.value_histogram): bounds are fit on a reference
    window and the stream carries later data, so downward drift must pile
    into bucket 0 and move the PSI, not vanish from it."""
    from dampr_spark.operators.stats import value_histogram

    got = dict(value_histogram(v, "v", lo, hi, buckets).collect())
    return [int(got.get(i, 0)) for i in range(buckets)]


def value_drift_stream(
    events_stream: DataFrame,
    ref_counts: list[int],
    lo: float,
    hi: float,
    out_dir: str,
    value_col: str = "value",
):
    """Streaming drift monitor — the stream twin of the batch
    ``value_drift_psi`` catalog query: every micro-batch computes the
    Population Stability Index of ITS value distribution against a fixed
    reference histogram (fit once with :func:`fit_value_histogram` on the
    reference window) and appends one (batch_id, n_events, psi) row.
    PSI > 0.25 on a batch is the standard page-the-pipeline signal.

    Arithmetic matches the batch query exactly (same equal-width buckets,
    same Laplace +1 smoothing, same 6dp rounding), so a single-batch
    replay of the current window reproduces the batch PSI to the digit
    (pinned by the equivalence test). State is the O(buckets) reference
    list — broadcast by closure; the per-batch work is one bucket-keyed
    count of the batch."""
    import math

    buckets = len(ref_counts)
    tr = sum(ref_counts)

    def handle(batch_df: DataFrame, batch: _Batch) -> None:
        cur = _bucket_counts(batch_df.select(F.col(value_col).alias("v")), lo, hi, buckets)
        tc = sum(cur)
        psi = 0.0
        for nr, nc in zip(ref_counts, cur):
            pr = (nr + 1.0) / (tr + buckets)
            pc = (nc + 1.0) / (tc + buckets)
            psi += (pr - pc) * math.log(pr / pc)
        row = batch_df.sparkSession.createDataFrame(
            [(int(batch.id), int(tc), round(psi, 6))],
            "batch_id long, n_events long, psi double",
        )
        _batch_write(row, out_dir, batch)

    return _start_batches(events_stream, handle, out_dir)


def fit_embedding_cell_histogram(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dims: int = 4,
    buckets: int = 4,
    bounds: tuple[list[float], list[float]] | None = None,
):
    """Fit the static reference for :func:`embedding_drift_stream`: fixed
    grid bounds (``similarity.fit_grid_bounds`` — the fit-on-reference
    discipline this module already uses for values and grid near-dup)
    plus the per-cell reference counts as a dict. Pass ``bounds`` to pin
    them externally (e.g. the combined-corpus bounds the batch
    ``embedding_drift_psi`` query uses, for exact twin equivalence).
    Driver state is O(buckets^dims) — the documented bounded shape."""
    from dampr_spark.operators.similarity import fit_grid_bounds, grid_cells

    if bounds is None:
        bounds = fit_grid_bounds(df, vec_col, dims)
    counts = {
        int(r["cell"]): int(r["n"])
        for r in grid_cells(df, vec_col, id_col, dims, buckets, bounds=bounds)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return bounds, counts


def embedding_drift_stream(
    vec_stream: DataFrame,
    ref_counts: dict,
    bounds,
    out_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dims: int = 4,
    buckets: int = 4,
):
    """Streaming EMBEDDING drift monitor — the stream twin of the batch
    ``embedding_drift_psi`` catalog query (round 11), completing the
    drift-twin family alongside :func:`value_drift_stream`: every
    micro-batch assigns grid cells under the FIXED reference bounds
    (cells clamp out-of-range vectors into edge cells, so a re-embed
    whose space wanders past the reference bounds moves the PSI instead
    of vanishing), counts per cell, and appends one
    (batch_id, n_vectors, n_cells, psi) row.

    Arithmetic matches the batch query exactly: Laplace +1 smoothing
    with the occupied-cell union width, 6dp rounding — a single-batch
    replay of the current slice against a reference fit on the other
    slice (under combined bounds) reproduces the batch PSI to the digit
    (pinned by the equivalence test). State is the O(buckets^dims)
    reference dict, broadcast by closure; per-batch work is one codegen
    cell-assignment pass plus a bounded count."""
    import math

    from dampr_spark.operators.similarity import grid_cells

    tr = sum(ref_counts.values())

    def handle(batch_df: DataFrame, batch: _Batch) -> None:
        cur = {
            int(r["cell"]): int(r["n"])
            for r in grid_cells(
                batch_df, vec_col, id_col, dims, buckets, bounds=bounds
            )
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        tc = sum(cur.values())
        occupied = sorted(set(ref_counts) | set(cur))
        s = len(occupied)
        psi = 0.0
        for cell in occupied:
            pr = (ref_counts.get(cell, 0) + 1.0) / (tr + s)
            pc = (cur.get(cell, 0) + 1.0) / (tc + s)
            psi += (pr - pc) * math.log(pr / pc)
        row = batch_df.sparkSession.createDataFrame(
            [(int(batch.id), int(tc), int(s), round(psi, 6))],
            "batch_id long, n_vectors long, n_cells long, psi double",
        )
        _batch_write(row, out_dir, batch)

    return _start_batches(vec_stream, handle, out_dir)


def semantic_dedup_stream(
    vec_stream: DataFrame,
    ivf,
    store_dir: str,
    out_dir: str,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Streaming SEMANTIC dedup via ``foreachBatch`` — the embedding twin
    of :func:`incremental_dedup_stream`: every micro-batch of vectors

    1. probes the partitioned IVF shard STORE for candidates — the
       batch's probe-list union is collected driver-side (bounded by
       ``n_lists``) and applied as a ``list_id IN`` partition filter, so
       each batch READS only its probed directories of the store;
    2. is marked dominated/novel by the exact rule of the batch operator
       ``IVFIndex.semantic_novelty``: dominated iff some LOWER-id vector
       (in the store or earlier in this batch) within shared probe lists
       has cosine >= ``threshold`` — the same Arrow cogroup kernel, so
       stream and batch compute the identical decision;
    3. writes its NOVEL rows to ``out_dir`` and appends ALL its rows to
       the IVF shard store (``IVFIndex.append_shard``; the first batch
       creates it via ``init_store``), because
       id-order dominance must see every earlier arrival, not just
       survivors.

    Replaying a corpus in id-ordered batches reproduces the batch
    operator's survivor set EXACTLY (pinned by the equivalence test);
    out-of-id-order arrival keeps the same rule but an early-arriving
    high id that a later low id would dominate has already been emitted
    (the sink does not retract — the same caveat every incremental twin
    in this module documents).

    State: NONE in the streaming state store (no watermark needed — the
    dominance test is against the on-disk shard store, not operator
    state); the store grows with the corpus by design (semantic dedup
    must remember every kept vector) and its list-depth staleness is
    priced by ``ivf_store_audit`` — re-fit + re-init is the compaction.
    A retried batch re-appends its shard (duplicate ids are inert in an
    existence test; the ``nid < qid`` guard also stops a redelivered
    vector from dominating itself) and replaces its novel rows
    (:func:`_batch_write`)."""
    from dampr_spark.functions.vector import valid_vector

    nprobe = min(ivf.nprobe, len(ivf.centroids))

    def handle(batch_df: DataFrame, batch: _Batch) -> None:
        spark = batch_df.sparkSession
        # bounded micro-batch; feeds probers/members/anti-join/appends
        vecs = batch_df.filter(valid_vector(vec_col)).localCheckpoint(eager=True)
        if vecs.count() == 0:
            return
        probe_lists = ivf._top_lists_udf(nprobe)
        probers = vecs.select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qv"),
            F.explode(probe_lists(F.col(vec_col))).alias("list_id"),
        ).localCheckpoint(eager=True)  # feeds the probe-set collect + join
        probe_set = [
            int(r.list_id)
            for r in probers.select("list_id").distinct().collect()
        ]  # bounded <= n_lists
        member_cols = ("list_id", F.col(id_col).alias("nid"), F.col(vec_col).alias("mv"))
        members = ivf.assign(vecs, vec_col=vec_col).select(*member_cols)
        # Asked of the store path's Hadoop FileSystem: reading a missing
        # store logs a FileNotFoundException stack trace before it raises.
        have_store = bool(ivf.store_shard_ids(spark, store_dir))
        if have_store:
            store = (
                # decode=True: the shared codec-aware read path — on an
                # sq8 store the byte codes are decoded AFTER the list_id
                # partition prune, so the stream composes with
                # quantized-at-rest stores.
                ivf.read_store(
                    spark, store_dir, decode=True, vec_col=vec_col
                )
                .filter(F.col("list_id").isin(probe_set))  # partition prune
                .select(*member_cols)
            )
            members = members.unionByName(store)
        dominated = ivf._dominated_qids(probers, members, threshold)
        novel = vecs.join(
            dominated.select(F.col("qid").alias(id_col)), id_col, "left_anti"
        )
        _batch_write(novel, out_dir, batch)
        if have_store:
            ivf.append_shard(vecs, store_dir, vec_col=vec_col)
        else:
            ivf.init_store(vecs, store_dir, vec_col=vec_col)

    return _start_batches(vec_stream, handle, out_dir)


def semantic_dedup_retractions(
    spark,
    ivf,
    store_dir: str,
    out_dir: str,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Retro-dedup pass for :func:`semantic_dedup_stream` — the
    compaction analogue for the OUTPUT.

    Out-of-id-order arrival is the stream's documented caveat: an
    early-arriving HIGH id that a later low id would dominate has
    already been emitted, and an append-only sink can't retract it.
    Every id-order survivor is still always emitted (it is dominated by
    nothing), so the sink is exactly ``batch survivors ∪ false
    survivors`` — which makes the repair a pure subtraction. This
    function recomputes the batch rule OFFLINE over the accumulated
    shard store (which holds EVERY arrival by design) and returns the
    emitted rows the batch operator dominates: the RETRACTION SET.
    ``sink minus retractions == IVFIndex.semantic_novelty(full corpus)``
    exactly, for ANY arrival order — pinned by the shuffled-replay test.

    At-least-once retries may leave duplicate ids in the store (inert
    for dominance); they are dropped by id before the offline pass so a
    redelivered copy can't dominate itself. One list_id shuffle + one
    anti-join — run it on the maintenance cadence (with
    ``IVFIndex.compact_store``, its input-side sibling) and apply the
    retractions to the sink's consumers as deletes."""
    store = (
        # decode=True: codec-aware shared read path — the offline pass
        # works unchanged over a quantized-at-rest (sq8) store.
        ivf.read_store(spark, store_dir, decode=True, vec_col=vec_col)
        .select("list_id", id_col, vec_col)
        .dropDuplicates([id_col])
    )
    kept = ivf.semantic_novelty(
        store, threshold=threshold, vec_col=vec_col, id_col=id_col
    )
    emitted = spark.read.parquet(out_dir)
    return emitted.join(kept.select(id_col), id_col, "left_anti")


_SUBSTRING_STORE = "id long, pos int, gram long"


def incremental_substring_stream(
    docs_stream: DataFrame,
    store_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    anchor_tokens: int = 8,
    min_len: int = 20,
    max_posting: int = 16,
):
    """Streaming incremental SUBSTRING dedup via ``foreachBatch`` — the
    suffix-run twin of :func:`incremental_neardup_stream`, on the same
    store step (:func:`_bucket_pair_step`, keyed by gram and carrying
    ``pos``; 8 Spark jobs per batch after the first): every micro-batch
    explodes its documents into positional anchor rows (8-byte xxhash64
    keys — the batch operator's ``hash_anchors`` scale path), pairs them
    with the PERSISTED anchor store AND themselves, extends the matched
    anchors into maximal repeated spans ≥ ``min_len`` tokens (the batch
    operator's own ``spans_from_anchor_pairs``), and writes its anchors
    to the store.

    A doc pair's ENTIRE diagonal structure is computable in the batch
    where its later member arrives (both docs' full anchor rows exist by
    then), so spans are final on emission — no read-time reassembly. With
    no gram ever over ``max_posting``, the union of emitted spans EQUALS
    the full-corpus batch operator's output (pinned by the equivalence
    test). ``max_posting`` caps the CUMULATIVE (store + batch) posting of
    each gram in distinct (id, pos) occurrences, the batch operator's
    unit; once over, the gram stops pairing for this and every later
    batch — early spans that used it while cold are not retracted from
    the sink, so under an active cap the stream's span COVERAGE is a
    superset of the batch operator's (batch splits runs at finally-hot
    grams; pinned by the cap test). State is one (id, pos,
    gram) row per token position — inherent to substring-level dedup.

    A redelivered document's anchors meet both their store copy and
    their batch copy, so the matched-anchor pairs are deduplicated before
    the run extension: a repeated pair would split its diagonal's run."""
    if min_len < anchor_tokens:
        raise ValueError(
            f"min_len ({min_len}) must be >= anchor_tokens ({anchor_tokens}): "
            "runs are detected at anchor granularity (same contract as the "
            "batch operator)"
        )
    check_range("max_posting", max_posting, 1)
    from dampr_spark.operators.dedup import (
        positional_anchor_rows,
        spans_from_anchor_pairs,
    )

    def spans(pairs: DataFrame) -> DataFrame:
        anchored = pairs.select(
            "id_a", "pos_a", "id_b", (F.col("pos_b") - F.col("pos_a")).alias("offset")
        ).distinct()
        return spans_from_anchor_pairs(anchored, anchor_tokens, min_len)

    def handle(batch_df: DataFrame, batch: _Batch) -> None:
        new = positional_anchor_rows(
            batch_df, text_col, id_col, anchor_tokens, hash_anchors=True
        )
        _bucket_pair_step(
            new, batch, store_dir, out_dir, _SUBSTRING_STORE, ["gram"], max_posting, spans
        )

    return _start_batches(docs_stream, handle, out_dir)


def cms_stream(
    docs_stream: DataFrame,
    out_dir: str,
    item_expr,
    depth: int = 4,
    width: int = 512,
):
    """Streaming Count-Min sketch via ``foreachBatch``: each micro-batch
    reduces to its own depth x width cell frame
    (operators/sketches.cms_build) and writes it; the live sketch is the
    cell-sum over every batch's frame (:func:`cms_view`). Because CMS
    merge IS cell addition, the streamed sketch equals the batch-built
    whole-corpus sketch exactly — no caps, no retraction caveats (pinned
    by the equivalence test). Per-batch state written: depth x width rows,
    independent of batch size.

    ``item_expr`` maps a batch DataFrame to a one-column frame of items
    (e.g. ``lambda df: df.select(F.explode(...).alias("g"))``)."""
    from dampr_spark.operators.sketches import cms_build

    check_range("depth", depth, 1)
    check_range("width", width, 1)

    def handle(batch_df: DataFrame, batch: _Batch) -> None:
        items = item_expr(batch_df)
        _batch_write(cms_build(items, items.columns[0], depth=depth, width=width), out_dir, batch)

    return _start_batches(docs_stream, handle, out_dir)


def cms_view(spark: SparkSession, out_dir: str) -> DataFrame:
    """The live sketch: cell-sum over every per-batch sketch."""
    return (
        spark.read.parquet(out_dir)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def dsir_score_stream(
    docs_stream: DataFrame,
    ratios: DataFrame,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
):
    """Streaming DSIR scoring via ``foreachBatch``: every micro-batch of
    documents is scored against a FIXED ``(bucket, lr)`` ratio table
    (operators/selection.dsir_log_ratios, fit batch-side on a
    raw-snapshot + target — the model is an artifact, it does not grow
    with the stream) and written. Scoring is stateless per batch
    (broadcast table join), so the streamed scores are EXACTLY the batch
    operator's scores for the same docs — pinned by the equivalence
    test. The shape a curation pipeline wants at ingest: new crawl shards
    arrive, each doc gets its importance weight immediately, resampling
    happens downstream."""
    from dampr_spark.operators.selection import dsir_score

    ratios = ratios.localCheckpoint(eager=True)

    def handle(batch_df: DataFrame, batch: _Batch) -> None:
        scores = dsir_score(
            batch_df, ratios, text_col=text_col, id_col=id_col, n_buckets=n_buckets
        )
        _batch_write(scores, out_dir, batch)

    return _start_batches(docs_stream, handle, out_dir)


def scd2_state_stream(
    events_stream: DataFrame,
    open_dir: str,
    out_dir: str,
):
    """Streaming SCD-type-2 maintenance — the incremental form of the
    batch ``user_state_history`` catalog query, which is how a dimension
    loader actually runs: closed validity intervals land in ``out_dir``,
    one set of files per batch; the per-user OPEN interval (current
    state, no valid_to yet) lives in ``open_dir`` and is rewritten each
    micro-batch.

    Per batch: (a) collapse the batch's events into state runs with the
    SAME gaps-and-islands core as the batch query
    (``plans.eventops.state_runs``), (b) union the open-interval store and
    re-collapse consecutive equal-state runs per user — a boundary-
    spanning run (open interval extended by the batch's first events)
    merges here, (c) every merged run that has a successor is CLOSED
    (valid_to = successor's valid_from) and written; each user's last run
    becomes the new open store.

    Equivalence: when batches partition the event log in (ts, event_id)
    order (the natural shape for an append-only ingest), closed ∪ open
    equals the batch query row-for-row (pinned by the equivalence test).
    Out-of-order batches close intervals in arrival order — the honest
    streaming semantics, same caveat family as the dedup/novelty sinks.

    Retry safety: Spark re-runs a batch whose commit entry is missing;
    re-reading its own open store would merge its events twice, and a
    crash mid-overwrite would lose every open interval. So the open store
    is VERSIONED BY BATCH: batch N reads
    ``open_dir/v=N-1`` (never its own output) and overwrites
    ``open_dir/v=N`` — a replay reproduces v=N byte-identically from the
    same inputs, and its closed rows replace the first attempt's
    (:func:`_batch_write`). Versions ≤ N-2 are pruned after the v=N write
    (v=N-1 must survive in case batch N itself retries), listed and
    deleted through ``open_dir``'s Hadoop FileSystem, so a URI prunes
    like a plain path.

    Scale notes: the open store is ONE row per user; at 100 TB write it
    user-bucketed (operators/bucketing) and rewrite only the buckets whose
    users appear in the batch, so the per-batch merge shuffles batch-sized
    state. Read the live store with :func:`scd2_open_view`."""
    def handle(batch_df: DataFrame, batch: _Batch) -> None:
        _scd2_apply_batch(batch_df, batch, open_dir, out_dir)

    return _start_batches(events_stream, handle, out_dir)


def _scd2_apply_batch(
    batch_df: DataFrame, batch: _Batch, open_dir: str, out_dir: str
) -> None:
    """One SCD2 micro-batch merge — module-level so the retry-idempotence
    test can replay a batch as its ORIGINAL ``batch``, exactly what a
    foreachBatch retry does."""
    from pyspark.sql.window import Window

    from dampr_spark.plans.eventops import state_runs

    spark = batch_df.sparkSession
    runs = state_runs(batch_df.select("user_id", "event_type", "ts", "event_id"))
    open_ = _read_store(spark, f"{open_dir}/v={batch.id - 1}", _SCD2_OPEN_SCHEMA)
    combined = open_.unionByName(runs)
    w_u = Window.partitionBy("user_id").orderBy("valid_from", "first_eid")
    w_s = Window.partitionBy("user_id", "state").orderBy("valid_from", "first_eid")
    merged = (
        combined.withColumn("rn", F.row_number().over(w_u))
        .withColumn("grp", F.col("rn") - F.row_number().over(w_s))
        .groupBy("user_id", "state", "grp")
        .agg(
            F.min(F.struct("valid_from", "first_eid")).alias("o"),
            F.sum("n_events").alias("n_events"),
        )
        .select(
            "user_id",
            "state",
            F.col("o.valid_from").alias("valid_from"),
            F.col("o.first_eid").alias("first_eid"),
            "n_events",
            F.lead("o.valid_from")
            .over(Window.partitionBy("user_id").orderBy("o"))
            .alias("valid_to"),
        )
        # Pinned: the closed write and the open-store write both consume
        # this plan — without the pin the merge would execute twice.
        .localCheckpoint(eager=True)
    )
    closed = merged.filter(F.col("valid_to").isNotNull()).select(
        "user_id", "state", "valid_from", "valid_to", "n_events"
    )
    _batch_write(closed, out_dir, batch)
    merged.filter(F.col("valid_to").isNull()).select(
        "user_id", "state", "valid_from", "first_eid", "n_events"
    ).write.mode("overwrite").parquet(f"{open_dir}/v={batch.id}")
    # Prune stale versions, keeping v=N-1 (batch N's own retry input).
    fs, versions = _scd2_versions(spark, open_dir)
    for v, path in versions.items():
        if v <= batch.id - 2:
            fs.delete(path, True)


def _scd2_versions(spark: SparkSession, open_dir: str):
    """The path's Hadoop FileSystem and the ``{N: Path}`` of its ``v=N``
    open-store versions (none before the first batch). Listed through
    the FileSystem, so a ``file://`` or object-store URI lists like a
    plain path."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(open_dir)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return fs, {}
    names = ((st.getPath(), st.getPath().getName()) for st in fs.listStatus(hpath))
    return fs, {
        int(n[2:]): p for p, n in names if n.startswith("v=") and n[2:].lstrip("-").isdigit()
    }


_SCD2_OPEN_SCHEMA = (
    "user_id bigint, state string, valid_from timestamp, "
    "first_eid bigint, n_events bigint"
)


def scd2_open_view(spark: SparkSession, open_dir: str) -> DataFrame:
    """The live open-interval store: the highest ``v=<batch>`` version
    under ``open_dir`` (empty frame if no batch has committed yet)."""
    _, versions = _scd2_versions(spark, open_dir)
    if not versions:
        return spark.createDataFrame([], _SCD2_OPEN_SCHEMA)
    return spark.read.parquet(f"{open_dir}/v={max(versions)}")


def hll_stream(
    events_stream: DataFrame,
    out_dir: str,
    item_expr,
    p: int = 9,
):
    """Streaming explicit-register HyperLogLog via ``foreachBatch``: each
    micro-batch reduces to its own ≤2^p-row register table
    (operators/sketches.hll_build) and writes it; the live sketch is the
    register-max over every batch's table (:func:`hll_view`). Register
    max is associative AND idempotent, so the streamed sketch equals the
    batch-built whole-corpus sketch exactly, and a source that redelivers
    rows changes no register. Per-batch state written: ≤2^p rows,
    independent of batch size.

    ``item_expr`` maps a batch DataFrame to a one-column frame of items
    (e.g. ``lambda df: df.select("user_id")``)."""
    from dampr_spark.operators.sketches import hll_build

    check_range("p", p, 4, 16)

    def handle(batch_df: DataFrame, batch: _Batch) -> None:
        items = item_expr(batch_df)
        _batch_write(hll_build(items, items.columns[0], p=p), out_dir, batch)

    return _start_batches(events_stream, handle, out_dir)


def hll_view(spark: SparkSession, out_dir: str) -> DataFrame:
    """The live register table: register-max over every batch's table."""
    return (
        spark.read.parquet(out_dir)
        .groupBy("reg")
        .agg(F.max("rho").alias("rho"))
    )


def bloom_stream(
    events_stream: DataFrame,
    out_dir: str,
    item_expr,
    n_hashes: int = 5,
    n_bits: int = 4096,
):
    """Streaming Bloom filter via ``foreachBatch``: each micro-batch
    reduces to its own ≤n_bits-row SET-bit table
    (operators/sketches.bloom_build) and writes it; the live filter is
    the distinct-bit union over every batch's table (:func:`bloom_view`).
    Bit-set OR is associative AND idempotent — like the HLL register max,
    redelivered rows change nothing, and the streamed filter equals the
    batch-built whole-corpus filter EXACTLY (same bits → same membership
    verdict for every probe, no false negatives ever).

    The ingest-time shape of runtime join pruning: as dim shards arrive,
    the persisted bit table grows monotonically; any later probe-side
    job prunes with bloom_prune against the current view. Per-batch
    state written: ≤n_bits rows, independent of batch size."""
    from dampr_spark.operators.sketches import bloom_build

    check_range("n_hashes", n_hashes, 1)
    check_range("n_bits", n_bits, 1)

    def handle(batch_df: DataFrame, batch: _Batch) -> None:
        items = item_expr(batch_df)
        bits = bloom_build(items, items.columns[0], n_hashes=n_hashes, n_bits=n_bits)
        _batch_write(bits, out_dir, batch)

    return _start_batches(events_stream, handle, out_dir)


def bloom_view(spark: SparkSession, out_dir: str) -> DataFrame:
    """The live bit table: distinct set bits over every batch's table —
    feed straight into operators/sketches.bloom_prune."""
    return spark.read.parquet(out_dir).select("bit").distinct()


def histogram_stream(
    events_stream: DataFrame,
    out_dir: str,
    value_expr,
    lo: float,
    hi: float,
    n_bins: int = 256,
):
    """Streaming value histogram via ``foreachBatch`` under FIXED bounds
    (fit them on a reference window first — the PSI monitor discipline):
    each micro-batch reduces to its own ≤n_bins-row (bucket, cnt) table
    (operators/stats.value_histogram) and writes it; the live histogram
    sums counts per bucket (:func:`histogram_view`). Count addition is
    associative, so the streamed histogram equals the batch histogram
    over the same rows EXACTLY — quantile estimates, PSI inputs, and any
    downstream read of the sketch are identical. Addition is not
    idempotent, so a retried batch must replace its table, not add a
    second one (:func:`_batch_write`)."""
    from dampr_spark.operators.stats import value_histogram

    check_range("n_bins", n_bins, 1)

    def handle(batch_df: DataFrame, batch: _Batch) -> None:
        hist = value_histogram(batch_df.select(value_expr.alias("v")), "v", lo, hi, n_bins)
        _batch_write(hist, out_dir, batch)

    return _start_batches(events_stream, handle, out_dir)


def histogram_view(spark: SparkSession, out_dir: str) -> DataFrame:
    """The live histogram: per-bucket count sums over every batch's
    table — feeds the same cumulative-walk quantile estimate as the
    batch sketch."""
    return (
        spark.read.parquet(out_dir)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def ols_stream(
    events_stream: DataFrame,
    out_dir: str,
    group_expr,
    x_expr,
    y_expr,
    y_decimal: str = "decimal(18,2)",
):
    """Streaming closed-form OLS via ``foreachBatch``: each micro-batch
    reduces to its per-group SUFFICIENT-STATISTIC row (n, Σx, Σx², Σy,
    Σxy, Σy² — integers and decimals, EXACT) and writes it; the live
    fit (:func:`ols_view`) sums the statistics per group and evaluates
    the same fixed IEEE closed form as the batch operator
    (operators/stats.grouped_ols). Exact sums are associative, so the
    streamed slope/intercept/r² equal the batch fit over the same rows
    BIT-FOR-BIT — regression over a stream at the cost of a sum, no
    model state, no gradient rounds, no refit scans.

    ``group_expr``/``x_expr``/``y_expr`` map a batch DataFrame's columns
    (e.g. ``F.col("seg")``, month index, revenue)."""

    def handle(batch_df: DataFrame, batch: _Batch) -> None:
        x = x_expr.cast("long")
        y = y_expr.cast(y_decimal)
        stats = batch_df.select(group_expr.alias("g"), x.alias("x"), y.alias("y")).groupBy("g").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        _batch_write(stats, out_dir, batch)

    return _start_batches(events_stream, handle, out_dir)


def ols_view(spark: SparkSession, out_dir: str) -> DataFrame:
    """The live fit: sum the per-batch sufficient statistics per group,
    then the grouped_ols closed form — identical expression, identical
    exact inputs, bit-identical output to the batch fit."""
    agg = (
        spark.read.parquet(out_dir)
        .groupBy("g")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sx").alias("_sx"),
            F.sum("sxx").alias("_sxx"),
            F.sum("sy").alias("_sy"),
            F.sum("sxy").alias("_sxy"),
            F.sum("syy").alias("_syy"),
        )
    )
    dn = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    syy = F.col("_syy").cast("double")
    num = dn * sxy - sx * sy
    denx = dn * sxx - sx * sx
    deny = dn * syy - sy * sy
    return agg.select(
        "g",
        "n",
        F.round(F.when(denx > 0, num / denx), 6).alias("slope"),
        F.round(
            F.when(denx > 0, (sy - (num / denx) * sx) / dn), 6
        ).alias("intercept"),
        F.round(
            F.when((denx > 0) & (deny > 0), (num * num) / (denx * deny)), 6
        ).alias("r2"),
    )


def logreg_score_stream(
    docs_stream: DataFrame,
    weights: list[float],
    feature_exprs,
    out_dir: str,
    id_col: str = "doc_id",
):
    """Streaming quality-classifier scoring via ``foreachBatch``: every
    micro-batch of documents gets its margin z = w·x and keep decision
    (z > 0) from a FIXED weight vector (fit batch-side with
    ``operators/selection.fit_logreg`` — the model is an artifact, it
    does not grow with the stream) and is written. Stateless per batch,
    so streamed scores equal the batch expressions doc-for-doc — the
    ingest-time shape of the classifier curation recipe: new crawl
    shards arrive, each doc gets its quality margin immediately, the
    gate threshold is decided downstream.

    ``feature_exprs`` is an ordered list of Column expressions matching
    the weight vector's feature order (bias first in ``weights``)."""

    def handle(batch_df: DataFrame, batch: _Batch) -> None:
        z = F.lit(weights[0])
        for wj, xj in zip(weights[1:], feature_exprs):
            z = z + F.lit(wj) * xj
        scores = batch_df.select(F.col(id_col), z.alias("z"), (z > 0).alias("keep"))
        _batch_write(scores, out_dir, batch)

    return _start_batches(docs_stream, handle, out_dir)


_SEMANTIC_STORE = "id long, cell long, e array<double>"


def semantic_neardup_stream(
    vec_stream: DataFrame,
    store_dir: str,
    out_dir: str,
    bounds: tuple[list[float], list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dims: int = 4,
    buckets: int = 4,
    tau: float = 0.30,
    max_cell: int = 64,
):
    """Streaming incremental SEMANTIC near-dup detection via
    ``foreachBatch`` — the grid twin of :func:`incremental_neardup_stream`,
    with one crucial upgrade: the blocking is DETERMINISTIC (fixed grid
    ``bounds``, fit once on a reference corpus via
    ``operators/similarity.fit_grid_bounds`` — the same fit-on-reference
    discipline as ``fit_value_histogram``), and the score is the EXACT
    cosine, so the streamed pair set is byte-identical to the batch
    operator's, not a candidate superset needing downstream verification.

    Every micro-batch: (a) assigns grid cells under the fixed bounds,
    (b) emits cosine>=tau pairs within the batch AND against the persisted
    vector store (asymmetric cell join — history never self-joins),
    (c) writes its own (id, cell, e) rows to the store. ``max_cell`` caps
    the CUMULATIVE (store + batch) cell size exactly like the LSH sink's
    bucket cap; pairs carry their emitting cell, so
    :func:`semantic_pairs_view` recovers exact batch-cap equivalence at
    read time by dropping pairs whose cell has since gone hot.

    State is (id, cell, e array<double>) — d doubles per vector,
    bucketable by cell at scale so each batch's join shuffles only the
    batch side; store SQ8 codes instead of e (ScalarQuantizer) when the
    store's footprint matters more than exact-cosine streaming scores.

    Each batch is the same single store step as the LSH sink's
    (:func:`_bucket_pair_step`), keyed by cell and carrying ``e`` through
    the pair join so the cosine is scored on the pair rows."""
    check_range("max_cell", max_cell, 1)
    from dampr_spark.operators.similarity import grid_cells
    from dampr_spark.functions.vector import cosine

    def scored(pairs: DataFrame) -> DataFrame:
        return pairs.select(
            "id_a", "id_b", F.round(cosine("e_a", "e_b"), 6).alias("cos_sim"), "cell"
        ).filter(F.col("cos_sim") >= tau)

    def handle(batch_df: DataFrame, batch: _Batch) -> None:
        new = grid_cells(batch_df, vec_col, id_col, dims, buckets, bounds)
        _bucket_pair_step(
            new, batch, store_dir, out_dir, _SEMANTIC_STORE, ["cell"], max_cell, scored
        )

    return _start_batches(vec_stream, handle, out_dir)


def semantic_pairs_view(
    spark: SparkSession,
    out_dir: str,
    store_dir: str,
    max_cell: int = 64,
) -> DataFrame:
    """Batch-equivalent read view over :func:`semantic_neardup_stream`'s
    append-only pair sink: keeps a pair iff its emitting cell is still
    under ``max_cell`` in the full vector store — read-time retraction for
    cells that went hot after emitting, the same rule as
    :func:`neardup_pairs_view`. Under an active cap this EQUALS
    ``semantic_grid_pairs(corpus, bounds=..., max_cell=...)`` over the
    ingested corpus (pinned by the equivalence test); scores need no
    re-verification because they are exact cosines already."""
    check_range("max_cell", max_cell, 1)
    return _capped_pairs_view(
        spark, out_dir, store_dir, ["cell"], max_cell, ["id_a", "id_b", "cos_sim"]
    )
