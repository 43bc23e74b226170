"""Structured Streaming surface: replay the events table with availableNow
and assert equivalence with the batch catalog queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dampr_spark import streaming
from dampr_spark.plans import all_queries


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir, tmp_path_factory):
    # The file streaming source requires a *directory* to watch.
    import shutil

    d = tmp_path_factory.mktemp("events_stream_in")
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    return streaming.read_events_stream(spark, str(d))


def test_hourly_aggregate_matches_batch(spark, sf_dir, events_stream):
    stream_res = streaming.run_to_memory(
        streaming.hourly_aggregate(events_stream), "hourly_test"
    )
    batch_res = all_queries()["events_hourly"].builder(spark, sf_dir)
    s = {
        (r.hour, r.event_type): (r.n_events, r.total_value)
        for r in stream_res.collect()
    }
    b = {
        (r.hour, r.event_type): (r.n_events, r.total_value)
        for r in batch_res.collect()
    }
    assert s == b


def test_hopping_aggregate_matches_batch(spark, sf_dir, events_stream):
    stream_res = streaming.run_to_memory(
        streaming.hopping_aggregate(events_stream), "hopping_test"
    )
    batch_res = all_queries()["hopping_event_counts"].builder(spark, sf_dir)
    s = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in stream_res.collect()
    }
    b = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in batch_res.collect()
    }
    assert s == b


def test_session_counts_matches_batch(spark, sf_dir, events_stream):
    stream_res = streaming.run_to_memory(
        streaming.session_counts(events_stream), "sessions_test"
    )
    per_user = (
        stream_res.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
        .collect()
    )
    s = {r.user_id: (r.n_sessions, r.n_events) for r in per_user}
    batch = all_queries()["sessionization"].builder(spark, sf_dir).collect()
    b = {r.user_id: (r.n_sessions, r.n_events) for r in batch}
    assert s == b


def test_streaming_dedup(spark, sf_dir, tmp_path_factory):
    # Land the same file twice -> every event_id duplicated across batches;
    # dedup keeps exactly one copy.
    import shutil

    d = tmp_path_factory.mktemp("stream_in")
    src = f"{sf_dir}/events.parquet"
    shutil.copy(src, d / "batch1.parquet")
    shutil.copy(src, d / "batch2.parquet")
    stream = streaming.read_events_stream(spark, str(d))
    deduped = streaming.streaming_dedup(stream, ["event_id"], watermark="10 hours")
    res = streaming.run_to_memory(
        deduped.select("event_id"), "dedup_test", mode="append"
    )
    n_unique = res.select("event_id").distinct().count()
    n_total = res.count()
    batch_n = spark.read.parquet(src).count()
    assert n_total == n_unique == batch_n


def test_running_user_totals_matches_batch(spark, sf_dir, events_stream):
    """applyInPandasWithState running totals: after replaying the whole
    table, each user's latest emitted row must equal the batch aggregate."""
    stream_res = streaming.run_to_memory(
        streaming.running_user_totals(events_stream), "running_totals_test",
        mode="update",
    ).toPandas()
    # update mode emits one row per user per micro-batch; the final state is
    # the row with the largest n_events per user.
    final = stream_res.sort_values("n_events").groupby("user_id").last()

    from dampr_spark.sources.readers import read_table

    batch = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .toPandas()
        .set_index("user_id")
    )
    assert len(final) == len(batch)
    joined = final.join(batch, lsuffix="_s")
    assert (joined["n_events_s"] == joined["n_events"]).all()
    assert (abs(joined["total_value_s"] - joined["total_value"]) < 0.05).all()


def test_stream_click_attribution_matches_batch(spark, sf_dir, events_stream):
    stream_res = {
        (r.purchase_id, r.click_id)
        for r in streaming.run_to_memory(
            streaming.stream_click_attribution(events_stream),
            "attribution_test",
            mode="append",
        ).collect()
    }
    batch = {
        (r.purchase_id, r.click_id)
        for r in all_queries()["range_join_attribution"].builder(spark, sf_dir).collect()
    }
    assert stream_res == batch and batch


def test_running_totals_state_carries_across_microbatches(
    spark, sf_dir, tmp_path_factory
):
    """Split events over 3 files + maxFilesPerTrigger=1 -> 3 micro-batches;
    final per-user totals must still equal the batch aggregate, proving the
    group state actually carries between batches (a single-batch replay
    would pass trivially)."""
    from dampr_spark.sources.readers import read_table

    d = tmp_path_factory.mktemp("stream_multi_in")
    ev = read_table(spark, sf_dir, "events")
    # Deterministic 3-way split by event_id.
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"part{i}"))
    import glob
    import shutil

    for i, f in enumerate(sorted(glob.glob(str(d / "part*" / "*.parquet")))):
        shutil.copy(f, d / f"batch{i}.parquet")
        shutil.rmtree(d / f"part{i}")

    stream = streaming.read_events_stream(spark, str(d), max_files_per_trigger=1)
    res = streaming.run_to_memory(
        streaming.running_user_totals(stream), "running_multi_test", mode="update"
    ).toPandas()
    n_batches = res.groupby("user_id").size().max()
    assert n_batches >= 2, "expected multiple update rows per user (multi-batch)"
    final = res.sort_values("n_events").groupby("user_id").last()
    batch = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .toPandas()
        .set_index("user_id")
    )
    assert len(final) == len(batch)
    joined = final.join(batch, lsuffix="_s")
    assert (joined["n_events_s"] == joined["n_events"]).all()
    assert (abs(joined["total_value_s"] - joined["total_value"]) < 0.05).all()


def test_session_finalize_matches_batch(spark, sf_dir, events_stream):
    """EventTimeTimeout sessionizer: emitted sessions must exactly match the
    batch gap-sessionization, for every session the stream contract closes
    (all non-final sessions, plus final sessions whose idle horizon the
    closing watermark passed)."""
    from pyspark.sql.window import Window

    gap_min, wm_delay_min = 30, 1
    stream_rows = streaming.run_to_memory(
        streaming.session_finalize(
            events_stream, gap_minutes=gap_min, watermark=f"{wm_delay_min} minutes"
        ),
        "session_finalize_test",
        mode="append",
    ).collect()
    s = {
        (r.user_id, r.session_start, r.session_end): (
            r.n_events,
            r.total_value,
            r.first_type,
            r.last_type,
        )
        for r in stream_rows
    }

    from dampr_spark.sources.readers import read_table

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        (
            F.coalesce(
                (
                    F.col("ts").cast("timestamp").cast("long")
                    - F.lag("ts").over(w).cast("timestamp").cast("long")
                )
                > gap_min * 60,
                F.lit(True),
            )
        ).cast("int"),
    ).withColumn("session_id", F.sum("new_session").over(w))
    sessions = (
        flagged.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.min_by("event_type", F.struct("ts", "event_id")).alias("first_type"),
            F.max_by("event_type", F.struct("ts", "event_id")).alias("last_type"),
        )
        .collect()
    )
    max_ts = ev.agg(F.max("ts")).first()[0]
    import datetime

    final_wm = max_ts - datetime.timedelta(minutes=wm_delay_min)
    last_end = {}
    for r in sessions:
        if r.user_id not in last_end or r.session_end > last_end[r.user_id]:
            last_end[r.user_id] = r.session_end
    b = {}
    for r in sessions:
        is_last = r.session_end == last_end[r.user_id]
        closes = r.session_end + datetime.timedelta(minutes=gap_min) < final_wm
        if not is_last or closes:
            b[(r.user_id, r.session_start, r.session_end)] = (
                r.n_events,
                r.total_value,
                r.first_type,
                r.last_type,
            )
    assert s == b and b


def test_incremental_dedup_stream(spark, sf_dir, tmp_path_factory):
    """foreachBatch incremental dedup: documents land as 3 files processed
    one per micro-batch; later batches repeat earlier texts under new ids.
    Only first-seen texts may survive, across batch boundaries."""
    base_dir = tmp_path_factory.mktemp("docs_land")
    out_root = tmp_path_factory.mktemp("dedup_out")
    from dampr_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text").limit(90)
    rows = docs.collect()
    third = len(rows) // 3
    b1 = rows[:third]
    # batch 2: fresh docs + re-sends of half of batch 1 under new ids
    b2 = rows[third : 2 * third] + [
        (r.doc_id + 500000, r.text) for r in b1[: third // 2]
    ]
    # batch 3: re-sends of batch-2 fresh docs only
    b3 = [(r.doc_id + 900000, r.text) for r in rows[third : 2 * third]]
    schema = "doc_id long, text string"
    for i, batch in enumerate((b1, b2, b3)):
        spark.createDataFrame(
            [(int(r[0]), r[1]) for r in batch], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(base_dir / f"stage{i}"))
    import glob
    import shutil

    import os

    for i in range(3):
        f = glob.glob(str(base_dir / f"stage{i}" / "*.parquet"))[0]
        dst = base_dir / f"batch{i}.parquet"
        shutil.copy(f, dst)
        # The file source orders micro-batches by modification time; copies
        # can land in the same clock tick, so pin strictly increasing mtimes
        # or batch order (and thus "first seen") is nondeterministic.
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(base_dir / f"stage{i}")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(base_dir))
    )
    q = streaming.incremental_dedup_stream(
        stream, str(out_root / "history"), str(out_root / "kept")
    )
    q.awaitTermination()

    kept = spark.read.parquet(str(out_root / "kept")).collect()
    # every text exactly once, and always its first-seen (lowest-id) copy
    texts = [r.text for r in kept]
    assert len(texts) == len(set(texts)) == 2 * third
    first_seen = {r.text: r.doc_id for r in rows[: 2 * third]}
    for r in kept:
        assert r.doc_id == first_seen[r.text]


def test_read_events_stream_empty_directory(spark, tmp_path_factory):
    """Starting the stream BEFORE any file lands (the normal
    continuously-landing case) must not crash on schema inference."""
    d = tmp_path_factory.mktemp("empty_landing")
    stream = streaming.read_events_stream(spark, str(d))
    res = streaming.run_to_memory(
        stream.select("event_id"), "empty_dir_test", mode="append"
    )
    assert res.count() == 0


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_read_events_stream_empty_dir_then_late_file(
    spark, tmp_path_factory, unit
):
    """The empty-dir fallback schema is fixed at stream-definition time; a
    file of EITHER timestamp flavor landing afterwards must still read and
    convert to the same wall-clock instant (the fixture has shipped both
    TIMESTAMP(MICROS) and TIMESTAMP(NANOS) across rounds)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import datetime

    d = tmp_path_factory.mktemp(f"late_landing_{unit}")
    # Define the stream while the directory is empty -> fallback schema.
    stream = streaming.read_events_stream(spark, str(d))
    when = datetime.datetime(2026, 3, 1, 12, 30, 45)
    table = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([when], pa.timestamp(unit)),
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["click"]),
            "value": pa.array([1.5], pa.float64()),
            "props": pa.array(["{}"]),
        }
    )
    pq.write_table(table, str(d / "late.parquet"))
    res = streaming.run_to_memory(
        stream.select("event_id", "ts"), f"late_file_{unit}", mode="append"
    )
    rows = res.collect()
    assert len(rows) == 1
    assert rows[0].ts.replace(tzinfo=None) == when


def test_user_value_ewma_stream_matches_batch(spark, sf_dir, events_stream):
    """Single-batch replay of the whole table: the O(1)-state streaming fold
    must reproduce the batch array-fold catalog query exactly."""
    from dampr_spark.plans.catalog import get_query

    stream_res = streaming.run_to_memory(
        streaming.user_value_ewma_stream(events_stream),
        "ewma_stream_test",
        mode="update",
    ).toPandas()
    final = stream_res.sort_values("n_events").groupby("user_id").last()
    batch = (
        get_query("user_value_ewma").builder(spark, sf_dir).toPandas().set_index("user_id")
    )
    assert len(final) == len(batch)
    j = final.join(batch, lsuffix="_s")
    assert (j["n_events_s"] == j["n_events"]).all()
    assert (abs(j["ewma_s"] - j["ewma"]) < 1e-9).all()


def test_ewma_state_across_chronological_microbatches(spark, sf_dir, tmp_path_factory):
    """Chronological 3-way split + maxFilesPerTrigger=1: the EWMA state must
    carry the fold across micro-batches (order-sensitive, unlike the totals
    test — a fold restart or misordered batch changes the value)."""
    from dampr_spark.plans.catalog import get_query
    from dampr_spark.sources.readers import read_table

    d = tmp_path_factory.mktemp("ewma_multi_in")
    ev = read_table(spark, sf_dir, "events")
    all_ts = sorted(r.ts for r in ev.select("ts").collect())
    lo, hi = all_ts[len(all_ts) // 3], all_ts[2 * len(all_ts) // 3]
    parts = [
        ev.filter(F.col("ts") <= F.lit(lo)),
        ev.filter((F.col("ts") > F.lit(lo)) & (F.col("ts") <= F.lit(hi))),
        ev.filter(F.col("ts") > F.lit(hi)),
    ]
    import glob
    import shutil

    for i, p in enumerate(parts):
        p.coalesce(1).write.mode("overwrite").parquet(str(d / f"part{i}"))
        f = glob.glob(str(d / f"part{i}" / "*.parquet"))[0]
        shutil.copy(f, d / f"batch{i}.parquet")
        shutil.rmtree(d / f"part{i}")

    stream = streaming.read_events_stream(spark, str(d), max_files_per_trigger=1)
    res = streaming.run_to_memory(
        streaming.user_value_ewma_stream(stream), "ewma_multi_test", mode="update"
    ).toPandas()
    final = res.sort_values("n_events").groupby("user_id").last()
    batch = (
        get_query("user_value_ewma").builder(spark, sf_dir).toPandas().set_index("user_id")
    )
    j = final.join(batch, lsuffix="_s")
    assert (j["n_events_s"] == j["n_events"]).all()
    assert (abs(j["ewma_s"] - j["ewma"]) < 1e-9).all()


def test_enrich_with_dim_matches_batch(spark, sf_dir, events_stream):
    """Stream-static join: per-tier event counts after enriching the stream
    with a static user->tier dim must equal the batch join."""
    from dampr_spark.sources.readers import read_table

    ev = read_table(spark, sf_dir, "events")
    dim = ev.select("user_id").distinct().select(
        "user_id", (F.col("user_id") % 3).alias("tier")
    )
    enriched = streaming.enrich_with_dim(events_stream, dim)
    res = streaming.run_to_memory(
        enriched.groupBy("tier").count(), "enrich_dim_test", mode="complete"
    ).toPandas().set_index("tier")
    batch = (
        ev.join(dim, "user_id", "left").groupBy("tier").count().toPandas().set_index("tier")
    )
    assert res["count"].to_dict() == batch["count"].to_dict()


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path_factory):
    """Redelivered events (the same file landed twice) dedup to the batch
    distinct count under dropDuplicatesWithinWatermark."""
    import shutil

    from dampr_spark.sources.readers import read_table

    d = tmp_path_factory.mktemp("dedup_wm_in")
    shutil.copy(f"{sf_dir}/events.parquet", d / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", d / "b.parquet")
    stream = streaming.read_events_stream(spark, str(d))
    res = streaming.run_to_memory(
        streaming.streaming_dedup_within_watermark(stream, ["event_id"]),
        "dedup_wm_test",
        mode="append",
    )
    n_distinct = read_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert res.count() == n_distinct


def test_incremental_neardup_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """Two-micro-batch replay of the documents table: the UNION of emitted
    candidate pairs (within-batch + vs-store) must equal the full-corpus
    banded candidate set — the signature store really carries LSH state
    across batches."""
    import glob
    import shutil

    from dampr_spark.operators.dedup import minhash_lsh_candidates
    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("neardup_stream")
    in_dir, store, out = (str(base / d) for d in ("in", "store", "out"))
    docs = read_table(spark, sf_dir, "documents")
    import os

    os.makedirs(in_dir)
    for i, part in enumerate(
        [docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1)]
    ):
        part.coalesce(1).write.parquet(str(base / f"p{i}"))
        shutil.copy(glob.glob(str(base / f"p{i}" / "*.parquet"))[0], f"{in_dir}/b{i}.parquet")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = streaming.incremental_neardup_stream(
        stream, store, out, max_bucket=10**9
    )
    q.awaitTermination()

    got = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(out).distinct().collect()
    }
    want = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(docs, max_bucket=10**9).collect()
    }
    assert got == want and want, f"missing={want - got} extra={got - want}"


def test_incremental_neardup_stream_cap_superset_of_batch(
    spark, sf_dir, tmp_path_factory
):
    """With an ACTIVE max_bucket cap: the RAW sink must be a superset of
    the batch operator's capped candidate set (batch pairs all live in
    under-cap buckets, which are under-cap at every prefix) and a subset
    of the uncapped full set; and the `neardup_pairs_view` read view —
    which drops pairs whose every emitting bucket has since gone hot —
    must EQUAL the batch capped set exactly (VERDICT r6 #6: equivalence,
    not superset)."""
    import glob
    import os
    import shutil

    from dampr_spark.operators.dedup import minhash_lsh_candidates
    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("neardup_stream_cap")
    in_dir, store, out = (str(base / d) for d in ("in", "store", "out"))
    docs = read_table(spark, sf_dir, "documents")
    os.makedirs(in_dir)
    for i, part in enumerate(
        [docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1)]
    ):
        part.coalesce(1).write.parquet(str(base / f"p{i}"))
        shutil.copy(
            glob.glob(str(base / f"p{i}" / "*.parquet"))[0], f"{in_dir}/b{i}.parquet"
        )

    cap = 3  # small enough that real buckets exceed it on the fixture
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = streaming.incremental_neardup_stream(stream, store, out, max_bucket=cap)
    q.awaitTermination()

    got = {(r.id_a, r.id_b) for r in spark.read.parquet(out).distinct().collect()}
    batch_capped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(docs, max_bucket=cap).collect()
    }
    uncapped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(docs, max_bucket=10**9).collect()
    }
    assert uncapped - batch_capped, "cap must actually bind on this fixture"
    assert batch_capped <= got, f"under-emitted: {batch_capped - got}"
    assert got <= uncapped, f"invented pairs: {got - uncapped}"

    view = {
        (r.id_a, r.id_b)
        for r in streaming.neardup_pairs_view(
            spark, out, store, max_bucket=cap
        ).collect()
    }
    assert view == batch_capped, (
        f"view!=batch: extra={view - batch_capped} missing={batch_capped - view}"
    )

    # At-least-once retry simulation: duplicate every signature row in the
    # store. Bucket sizes are countDistinct(id), so the view must not
    # retract pairs from buckets the batch operator keeps.
    spark.read.parquet(store).write.mode("append").parquet(store)
    view2 = {
        (r.id_a, r.id_b)
        for r in streaming.neardup_pairs_view(
            spark, out, store, max_bucket=cap
        ).collect()
    }
    assert view2 == batch_capped, (
        f"retry broke the cap: extra={view2 - batch_capped} "
        f"missing={batch_capped - view2}"
    )


def _write_doc_batches(in_dir: str, batches) -> None:
    """One parquet file per micro-batch of ``(doc_id, text)`` rows, named so
    the file source reads them in order."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(in_dir, exist_ok=True)
    for i, rows in enumerate(batches):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                }
            ),
            f"{in_dir}/b{i:03d}.parquet",
        )


def _replay(spark, stream_fn, in_dir: str, store: str, out: str, **kw):
    """Run the store-backed ``stream_fn`` (e.g.
    ``streaming.incremental_neardup_stream``) over every file now in
    ``in_dir`` (one file a trigger) to completion; returns the finished
    query."""
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = stream_fn(stream, store, out, **kw)
    q.awaitTermination()
    return q


def _words_doc(seed: int, n: int = 40) -> str:
    import random

    rng = random.Random(seed)
    return " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))
        for _ in range(n)
    )


def test_incremental_neardup_stream_jobs_per_batch(spark, sf_dir, tmp_path_factory):
    """Each micro-batch after the first is one store step: pin the batch's
    signatures, one pair plan over a single shuffle (with its broadcast),
    and the two appends — 5 Spark jobs. Jobs are keyed by batch the way
    Spark labels them: the query's run id is their job group and
    ``batch = N`` is in each description."""
    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("neardup_jobs")
    in_dir, store, out = (str(base / d) for d in ("in", "store", "out"))
    rows = [
        (r.doc_id, r.text)
        for r in read_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    ]
    _write_doc_batches(in_dir, [rows[i::3] for i in range(3)])
    q = _replay(spark, streaming.incremental_neardup_stream, in_dir, store, out, max_bucket=3)
    by_batch = _jobs_by_batch(spark, q)
    assert sorted(by_batch) == [0, 1, 2], by_batch
    assert all(by_batch[b] <= 5 for b in (1, 2)), by_batch


def _jobs_by_batch(spark, q) -> dict[int, int]:
    """Spark jobs a finished streaming query ran, per micro-batch: the
    query's run id is their job group and ``batch = N`` is in each
    description."""
    import re

    sc = spark.sparkContext
    status = sc._jsc.sc().statusStore()
    by_batch: dict[int, int] = {}
    for j in sc.statusTracker().getJobIdsForGroup(str(q.runId)):
        desc = status.job(j).description()
        m = re.search(r"batch = (\d+)", desc.get()) if desc.isDefined() else None
        if m:
            by_batch[int(m.group(1))] = by_batch.get(int(m.group(1)), 0) + 1
    return by_batch


def test_incremental_neardup_stream_bucket_crosses_cap_in_batch(
    spark, tmp_path_factory
):
    """A bucket that is under ``max_bucket`` in the store but over it once
    the current batch is counted: that batch emits no pair from it, and
    ``neardup_pairs_view`` retracts the pair it emitted while under the cap,
    so the view equals the batch operator's capped set."""
    from dampr_spark.operators.dedup import minhash_lsh_candidates

    base = tmp_path_factory.mktemp("neardup_cross_cap")
    in_dir, store, out = (str(base / d) for d in ("in", "store", "out"))
    cap = 3
    family = _words_doc(1)  # identical texts share all 16 band buckets
    twin = _words_doc(2)
    b0 = [(1, family), (2, family)] + [(10 + i, _words_doc(10 + i)) for i in range(4)]
    b1 = [(3, family), (4, family), (20, twin), (21, twin)]
    b1 += [(30 + i, _words_doc(30 + i)) for i in range(4)]

    def family_rows() -> int:
        return (
            spark.read.parquet(out)
            .filter(F.col("id_a").isin(1, 2, 3, 4) | F.col("id_b").isin(1, 2, 3, 4))
            .count()
        )

    # Batch 0 alone: the family bucket holds 2 <= cap ids and pairs.
    _write_doc_batches(in_dir, [b0])
    _replay(spark, streaming.incremental_neardup_stream, in_dir, store, out, max_bucket=cap)
    assert family_rows() == 16  # (1, 2) from each of the 16 shared bands
    # Batch 1 takes the family to 4 > cap ids: no family pair is emitted.
    _write_doc_batches(in_dir, [b0, b1])
    _replay(spark, streaming.incremental_neardup_stream, in_dir, store, out, max_bucket=cap)
    assert family_rows() == 16
    got = {(r.id_a, r.id_b) for r in spark.read.parquet(out).collect()}
    assert (20, 21) in got and (3, 4) not in got

    docs = spark.createDataFrame(b0 + b1, "doc_id long, text string")
    want = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(docs, max_bucket=cap).collect()
    }
    view = {
        (r.id_a, r.id_b)
        for r in streaming.neardup_pairs_view(spark, out, store, max_bucket=cap).collect()
    }
    assert (20, 21) in want and (1, 2) not in want
    assert view == want, f"extra={view - want} missing={want - view}"


def test_incremental_neardup_stream_redelivered_batch(spark, tmp_path_factory):
    """An at-least-once retry re-delivers rows whose signatures are already
    in the store, here alongside new documents: no (X, X) self-pair may
    come out, and bucket sizes count distinct ids, so the re-delivered
    rows do not push a bucket of ``cap`` documents over the cap in the
    batch where its pairs are first emitted."""
    from dampr_spark.operators.dedup import minhash_lsh_candidates

    base = tmp_path_factory.mktemp("neardup_redelivered")
    in_dir, store, out = (str(base / d) for d in ("in", "store", "out"))
    cap = 3
    family = _words_doc(3)
    b0 = [(1, family)] + [(10 + i, _words_doc(40 + i)) for i in range(4)]
    b1 = b0 + [(2, family), (3, family)]
    _write_doc_batches(in_dir, [b0, b1])
    _replay(spark, streaming.incremental_neardup_stream, in_dir, store, out, max_bucket=cap)

    pairs = spark.read.parquet(out)
    assert pairs.filter(F.col("id_a") == F.col("id_b")).count() == 0
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    want = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(
            spark.createDataFrame(b1, "doc_id long, text string"), max_bucket=cap
        ).collect()
    }
    assert {(1, 2), (1, 3), (2, 3)} <= want
    assert got == want, f"extra={got - want} missing={want - got}"
    view = {
        (r.id_a, r.id_b)
        for r in streaming.neardup_pairs_view(spark, out, store, max_bucket=cap).collect()
    }
    assert view == want


def test_incremental_novelty_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """Replay the documents table in two doc_id-ORDERED micro-batches: the
    union of per-doc novelty rows must equal the batch `ngram_novelty`
    catalog query row-for-row — the gram store really carries
    first-appearance state across batches."""
    import glob
    import os
    import shutil

    from dampr_spark.plans import all_queries
    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("novelty_stream")
    in_dir, store, out = (str(base / d) for d in ("in", "store", "out"))
    docs = read_table(spark, sf_dir, "documents")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    os.makedirs(in_dir)
    # id-ordered batches: batch 0 strictly below batch 1 (the equivalence
    # precondition the docstring states)
    for i, part in enumerate(
        [docs.filter(F.col("doc_id") <= mid), docs.filter(F.col("doc_id") > mid)]
    ):
        part.coalesce(1).write.parquet(str(base / f"p{i}"))
        shutil.copy(
            glob.glob(str(base / f"p{i}" / "*.parquet"))[0], f"{in_dir}/b{i}.parquet"
        )

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = streaming.incremental_novelty_stream(stream, store, out)
    q.awaitTermination()

    got = {
        (r.doc_id, r.n_grams, r.n_novel, r.novelty)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.doc_id, r.n_grams, r.n_novel, r.novelty)
        for r in all_queries()["ngram_novelty"].builder(spark, sf_dir).collect()
    }
    assert got == want and want, f"missing={list(want - got)[:3]} extra={list(got - want)[:3]}"


def test_value_drift_stream_matches_batch_psi(spark, sf_dir, tmp_path_factory):
    """Single availableNow replay of the odd-event_id half against a
    reference fit on the full value range with even-id counts: the
    streamed PSI must equal the batch `value_drift_psi` catalog query's
    value to the digit (same buckets, smoothing, rounding)."""
    from dampr_spark.plans import all_queries
    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("psi_stream")
    ev = read_table(spark, sf_dir, "events")
    # bounds over ALL non-null values (the batch query's combined min/max),
    # reference counts over the even-id half
    v = ev.filter(F.col("value").isNotNull())
    lo, hi = v.agg(F.min("value"), F.max("value")).first()
    _, _, ref_counts = streaming.fit_value_histogram(
        v.filter(F.col("event_id") % 2 == 0)
    )
    # fit_value_histogram derives lo/hi from ITS input; rebucket the
    # reference on the combined bounds instead
    from dampr_spark.streaming.pipeline import _bucket_counts

    ref_counts = _bucket_counts(
        v.filter(F.col("event_id") % 2 == 0).select(F.col("value").alias("v")),
        float(lo), float(hi), 10,
    )

    cur = v.filter(F.col("event_id") % 2 == 1)
    in_dir = str(base / "in")
    cur.coalesce(1).write.parquet(in_dir)
    stream = spark.readStream.schema(cur.schema).parquet(in_dir)
    out = str(base / "out")
    q = streaming.value_drift_stream(stream, ref_counts, float(lo), float(hi), out)
    q.awaitTermination()

    got = spark.read.parquet(out).collect()
    assert len(got) == 1
    want = (
        all_queries()["value_drift_psi"].builder(spark, sf_dir).first()
    )
    assert got[0].psi == want.psi and got[0].n_events == want.n_cur


def test_bucket_counts_clamps_downward_drift(spark):
    """Values below the fitted reference lo must clamp into bucket 0, not
    vanish into negative bucket ids: downward drift is exactly the signal
    the PSI monitor exists to catch, and every input row must be counted."""
    from dampr_spark.streaming.pipeline import _bucket_counts

    v = spark.createDataFrame(
        [(x,) for x in [-50.0, -1.0, 0.0, 5.0, 9.9, 25.0]], "v double"
    )
    counts = _bucket_counts(v, lo=0.0, hi=10.0, buckets=10)
    assert sum(counts) == 6  # nothing silently dropped
    assert counts[0] == 3  # -50, -1, 0 all clamp into the lowest bucket
    assert counts[9] == 2  # 9.9 in-range + 25 clamped high


def test_fit_value_histogram_empty_input_raises(spark):
    empty = spark.createDataFrame([(None,), (None,)], "value double")
    with pytest.raises(ValueError, match="no non-null values"):
        streaming.fit_value_histogram(empty)


def test_incremental_substring_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """Two-micro-batch replay of the documents table: the union of emitted
    spans must EQUAL the full-corpus batch operator's spans (hash_anchors
    path) — every doc pair's diagonal structure is final in the batch
    where its later member arrives."""
    import glob
    import os
    import shutil

    from dampr_spark.operators.dedup import repeated_substring_spans
    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("substr_stream")
    in_dir, store, out = (str(base / d) for d in ("in", "store", "out"))
    docs = read_table(spark, sf_dir, "documents")
    os.makedirs(in_dir)
    for i, part in enumerate(
        [docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1)]
    ):
        part.coalesce(1).write.parquet(str(base / f"p{i}"))
        shutil.copy(
            glob.glob(str(base / f"p{i}" / "*.parquet"))[0], f"{in_dir}/b{i}.parquet"
        )

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = streaming.incremental_substring_stream(
        stream, store, out, min_len=20, max_posting=10**9
    )
    q.awaitTermination()

    got = {tuple(r) for r in spark.read.parquet(out).distinct().collect()}
    want = {
        tuple(r)
        for r in repeated_substring_spans(
            docs, min_len=20, max_posting=10**9, hash_anchors=True
        ).collect()
    }
    assert got == want and want, f"missing={want - got} extra={got - want}"


def test_incremental_substring_stream_cap_coverage_superset(
    spark, tmp_path_factory
):
    """With an ACTIVE posting cap and a gram that goes hot only after the
    first batch: stream spans computed while the gram was cold survive in
    the append-only sink, so per-doc-pair stream coverage must contain the
    batch operator's capped coverage (batch splits runs at finally-hot
    anchors), and with the cap disabled the two agree exactly."""
    import glob
    import os
    import shutil

    from dampr_spark.operators.dedup import repeated_substring_spans

    def w(p, n):
        return " ".join(f"{p}{i}" for i in range(n))

    shared = w("hot", 24)
    b0 = [(1, w("a", 3) + " " + shared), (2, w("b", 3) + " " + shared)]
    b1 = [(3 + i, w(f"c{i}_", 3) + " " + shared) for i in range(6)]
    base = tmp_path_factory.mktemp("substr_cap")
    in_dir, store, out = (str(base / d) for d in ("in", "store", "out"))
    os.makedirs(in_dir)
    schema = "doc_id long, text string"
    for i, rows in enumerate([b0, b1]):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(base / f"p{i}")
        )
        shutil.copy(
            glob.glob(str(base / f"p{i}" / "*.parquet"))[0], f"{in_dir}/b{i}.parquet"
        )
    docs = spark.createDataFrame(b0 + b1, schema)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = streaming.incremental_substring_stream(
        stream, store, out, min_len=8, max_posting=4
    )
    q.awaitTermination()
    got = [tuple(r) for r in spark.read.parquet(out).distinct().collect()]
    batch_capped = [
        tuple(r)
        for r in repeated_substring_spans(
            docs, min_len=8, max_posting=4, hash_anchors=True
        ).collect()
    ]

    def coverage(spans):
        cov = {}
        for id_a, s_a, id_b, s_b, L in spans:
            cov.setdefault((id_a, id_b), set()).update(range(s_a, s_a + L))
        return cov

    gc, bc = coverage(got), coverage(batch_capped)
    for pair, tokens in bc.items():
        assert tokens <= gc.get(pair, set()), f"stream lost coverage for {pair}"
    # batch-1 pair (1,2) was computed while the gram was cold: full run
    assert (1, 2) in gc and len(gc[(1, 2)]) == 24


def test_cms_stream_equals_batch_sketch(spark, sf_dir, tmp_path_factory):
    """Two-micro-batch CMS: the cell-summed streamed sketch must equal the
    whole-corpus batch sketch EXACTLY (merge is addition — no caps, no
    retraction), and so must every estimate derived from it."""
    import glob
    import os
    import shutil

    from dampr_spark.operators.dedup import positional_windows
    from dampr_spark.operators.sketches import cms_build, cms_estimate
    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("cms_stream")
    in_dir, out = str(base / "in"), str(base / "out")
    docs = read_table(spark, sf_dir, "documents")
    os.makedirs(in_dir)
    for i, part in enumerate(
        [docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1)]
    ):
        part.coalesce(1).write.parquet(str(base / f"p{i}"))
        shutil.copy(
            glob.glob(str(base / f"p{i}" / "*.parquet"))[0], f"{in_dir}/b{i}.parquet"
        )

    def items(df):
        return (
            df.filter(F.col("text").isNotNull())
            .select(F.explode(positional_windows("text", 3)).alias("w"))
            .select(F.col("w.gram").alias("g"))
        )

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = streaming.cms_stream(stream, out, items, depth=4, width=128)
    q.awaitTermination()

    got = {
        (r.row, r.bucket): r.cnt for r in streaming.cms_view(spark, out).collect()
    }
    want = {
        (r.row, r.bucket): r.cnt
        for r in cms_build(items(docs), "g", depth=4, width=128).collect()
    }
    assert got == want and want

    probe = items(docs).distinct().limit(50)
    est_stream = {
        r.g: r.est
        for r in cms_estimate(
            streaming.cms_view(spark, out), probe, "g", 4, 128
        ).collect()
    }
    est_batch = {
        r.g: r.est
        for r in cms_estimate(
            cms_build(items(docs), "g", 4, 128), probe, "g", 4, 128
        ).collect()
    }
    assert est_stream == est_batch


def test_incremental_substring_stream_redelivery_no_self_spans(
    spark, tmp_path_factory
):
    """At-least-once: re-processing the same input against an already-
    populated anchor store (fresh checkpoint = every batch re-delivered)
    must not fabricate (X, X) self-spans — and distinct-on-read still
    equals the batch operator. The retry emits nothing new on read: its
    whole-doc re-delivery re-emits the first run's span. This test alone
    cannot see repeated anchor pairs (they split the retry's run into
    fragments under ``min_len``, so the first run's span still stands);
    the redelivered-doc test below can. The rerun's query has a new id,
    so the first query's store and sink files survive it."""
    import glob
    import os
    import shutil

    from dampr_spark.operators.dedup import repeated_substring_spans

    def w(p, n):
        return " ".join(f"{p}{i}" for i in range(n))

    shared = w("s", 25)
    rows = [(1, w("a", 4) + " " + shared), (2, w("b", 4) + " " + shared)]
    base = tmp_path_factory.mktemp("substr_retry")
    in_dir, store, out = (str(base / d) for d in ("in", "store", "out"))
    os.makedirs(in_dir)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.coalesce(1).write.parquet(str(base / "p0"))
    shutil.copy(glob.glob(str(base / "p0" / "*.parquet"))[0], f"{in_dir}/b0.parquet")

    # two full stream runs; wiping the checkpoint between them re-delivers
    # batch 0 against the already-populated anchor store (the retry case)
    counts = []
    for _ in range(2):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = streaming.incremental_substring_stream(
            stream, store, out, min_len=20, max_posting=10**9
        )
        q.awaitTermination()
        shutil.rmtree(out + "_checkpoint", ignore_errors=True)
        counts.append((spark.read.parquet(store).count(), spark.read.parquet(out).count()))

    (store_rows, out_rows), (store_after, out_after) = counts
    assert store_rows > 0 and out_rows > 0
    assert (store_after, out_after) == (2 * store_rows, 2 * out_rows)
    got = spark.read.parquet(out).distinct()
    assert got.filter(F.col("id_a") == F.col("id_b")).count() == 0
    want = {
        tuple(r)
        for r in repeated_substring_spans(
            docs, min_len=20, max_posting=10**9, hash_anchors=True
        ).collect()
    }
    assert {tuple(r) for r in got.collect()} == want


def test_incremental_substring_stream_redelivered_doc_keeps_span(
    spark, tmp_path_factory
):
    """Batch 0 = {B}, batch 1 = {A, B again}: every (A, B) anchor pair
    meets B's store copy and its batch copy. The pairs must be counted
    once, or the repeated pairs break the run detection on their diagonal
    and the 25-token span comes out as fragments under ``min_len``."""
    from dampr_spark.operators.dedup import repeated_substring_spans

    def w(p, n):
        return " ".join(f"{p}{i}" for i in range(n))

    shared = w("s", 25)
    a, b = (1, w("a", 4) + " " + shared), (2, w("b", 4) + " " + shared)
    base = tmp_path_factory.mktemp("substr_redelivered_doc")
    in_dir, store, out = (str(base / d) for d in ("in", "store", "out"))
    _write_doc_batches(in_dir, [[b], [a, b]])
    _replay(spark, streaming.incremental_substring_stream, in_dir, store, out, min_len=20)

    got = {tuple(r) for r in spark.read.parquet(out).distinct().collect()}
    want = {
        tuple(r)
        for r in repeated_substring_spans(
            spark.createDataFrame([a, b], "doc_id long, text string"),
            min_len=20,
            hash_anchors=True,
        ).collect()
    }
    assert want == {(1, 5, 2, 5, 25)}
    assert got == want, f"missing={want - got} extra={got - want}"


def test_incremental_substring_stream_jobs_per_batch(spark, sf_dir, tmp_path_factory):
    """Each substring micro-batch after the first is the shared store step
    (see the near-dup jobs test) plus the run extension of its spans: at
    most 8 Spark jobs."""
    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("substr_jobs")
    in_dir, store, out = (str(base / d) for d in ("in", "store", "out"))
    rows = [
        (r.doc_id, r.text)
        for r in read_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    ]
    _write_doc_batches(in_dir, [rows[i::3] for i in range(3)])
    q = _replay(spark, streaming.incremental_substring_stream, in_dir, store, out, min_len=20)
    by_batch = _jobs_by_batch(spark, q)
    assert sorted(by_batch) == [0, 1, 2], by_batch
    assert all(by_batch[b] <= 8 for b in (1, 2)), by_batch


@pytest.mark.parametrize("cap", [0, -5])
@pytest.mark.parametrize(
    "fn, knob",
    [
        ("incremental_neardup_stream", "max_bucket"),
        ("semantic_neardup_stream", "max_cell"),
        ("incremental_substring_stream", "max_posting"),
        ("neardup_pairs_view", "max_bucket"),
        ("semantic_pairs_view", "max_cell"),
    ],
)
def test_bucket_stream_cap_below_one_raises_at_call(
    spark, tmp_path_factory, fn, knob, cap
):
    """A bucket cap below 1 would keep no bucket and emit no pair in any
    batch, and a read view given one would return no pair; it is refused
    when the stream or view is called, before any query starts."""
    import os

    base = tmp_path_factory.mktemp("bad_cap")
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(base))
    if fn.endswith("_view"):
        args = (spark, str(base / "out"), str(base / "store"))
    else:
        args = (stream, str(base / "store"), str(base / "out"))
    extra = {"bounds": ([0.0] * 4, [1.0] * 4)} if fn == "semantic_neardup_stream" else {}
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match=knob):
        getattr(streaming, fn)(*args, **extra, **{knob: cap})
    assert len(spark.streams.active) == active
    assert not os.path.exists(base / "out_checkpoint")


def test_dsir_score_stream_equals_batch(spark, sf_dir, tmp_path_factory):
    """Streamed DSIR scores against a fixed ratio table must equal the
    batch operator's scores doc-for-doc (stateless broadcast scoring)."""
    import glob
    import os
    import shutil

    from dampr_spark.operators.selection import dsir_log_ratios, dsir_score
    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("dsir_stream")
    in_dir, out = str(base / "in"), str(base / "out")
    docs = read_table(spark, sf_dir, "documents")
    ratios = dsir_log_ratios(
        docs, docs.filter(F.col("lang") == "en")
    ).localCheckpoint(eager=True)

    os.makedirs(in_dir)
    for i, part in enumerate(
        [docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1)]
    ):
        part.coalesce(1).write.parquet(str(base / f"p{i}"))
        shutil.copy(
            glob.glob(str(base / f"p{i}" / "*.parquet"))[0], f"{in_dir}/b{i}.parquet"
        )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = streaming.dsir_score_stream(stream, ratios, out)
    q.awaitTermination()

    got = {
        r.doc_id: (r.n_feats, r.log_weight)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.doc_id: (r.n_feats, r.log_weight)
        for r in dsir_score(docs, ratios).collect()
    }
    assert got == want and want


def test_scd2_state_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """Replay the events table in three ts-ORDERED micro-batches: the
    union of closed intervals and the final open store must equal the
    batch `user_state_history` catalog query row-for-row — open intervals
    really extend across batch boundaries, and closes fire exactly once
    with the successor's valid_from."""
    import glob
    import os
    import shutil

    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("scd2_stream")
    in_dir, open_dir, out = (str(base / d) for d in ("in", "open", "out"))
    ev = read_table(spark, sf_dir, "events")
    q1, q2 = ev.approxQuantile("event_id", [0.33, 0.66], 0.0)
    os.makedirs(in_dir)
    # event_id order IS ts order in the fixture (ids assigned by time);
    # assert that precondition rather than assuming it.
    mono = ev.orderBy("event_id").select(
        (F.lag("ts").over(__import__("pyspark").sql.window.Window.orderBy("event_id"))
         <= F.col("ts")).alias("ok")
    )
    assert mono.filter(~F.col("ok")).count() == 0
    parts = [
        ev.filter(F.col("event_id") <= q1),
        ev.filter((F.col("event_id") > q1) & (F.col("event_id") <= q2)),
        ev.filter(F.col("event_id") > q2),
    ]
    for i, part in enumerate(parts):
        part.coalesce(1).write.parquet(str(base / f"p{i}"))
        shutil.copy(
            glob.glob(str(base / f"p{i}" / "*.parquet"))[0], f"{in_dir}/b{i}.parquet"
        )

    stream = streaming.read_events_stream(spark, in_dir, max_files_per_trigger=1)
    q = streaming.scd2_state_stream(stream, open_dir, out)
    q.awaitTermination()

    closed = spark.read.parquet(out)
    open_ = streaming.scd2_open_view(spark, open_dir).select(
        "user_id", "state", "valid_from", F.lit(None).cast("timestamp").alias("valid_to"), "n_events"
    )
    got = {
        (r.user_id, r.state, r.valid_from, r.valid_to, r.n_events)
        for r in closed.unionByName(open_).collect()
    }
    want = {
        (r.user_id, r.state, r.valid_from, r.valid_to, r.n_events)
        for r in all_queries()["user_state_history"].builder(spark, sf_dir).collect()
    }
    assert got == want and want, (
        f"missing={sorted(want - got)[:3]} extra={sorted(got - want)[:3]}"
    )
    # Every user has exactly one open interval.
    n_users = ev.select("user_id").distinct().count()
    assert open_.count() == n_users

    # Retry idempotence: replay the LAST batch with its original batch_id
    # (exactly what a foreachBatch retry does after a pre-commit crash).
    # The open store version must be byte-identical and the closed sink
    # must hold the same rows: the replay replaces batch 2's closed rows.
    from dampr_spark.streaming.pipeline import _Batch, _query_id, _scd2_apply_batch

    batch2 = spark.read.parquet(f"{in_dir}/b2.parquet")
    # read_events_stream's ts conversion applies to the stream; mirror it
    # for the manual replay if ts landed as a raw long
    if dict(batch2.dtypes).get("ts") == "bigint":
        micros = F.when(
            F.col("ts") > F.lit(10**17), F.expr("ts div 1000")
        ).otherwise(F.col("ts"))
        batch2 = batch2.withColumn("ts", F.timestamp_micros(micros))
    open_before = sorted(map(tuple, streaming.scd2_open_view(spark, open_dir).collect()))
    closed_before = sorted(map(tuple, spark.read.parquet(out).collect()))
    _scd2_apply_batch(batch2, _Batch(2, _query_id(spark, out)), open_dir, out)
    open_after = sorted(map(tuple, streaming.scd2_open_view(spark, open_dir).collect()))
    assert open_after == open_before
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == closed_before


def test_scd2_open_store_as_file_uri(spark, tmp_path_factory):
    """``open_dir`` given as a ``file://`` URI is listed through its Hadoop
    FileSystem, like a plain path: the open view equals the plain-path
    view, and after batch N only ``v=N-1`` and ``v=N`` remain."""
    import datetime
    import os

    from dampr_spark.streaming.pipeline import _Batch, _scd2_apply_batch

    t0 = datetime.datetime(2024, 1, 1)
    events = [(1, "view"), (1, "cart"), (2, "view"), (1, "cart"), (2, "buy"),
              (3, "view"), (1, "buy"), (3, "view"), (2, "view")]
    rows = [
        (user, kind, t0 + datetime.timedelta(minutes=i), i)
        for i, (user, kind) in enumerate(events)
    ]
    batches = [rows[0:3], rows[3:6], rows[6:8], rows[8:]]
    schema = "user_id long, event_type string, ts timestamp, event_id long"
    base = tmp_path_factory.mktemp("scd2_uri")
    views = {}
    for name, open_dir in (("plain", str(base / "plain")), ("uri", (base / "uri").as_uri())):
        for n, part in enumerate(batches):
            _scd2_apply_batch(
                spark.createDataFrame(part, schema),
                _Batch(n, "q"),
                open_dir,
                str(base / f"{name}_out"),
            )
        views[name] = sorted(map(tuple, streaming.scd2_open_view(spark, open_dir).collect()))
        assert sorted(os.listdir(base / name)) == ["v=2", "v=3"], name
    assert views["uri"] == views["plain"]
    assert len(views["plain"]) == 3  # one open interval per user


def test_hll_stream_equals_batch_sketch(spark, sf_dir, tmp_path_factory):
    """Two availableNow micro-batches + a DUPLICATED first batch (simulated
    foreachBatch redelivery): the register-max view must still equal the
    batch-built whole-corpus sketch — HLL merge is idempotent, so
    at-least-once delivery cannot perturb it."""
    import glob
    import os
    import shutil

    from dampr_spark.operators.sketches import hll_build, hll_estimate
    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("hll_stream")
    in_dir, out = str(base / "in"), str(base / "out")
    ev = read_table(spark, sf_dir, "events")
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    os.makedirs(in_dir)
    parts = [
        ev.filter(F.col("event_id") <= mid),
        ev.filter(F.col("event_id") > mid),
        ev.filter(F.col("event_id") <= mid),  # redelivered batch
    ]
    for i, part in enumerate(parts):
        part.coalesce(1).write.parquet(str(base / f"p{i}"))
        shutil.copy(
            glob.glob(str(base / f"p{i}" / "*.parquet"))[0], f"{in_dir}/b{i}.parquet"
        )

    stream = streaming.read_events_stream(spark, in_dir, max_files_per_trigger=1)
    q = streaming.hll_stream(stream, out, lambda df: df.select("user_id"))
    q.awaitTermination()

    got = {(r.reg, r.rho) for r in streaming.hll_view(spark, out).collect()}
    want = {(r.reg, r.rho) for r in hll_build(ev, "user_id").collect()}
    assert got == want and want
    # And the estimates agree bit-for-bit (exact register sum).
    e_stream = hll_estimate(streaming.hll_view(spark, out)).first()["est_distinct"]
    e_batch = hll_estimate(hll_build(ev, "user_id")).first()["est_distinct"]
    assert e_stream == e_batch


def test_logreg_score_stream_equals_batch(spark, sf_dir, tmp_path_factory):
    """Fit weights batch-side, score the documents table in two
    micro-batches: streamed (z, keep) must equal the batch expressions
    doc-for-doc (stateless scoring; the dsir_score_stream discipline)."""
    import glob
    import os
    import shutil

    from dampr_spark.functions import text as T
    from dampr_spark.operators.selection import fit_logreg
    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("logreg_stream")
    in_dir, out = str(base / "in"), str(base / "out")
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    feats = docs.select(
        "doc_id",
        (T.token_count("text") / F.lit(100.0)).alias("x1"),
        T.stopword_ratio("text").alias("x2"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    ).localCheckpoint(eager=True)
    w = fit_logreg(feats, ["x1", "x2"], "y", iters=2)

    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    os.makedirs(in_dir)
    for i, part in enumerate(
        [docs.filter(F.col("doc_id") <= mid), docs.filter(F.col("doc_id") > mid)]
    ):
        part.coalesce(1).write.parquet(str(base / f"p{i}"))
        shutil.copy(
            glob.glob(str(base / f"p{i}" / "*.parquet"))[0], f"{in_dir}/b{i}.parquet"
        )

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    exprs = [
        T.token_count("text") / F.lit(100.0),
        T.stopword_ratio("text"),
    ]
    q = streaming.logreg_score_stream(
        stream.filter(F.col("text").isNotNull() & F.col("lang").isNotNull()),
        w, exprs, out,
    )
    q.awaitTermination()

    got = {(r.doc_id, r.z, r.keep) for r in spark.read.parquet(out).collect()}
    zb = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    want = {
        (r.doc_id, r.z, r.keep)
        for r in feats.select("doc_id", zb.alias("z"), (zb > 0).alias("keep")).collect()
    }
    assert got == want and want


def test_bloom_stream_equals_batch_filter(spark, sf_dir, tmp_path_factory):
    """Two availableNow micro-batches + a DUPLICATED first batch
    (redelivery): the distinct-bit view must equal the batch-built
    whole-corpus Bloom filter exactly — bit-set OR is idempotent — and
    pruning a probe with the streamed filter passes exactly the rows the
    batch filter passes."""
    import glob
    import os
    import shutil

    from dampr_spark.operators.sketches import bloom_build, bloom_prune
    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("bloom_stream")
    in_dir, out = str(base / "in"), str(base / "out")
    ev = read_table(spark, sf_dir, "events")
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    os.makedirs(in_dir)
    parts = [
        ev.filter(F.col("event_id") <= mid),
        ev.filter(F.col("event_id") > mid),
        ev.filter(F.col("event_id") <= mid),  # redelivered batch
    ]
    for i, part in enumerate(parts):
        part.coalesce(1).write.parquet(str(base / f"p{i}"))
        shutil.copy(
            glob.glob(str(base / f"p{i}" / "*.parquet"))[0], f"{in_dir}/b{i}.parquet"
        )

    stream = streaming.read_events_stream(spark, in_dir, max_files_per_trigger=1)
    q = streaming.bloom_stream(stream, out, lambda df: df.select("user_id"))
    q.awaitTermination()

    got = {r.bit for r in streaming.bloom_view(spark, out).collect()}
    want = {r.bit for r in bloom_build(ev, "user_id").collect()}
    assert got == want and want

    probe = ev.select("event_id", "user_id")
    passed_stream = {
        r.event_id
        for r in bloom_prune(probe, streaming.bloom_view(spark, out), "user_id").collect()
    }
    passed_batch = {
        r.event_id
        for r in bloom_prune(probe, bloom_build(ev, "user_id"), "user_id").collect()
    }
    assert passed_stream == passed_batch


def test_histogram_stream_equals_batch_sketch(spark, sf_dir, tmp_path_factory):
    """Two availableNow micro-batches under fixed bounds: the per-bucket
    count-sum view must equal the batch histogram over the full table
    exactly (count addition), so downstream quantile estimates are
    identical."""
    import glob
    import os
    import shutil

    from dampr_spark.operators.stats import value_histogram
    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("hist_stream")
    in_dir, out = str(base / "in"), str(base / "out")
    ev = read_table(spark, sf_dir, "events")
    lo, hi = 0.0, 120.0  # fixed reference bounds; edge values clamp
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    os.makedirs(in_dir)
    parts = [ev.filter(F.col("event_id") <= mid), ev.filter(F.col("event_id") > mid)]
    for i, part in enumerate(parts):
        part.coalesce(1).write.parquet(str(base / f"p{i}"))
        shutil.copy(
            glob.glob(str(base / f"p{i}" / "*.parquet"))[0], f"{in_dir}/b{i}.parquet"
        )

    stream = streaming.read_events_stream(spark, in_dir, max_files_per_trigger=1)
    q = streaming.histogram_stream(stream, out, F.col("value"), lo, hi)
    q.awaitTermination()

    got = {(r.bucket, r.cnt) for r in streaming.histogram_view(spark, out).collect()}
    want = {
        (r.bucket, r.cnt)
        for r in value_histogram(ev.select("value"), "value", lo, hi).collect()
    }
    assert got == want and want


def test_ols_stream_equals_batch_fit(spark, sf_dir, tmp_path_factory):
    """Two availableNow micro-batches of per-group sufficient statistics:
    the summed-stats view must reproduce the batch grouped_ols fit
    BIT-FOR-BIT (exact integer/decimal sums are associative; the closed
    form is the same IEEE expression)."""
    import glob
    import os
    import shutil

    from dampr_spark.operators.stats import grouped_ols
    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("ols_stream")
    in_dir, out = str(base / "in"), str(base / "out")
    ev = read_table(spark, sf_dir, "events")
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    os.makedirs(in_dir)
    parts = [ev.filter(F.col("event_id") <= mid), ev.filter(F.col("event_id") > mid)]
    for i, part in enumerate(parts):
        part.coalesce(1).write.parquet(str(base / f"p{i}"))
        shutil.copy(
            glob.glob(str(base / f"p{i}" / "*.parquet"))[0], f"{in_dir}/b{i}.parquet"
        )

    stream = streaming.read_events_stream(spark, in_dir, max_files_per_trigger=1)
    q = streaming.ols_stream(
        stream,
        out,
        group_expr=F.col("event_type"),
        x_expr=F.dayofyear("ts"),
        y_expr=F.col("value"),
    )
    q.awaitTermination()

    got = {tuple(r) for r in streaming.ols_view(spark, out).collect()}
    batch_in = ev.select(
        F.col("event_type").alias("g"),
        F.dayofyear("ts").alias("x"),
        F.col("value").alias("y"),
    )
    want = {tuple(r) for r in grouped_ols(batch_in, ["g"], "x", "y").collect()}
    assert got == want and want


def test_semantic_neardup_stream_equals_batch(spark, sf_dir, tmp_path_factory):
    """Two-micro-batch replay of the embeddings table under FIXED grid
    bounds: the streamed pair set must equal the batch
    `semantic_grid_pairs` set EXACTLY — ids AND cos_sim values (the grid
    twin's upgrade over the LSH sink: deterministic blocking + exact
    scores mean equivalence, not a candidate superset)."""
    import glob
    import os
    import shutil

    from dampr_spark.operators.similarity import fit_grid_bounds, semantic_grid_pairs
    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("sem_stream")
    in_dir, store, out = (str(base / d) for d in ("in", "store", "out"))
    emb = read_table(spark, sf_dir, "embeddings")
    bounds = fit_grid_bounds(emb, dims=4)
    os.makedirs(in_dir)
    for i, part in enumerate(
        [emb.filter(F.col("vec_id") % 2 == 0), emb.filter(F.col("vec_id") % 2 == 1)]
    ):
        part.coalesce(1).write.parquet(str(base / f"p{i}"))
        shutil.copy(
            glob.glob(str(base / f"p{i}" / "*.parquet"))[0], f"{in_dir}/b{i}.parquet"
        )

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = streaming.semantic_neardup_stream(
        stream, store, out, bounds, tau=0.30, max_cell=10**9
    )
    q.awaitTermination()

    got = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in spark.read.parquet(out).select("id_a", "id_b", "cos_sim")
        .distinct()
        .collect()
    }
    want = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in semantic_grid_pairs(
            emb, bounds=bounds, tau=0.30, max_cell=10**9
        ).collect()
    }
    assert got == want and want, f"missing={want - got} extra={got - want}"


def test_semantic_neardup_stream_cap_view_equals_batch(
    spark, sf_dir, tmp_path_factory
):
    """With an ACTIVE max_cell cap: the raw sink is a superset of the
    batch capped set and a subset of the uncapped set, and
    `semantic_pairs_view` equals the batch capped set exactly."""
    import glob
    import os
    import shutil

    from dampr_spark.operators.similarity import fit_grid_bounds, semantic_grid_pairs
    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("sem_stream_cap")
    in_dir, store, out = (str(base / d) for d in ("in", "store", "out"))
    emb = read_table(spark, sf_dir, "embeddings")
    bounds = fit_grid_bounds(emb, dims=4)
    os.makedirs(in_dir)
    for i, part in enumerate(
        [emb.filter(F.col("vec_id") % 2 == 0), emb.filter(F.col("vec_id") % 2 == 1)]
    ):
        part.coalesce(1).write.parquet(str(base / f"p{i}"))
        shutil.copy(
            glob.glob(str(base / f"p{i}" / "*.parquet"))[0], f"{in_dir}/b{i}.parquet"
        )

    cap = 8  # small enough that real cells exceed it on the fixture
    tau = 0.0  # keep every in-cell pair so the cap is the only filter
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = streaming.semantic_neardup_stream(
        stream, store, out, bounds, tau=tau, max_cell=cap
    )
    q.awaitTermination()

    got = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(out).select("id_a", "id_b").distinct().collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in semantic_grid_pairs(emb, bounds=bounds, tau=tau, max_cell=cap)
        .collect()
    }
    uncapped = {
        (r.id_a, r.id_b)
        for r in semantic_grid_pairs(emb, bounds=bounds, tau=tau, max_cell=10**9)
        .collect()
    }
    assert uncapped - capped, "cap must actually bind on this fixture"
    assert capped <= got, f"under-emitted: {capped - got}"
    assert got <= uncapped, f"invented pairs: {got - uncapped}"

    view = {
        (r.id_a, r.id_b)
        for r in streaming.semantic_pairs_view(spark, out, store, max_cell=cap)
        .collect()
    }
    assert view == capped, f"extra={view - capped} missing={capped - view}"

    # At-least-once retry simulation: re-append the whole store (duplicate
    # every (id, cell, e) row). Cell sizes must stay retry-invariant
    # (countDistinct) so the view still equals the batch capped set — raw
    # row counts would push kept cells over the cap and retract their pairs.
    spark.read.parquet(store).write.mode("append").parquet(store)
    view2 = {
        (r.id_a, r.id_b)
        for r in streaming.semantic_pairs_view(spark, out, store, max_cell=cap)
        .collect()
    }
    assert view2 == capped, f"retry broke the cap: extra={view2 - capped} missing={capped - view2}"


def test_incremental_neardup_stream_soak_bounded_state(spark, tmp_path_factory):
    """100-micro-batch soak of the incremental near-dup sink (VERDICT r7
    #7): state must be bounded by the CORPUS, not the batch count — the
    signature store holds exactly docs x bands rows after any number of
    batches — and per-batch latency must stay flat (each batch pays for
    itself plus a columnar scan of history, never a history re-pairing).
    Finishes with the read-view == batch-operator equivalence over the
    whole ingested corpus, proving 100-way splitting changed nothing."""
    import statistics

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dampr_spark.operators.dedup import minhash_lsh_candidates
    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("neardup_soak")
    in_dir, store, out = (str(base / d) for d in ("in", "store", "out"))
    import os

    os.makedirs(in_dir)
    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    rows = docs.collect()
    n_batches = 100
    per = -(-len(rows) // n_batches)
    for i in range(n_batches):
        chunk = rows[i * per : (i + 1) * per]
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r.doc_id for r in chunk], pa.int64()),
                    "text": pa.array([r.text for r in chunk], pa.string()),
                }
            ),
            f"{in_dir}/b{i:03d}.parquet",
        )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = streaming.incremental_neardup_stream(stream, store, out, max_bucket=10**9)
    q.awaitTermination()

    # Bounded state: EXACTLY docs x bands signature rows — batches appended
    # their own documents once each, never re-wrote history.
    store_df = spark.read.parquet(store)
    assert store_df.count() == len(rows) * 16
    assert store_df.select("id").distinct().count() == len(rows)

    # Flat latency: compare first-third vs last-third medians of the
    # per-batch trigger durations Spark recorded. History grows 100x over
    # the run; a history re-pairing would blow this bound immediately,
    # while the designed per-batch work (own pairs + one columnar history
    # scan) stays inside it even with the documented ~2x host noise.
    durs = [
        p["durationMs"]["triggerExecution"]
        for p in q.recentProgress
        if p["numInputRows"] > 0
    ]
    assert len(durs) >= 90, f"expected ~100 progress records, got {len(durs)}"
    third = len(durs) // 3
    early = statistics.median(durs[:third])
    late = statistics.median(durs[-third:])
    assert late <= 4 * early + 1000, f"per-batch latency grew: {early}ms -> {late}ms"
    # The sinks stay flat: a read of 99 earlier batches' files runs no more
    # Spark jobs than a read of one (batch directories past 32 would add
    # a listing job to every read).
    by_batch = _jobs_by_batch(spark, q)
    assert by_batch[99] <= by_batch[1], by_batch

    # 100-way splitting must not change the candidate set.
    got = {(r.id_a, r.id_b) for r in spark.read.parquet(out).distinct().collect()}
    want = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(docs, max_bucket=10**9).collect()
    }
    assert got == want and want, f"missing={want - got} extra={got - want}"


def test_embedding_drift_stream_matches_batch_psi(spark, sf_dir, tmp_path_factory):
    """Single availableNow replay of the odd-vec_id half against a
    reference fit on the even half UNDER COMBINED-corpus grid bounds:
    the streamed PSI must equal the batch `embedding_drift_psi` catalog
    query's row to the digit (same cells, occupied-union smoothing
    width, 6dp rounding)."""
    from dampr_spark.operators.similarity import fit_grid_bounds
    from dampr_spark.plans import all_queries
    from dampr_spark.sources.readers import read_table

    base = tmp_path_factory.mktemp("emb_psi_stream")
    e = read_table(spark, sf_dir, "embeddings")
    bounds = fit_grid_bounds(e, "embedding", 4)  # the batch query's bounds
    _, ref_counts = streaming.fit_embedding_cell_histogram(
        e.filter(F.col("vec_id") % 2 == 0), bounds=bounds
    )
    cur = e.filter(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    in_dir = str(base / "in")
    cur.coalesce(1).write.parquet(in_dir)
    stream = spark.readStream.schema(cur.schema).parquet(in_dir)
    out = str(base / "out")
    q = streaming.embedding_drift_stream(stream, ref_counts, bounds, out)
    q.awaitTermination()

    got = spark.read.parquet(out).collect()
    assert len(got) == 1
    want = all_queries()["embedding_drift_psi"].builder(spark, sf_dir).first()
    assert got[0].psi == want.psi
    assert got[0].n_vectors == want.n_cur
    assert got[0].n_cells == want.n_cells


def test_embedding_drift_stream_flags_shifted_space(spark, tmp_path_factory):
    """A genuinely shifted batch (vectors pushed past the reference
    bounds) must clamp into edge cells and move the PSI well past the
    0.25 page-the-pipeline line, while an identically-distributed batch
    stays near zero."""
    import numpy as np

    base = tmp_path_factory.mktemp("emb_psi_shift")
    rng = np.random.default_rng(3)

    def corpus(start_id, shift):
        rows = [
            (
                start_id + i,
                [float(x) for x in rng.standard_normal(8) + shift],
            )
            for i in range(400)
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    ref = corpus(0, 0.0)
    # dims=2 -> 16 cells over 400 vectors: dense enough that sampling
    # noise stays far from the 0.25 line (dims=4's 256 cells at ~1.5
    # vectors/cell made the smoothed PSI noise-dominated)
    bounds, ref_counts = streaming.fit_embedding_cell_histogram(ref, dims=2)

    for name, shift, check in (
        ("same", 0.0, lambda p: p < 0.1),
        ("shifted", 5.0, lambda p: p > 0.25),
    ):
        in_dir = str(base / f"in_{name}")
        corpus(10_000, shift).coalesce(1).write.parquet(in_dir)
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>"
        ).parquet(in_dir)
        out = str(base / f"out_{name}")
        q = streaming.embedding_drift_stream(
            stream, ref_counts, bounds, out, dims=2
        )
        q.awaitTermination()
        psi = spark.read.parquet(out).first().psi
        assert check(psi), (name, psi)


_RETRY_STREAMS = [
    "incremental_dedup_stream",
    "incremental_neardup_stream",
    "incremental_novelty_stream",
    "incremental_substring_stream",
    "semantic_neardup_stream",
    "semantic_dedup_stream",
    "scd2_state_stream",
    "cms_stream",
    "hll_stream",
    "bloom_stream",
    "histogram_stream",
    "ols_stream",
    "value_drift_stream",
    "embedding_drift_stream",
    "dsir_score_stream",
    "logreg_score_stream",
]


def _retry_case(spark, sf_dir, name: str, base):
    """For the stream ``name``: its input table, a function starting it
    over a stream of that table, the raw sink directories it writes, and
    its read views (functions of the session)."""
    from dampr_spark.sources.readers import read_table

    store, out = str(base / "store"), str(base / "out")
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    events = read_table(spark, sf_dir, "events")

    def items(df):
        return df.select(F.explode(F.split("text", " ")).alias("w"))

    if name in ("incremental_dedup_stream", "incremental_novelty_stream"):
        return docs, lambda s: getattr(streaming, name)(s, store, out), [out, store], []
    if name == "incremental_neardup_stream":
        start = lambda s: streaming.incremental_neardup_stream(s, store, out, max_bucket=4)  # noqa: E731
        view = lambda sp: streaming.neardup_pairs_view(sp, out, store, max_bucket=4)  # noqa: E731
        return docs, start, [out, store], [view]
    if name == "incremental_substring_stream":
        start = lambda s: streaming.incremental_substring_stream(s, store, out, min_len=20)  # noqa: E731
        return docs, start, [out, store], []
    if name == "semantic_neardup_stream":
        from dampr_spark.operators.similarity import fit_grid_bounds

        bounds = fit_grid_bounds(emb, dims=4)
        start = lambda s: streaming.semantic_neardup_stream(  # noqa: E731
            s, store, out, bounds, tau=0.3, max_cell=8
        )
        view = lambda sp: streaming.semantic_pairs_view(sp, out, store, max_cell=8)  # noqa: E731
        return emb, start, [out, store], [view]
    if name == "semantic_dedup_stream":
        from dampr_spark.operators.similarity import IVFIndex
        from dampr_spark.streaming.pipeline import semantic_dedup_stream

        ivf = IVFIndex(n_lists=4, nprobe=2, seed=42).fit(emb, sample_size=100)
        # the IVF shard store keeps its own append scheme (a retry's
        # duplicate shard is inert), so only the sink is compared
        start = lambda s: semantic_dedup_stream(s, ivf, store, out, threshold=0.3)  # noqa: E731
        return emb, start, [out], []
    if name == "scd2_state_stream":
        start = lambda s: streaming.scd2_state_stream(s, store, out)  # noqa: E731
        return events, start, [out], [lambda sp: streaming.scd2_open_view(sp, store)]
    if name in ("cms_stream", "hll_stream", "bloom_stream"):
        view = getattr(streaming, name.replace("_stream", "_view"))
        return docs, lambda s: getattr(streaming, name)(s, out, items), [out], [
            lambda sp: view(sp, out)
        ]
    if name == "histogram_stream":
        start = lambda s: streaming.histogram_stream(s, out, F.col("value"), 0.0, 120.0)  # noqa: E731
        return events, start, [out], [lambda sp: streaming.histogram_view(sp, out)]
    if name == "ols_stream":
        start = lambda s: streaming.ols_stream(  # noqa: E731
            s, out, F.col("event_type"), F.dayofyear("ts"), F.col("value")
        )
        return events, start, [out], [lambda sp: streaming.ols_view(sp, out)]
    if name == "value_drift_stream":
        lo, hi, ref = streaming.fit_value_histogram(events)
        return events, lambda s: streaming.value_drift_stream(s, ref, lo, hi, out), [out], []
    if name == "embedding_drift_stream":
        bounds, ref = streaming.fit_embedding_cell_histogram(emb)
        return emb, lambda s: streaming.embedding_drift_stream(s, ref, bounds, out), [out], []
    if name == "dsir_score_stream":
        from dampr_spark.operators.selection import dsir_log_ratios

        ratios = dsir_log_ratios(docs, docs.filter(F.col("lang") == "en"))
        return docs, lambda s: streaming.dsir_score_stream(s, ratios, out), [out], []
    assert name == "logreg_score_stream"
    feats = [F.length("text") / F.lit(100.0), F.col("n_chars") / F.lit(1000.0)]
    start = lambda s: streaming.logreg_score_stream(s, [0.1, -0.2, 0.3], feats, out)  # noqa: E731
    return docs, start, [out], []


@pytest.mark.parametrize("name", _RETRY_STREAMS)
def test_retried_batch_replaces_its_output(spark, sf_dir, tmp_path_factory, name):
    """Spark re-runs a micro-batch whose commit entry is missing: the
    handler wrote its output, and the query died before it committed.
    After three batches, the last commit entry (and its checksum) is
    deleted and the query restarted, so batch 2 runs again. Every raw
    sink (exceptAll both ways, and row count) and every view must then
    equal what the unretried run left."""
    import glob
    import os
    import shutil

    base = tmp_path_factory.mktemp(f"retry_{name}")
    table, start, sinks, views = _retry_case(spark, sf_dir, name, base)
    in_dir = str(base / "in")
    key = table.columns[0]  # doc_id, vec_id or event_id: thirds in id order
    q1, q2 = table.approxQuantile(key, [1 / 3, 2 / 3], 0.0)
    parts = [
        table.filter(F.col(key) <= q1),
        table.filter((F.col(key) > q1) & (F.col(key) <= q2)),
        table.filter(F.col(key) > q2),
    ]
    os.makedirs(in_dir)
    for i, part in enumerate(parts):
        part.coalesce(1).write.parquet(str(base / f"p{i}"))
        dst = f"{in_dir}/b{i}.parquet"
        shutil.copy(glob.glob(str(base / f"p{i}" / "*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    def run():
        if name in ("scd2_state_stream", "histogram_stream", "ols_stream"):
            stream = streaming.read_events_stream(spark, in_dir, max_files_per_trigger=1)
        else:
            stream = (
                spark.readStream.schema(table.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
            )
        q = start(stream)
        q.awaitTermination()
        return q

    run()
    for i, sink in enumerate(sinks):
        shutil.copytree(sink, str(base / f"before{i}"))
    before_views = [sorted(map(tuple, v(spark).collect())) for v in views]

    commits = f"{base}/out_checkpoint/commits"
    assert sorted(os.listdir(commits)) == [".0.crc", ".1.crc", ".2.crc", "0", "1", "2"]
    os.remove(f"{commits}/2")
    os.remove(f"{commits}/.2.crc")
    q = run()
    assert [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0] == [2]

    for i, sink in enumerate(sinks):
        was, now = spark.read.parquet(str(base / f"before{i}")), spark.read.parquet(sink)
        assert now.count() == was.count() > 0, sink
        assert was.exceptAll(now).count() == 0 and now.exceptAll(was).count() == 0, sink
    for v, want in zip(views, before_views):
        assert sorted(map(tuple, v(spark).collect())) == want and want
