"""Structured Streaming tests: the streaming operators must agree with
their batch twins on identical input."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from datafusion_async_parquet_index_spark.streaming import (
    sessionize_stream, stream_events_from_dir, tumbling_counts_stream,
)


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    """Split the events table into 3 time-ordered parquet files written
    sequentially, so the file-source stream replays micro-batches in
    (roughly) event-time order like a real queue."""
    import time

    from datafusion_async_parquet_index_spark.operators.util import (
        ensure_epoch_nanos,
    )

    d = str(tmp_path_factory.mktemp("events_stream"))
    ev = ensure_epoch_nanos(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
            "event_id", "ts", "user_id", "event_type"))
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    step = (hi - lo) // 3 + 1
    for i in range(3):
        (ev.filter((F.col("ts") >= lo + i * step) & (F.col("ts") < lo + (i + 1) * step))
         .coalesce(1).write.mode("append").parquet(d))
        time.sleep(1.1)  # distinct mtimes => deterministic replay order
    return d


def test_tumbling_stream_matches_batch(spark, events_stream_dir, tmp_path):
    events = stream_events_from_dir(spark, events_stream_dir)
    out = tumbling_counts_stream(events)
    q = (out.writeStream.format("memory").queryName("tumbling_test")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
        got = {(r.window_start, r.event_type): r.cnt
               for r in spark.sql("select * from tumbling_test").collect()}
    finally:
        q.stop()

    batch = (
        spark.read.parquet(events_stream_dir)
        .withColumn("event_ts", F.timestamp_seconds(
            F.floor(F.col("ts") / F.lit(1_000_000_000))))
        .groupBy(F.window("event_ts", "300 seconds").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.unix_timestamp("w.start").alias("ws"), "event_type", "cnt")
    )
    want = {(r.ws, r.event_type): r.cnt for r in batch.collect()}
    assert got == want


def test_sessionize_stream_emits_closed_sessions(spark, events_stream_dir, tmp_path):
    import time

    events = stream_events_from_dir(spark, events_stream_dir)
    out = sessionize_stream(events)
    q = (out.writeStream.format("memory").queryName("sessions_test")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .start())
    try:
        # processAllAvailable does not settle for stateful queries with
        # processing-time timeouts; poll the sink instead
        rows = []
        deadline = time.time() + 90
        while time.time() < deadline:
            rows = spark.sql("select * from sessions_test").collect()
            if rows and q.status["isDataAvailable"] is False:
                break
            time.sleep(2)
    finally:
        q.stop()
    # closed sessions must respect the gap invariant and be non-empty
    assert rows, "expected at least one closed session"
    for r in rows:
        assert r.session_events > 0
        assert r.session_end_sec >= r.session_start_sec


def test_sliding_stream_matches_batch(spark, events_stream_dir, tmp_path):
    from datafusion_async_parquet_index_spark.streaming import (
        sliding_counts_stream,
    )
    events = stream_events_from_dir(spark, events_stream_dir)
    out = sliding_counts_stream(events)
    q = (out.writeStream.format("memory").queryName("sliding_test")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt3"))
         .start())
    try:
        q.processAllAvailable()
        got = {(r.window_start, r.event_type): r.cnt
               for r in spark.sql("select * from sliding_test").collect()}
    finally:
        q.stop()

    batch = (
        spark.read.parquet(events_stream_dir)
        .withColumn("event_ts", F.timestamp_seconds(
            F.floor(F.col("ts") / F.lit(1_000_000_000))))
        .groupBy(F.window("event_ts", "600 seconds", "300 seconds").alias("w"),
                 "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.unix_timestamp("w.start").alias("ws"), "event_type", "cnt")
    )
    want = {(r.ws, r.event_type): r.cnt for r in batch.collect()}
    assert got == want


def test_asof_stream_matches_batch(spark, events_stream_dir, tmp_path):
    """The streaming as-of join must agree with q20's batch answer: the
    stream dir is split by time range, so each user's events arrive in
    ts order across micro-batches (the ordered-feed contract)."""
    from pyspark.sql import Window

    from datafusion_async_parquet_index_spark.streaming import (
        asof_join_stream,
    )

    events = stream_events_from_dir(spark, events_stream_dir)
    out = asof_join_stream(events)
    q = (out.writeStream.format("memory").queryName("asof_test")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_asof"))
         .start())
    try:
        q.processAllAvailable()
        got = {(r.purchase_id, r.user_id): r.last_click_id
               for r in spark.sql("select * from asof_test").collect()}
    finally:
        q.stop()

    # batch oracle: same union + running-last window as q20_asof_join
    ev = spark.read.parquet(events_stream_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("ev_id"),
        F.lit(0).alias("side"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("ev_id"),
        F.lit(1).alias("side"))
    w = (Window.partitionBy("user_id")
         .orderBy(F.asc("ts"), F.asc("side"), F.asc("ev_id"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    last_click = F.last(
        F.when(F.col("side") == 0, F.col("ev_id")), ignorenulls=True).over(w)
    batch = (clicks.unionByName(purchases)
             .withColumn("last_click_id", last_click)
             .filter(F.col("side") == 1))
    want = {(r.ev_id, r.user_id): r.last_click_id for r in batch.collect()}
    assert got == want and len(want) > 0


def test_dedup_stream_drops_redeliveries(spark, sf_dir, tmp_path):
    """Replaying the same events file twice (at-least-once delivery)
    must yield each event exactly once downstream."""
    import time

    from datafusion_async_parquet_index_spark.streaming import dedup_stream

    from datafusion_async_parquet_index_spark.operators.util import (
        ensure_epoch_nanos,
    )

    d = str(tmp_path / "dup_stream")
    ev = ensure_epoch_nanos(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
            "event_id", "ts", "user_id", "event_type")).limit(500)
    ev.coalesce(1).write.mode("append").parquet(d)
    time.sleep(1.1)
    ev.coalesce(1).write.mode("append").parquet(d)  # re-delivery

    from datafusion_async_parquet_index_spark.streaming import (
        stream_events_from_dir,
    )
    out = dedup_stream(stream_events_from_dir(spark, d))
    q = (out.writeStream.format("memory").queryName("dedup_test")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
         .start())
    try:
        q.processAllAvailable()
        got = spark.sql(
            "select count(*) c, count(distinct event_id) d from dedup_test"
        ).first()
    finally:
        q.stop()
    assert got["c"] == got["d"] == 500


def test_streaming_ingest_maintains_index(spark, tmp_path):
    """foreachBatch ingest: micro-batches land as parquet in the table
    dir and refresh() indexes them incrementally — the streaming twin of
    the reference's async index-maintenance loop."""
    from pyspark.sql import types as T

    from datafusion_async_parquet_index_spark.plans.expr import col
    from datafusion_async_parquet_index_spark.sources.table import (
        IndexedParquetTable,
    )
    from datafusion_async_parquet_index_spark.streaming import (
        ingest_stream_to_indexed_table,
    )

    src = tmp_path / "src"
    src.mkdir()
    tbl_dir = tmp_path / "tbl"
    tbl_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType([
        T.StructField("value", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ])

    def wave(lo, hi, name):
        spark.createDataFrame(
            [(i, f"row{i}") for i in range(lo, hi)], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    wave(0, 100, "w1")
    table = IndexedParquetTable(spark, str(tbl_dir), ["value"])
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = ingest_stream_to_indexed_table(stream, table, ckpt)
    q.awaitTermination(120)

    assert table.query(col("value") == 42).count() == 1
    n_files_1 = len(table.catalog.all_files())
    assert n_files_1 >= 1
    # refuted predicate answered from the catalog alone
    table.plan_scan((col("value") > 1000) & (col("value") < 0))
    assert table.last_scan.row_groups_scanned == 0

    # second wave: only the new source files are processed (checkpoint)
    # and only the new table files are indexed (incremental refresh)
    wave(100, 200, "w2")
    stream2 = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q2 = ingest_stream_to_indexed_table(stream2, table, ckpt)
    q2.awaitTermination(120)

    assert table.query(col("value") == 150).count() == 1
    assert table.query(col("value") >= 0).count() == 200
    assert len(table.catalog.all_files()) > n_files_1


def test_ingest_sink_replay_is_idempotent(spark, tmp_path):
    """foreachBatch delivers each batch at least once; a replayed batch
    must replace itself, not duplicate rows."""
    from pyspark.sql import types as T

    from datafusion_async_parquet_index_spark.plans.expr import col
    from datafusion_async_parquet_index_spark.sources.table import (
        IndexedParquetTable,
    )
    from datafusion_async_parquet_index_spark.streaming import (
        indexed_ingest_sink,
    )

    tbl_dir = tmp_path / "tbl"
    tbl_dir.mkdir()
    schema = T.StructType([
        T.StructField("value", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ])
    table = IndexedParquetTable(spark, str(tbl_dir), ["value"])
    sink = indexed_ingest_sink(table)
    batch = spark.createDataFrame(
        [(i, f"r{i}") for i in range(50)], schema)
    sink(batch, 7)
    assert table.query(col("value") >= 0).count() == 50
    sink(batch, 7)  # crash-replay of the same batch id
    assert table.query(col("value") >= 0).count() == 50
    sink(batch.withColumn("value", batch.value + 100), 8)
    assert table.query(col("value") >= 0).count() == 100


def test_partitioned_ingest_sink(spark, tmp_path):
    """Streaming ingest into a PARTITIONED indexed table: micro-batches
    land as hive key=value dirs, refresh() indexes the new files with
    their partition values as degenerate min=max stats, partition
    predicates prune to the right directories, and a replayed batch
    replaces itself across partition dirs."""
    from pyspark.sql import types as T

    from datafusion_async_parquet_index_spark.plans.expr import col
    from datafusion_async_parquet_index_spark.sources.table import (
        IndexedParquetTable,
    )
    from datafusion_async_parquet_index_spark.streaming import (
        partitioned_ingest_sink,
    )

    tbl_dir = tmp_path / "ptbl"
    tbl_dir.mkdir()
    schema = T.StructType([
        T.StructField("value", T.IntegerType()),
        T.StructField("day", T.StringType()),
    ])
    table = IndexedParquetTable(
        spark, str(tbl_dir), ["value"], partitioned=True)
    sink = partitioned_ingest_sink(table, ["day"])

    def batch(lo, hi):
        return spark.createDataFrame(
            [(i, f"d{i % 2}") for i in range(lo, hi)], schema)

    sink(batch(0, 100), 1)
    assert table.partitioned
    assert "day" in table.index_schema
    assert table.query(col("value") >= 0).count() == 100
    df = table.query(col("day") == "d0")
    assert all(f.startswith("day=d0") for f in table.last_scan.file_names)
    assert df.count() == 50

    sink(batch(0, 100), 1)  # crash-replay: replaces, never duplicates
    assert table.query(col("value") >= 0).count() == 100

    sink(batch(100, 160), 2)  # second batch accumulates
    assert table.query(col("value") >= 0).count() == 160
    assert table.query((col("day") == "d1") & (col("value") >= 100)).count() == 30


def test_stream_dedup_against_corpus_matches_batch(spark, sf_dir, tmp_path):
    """Streaming incremental dedup == the batch operator on identical
    input, regardless of micro-batch boundaries: each new doc's matches
    depend only on (doc, corpus), so replaying the new docs as two
    separate files must reproduce dedup_incremental's pair set
    exactly."""
    import os

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from datafusion_async_parquet_index_spark.operators.dedup import (
        NEW_BATCH_MOD, dedup_incremental,
    )
    from datafusion_async_parquet_index_spark.streaming import (
        dedup_against_corpus_stream,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    is_new = F.col("doc_id") % NEW_BATCH_MOD == 0
    corpus = docs.filter(~is_new)
    new = docs.filter(is_new).select("doc_id", "text")

    # replay the new docs as two files => two micro-batches
    d = str(tmp_path / "new_docs")
    new.filter(F.col("doc_id") % 20 == 0).coalesce(1).write.mode(
        "append").parquet(d)
    new.filter(F.col("doc_id") % 20 != 0).coalesce(1).write.mode(
        "append").parquet(d)

    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(d))

    got: dict = {}

    def collect_matches(matches, batch_id):
        for r in matches.collect():
            got[(r.new_id, r.corpus_id)] = r.est_jaccard

    q = dedup_against_corpus_stream(
        stream, corpus, collect_matches, str(tmp_path / "ckpt_inc"))
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    want = {(r.new_id, r.corpus_id): r.est_jaccard
            for r in dedup_incremental(spark, sf_dir).collect()}
    assert got == want and len(want) > 0


def test_stream_dedup_against_persisted_store_matches_batch(
        spark, sf_dir, tmp_path, monkeypatch):
    """The store-backed stream (corpus side read from the parquet
    signature store, raw corpus never touched) reproduces
    dedup_incremental exactly across micro-batch boundaries."""
    import os
    import tempfile

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from datafusion_async_parquet_index_spark.operators.dedup import (
        NEW_BATCH_MOD, dedup_incremental,
        signature_store_dir, write_signature_store,
    )
    from datafusion_async_parquet_index_spark.streaming import (
        dedup_against_store_stream,
    )

    # an isolated store: every persisted artifact lives under the
    # temp root
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    is_new = F.col("doc_id") % NEW_BATCH_MOD == 0
    store = signature_store_dir(sf_dir)
    write_signature_store(docs.filter(~is_new), store)

    new = docs.filter(is_new).select("doc_id", "text")
    d = str(tmp_path / "new_docs")
    new.filter(F.col("doc_id") % 20 == 0).coalesce(1).write.mode(
        "append").parquet(d)
    new.filter(F.col("doc_id") % 20 != 0).coalesce(1).write.mode(
        "append").parquet(d)

    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(d))

    got: dict = {}

    def collect_matches(matches, batch_id):
        for r in matches.collect():
            got[(r.new_id, r.corpus_id)] = r.est_jaccard

    q = dedup_against_store_stream(
        stream, store, collect_matches, str(tmp_path / "ckpt_store"))
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    want = {(r.new_id, r.corpus_id): r.est_jaccard
            for r in dedup_incremental(spark, sf_dir).collect()}
    assert got == want and len(want) > 0


def test_interval_join_stream_matches_batch(spark, events_stream_dir, tmp_path):
    """The stream-stream ±60s self-join must emit exactly the pair set
    the equivalent batch join produces: the stream dir is split by time
    range, the 10-minute watermark far exceeds the ±60s horizon, so no
    cross-batch pair can be dropped by state eviction."""
    from datafusion_async_parquet_index_spark.streaming import (
        interval_join_stream,
    )

    events = stream_events_from_dir(spark, events_stream_dir)
    out = interval_join_stream(events)
    q = (out.writeStream.format("memory").queryName("interval_test")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_ij"))
         .start())
    try:
        q.processAllAvailable()
        got = {(r.event_id, r.other_id)
               for r in spark.sql("select * from interval_test").collect()}
    finally:
        q.stop()

    ev = (
        spark.read.parquet(events_stream_dir)
        .select("event_id", "user_id",
                F.floor(F.col("ts") / F.lit(1_000_000_000)).alias("sec"))
    )
    l = ev.select(F.col("event_id").alias("l_id"),
                  F.col("user_id").alias("l_uid"), F.col("sec").alias("l_sec"))
    r = ev.select(F.col("event_id").alias("r_id"),
                  F.col("user_id").alias("r_uid"), F.col("sec").alias("r_sec"))
    batch = l.join(r, (F.col("l_uid") == F.col("r_uid"))
                   & (F.col("l_id") != F.col("r_id"))
                   & (F.abs(F.col("l_sec") - F.col("r_sec")) <= 60))
    want = {(r.l_id, r.r_id) for r in batch.collect()}
    assert got == want and want, "stream pair set must equal batch join"


def test_watermark_drops_late_data(spark, tmp_path):
    """The watermark must actually DROP a row older than the horizon:
    batch 1 advances the watermark to max(event_ts) - 3600s; batch 2
    delivers one event far older than that and one fresh event. The
    late event's window must never appear in the update stream; the
    fresh event must."""
    import time

    from pyspark.sql import Row

    d = str(tmp_path / "late_feed")
    fresh_base = 100_000  # seconds
    batch1 = [Row(event_id=i, ts=(fresh_base + i) * 1_000_000_000,
                  user_id=1, event_type="click") for i in range(5)]
    spark.createDataFrame(batch1).coalesce(1).write.mode("append").parquet(d)

    events = stream_events_from_dir(spark, d)
    out = tumbling_counts_stream(events)
    q = (out.writeStream.format("memory").queryName("late_test")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt_late"))
         .start())
    try:
        # batch 1 processes alone and advances the watermark, THEN the
        # late file arrives — a true cross-batch late delivery
        q.processAllAvailable()
        batch2 = [
            Row(event_id=100, ts=1_000 * 1_000_000_000,  # ~27h late
                user_id=1, event_type="click"),
            Row(event_id=101, ts=(fresh_base + 200) * 1_000_000_000,
                user_id=1, event_type="click"),
        ]
        (spark.createDataFrame(batch2).coalesce(1)
         .write.mode("append").parquet(d))
        q.processAllAvailable()
        rows = spark.sql("select * from late_test").collect()
    finally:
        q.stop()

    starts = {r.window_start for r in rows}
    late_window = 1_000 // 300 * 300
    fresh_window = (fresh_base + 200) // 300 * 300
    assert late_window not in starts, \
        "late event beyond the watermark must be dropped"
    assert fresh_window in starts, "fresh event must be aggregated"


def test_event_time_sessionize_stream_matches_batch(spark, sf_dir):
    """The streaming-executed event-time sessionize (applyInPandasWithState
    + EventTimeTimeout + sentinel flush) must reproduce the batch
    lag+cumsum sessionization's per-user rollup exactly — both the
    data-driven closes (gap observed inside the stream) and the
    timeout-driven closes (watermark passed last_seen+gap) land every
    event in the same session."""
    from datafusion_async_parquet_index_spark.operators.events import (
        ev_sessionize, ev_stream_sessionize,
    )

    got = {(r.user_id, r.n_sessions, r.max_session_events)
           for r in ev_stream_sessionize(spark, sf_dir).collect()}
    want = {(r.user_id, r.n_sessions, r.max_session_events)
            for r in ev_sessionize(spark, sf_dir).collect()}
    assert got == want


def test_dedup_stream_incremental_matches_batch(spark, sf_dir):
    """The 3-micro-batch streaming-executed incremental dedup must equal
    the one-shot batch operator pair-for-pair (matching is per-doc, so
    micro-batch boundaries cannot change the result)."""
    from datafusion_async_parquet_index_spark.operators.dedup import (
        dedup_incremental, dedup_stream_incremental,
    )

    got = {(r.new_id, r.corpus_id, r.est_jaccard)
           for r in dedup_stream_incremental(spark, sf_dir).collect()}
    want = {(r.new_id, r.corpus_id, r.est_jaccard)
            for r in dedup_incremental(spark, sf_dir).collect()}
    assert got == want


def test_stream_dedup_repairs_injected_redeliveries(spark, sf_dir):
    """The damaged replay must actually contain duplicates, and the
    exactly-once repair stream must return precisely the original
    events — nothing dropped, nothing duplicated."""
    from datafusion_async_parquet_index_spark.operators.events import (
        _dedup_replay_dir, ev_stream_dedup,
    )

    d = _dedup_replay_dir(spark, sf_dir)
    delivered = spark.read.parquet(f"{d}/batch0.parquet",
                                   f"{d}/batch1.parquet",
                                   f"{d}/batch2.parquet")
    n_delivered = delivered.count()
    n_distinct = delivered.select("event_id").distinct().count()
    assert n_delivered > n_distinct, "replay must inject duplicates"

    out = ev_stream_dedup(spark, sf_dir)
    assert out.count() == n_distinct
    assert out.select("event_id").distinct().count() == n_distinct


def test_three_sessionizers_agree(spark, sf_dir):
    """Cross-implementation equivalence triangle: lag+cumsum batch,
    custom stateful stream (EventTimeTimeout), and native
    session_window (batch and streaming-executed) must produce one
    identical per-user rollup."""
    from datafusion_async_parquet_index_spark.operators.events import (
        ev_session_window_agg, ev_sessionize, ev_stream_session_window,
        ev_stream_sessionize,
    )

    def key(df):
        return {(r.user_id, r.n_sessions, r.max_session_events)
                for r in df.collect()}

    want = key(ev_sessionize(spark, sf_dir))
    assert key(ev_session_window_agg(spark, sf_dir)) == want
    assert key(ev_stream_sessionize(spark, sf_dir)) == want
    assert key(ev_stream_session_window(spark, sf_dir)) == want
