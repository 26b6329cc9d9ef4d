"""Streaming + multimodal tests: the readStream path produces the same
result as the batch path (same expressions, memory sink), and the
mapInPandas feature plumbing preserves rows/schema/determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chicago_crime_spark_ml_spark.operators.multimodal import (
    attach_blob,
    extract_features,
)
from chicago_crime_spark_ml_spark.sources.io import load_table
from chicago_crime_spark_ml_spark.streaming import (
    _STATE_SCHEMAS,
    run_stream_to_memory,
    sessionize,
    stream_events,
    tumbling_window_agg,
)


def test_stream_equals_batch_tumbling(spark, sf_dir):
    batch = tumbling_window_agg(
        load_table(spark, sf_dir, "events"),
        "ts",
        "1 day",
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    batch_rows = {
        (r.bucket_start, r.event_type): r.n for r in batch.collect()
    }

    stream = stream_events(spark, sf_dir)
    agg = tumbling_window_agg(
        stream.withWatermark("ts", "1 day"),
        "ts",
        "1 day",
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    run_stream_to_memory(agg, "tumbling_smoke", output_mode="complete")
    stream_rows = {
        (r.bucket_start, r.event_type): r.n
        for r in spark.sql("SELECT * FROM tumbling_smoke").collect()
    }
    assert stream_rows == batch_rows


def test_sessionize_sanity(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = sessionize(ev, "ts", "user_id", gap="30 minutes")
    rows = out.collect()
    n_users = ev.select("user_id").distinct().count()
    assert len(rows) == n_users
    # sessions per user between 1 and n_events; totals add up
    total_events = sum(r.n_events for r in rows)
    assert total_events == ev.count()
    assert all(1 <= r.n_sessions <= r.n_events for r in rows)


def test_extract_features_plumbing(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    feats = extract_features(attach_blob(docs))
    rows = feats.collect()
    assert len(rows) == docs.count()  # row-preserving
    assert all(len(r.features) == 4 for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r.features)
    # deterministic across runs (stub decode is byte-stat based)
    again = {r.doc_id: r.features for r in feats.collect()}
    assert all(again[r.doc_id] == r.features for r in rows)


def test_extract_features_partitioned_batches(spark, sf_dir):
    # plumbing must be partition-agnostic: same result at 1 and 8 partitions
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    one = {
        r.doc_id: r.features
        for r in extract_features(attach_blob(docs.coalesce(1))).collect()
    }
    many = {
        r.doc_id: r.features
        for r in extract_features(attach_blob(docs.repartition(8))).collect()
    }
    assert one == many


def test_stateful_totals_equal_batch(spark, sf_dir):
    # custom stateful op (applyInPandasWithState): after the stream drains,
    # per-user running totals must equal the batch groupBy — the
    # stream-equals-batch contract for arbitrary keyed state.
    from chicago_crime_spark_ml_spark.sources.io import load_table
    from chicago_crime_spark_ml_spark.streaming import (
        run_stream_to_memory,
        stateful_user_totals,
        stream_events,
    )

    out = stateful_user_totals(stream_events(spark, sf_dir))
    run_stream_to_memory(out, "stateful_totals", output_mode="update")
    # update mode re-emits per micro-batch; the single-file source yields
    # one batch, but be robust: keep the LAST emission per user
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql(
            "SELECT user_id, n_events, total_value FROM stateful_totals"
        ).collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("total"),
        )
        .collect()
    )
    assert len(got) == len(batch) > 0
    for r in batch:
        n, total = got[r.user_id]
        assert n == r.n
        assert abs(total - r.total) < 1e-6


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    # the 100 TB layout contract: a filter on the partition column must
    # become a PartitionFilter (pruned directories), not a data filter
    from chicago_crime_spark_ml_spark.plans import explain_str
    from chicago_crime_spark_ml_spark.sources.io import load_table, write_parquet

    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    write_parquet(o, path, partition_by=["o_year"])
    back = spark.read.parquet(path).filter(F.col("o_year") == 1995)
    plan = explain_str(back, "formatted")
    assert "PartitionFilters" in plan and "o_year" in plan.split("PartitionFilters", 1)[1][:200]
    assert back.count() == o.filter(F.year("o_orderdate") == 1995).count()


def test_resize_and_frame_sample_plumbing(spark, sf_dir):
    from chicago_crime_spark_ml_spark.operators.multimodal import (
        attach_blob,
        resize_images,
        sample_frames,
    )
    from chicago_crime_spark_ml_spark.sources.io import load_table

    d = attach_blob(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    n_docs = d.count()

    rs = resize_images(d, width=32, height=32)
    assert rs.count() == n_docs                      # 1:1
    assert rs.filter(F.col("n_out_bytes") != 32 * 32).count() == 0
    # mean_byte is a REAL stat of the resized bytes: printable-ASCII text
    # blobs must land strictly inside (0, 1), not at the padding extremes
    bad = rs.filter(
        (F.col("mean_byte") <= 0.0) | (F.col("mean_byte") >= 1.0)
    ).count()
    assert bad == 0

    fr = sample_frames(d, n_frames=4)
    assert fr.count() == n_docs * 4                  # 1:N explosion
    per_doc = fr.groupBy("doc_id").count().filter(F.col("count") != 4).count()
    assert per_doc == 0
    # deterministic across runs (stub decode is pure byte math)
    a = sorted(map(tuple, sample_frames(d, n_frames=4)
                   .select("doc_id", "frame_idx").collect()))
    b = sorted(map(tuple, sample_frames(d, n_frames=4)
                   .select("doc_id", "frame_idx").collect()))
    assert a == b


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """Stream-stream inner join (purchases ⋈ errors per user within 1h)
    with watermarks on both sides — state-bounded two-stream correlation,
    the Structured Streaming feature batch can't emulate incrementally.
    Contract: after draining, emitted matches equal the batch join."""
    from chicago_crime_spark_ml_spark.streaming import (
        run_stream_to_memory,
        stream_events,
        stream_stream_interval_join,
    )

    def split(df):
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        e = df.filter(F.col("event_type") == "error").select(
            F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"),
            F.col("event_id").alias("e_id"),
        )
        return p, e

    cond = (
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR"))
    )

    from chicago_crime_spark_ml_spark.sources.io import load_table

    bp, be = split(load_table(spark, sf_dir, "events"))
    batch = {(r.p_id, r.e_id) for r in bp.join(be, cond).collect()}

    sp, se = split(stream_events(spark, sf_dir))
    joined = stream_stream_interval_join(
        sp, se,
        left_key="p_user", right_key="e_user",
        left_ts="p_ts", right_ts="e_ts",
        lower_s=0.0, upper_s=3600.0,
        left_watermark="2 hours", right_watermark="2 hours",
    )
    run_stream_to_memory(joined, "ss_join", output_mode="append")
    stream = {
        (r.p_id, r.e_id)
        for r in spark.sql("SELECT p_id, e_id FROM ss_join").collect()
    }
    assert stream == batch and len(batch) > 0


def test_audio_envelope_windows(spark, sf_dir):
    from chicago_crime_spark_ml_spark.operators.multimodal import (
        attach_blob,
        audio_window_envelope,
    )
    from chicago_crime_spark_ml_spark.sources.io import load_table

    d = attach_blob(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    out = audio_window_envelope(d, window_samples=64)
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    blob_lens = {r.doc_id: len(r.blob) for r in d.select("doc_id", "blob").collect()}
    for doc, wins in by_doc.items():
        wins.sort(key=lambda r: r.window_idx)
        # window count = ceil(bytes/64); all-but-last full; samples sum to len
        assert len(wins) == -(-blob_lens[doc] // 64)
        assert sum(w.n_samples for w in wins) == blob_lens[doc]
        assert all(0.0 <= w.rms <= w.peak <= 1.0 for w in wins)
    # determinism
    again = audio_window_envelope(d, window_samples=64).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_stream_dedup_within_watermark(spark, tmp_path):
    import datetime as dt

    from chicago_crime_spark_ml_spark.streaming import stream_dedup

    src = tmp_path / "dedup_src"
    src.mkdir()

    def emit(rows):
        spark.createDataFrame(
            rows, "event_id BIGINT, ts TIMESTAMP, v DOUBLE"
        ).coalesce(1).write.mode("append").parquet(str(src))

    t0 = dt.datetime(2026, 1, 1, 10)
    # batch 1: id 1 twice (intra-batch dup) + id 2
    emit([(1, t0, 1.0), (1, t0, 1.0), (2, t0, 2.0)])

    stream = spark.readStream.schema(
        "event_id BIGINT, ts TIMESTAMP, v DOUBLE"
    ).parquet(str(src))
    deduped = stream_dedup(stream, ["event_id"], watermark="1 hour")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("sdedup")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: id 1 again within the watermark (dropped) + id 3
        emit([(1, t0 + dt.timedelta(minutes=10), 9.0),
              (3, t0 + dt.timedelta(minutes=10), 3.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    ids = sorted(
        r.event_id for r in spark.sql("SELECT * FROM sdedup").collect()
    )
    assert ids == [1, 2, 3]  # each key exactly once


def test_stream_stream_left_outer_emits_unmatched(spark, tmp_path):
    """LEFT OUTER stream-stream join: unmatched left rows are held in
    state and emitted with NULL right side only once the watermark
    passes the join window — the state-eviction contract."""
    import datetime as dt

    src_l, src_r = tmp_path / "l", tmp_path / "r"
    src_l.mkdir(); src_r.mkdir()

    def emit(d, rows, schema):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))

    t0 = dt.datetime(2026, 1, 1, 0)
    # left: purchase at t0 with a match, and one at t0+2h with none
    emit(src_l, [(1, t0), (2, t0 + dt.timedelta(hours=2))], "p_id BIGINT, p_ts TIMESTAMP")
    emit(src_r, [(10, 1, t0 + dt.timedelta(minutes=30))], "e_id BIGINT, p_ref BIGINT, e_ts TIMESTAMP")

    left = spark.readStream.schema("p_id BIGINT, p_ts TIMESTAMP").parquet(str(src_l))
    right = spark.readStream.schema(
        "e_id BIGINT, p_ref BIGINT, e_ts TIMESTAMP"
    ).parquet(str(src_r))
    joined = left.withWatermark("p_ts", "1 hour").join(
        right.withWatermark("e_ts", "1 hour"),
        (F.col("p_id") == F.col("p_ref"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssoj")
        .start()
    )
    try:
        q.processAllAvailable()
        # push the watermark far past both join windows → unmatched row 2
        # must be evicted and emitted with NULL right columns
        emit(src_l, [(99, t0 + dt.timedelta(days=2))], "p_id BIGINT, p_ts TIMESTAMP")
        emit(src_r, [(98, 99, t0 + dt.timedelta(days=2))], "e_id BIGINT, p_ref BIGINT, e_ts TIMESTAMP")
        q.processAllAvailable()
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {r.p_id: r.e_id for r in spark.sql("SELECT * FROM ssoj").collect()}
    assert rows.get(1) == 10      # matched pair
    assert 2 in rows and rows[2] is None  # unmatched left emitted with NULLs


def test_incremental_rollup_foreachbatch_upsert(spark, tmp_path):
    """Streaming daily-count rollup maintained as a parquet table via
    foreachBatch + keyed upsert: after each drain, the table equals the
    batch aggregation of everything ingested so far."""
    import datetime as dt

    from chicago_crime_spark_ml_spark.streaming import (
        incremental_rollup_to_parquet,
    )

    src = tmp_path / "roll_src"
    src.mkdir()
    table, ckpt = str(tmp_path / "rollup"), str(tmp_path / "ckpt")

    def emit(rows):
        spark.createDataFrame(rows, "ts TIMESTAMP, v DOUBLE").coalesce(
            1
        ).write.mode("append").parquet(str(src))

    def table_state():
        return {
            (r.day, r.n) for r in spark.read.parquet(table).collect()
        }

    t = lambda d, h: dt.datetime(2026, 2, d, h)  # noqa: E731
    stream = spark.readStream.schema("ts TIMESTAMP, v DOUBLE").parquet(str(src))
    agg = (
        stream.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    emit([(t(1, 9), 1.0), (t(1, 10), 1.0), (t(2, 9), 1.0)])
    q = incremental_rollup_to_parquet(agg, table, ["day"], ckpt)
    try:
        q.processAllAvailable()
        assert table_state() == {(dt.datetime(2026, 2, 1), 2),
                                 (dt.datetime(2026, 2, 2), 1)}
        # batch 2 touches day 2 (updated in place) and adds day 3
        emit([(t(2, 11), 1.0), (t(3, 8), 1.0)])
        q.processAllAvailable()
        assert table_state() == {(dt.datetime(2026, 2, 1), 2),
                                 (dt.datetime(2026, 2, 2), 2),
                                 (dt.datetime(2026, 2, 3), 1)}
    finally:
        q.stop()


def test_transform_with_state_equals_batch(spark, sf_dir):
    # transformWithStateInPandas speaks protobuf to the JVM state server;
    # skip when the container's protobuf install is unusable
    pytest.importorskip("google.protobuf.descriptor")
    from chicago_crime_spark_ml_spark.sources.io import load_table
    from chicago_crime_spark_ml_spark.streaming import (
        stream_events,
        user_value_stats_tws,
    )

    ev = load_table(spark, sf_dir, "events")
    batch = {
        (r.user_id, r.n, round(r.total, 6))
        for r in ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("total"),
        ).collect()
    }

    out = user_value_stats_tws(stream_events(spark, sf_dir))
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("tws_totals")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # latest emission per user = final state
    rows = spark.sql(
        "SELECT user_id, n_events, total_value FROM tws_totals"
    ).groupBy("user_id").agg(
        F.max("n_events").alias("n"), F.max("total_value").alias("total")
    ).collect()
    stream = {(r.user_id, r.n, round(r.total, 6)) for r in rows}
    assert stream == batch


def test_map_in_arrow_equals_pandas_path(spark, sf_dir):
    from chicago_crime_spark_ml_spark.operators.multimodal import (
        attach_blob,
        extract_features,
        extract_features_arrow,
    )

    d = attach_blob(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    pandas_path = {r.doc_id: (r.n_bytes, r.features)
                   for r in extract_features(d).collect()}
    arrow_path = {r.doc_id: (r.n_bytes, r.features)
                  for r in extract_features_arrow(d).collect()}
    assert pandas_path == arrow_path and len(arrow_path) > 0


def test_stream_static_enrichment_equals_batch(spark, sf_dir):
    # stream-static join: per-user batch features attached to the event
    # stream must equal the same join done in batch — map-only (broadcast
    # static side), no state store involved.
    from chicago_crime_spark_ml_spark.sources.io import load_table
    from chicago_crime_spark_ml_spark.streaming import (
        enrich_with_static,
        run_stream_to_memory,
        stream_events,
    )

    batch = load_table(spark, sf_dir, "events")
    dim = batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("user_events_total")
    )
    enriched = enrich_with_static(
        stream_events(spark, sf_dir).select("event_id", "user_id"), dim, "user_id"
    )
    run_stream_to_memory(enriched, "enrich_static", output_mode="append")
    got = {
        (r["event_id"], r["user_events_total"])
        for r in spark.table("enrich_static").collect()
    }
    want = {
        (r["event_id"], r["user_events_total"])
        for r in batch.select("event_id", "user_id").join(dim, "user_id").collect()
    }
    assert got == want and len(got) > 0


def test_stateful_totals_on_rocksdb_state_store(spark, sf_dir):
    """Same keyed-state operator, RocksDB state store provider — the
    store that holds state on executor DISK at scale (memory-bounded,
    changelog-checkpointed) instead of the default in-memory HDFS-backed
    map. The provider is picked up at query START, so setting the conf
    around this one query is enough; results must be identical."""
    from chicago_crime_spark_ml_spark.sources.io import load_table
    from chicago_crime_spark_ml_spark.streaming import (
        run_stream_to_memory,
        stateful_user_totals,
        stream_events,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = stateful_user_totals(stream_events(spark, sf_dir))
        run_stream_to_memory(out, "rocksdb_totals", output_mode="update")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    got = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in spark.sql(
            "SELECT user_id, n_events, total_value FROM rocksdb_totals"
        ).collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("total"),
        )
        .collect()
    )
    assert len(got) == len(batch) > 0
    for r in batch:
        assert got[r.user_id] == (r.n, round(r.total, 6))


def test_streaming_checkpoint_recovery_no_duplicates(spark, tmp_path):
    """Exactly-once across QUERY RESTARTS: stop a checkpointed rollup
    stream, start a NEW query on the same checkpoint, feed more data —
    the offset log must resume past already-committed batches (no
    double-count of batch 1) while the new batch lands."""
    import datetime as dt

    from chicago_crime_spark_ml_spark.streaming import (
        incremental_rollup_to_parquet,
    )

    src = tmp_path / "ckpt_src"
    src.mkdir()
    table, ckpt = str(tmp_path / "ckpt_rollup"), str(tmp_path / "ckpt_log")

    def emit(rows):
        spark.createDataFrame(rows, "ts TIMESTAMP, v DOUBLE").coalesce(
            1
        ).write.mode("append").parquet(str(src))

    def make_query():
        stream = spark.readStream.schema("ts TIMESTAMP, v DOUBLE").parquet(
            str(src)
        )
        agg = stream.groupBy(
            F.date_trunc("day", "ts").alias("day")
        ).agg(F.count(F.lit(1)).alias("n"))
        return incremental_rollup_to_parquet(agg, table, ["day"], ckpt)

    t = lambda d, h: dt.datetime(2026, 3, d, h)  # noqa: E731
    emit([(t(1, 9), 1.0), (t(1, 10), 1.0)])
    q1 = make_query()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()

    emit([(t(1, 11), 1.0), (t(2, 9), 1.0)])
    q2 = make_query()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    state = {(r.day, r.n) for r in spark.read.parquet(table).collect()}
    assert state == {
        (dt.datetime(2026, 3, 1), 3),  # 2 from batch 1 + 1 new, not 5
        (dt.datetime(2026, 3, 2), 1),
    }


def test_append_mode_emits_only_watermark_closed_windows(spark, tmp_path):
    """Append-mode windowed aggregation: a window's row is emitted
    EXACTLY ONCE, and only after the watermark passes its end — the
    finalization contract downstream sinks rely on for immutable
    results (vs update/complete, which re-emit). Batch 1's window must
    appear only after batch 2 advances the watermark past it; the
    still-open window must stay unemitted."""
    import datetime as dt

    src = tmp_path / "append_src"
    src.mkdir()

    def emit(rows):
        spark.createDataFrame(rows, "ts TIMESTAMP, v DOUBLE").coalesce(
            1
        ).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema("ts TIMESTAMP, v DOUBLE").parquet(str(src))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("append_fin")
        .start()
    )
    try:
        t0 = dt.datetime(2026, 6, 1, 9, 0)
        emit([(t0, 1.0), (t0 + dt.timedelta(minutes=30), 1.0)])
        q.processAllAvailable()
        # watermark hasn't passed the 9:00-10:00 window end yet
        assert spark.table("append_fin").count() == 0

        # event at 11:30 -> watermark 11:20 > 10:00 -> first window closes
        emit([(dt.datetime(2026, 6, 1, 11, 30), 1.0)])
        q.processAllAvailable()
        q.processAllAvailable()
        rows = {
            (r.ws, r.n) for r in spark.table("append_fin").collect()
        }
        assert rows == {(t0, 2)}  # closed window emitted once; 11:00 window still open
    finally:
        q.stop()


def test_streaming_session_window_equals_batch(spark, sf_dir, tmp_path):
    """session_window under readStream: gap-merged sessions finalize in
    append mode once the watermark passes; a far-future sentinel event
    advances the (global) watermark so every real session closes. The
    emitted (user, session_start, n) rows must equal the batch
    session_window aggregation on the same data."""
    import datetime as dt

    from chicago_crime_spark_ml_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    src = tmp_path / "sess_src"
    src.mkdir()
    ev.coalesce(1).write.mode("append").parquet(str(src))

    batch = {
        (r.user_id, r["sw"]["start"], r.n)
        for r in ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    stream = spark.readStream.schema("user_id BIGINT, ts TIMESTAMP").parquet(
        str(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("sw.start").alias("start"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        # sentinel from a reserved user far in the future closes everything
        far = ev.agg(F.max("ts")).first()[0] + dt.timedelta(days=30)
        spark.createDataFrame(
            [(-1, far)], "user_id BIGINT, ts TIMESTAMP"
        ).coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.user_id, r.start, r.n)
        for r in spark.table("sess_stream").collect()
        if r.user_id != -1
    }
    assert got == batch and len(batch) > 0


def test_streaming_ohlc_equals_batch(spark, sf_dir):
    # min_by/max_by on the total-order struct inside a WATERMARKED
    # streaming window: daily OHLC bars from the stream must equal the
    # batch query bit-for-bit (same partial-agg expressions both modes)
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.queries import QUERIES
    from chicago_crime_spark_ml_spark.streaming import (
        run_stream_to_memory,
        stream_events,
    )

    ev = stream_events(spark, sf_dir).filter(F.col("value").isNotNull())
    key = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        ev.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(F.col("w.start").cast("date").alias("day"), "open", "high",
                "low", "close", "n_ticks")
    )
    run_stream_to_memory(agg, "ohlc_stream", output_mode="complete")
    got = {tuple(r) for r in spark.sql("SELECT * FROM ohlc_stream").collect()}
    want = {tuple(r) for r in QUERIES["daily_value_ohlc"](spark, sf_dir).collect()}
    assert got == want
    assert len(got) > 0


def test_multimodal_operators_skip_null_blobs(spark):
    """NULL blobs must be skipped (no TypeError in the Python worker,
    no sentinel row) — the operators are general plumbing, and one bad
    row must not kill a 100 TB job."""
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.multimodal import (
        audio_window_envelope,
        extract_features,
        resize_images,
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"hello media bytes")), (2, None), (3, bytearray(b""))],
        "doc_id BIGINT, blob BINARY",
    )
    feats = extract_features(df)
    assert {r.doc_id for r in feats.collect()} == {1, 3}
    rs = resize_images(df, width=4, height=4)
    assert {r.doc_id for r in rs.collect()} == {1, 3}
    fr = sample_frames(df, n_frames=2)
    assert {r.doc_id for r in fr.collect()} == {1}  # empty blob: 0 frames
    au = audio_window_envelope(df, window_samples=8)
    got = au.groupBy("doc_id").count().collect()
    assert {r.doc_id for r in got} == {1, 3}
    # non-null rows keep exact per-row contracts despite the skip path
    assert feats.filter(F.col("doc_id") == 1).first().n_bytes == 17


def test_stream_real_png_frame_decode_equals_batch(spark, tmp_path):
    """REAL codec under readStream (r7, VERDICT r6 stretch #8): blobs of
    concatenated PNG frames flow through sample_frames(decode_stub=False)
    — the stdlib-zlib PNG decoder inside a streaming mapInPandas stage —
    and the emitted frame features must equal the batch path exactly.
    The decode is stateless map work, so stream==batch is bit-for-bit."""
    import numpy as np

    from chicago_crime_spark_ml_spark.operators.multimodal import (
        encode_png,
        sample_frames,
    )

    rng = np.random.default_rng(59)
    rows = []
    for doc_id in range(1, 6):
        frames = [
            rng.integers(0, 256, size=(4, 5)) for _ in range(doc_id + 2)
        ]
        rows.append((doc_id, bytearray(b"".join(encode_png(f) for f in frames))))
    src = tmp_path / "png_stream_src"
    src.mkdir()
    bdf = spark.createDataFrame(rows, "doc_id BIGINT, blob BINARY")
    bdf.coalesce(1).write.mode("append").parquet(str(src))

    batch = {
        (r.doc_id, r.frame_idx, tuple(r.frame_features))
        for r in sample_frames(bdf, n_frames=3, decode_stub=False).collect()
    }

    stream = spark.readStream.schema("doc_id BIGINT, blob BINARY").parquet(
        str(src)
    )
    out = sample_frames(stream, n_frames=3, decode_stub=False)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("png_frames_stream")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.doc_id, r.frame_idx, tuple(r.frame_features))
        for r in spark.table("png_frames_stream").collect()
    }
    assert got == batch and len(batch) == 15  # 5 docs x 3 sampled frames


def test_stream_flac_envelope_equals_batch(spark, tmp_path):
    """FLAC under readStream: the pure-stdlib lossless decoder runs in a
    streaming stage via audio_window_envelope(decode_stub=False) and the
    windowed rms/peak equal the batch path exactly."""
    import numpy as np

    from chicago_crime_spark_ml_spark.operators.flac import encode_flac
    from chicago_crime_spark_ml_spark.operators.multimodal import (
        audio_window_envelope,
    )

    rows = []
    for doc_id in range(1, 5):
        x = np.sin(np.linspace(0, doc_id * 2.0, 300)) * 0.6
        rows.append((doc_id, bytearray(encode_flac(x, bps=16, rate=8000))))
    src = tmp_path / "flac_stream_src"
    src.mkdir()
    bdf = spark.createDataFrame(rows, "doc_id BIGINT, blob BINARY")
    bdf.coalesce(1).write.mode("append").parquet(str(src))

    batch = {
        tuple(r)
        for r in audio_window_envelope(
            bdf, window_samples=128, decode_stub=False
        ).collect()
    }
    stream = spark.readStream.schema("doc_id BIGINT, blob BINARY").parquet(
        str(src)
    )
    out = audio_window_envelope(stream, window_samples=128, decode_stub=False)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("flac_env_stream")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {tuple(r) for r in spark.table("flac_env_stream").collect()}
    assert got == batch and len(batch) == 4 * 3  # 300 samples / 128 -> 3 windows


def test_streaming_near_dup_ingest_equals_batch(spark, tmp_path):
    """Continuous-ingestion LSH dedup (r7): docs arrive in two
    micro-batches; the union of per-batch candidate pairs must equal
    the pairs of a FULL batch rebuild over all docs (every pair
    involves some batch's delta at the time its later doc arrives),
    and the persisted index must hold every doc's band rows."""
    from chicago_crime_spark_ml_spark.operators.dedup import lsh_band_index
    from chicago_crime_spark_ml_spark.streaming import (
        streaming_near_dup_ingest,
    )

    near1 = "the quick brown fox jumps over the lazy dog again and again"
    near2 = near1 + " ok"
    near3 = "the quick brown fox jumps over the lazy dog again and anew"
    rows1 = [(1, near1), (2, "completely unrelated text about spark plans")]
    rows2 = [(3, near2), (4, near3), (5, "another unrelated document here")]
    schema = "doc_id BIGINT, text STRING"

    src = tmp_path / "docs_src"
    src.mkdir()
    index_path = str(tmp_path / "lsh_index")
    pairs_path = str(tmp_path / "lsh_pairs")

    def emit(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    emit(rows1)
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = streaming_near_dup_ingest(
        stream, index_path, pairs_path, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        emit(rows2)
        q.processAllAvailable()
    finally:
        q.stop()

    got_pairs = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(pairs_path).collect()
    }
    # full-rebuild ground truth: band-bucket self-join over ALL docs
    all_docs = spark.createDataFrame(rows1 + rows2, schema)
    idx = lsh_band_index(all_docs).alias("a")
    other = lsh_band_index(all_docs).alias("b")
    want = {
        (r.id_a, r.id_b)
        for r in idx.join(other, ["band", "bucket"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("id_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
        )
        .distinct()
        .collect()
    }
    assert got_pairs == want
    assert (1, 3) in got_pairs  # a cross-batch near-dup was caught
    # the persisted index covers every ingested doc
    idx_docs = {
        r.doc_id for r in spark.read.parquet(index_path).collect()
    }
    assert idx_docs == {1, 2, 3, 4, 5}


def test_streaming_media_near_dup_ingest_equals_batch(spark, tmp_path):
    """Continuous-ingestion IMAGE dedup (r8): blobs arrive in two
    micro-batches; the union of per-batch candidate pairs must equal
    the full-rebuild banded pairs (every pair involves some batch's
    delta when its later doc arrives), and the persisted index must
    cover every doc. Audio modality sanity-checked through the same
    sink; unknown modality raises."""
    import numpy as np

    from chicago_crime_spark_ml_spark.operators.multimodal import (
        dhash_band_index,
        encode_netpbm,
        encode_wav,
        image_dhash,
    )
    from chicago_crime_spark_ml_spark.streaming import (
        streaming_media_near_dup_ingest,
    )

    rng = np.random.default_rng(113)
    a = rng.integers(0, 256, size=(16, 18))
    tweaked = a.copy()
    tweaked[1, 1] = (tweaked[1, 1] + 90) % 256  # unsampled: same dHash
    others = [rng.integers(0, 256, size=(16, 18)) for _ in range(3)]

    def blob(p):
        return bytearray(encode_netpbm(p.astype(np.int64)))

    rows1 = [(1, blob(a)), (2, blob(others[0]))]
    rows2 = [(3, blob(a)), (4, blob(tweaked)), (5, blob(others[1]))]
    schema = "doc_id BIGINT, blob BINARY"
    src = tmp_path / "img_src"
    src.mkdir()
    index_path = str(tmp_path / "img_index")
    pairs_path = str(tmp_path / "img_pairs")

    def emit(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    emit(rows1)
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = streaming_media_near_dup_ingest(
        stream, index_path, pairs_path, str(tmp_path / "img_ckpt")
    )
    try:
        q.processAllAvailable()
        emit(rows2)
        q.processAllAvailable()
    finally:
        q.stop()

    got_pairs = {
        (r.id_a, r.id_b) for r in spark.read.parquet(pairs_path).collect()
    }
    all_blobs = spark.createDataFrame(rows1 + rows2, schema)
    sig = image_dhash(all_blobs).localCheckpoint(eager=True)
    idx = dhash_band_index(sig, band_bytes=2).alias("a")
    other = dhash_band_index(sig, band_bytes=2).alias("b")
    want = {
        (r.id_a, r.id_b)
        for r in idx.join(other, ["band", "byte"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("id_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
        )
        .distinct()
        .collect()
    }
    assert got_pairs == want
    assert (1, 3) in got_pairs and (1, 4) in got_pairs  # cross-batch dups
    idx_docs = {r.doc_id for r in spark.read.parquet(index_path).collect()}
    assert idx_docs == {1, 2, 3, 4, 5}

    # audio modality through the same sink: WAV and its FLAC twin
    # arriving in separate batches must pair via the persisted index
    from chicago_crime_spark_ml_spark.operators.flac import encode_flac

    amps = np.repeat(np.linspace(0.05, 0.9, 65), 3)
    x = amps * np.where(np.arange(195) % 2 == 0, 1.0, -1.0)
    asrc = tmp_path / "aud_src"
    asrc.mkdir()
    aindex, apairs = str(tmp_path / "aud_index"), str(tmp_path / "aud_pairs")

    def aemit(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(asrc))

    aemit([(1, bytearray(encode_wav(x, width=2)))])
    astream = spark.readStream.schema(schema).parquet(str(asrc))
    aq = streaming_media_near_dup_ingest(
        astream, aindex, apairs, str(tmp_path / "aud_ckpt"), modality="audio"
    )
    try:
        aq.processAllAvailable()
        aemit([(2, bytearray(encode_flac(x)))])
        aq.processAllAvailable()
    finally:
        aq.stop()
    apairs_got = {
        (r.id_a, r.id_b) for r in spark.read.parquet(apairs).collect()
    }
    assert (1, 2) in apairs_got  # cross-codec, cross-batch audio dup

    with pytest.raises(ValueError, match="modality"):
        streaming_media_near_dup_ingest(
            stream, index_path, pairs_path, str(tmp_path), modality="text"
        )


def test_streaming_ivf_ingest_stream_equals_batch(spark, tmp_path):
    """Embedding micro-batches land in the IVF index via per-batch
    ingest partitions: after the drain the index holds base + all delta
    vectors exactly once, and a probe finds a streamed vector."""
    import numpy as np

    from chicago_crime_spark_ml_spark.operators.similarity import (
        probe_ivf_index,
        write_ivf_index,
    )
    from chicago_crime_spark_ml_spark.streaming import streaming_ivf_ingest

    rng = np.random.default_rng(137)
    dim = 8

    def vecs(ids):
        return [
            (int(i), [float(x) for x in rng.normal(size=dim)]) for i in ids
        ]

    base = spark.createDataFrame(
        vecs(range(100)), "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    path = str(tmp_path / "ivf_stream_index")
    write_ivf_index(base, path, n_clusters=4)

    src = tmp_path / "vec_src"
    src.mkdir()
    for batch, ids in enumerate((range(100, 110), range(110, 120))):
        spark.createDataFrame(
            vecs(ids), "vec_id BIGINT, embedding ARRAY<DOUBLE>"
        ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("vec_id BIGINT, embedding ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = streaming_ivf_ingest(
        stream, path, str(tmp_path / "ivf_ckpt"), query_name="ivf_ing_t"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    idx = spark.read.parquet(path)
    assert idx.count() == 120
    assert idx.groupBy("vec_id").count().filter("count > 1").count() == 0
    ingests = {r.ingest for r in idx.select("ingest").distinct().collect()}
    assert "base" in ingests and len(ingests) >= 2  # per-batch partitions
    # a probe for a streamed vector's own embedding finds it top-1
    qvec = [
        float(x)
        for x in spark.read.parquet(str(src))
        .filter("vec_id = 115")
        .first()["embedding"]
    ]
    top = probe_ivf_index(spark, path, qvec, k=3, n_probe=4).collect()
    assert top[0].vec_id == 115 and top[0].cosine == 1.0


def test_compact_ingest_index_preserves_probe_semantics(spark, tmp_path):
    """Small-files maintenance for per-batch ingest indexes: after two
    micro-batches the index compacts into one partition with identical
    content (minus provenance), far fewer files, and a resumed stream
    keeps pairing new docs against the COMPACTED history."""
    import glob

    from chicago_crime_spark_ml_spark.sources.io import compact_ingest_index
    from chicago_crime_spark_ml_spark.streaming import (
        streaming_near_dup_ingest,
    )

    near1 = "the quick brown fox jumps over the lazy dog again and again"
    rows1 = [(1, near1), (2, "completely unrelated text about spark plans")]
    rows2 = [(3, "yet another unrelated document entirely"), (4, "and one more filler row")]
    schema = "doc_id BIGINT, text STRING"
    src = tmp_path / "csrc"
    src.mkdir()
    index_path = str(tmp_path / "c_index")
    pairs_path = str(tmp_path / "c_pairs")

    def emit(rows):
        spark.createDataFrame(rows, schema).coalesce(4).write.mode(
            "append"
        ).parquet(str(src))

    emit(rows1)
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = streaming_near_dup_ingest(
        stream, index_path, pairs_path, str(tmp_path / "c_ckpt")
    )
    try:
        q.processAllAvailable()
        emit(rows2)
        q.processAllAvailable()
    finally:
        q.stop()

    before = {
        (r.doc_id, r.band, r.bucket)
        for r in spark.read.parquet(index_path).collect()
    }
    n_files_before = len(
        glob.glob(f"{index_path}/batch_id=*/part-*")
    )
    written = compact_ingest_index(spark, index_path)
    after_df = spark.read.parquet(index_path)
    after = {
        (r.doc_id, r.band, r.bucket) for r in after_df.collect()
    }
    assert after == before                      # content preserved
    assert written == 1 < n_files_before        # actually compacted
    assert after_df.select("batch_id").distinct().count() == 1

    # a resumed stream still pairs a new near-dup against COMPACTED
    # history (same checkpoint — the source continues where it left off)
    emit([(9, near1 + " ok")])
    stream2 = spark.readStream.schema(schema).parquet(str(src))
    q2 = streaming_near_dup_ingest(
        stream2, index_path, pairs_path, str(tmp_path / "c_ckpt")
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got_pairs = {
        (r.id_a, r.id_b) for r in spark.read.parquet(pairs_path).collect()
    }
    assert (1, 9) in got_pairs
    idx_docs = {r.doc_id for r in spark.read.parquet(index_path).collect()}
    assert idx_docs == {1, 2, 3, 4, 9}


def test_compact_ingest_index_crash_recovery(spark, tmp_path):
    """ADVICE r9: the compaction swap must never leave the dataset
    deleted-but-unreplaced. Simulate both crash points of the
    rename-aside protocol and assert the next compaction run restores
    and completes with identical content."""
    import os
    import shutil

    from chicago_crime_spark_ml_spark.sources.io import compact_ingest_index

    index_path = str(tmp_path / "r_index")
    for bid in (0, 1):
        spark.createDataFrame(
            [(bid * 10 + i, i % 3, i) for i in range(6)],
            "doc_id BIGINT, band INT, bucket BIGINT",
        ).coalesce(3).write.mode("append").parquet(
            f"{index_path}/batch_id={bid}"
        )
    before = {
        (r.doc_id, r.band, r.bucket)
        for r in spark.read.parquet(index_path).collect()
    }

    # crash point A: between the two renames (live path missing, all
    # data under __old) — preamble must rename it back and compact
    os.rename(index_path, index_path + "__old")
    assert not os.path.exists(index_path)
    compact_ingest_index(spark, index_path)
    after_a = {
        (r.doc_id, r.band, r.bucket)
        for r in spark.read.parquet(index_path).collect()
    }
    assert after_a == before
    assert not os.path.exists(index_path + "__old")

    # crash point B: during the final delete (live path present AND a
    # stale __old) — preamble must discard the garbage, not the data
    shutil.copytree(index_path, index_path + "__old")
    compact_ingest_index(spark, index_path)
    after_b = {
        (r.doc_id, r.band, r.bucket)
        for r in spark.read.parquet(index_path).collect()
    }
    assert after_b == before
    assert not os.path.exists(index_path + "__old")


def test_read_state_latest_by_manifest(spark, tmp_path):
    """r12 (VERDICT r11 #5): the latest-wins read takes its
    multi-version set from the store's tiny _mv manifest, NOT from an
    aggregate over the store — the store is scanned exactly ONCE per
    read (plan-asserted), the empty-manifest fast path skips the join
    entirely, and the crash-replay guard excludes the current batch
    from the manifest too."""
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.plans import explain_str
    from chicago_crime_spark_ml_spark.streaming import (
        _read_state_latest_by,
        _write_multiversion_manifest,
    )

    path = str(tmp_path / "lw_store")
    rows = {
        0: [(1, "v1-a"), (1, "v1-b")],
        1: [(2, "x")],
        2: [(1, "v2-a")],  # changed re-send of id 1
    }
    for bid, rs in rows.items():
        spark.createDataFrame(rs, "doc_id BIGINT, term STRING").write.mode(
            "overwrite"
        ).parquet(f"{path}/batch_id={bid}")
        resent = spark.createDataFrame(
            [(1,)] if bid == 2 else [], "doc_id BIGINT"
        )
        _write_multiversion_manifest(resent, [path], bid, "doc_id")

    def read(bid):
        return _read_state_latest_by(
            spark,
            path,
            bid,
            "doc_id",
            ["doc_id", "term"],
            "doc_id bigint, term string",
        )

    got = {(r.doc_id, r.term) for r in read(5).collect()}
    assert got == {(1, "v2-a"), (2, "x")}
    # crash-replay of the changed batch: its manifest entry AND its
    # store partition are excluded — id 1 resolves to v1
    got_replay = {(r.doc_id, r.term) for r in read(2).collect()}
    assert got_replay == {(1, "v1-a"), (1, "v1-b"), (2, "x")}
    # plan shape: ONE parquet scan (the store; the manifest set is a
    # checkpointed literal behind the broadcast), NO aggregate
    plan = explain_str(read(5), "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "Aggregate" not in plan, plan
    # empty multi-version set (the every-batch common case): the read
    # is the bare exclusion filter — no join at all
    empty_store = str(tmp_path / "lw_empty")
    spark.createDataFrame(
        rows[1], "doc_id BIGINT, term STRING"
    ).write.mode("overwrite").parquet(f"{empty_store}/batch_id=0")
    _write_multiversion_manifest(
        spark.createDataFrame([], "doc_id BIGINT"), [empty_store], 0, "doc_id"
    )
    fast = _read_state_latest_by(
        spark,
        empty_store,
        3,
        "doc_id",
        ["doc_id", "term"],
        "doc_id bigint, term string",
    )
    assert "Join" not in explain_str(fast, "simple")
    assert fast.count() == 1
    # pre-manifest stores read as all-single-version
    legacy = str(tmp_path / "lw_legacy")
    spark.createDataFrame(
        rows[1], "doc_id BIGINT, term STRING"
    ).write.mode("overwrite").parquet(f"{legacy}/batch_id=0")
    assert _read_state_latest_by(
        spark,
        legacy,
        3,
        "doc_id",
        ["doc_id", "term"],
        "doc_id bigint, term string",
    ).count() == 1


def test_compact_ingest_index_reserved_batch_survives_replay(
    spark, tmp_path
):
    """r12 (ADVICE r11): compaction must stamp a batch id NO replay can
    collide with. Under the old max-seen stamp, a crash between batch
    max_bid's state write and its checkpoint commit followed by a
    compaction meant the replayed batch (a) excluded the ENTIRE
    compacted store from its state read (delta computed against
    nothing) and (b) overwrote the compacted corpus with just its own
    rows. With the -1 sentinel both failure legs are closed."""
    import os

    from chicago_crime_spark_ml_spark.sources.io import (
        RESERVED_COMPACTED_BATCH,
        compact_ingest_index,
    )
    from chicago_crime_spark_ml_spark.streaming import (
        _read_state_excluding_batch,
    )

    index_path = str(tmp_path / "replay_index")
    for bid in (0, 1):
        spark.createDataFrame(
            [(bid * 10 + i, i % 3, i) for i in range(6)],
            "doc_id BIGINT, band INT, bucket BIGINT",
        ).write.mode("overwrite").parquet(f"{index_path}/batch_id={bid}")
    before = {
        (r.doc_id, r.band, r.bucket)
        for r in spark.read.parquet(index_path).collect()
    }
    compact_ingest_index(spark, index_path)
    assert os.path.isdir(
        os.path.join(index_path, f"batch_id={RESERVED_COMPACTED_BATCH}")
    )
    # leg (a): the replayed last batch still sees ALL compacted history
    seen = {
        (r.doc_id, r.band, r.bucket)
        for r in _read_state_excluding_batch(
            spark,
            index_path,
            1,
            ["doc_id", "band", "bucket"],
            "doc_id bigint, band int, bucket bigint",
        ).collect()
    }
    assert seen == before
    # leg (b): the replayed batch's per-batch overwrite lands in its
    # OWN partition; the compacted corpus is untouched
    spark.createDataFrame(
        [(11, 1, 1)], "doc_id BIGINT, band INT, bucket BIGINT"
    ).write.mode("overwrite").parquet(f"{index_path}/batch_id=1")
    after = {
        (r.doc_id, r.band, r.bucket)
        for r in spark.read.parquet(index_path).collect()
    }
    assert before <= after  # nothing lost — worst case duplicates


def _run_lexical_stream(spark, tmp_path, batches):
    """Feed ``batches`` (lists of (doc_id, text)) through
    streaming_lexical_ingest, one micro-batch each. Returns the postings
    and doclen store paths and the Spark jobs each batch started
    (status-tracker job ids of the stream's run, as deltas)."""
    from chicago_crime_spark_ml_spark.streaming import (
        streaming_lexical_ingest,
    )

    schema = "doc_id BIGINT, text STRING"
    src = tmp_path / "lex_src"
    src.mkdir()
    post_path = str(tmp_path / "lex_postings")
    len_path = str(tmp_path / "lex_doclen")
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = streaming_lexical_ingest(
        stream, post_path, len_path, str(tmp_path / "lex_ckpt")
    )
    tracker = spark.sparkContext.statusTracker()
    jobs, seen = [], set()
    try:
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
            q.processAllAvailable()
            ids = set(tracker.getJobIdsForGroup(str(q.runId)))
            jobs.append(len(ids - seen))
            seen |= ids
    finally:
        q.stop()
    return post_path, len_path, jobs


def test_streaming_lexical_ingest_search_equals_batch(spark, tmp_path):
    """Retrieval joins the streaming ingest family: after two
    micro-batches the maintained (postings, doclen) directories serve
    the SAME BM25 top-k as a batch run over the full corpus, and a
    re-sent doc appends nothing."""
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.text import (
        bm25_search,
        bm25_search_from_index,
    )

    rows1 = [
        (1, "spark window table spark"),
        (2, "table of contents and a window seat"),
    ]
    rows2 = [
        (3, "spark spark spark everywhere"),
        (2, "table of contents and a window seat"),  # re-sent, identical
    ]
    schema = "doc_id BIGINT, text STRING"
    post_path, len_path, _ = _run_lexical_stream(
        spark, tmp_path, [rows1, rows2]
    )

    postings = spark.read.parquet(post_path).select("doc_id", "term", "tf")
    doclen = spark.read.parquet(len_path).select("doc_id", "dl")
    # the re-sent doc 2 appended nothing: one dl row per doc
    assert doclen.groupBy("doc_id").count().filter(
        F.col("count") > 1
    ).count() == 0

    corpus = spark.createDataFrame(rows1 + rows2[:1], schema)
    want = [
        (r.doc_id, r.bm25)
        for r in bm25_search(
            corpus, ["spark", "table", "window"], k=10
        ).collect()
    ]
    got = [
        (r.doc_id, r.bm25)
        for r in bm25_search_from_index(
            postings, doclen, ["spark", "table", "window"], k=10
        ).collect()
    ]
    assert got == want and len(got) == 3


def test_streaming_lexical_ingest_changed_resend_latest_wins(
    spark, tmp_path
):
    """A CHANGED re-send through the lexical stream: batch 2 re-sends
    doc 2 with new text, batch 3 replays batch 2's input. Each store
    records doc 2 in its ``_mv`` manifest exactly once (the replay is
    an identical re-send of v2 and appends nothing), the latest-wins
    reads return only v2's postings and dl, and BM25 over them equals
    bm25_search over the latest corpus."""
    from chicago_crime_spark_ml_spark.operators.text import (
        bm25_search,
        bm25_search_from_index,
        lexical_index,
    )
    from chicago_crime_spark_ml_spark.sources.io import mv_manifest_path
    from chicago_crime_spark_ml_spark.streaming import (
        _state_schema,
        read_state_latest,
    )

    rows1 = [
        (1, "spark window table spark"),
        (2, "table of contents and a window seat"),
    ]
    rows2 = [
        (2, "window window spark spark spark table"),  # changed re-send
        (3, "spark spark spark everywhere"),
    ]
    post_path, len_path, _ = _run_lexical_stream(
        spark, tmp_path, [rows1, rows2, rows2]
    )

    for store in (post_path, len_path):
        mv = spark.read.parquet(mv_manifest_path(store))
        assert [(r.doc_id, r.batch_id) for r in mv.collect()] == [(2, 1)]
    # append-only: v1 stays stored, the replay appended nothing
    raw_len = spark.read.parquet(len_path)
    assert sorted((r.doc_id, r.batch_id) for r in raw_len.collect()) == [
        (1, 0), (2, 0), (2, 1), (3, 1),
    ]

    def latest(store, kind):
        return read_state_latest(
            spark, store, "doc_id", *_state_schema(kind, "doc_id")
        )

    postings = latest(post_path, "lexical_postings")
    doclen = latest(len_path, "lexical_doclen")
    corpus = spark.createDataFrame(
        [rows1[0], *rows2], "doc_id BIGINT, text STRING"
    )
    want_post, want_len = lexical_index(corpus)
    assert sorted(postings.collect()) == sorted(want_post.collect())
    assert sorted(doclen.collect()) == sorted(want_len.collect())
    terms = ["spark", "table", "window"]
    want = [(r.doc_id, r.bm25) for r in bm25_search(corpus, terms).collect()]
    got = [
        (r.doc_id, r.bm25)
        for r in bm25_search_from_index(postings, doclen, terms).collect()
    ]
    assert got == want and len(got) == 3


def test_streaming_lexical_ingest_job_budget(spark, tmp_path):
    """Spark jobs each lexical micro-batch starts after the first, the
    way test_plans budgets Exchanges: the state stores open with their
    declared schemas (no inference job), the batch is tokenized once,
    the re-send verdict is materialized once and the changed-id set is
    checked once for both manifests. The counts repeat exactly from
    run to run; a job added to the per-batch path shows here."""
    batches = [
        [(b * 10 + i, f"spark table window doc {b} {i}") for i in range(5)]
        for b in range(3)
    ]
    batches[2][0] = (10, "spark table window doc 1 0")  # identical re-send
    _, _, jobs = _run_lexical_stream(spark, tmp_path, batches)
    # batch 1: new docs only; batch 2: a re-send runs the dup joins
    budget = [11, 18]
    assert all(n <= b for n, b in zip(jobs[1:], budget)), (jobs, budget)


@pytest.mark.parametrize("kind", sorted(_STATE_SCHEMAS))
def test_declared_state_schemas_match_inferred_reads(spark, tmp_path, kind):
    """Each state store the sinks open with a DECLARED schema (no footer
    inference) must read the same rows with the same column types as
    an inferred read of the same files — over per-batch partitions, a
    store compacted to ``batch_id=-1``, an existing empty directory
    and a missing path. The stores hold the delta operators' own
    output, the rows the sinks write."""
    import os
    import shutil

    import numpy as np

    from chicago_crime_spark_ml_spark.operators.dedup import lsh_index_delta
    from chicago_crime_spark_ml_spark.operators.multimodal import (
        dhash_index_delta,
        encode_netpbm,
        frame_index_delta,
        frame_stream_dhash,
        image_dhash,
    )
    from chicago_crime_spark_ml_spark.operators.text import (
        lexical_index_delta,
    )
    from chicago_crime_spark_ml_spark.sources.io import (
        compact_ingest_index,
        try_read_parquet,
    )
    from chicago_crime_spark_ml_spark.streaming import (
        _read_state_excluding_batch,
        _state_schema,
    )

    cols, ddl = _state_schema(kind, "doc_id")
    empty = spark.createDataFrame([], ddl)
    rng = np.random.default_rng(7)

    def blob(*frames):
        return bytearray(b"".join(encode_netpbm(f) for f in frames))

    def rows_of_batch(b):
        ids = [b * 10 + i for i in range(3)]
        if kind in ("dhash_index", "frame_index"):
            n_frames = 2 if kind == "frame_index" else 1
            blobs = spark.createDataFrame(
                [
                    (i, blob(*rng.integers(0, 256, (n_frames, 16, 18))))
                    for i in ids
                ],
                "doc_id BIGINT, blob BINARY",
            )
            if kind == "dhash_index":
                return dhash_index_delta(empty, image_dhash(blobs))[0]
            return frame_index_delta(empty, frame_stream_dhash(blobs))[0]
        docs = spark.createDataFrame(
            [(i, f"spark table window doc {i} of batch {b}") for i in ids],
            "doc_id BIGINT, text STRING",
        )
        if kind == "docs":
            return docs.select("doc_id", "text")
        if kind == "lsh_index":
            return lsh_index_delta(empty, docs)[0]
        post, dlen = lexical_index_delta(
            *(
                spark.createDataFrame([], _state_schema(k, "doc_id")[1])
                for k in ("lexical_postings", "lexical_doclen")
            ),
            docs,
        )
        return post if kind == "lexical_postings" else dlen

    def read_both(path, batch_id):
        declared = _read_state_excluding_batch(
            spark, path, batch_id, [*cols, "batch_id"],
            ddl + ", batch_id bigint",
        )
        inferred = try_read_parquet(spark, path)
        if inferred is None:
            inferred = spark.createDataFrame([], ddl + ", batch_id bigint")
        inferred = inferred.filter(F.col("batch_id") != batch_id).select(
            *cols, "batch_id"
        )
        return declared, inferred

    def same(declared, inferred):
        # data columns keep their types; batch_id is declared bigint
        # where inference picks int, so compare its values
        assert declared.select(*cols).dtypes == inferred.select(*cols).dtypes
        assert sorted(map(tuple, declared.collect())) == sorted(
            map(tuple, inferred.collect())
        )

    store = str(tmp_path / kind)
    for b in range(3):
        rows_of_batch(b).write.mode("overwrite").parquet(
            f"{store}/batch_id={b}"
        )
    declared, inferred = read_both(store, 2)
    assert declared.count() > 0
    same(declared, inferred)

    compacted = str(tmp_path / f"{kind}_compacted")
    shutil.copytree(store, compacted)
    compact_ingest_index(spark, compacted)
    assert [
        d for d in os.listdir(compacted) if d.startswith("batch_id=")
    ] == ["batch_id=-1"]
    same(*read_both(compacted, 3))

    empty_dir = tmp_path / f"{kind}_empty"
    empty_dir.mkdir()
    for path in (str(empty_dir), str(tmp_path / f"{kind}_missing")):
        declared, inferred = read_both(path, 0)
        assert declared.count() == 0
        same(declared, inferred)


def test_streaming_cluster_maintenance_equals_batch(spark, tmp_path):
    """The streaming cluster capstone: after two micro-batches (with a
    cross-batch near-dup and a re-sent doc) the labels store equals a
    full batch near-dup clustering over the same corpus, and only
    label buckets — never the whole store — were rewritten."""
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from chicago_crime_spark_ml_spark.streaming import (
        streaming_cluster_maintenance,
    )

    near = (
        "the quick brown fox jumps over the lazy dog again and again today"
    )
    rows1 = [
        (1, near),
        (2, "completely unrelated text about catalyst query planning"),
    ]
    rows2 = [
        (3, near + " ok"),  # near-dup of doc 1, lands in a later batch
        (4, "another unrelated document entirely about parquet footers"),
        (2, "completely unrelated text about catalyst query planning"),
    ]
    schema = "doc_id BIGINT, text STRING"
    src = tmp_path / "cm_src"
    src.mkdir()
    paths = {
        k: str(tmp_path / f"cm_{k}")
        for k in ("index", "docs", "labels", "ckpt")
    }

    def emit(rows):
        spark.createDataFrame(rows, schema).coalesce(2).write.mode(
            "append"
        ).parquet(str(src))

    emit(rows1)
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = streaming_cluster_maintenance(
        stream, paths["index"], paths["docs"], paths["labels"],
        paths["ckpt"],
    )
    try:
        q.processAllAvailable()
        emit(rows2)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.node, r.label)
        for r in spark.read.parquet(paths["labels"]).collect()
    }
    corpus = spark.createDataFrame(rows1 + rows2[:2], schema)
    want = {
        (r.node, r.label)
        for r in connected_components(
            minhash_lsh_pairs(
                corpus, num_hashes=32, jaccard_threshold=0.8, band_width=2
            )
        ).collect()
    }
    assert got == want
    assert (1, 1) in got and (3, 1) in got  # cross-batch pair clustered
    # docs store is id-unique despite the re-sent doc 2
    docs = spark.read.parquet(paths["docs"])
    assert docs.groupBy("doc_id").count().filter(
        F.col("count") > 1
    ).count() == 0


def test_streaming_ingest_crash_replay_keeps_index(spark, tmp_path):
    """r10 replay-safety regression: a replayed micro-batch previously
    read its OWN prior output from the index, the dup-id drop emptied
    the recomputed rows, and the per-batch overwrite erased the
    batch's postings. Simulate the replay by deleting the checkpoint
    (the source re-delivers every batch over the existing output dirs)
    and assert the index is unchanged — not emptied."""
    import shutil

    from chicago_crime_spark_ml_spark.streaming import (
        streaming_near_dup_ingest,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "completely unrelated text about spark plans and codegen"),
    ]
    schema = "doc_id BIGINT, text STRING"
    src = tmp_path / "cr_src"
    src.mkdir()
    index_path = str(tmp_path / "cr_index")
    pairs_path = str(tmp_path / "cr_pairs")
    ckpt = str(tmp_path / "cr_ckpt")
    spark.createDataFrame(rows, schema).coalesce(2).write.mode(
        "append"
    ).parquet(str(src))

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = streaming_near_dup_ingest(stream, index_path, pairs_path, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()
    before = {
        (r.doc_id, r.band, r.bucket)
        for r in spark.read.parquet(index_path).collect()
    }
    assert before  # postings exist after the first run

    shutil.rmtree(ckpt)  # lose the commit log -> full replay
    run()
    after = {
        (r.doc_id, r.band, r.bucket)
        for r in spark.read.parquet(index_path).collect()
    }
    assert after == before  # replay rewrote itself, lost nothing


def test_compact_replace_after_changed_resend_stream(spark, tmp_path):
    """r11 (VERDICT r10 #1): a changed-content re-send through the
    streaming near-dup sink leaves BOTH versions' band rows in the
    append-only store; compact_ingest_index(replace_latest_by=...)
    must keep only the latest version, making the compacted store
    row-for-row equal to a rebuild over the latest contents."""
    from chicago_crime_spark_ml_spark.operators.dedup import lsh_band_index
    from chicago_crime_spark_ml_spark.sources.io import compact_ingest_index
    from chicago_crime_spark_ml_spark.streaming import (
        streaming_near_dup_ingest,
    )

    schema = "doc_id BIGINT, text STRING"
    src = tmp_path / "rsrc"
    src.mkdir()
    index_path = str(tmp_path / "r_index")

    def emit(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    v1 = "totally draft placeholder text that matches nothing else here"
    true1 = "the quick brown fox jumps over the lazy dog again and again"
    emit([(1, v1), (2, "some other document about spark physical plans")])
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = streaming_near_dup_ingest(
        stream, index_path, str(tmp_path / "r_pairs"), str(tmp_path / "r_ckpt")
    )
    try:
        q.processAllAvailable()
        emit([(1, true1)])  # changed-content re-send in a later batch
        q.processAllAvailable()
    finally:
        q.stop()

    # both versions' rows present before, only the latest after
    idx = spark.read.parquet(index_path)
    assert idx.select("batch_id").distinct().count() == 2
    assert idx.filter("doc_id = 1").count() > 8  # 8 bands x 2 versions
    compact_ingest_index(spark, index_path, replace_latest_by="doc_id")
    got = {
        (r.doc_id, r.band, r.bucket)
        for r in spark.read.parquet(index_path).collect()
    }
    want = {
        (r.doc_id, r.band, r.bucket)
        for r in lsh_band_index(
            spark.createDataFrame(
                [(1, true1), (2, "some other document about spark physical plans")],
                schema,
            )
        ).collect()
    }
    assert got == want


def test_plain_compaction_data_guard_catches_manifestless_resend(
    spark, tmp_path
):
    """ADVICE r12 (the crash window the manifest can't see): the sinks
    write the store partition BEFORE the manifest, so a sink that dies
    between the two writes of a changed re-send leaves a multi-version
    store with NO manifest row — the manifest-based rejection passes
    and plain compaction would merge v1 and v2 under the sentinel
    forever. verify_single_version_by proves single-versionness from
    the data itself and must refuse exactly this store; the replace
    form resolves it."""
    import shutil

    import pytest
    from chicago_crime_spark_ml_spark.operators.dedup import lsh_band_index
    from chicago_crime_spark_ml_spark.sources.io import (
        compact_ingest_index,
        mv_manifest_path,
    )
    from chicago_crime_spark_ml_spark.streaming import (
        streaming_near_dup_ingest,
    )

    schema = "doc_id BIGINT, text STRING"
    src = tmp_path / "gsrc"
    src.mkdir()
    index_path = str(tmp_path / "g_index")

    def emit(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    v1 = "totally draft placeholder text that matches nothing else here"
    true1 = "the quick brown fox jumps over the lazy dog again and again"
    other = "some other document about spark physical plans"
    emit([(1, v1), (2, other)])
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = streaming_near_dup_ingest(
        stream, index_path, str(tmp_path / "g_pairs"), str(tmp_path / "g_ckpt")
    )
    try:
        q.processAllAvailable()
        emit([(1, true1)])  # changed-content re-send in a later batch
        q.processAllAvailable()
    finally:
        q.stop()

    # simulate the crash: store partition written, manifest write lost
    shutil.rmtree(mv_manifest_path(index_path))
    # the manifest-only guard is blind to it (documented discipline)…
    # …but the data-level witness refuses
    with pytest.raises(ValueError, match="multiple batch partitions"):
        compact_ingest_index(
            spark, index_path, verify_single_version_by="doc_id"
        )
    # the replace form resolves the versions and compacts fine, and a
    # subsequent verified plain compaction passes on the clean store
    compact_ingest_index(spark, index_path, replace_latest_by="doc_id")
    compact_ingest_index(
        spark, index_path, verify_single_version_by="doc_id"
    )
    got = {
        (r.doc_id, r.band, r.bucket)
        for r in spark.read.parquet(index_path).collect()
    }
    want = {
        (r.doc_id, r.band, r.bucket)
        for r in lsh_band_index(
            spark.createDataFrame([(1, true1), (2, other)], schema)
        ).collect()
    }
    assert got == want


def test_compact_mv_manifest_folds_listing_and_preserves_reads(
    spark, tmp_path
):
    """r13 (VERDICT r12 #3): a high-churn store accumulates one _mv
    partition per re-send batch between compactions; compact_mv_manifest
    folds them into ONE sentinel partition carrying latest_bid pointers,
    latest-wins reads return identical rows before/after (still one
    store scan), later re-send batches append beside the sentinel
    (mixed schema), and the fold is idempotent."""
    import os

    from chicago_crime_spark_ml_spark.plans import explain_str
    from chicago_crime_spark_ml_spark.sources.io import mv_manifest_path
    from chicago_crime_spark_ml_spark.streaming import (
        _read_state_latest_by,
        _write_multiversion_manifest,
        compact_mv_manifest,
    )

    path = str(tmp_path / "churn_store")
    # id 1 changes in every batch 1..4; id 2 changes once (batch 3)
    for bid in range(5):
        rs = [(1, f"v{bid}")] + ([(2, f"w{bid}")] if bid in (0, 3) else [])
        spark.createDataFrame(rs, "doc_id BIGINT, term STRING").write.mode(
            "overwrite"
        ).parquet(f"{path}/batch_id={bid}")
        resent = [(1,)] if bid > 0 else []
        if bid == 3:
            resent.append((2,))
        _write_multiversion_manifest(
            spark.createDataFrame(resent, "doc_id BIGINT"),
            [path],
            bid,
            "doc_id",
        )

    def read(bid):
        return _read_state_latest_by(
            spark, path, bid, "doc_id",
            ["doc_id", "term"], "doc_id bigint, term string",
        )

    mv_dir = mv_manifest_path(path)
    assert len(os.listdir(mv_dir)) >= 4  # one dir per re-send batch
    before = {(r.doc_id, r.term) for r in read(99).collect()}
    assert before == {(1, "v4"), (2, "w3")}
    kept = compact_mv_manifest(spark, path, "doc_id")
    assert kept == 2
    assert [
        x for x in os.listdir(mv_dir) if x.startswith("batch_id=")
    ] == ["batch_id=-1"]
    assert {(r.doc_id, r.term) for r in read(99).collect()} == before
    # still exactly one scan of the STORE, and no aggregate in the plan
    plan = explain_str(read(99), "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "Aggregate" not in plan, plan
    # a later re-send batch appends beside the sentinel: the mixed
    # (latest_bid data column + id-only) manifest still resolves
    spark.createDataFrame(
        [(1, "v5")], "doc_id BIGINT, term STRING"
    ).write.mode("overwrite").parquet(f"{path}/batch_id=5")
    _write_multiversion_manifest(
        spark.createDataFrame([(1,)], "doc_id BIGINT"), [path], 5, "doc_id"
    )
    assert {(r.doc_id, r.term) for r in read(99).collect()} == {
        (1, "v5"),
        (2, "w3"),
    }
    # idempotent re-fold keeps the newest pointers
    assert compact_mv_manifest(spark, path, "doc_id") == 2
    assert {(r.doc_id, r.term) for r in read(99).collect()} == {
        (1, "v5"),
        (2, "w3"),
    }
    # documented replay interplay: a replay of the folded batch 5 sees
    # id 1's pointer aimed at its own excluded partition — the id reads
    # as absent, so the delta op re-emits it as new (self-healing)
    assert {(r.doc_id, r.term) for r in read(5).collect()} == {(2, "w3")}


def test_crashed_swaps_heal_on_read_and_write_paths(spark, tmp_path):
    """r13 review: a compaction/fold crash between the swap's two
    renames leaves the live directory absent and the data at
    ``<dir>__old`` — the NEXT read or write must restore it first.
    Without the heal, latest-wins reads see no manifest and serve
    v1 ∪ v2; worse, a sink write would re-create the live dir, so the
    next recovery preamble would delete the renamed-aside history as
    post-swap garbage — permanent loss. Same rule for the store
    directory itself (a crashed store compaction + the empty-frame
    fallback re-classifies the whole corpus as new)."""
    import os

    from chicago_crime_spark_ml_spark.sources.io import mv_manifest_path
    from chicago_crime_spark_ml_spark.streaming import (
        _read_state_latest_by,
        _write_multiversion_manifest,
    )

    path = str(tmp_path / "heal_store")
    for bid, term in [(0, "v0"), (1, "v1")]:
        spark.createDataFrame(
            [(1, term)], "doc_id BIGINT, term STRING"
        ).write.mode("overwrite").parquet(f"{path}/batch_id={bid}")
    _write_multiversion_manifest(
        spark.createDataFrame([(1,)], "doc_id BIGINT"), [path], 1, "doc_id"
    )

    def read(bid=99):
        return {
            (r.doc_id, r.term)
            for r in _read_state_latest_by(
                spark, path, bid, "doc_id",
                ["doc_id", "term"], "doc_id bigint, term string",
            ).collect()
        }

    assert read() == {(1, "v1")}
    mv_dir = mv_manifest_path(path)
    # crashed manifest fold: pointers renamed aside, _mv absent — the
    # reader must heal and still resolve latest, not serve v0 ∪ v1
    os.rename(mv_dir, mv_dir + "__old")
    assert read() == {(1, "v1")}
    assert os.path.exists(mv_dir) and not os.path.exists(mv_dir + "__old")
    # crashed fold followed by a WRITE: the writer restores first, so
    # its new row joins the restored history instead of orphaning it
    os.rename(mv_dir, mv_dir + "__old")
    spark.createDataFrame(
        [(1, "v2")], "doc_id BIGINT, term STRING"
    ).write.mode("overwrite").parquet(f"{path}/batch_id=2")
    _write_multiversion_manifest(
        spark.createDataFrame([(1,)], "doc_id BIGINT"), [path], 2, "doc_id"
    )
    assert not os.path.exists(mv_dir + "__old")
    assert read() == {(1, "v2")}
    # crashed STORE compaction swap: the whole store (manifest inside)
    # renamed aside — the next read restores it instead of mapping the
    # missing path to the empty frame
    os.rename(path, path + "__old")
    assert read() == {(1, "v2")}
    assert os.path.exists(path) and not os.path.exists(path + "__old")
