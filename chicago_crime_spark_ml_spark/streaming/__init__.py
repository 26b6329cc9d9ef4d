"""Time-windowed / streaming operators over the events table.

The reference has no streaming at all (SURVEY.md §2.8). Strategy per
SURVEY §7.6: every windowed operator is implemented BATCH-FIRST —
tumbling/sliding/session windows are plain group-bys on time buckets,
so they get full DuckDB oracle coverage — and the identical expressions
run under Structured Streaming via ``readStream`` (stream_events +
to_streaming smoke-tested with the memory sink). Watermarks bound state
at scale; in batch they're a no-op.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    bucket_col: str = "bucket_start",
) -> DataFrame:
    """Tumbling-window aggregation: F.window(ts, duration) + keys.
    Epoch-aligned (day windows start at UTC midnight — matches
    date_trunc in the oracle). One shuffle on (window, keys)."""
    return (
        df.groupBy(F.window(ts_col, duration).alias("w"), *keys)
        .agg(*aggs)
        .withColumn(bucket_col, F.col("w.start"))
        .drop("w")
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    bucket_col: str = "bucket_start",
) -> DataFrame:
    """Sliding windows (duration > slide ⇒ each row lands in
    duration/slide windows — Spark expands map-side, no extra scan)."""
    return (
        df.groupBy(F.window(ts_col, duration, slide).alias("w"), *keys)
        .agg(*aggs)
        .withColumn(bucket_col, F.col("w.start"))
        .drop("w")
    )


def sessionize(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """Per-key session stats via session_window (gap-merged windows;
    a new session starts when the inter-event gap ≥ ``gap``). Returns
    (key, n_sessions, n_events). Works identically in batch and
    streaming; the batch form equals the classic lag+cumsum
    gaps-and-islands SQL, which is the oracle."""
    per_session = df.groupBy(
        key_col, F.session_window(ts_col, gap).alias("sw")
    ).agg(F.count(F.lit(1)).alias("n"))
    return per_session.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n").cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Structured Streaming wrappers
# ---------------------------------------------------------------------------

EVENTS_SCHEMA_TEMPLATE = (
    "event_id BIGINT, ts {ts_type}, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def stream_events(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """readStream over the events parquet, normalizing ts to TIMESTAMP
    exactly like the batch loader (sources/io.py load_table) for
    WHICHEVER encoding is on disk: legacy ns-int64 (read as BIGINT under
    nanosAsLong → timestamp_micros(ts DIV 1000)) or µs TIMESTAMP_NTZ
    (→ cast to TIMESTAMP; identity under the session's pinned UTC).
    readStream needs a declared schema, so we sniff the stored ts type
    from a zero-cost batch schema read (parquet footer only) and declare
    the matching raw schema — batch and stream plans then share all
    downstream expressions. The parquet streaming source wants a
    DIRECTORY, so we point at the sf dir with a pathGlobFilter. In
    production the source is Kafka/files-on-arrival; the transformation
    layer is identical."""
    import os  # noqa: PLC0415

    stored = dict(
        spark.read.parquet(os.path.join(sf_dir, glob)).dtypes
    ).get("ts", "timestamp_ntz")
    raw = (
        spark.readStream.schema(
            EVENTS_SCHEMA_TEMPLATE.format(ts_type=stored.upper())
        )
        .option("pathGlobFilter", glob)
        .parquet(sf_dir)
    )
    if stored == "bigint":
        return raw.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def run_stream_to_memory(
    agg: DataFrame, query_name: str, output_mode: str = "complete"
):
    """Drive a streaming aggregation to completion against the memory
    sink (synchronous — for tests/smoke; real sinks: kafka/parquet with
    checkpointing + exactly-once via foreachBatch)."""
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running (n_events, total_value) maintained in keyed state across
    micro-batches, re-emitted on every update. The shape Structured
    Streaming can't express with built-in aggs once the per-key logic grows
    custom (counters + TTL + arbitrary transition rules); state lives in the
    state store (RocksDB at scale), partitioned by key — executors hold only
    their keys' state. Arrow-batched: pandas per (key, micro-batch), never
    per-row Python. Stream-equals-batch is the test contract: after all
    input is consumed, the final state per key must equal the plain batch
    groupBy totals.
    """
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    out_schema = "user_id BIGINT, n_events BIGINT, total_value DOUBLE"
    state_schema = "n BIGINT, total DOUBLE"

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    dropDuplicatesWithinWatermark keeps a key's fingerprint only until
    the watermark passes it, then evicts — so state is O(keys per
    watermark window), not O(all keys ever) like plain dropDuplicates
    on a stream. The streaming twin of the batch dedup family: same
    keys, same semantics inside the lateness bound, state that can't
    grow without limit on a 100 TB/day ingest."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def incremental_rollup_to_parquet(
    agg: DataFrame,
    path: str,
    keys: list[str],
    checkpoint: str,
    query_name: str = "rollup",
):
    """Maintain a parquet rollup table from a streaming aggregation:
    update-mode + foreachBatch, upserting each micro-batch's changed
    groups into the table (merge_parquet anti-join + swap). The
    batch-view table is always queryable by any engine while the stream
    keeps it fresh — the foreachBatch escape hatch that gives streaming
    writers the sinks Structured Streaming lacks natively (here: keyed
    upsert). Exactly-once per group follows from update-mode emitting
    the LATEST value per changed key and the merge being idempotent on
    replays of the same batch. The does-the-table-exist-yet probe
    ATTEMPTS the read (sources.io.try_read_parquet): a driver-local
    ``os.path`` check is always False on hdfs://s3a:// stores, so every
    batch would take the initial-write branch and the second one would
    kill the stream (the ADVICE r7 bug class, fixed in the near-dup
    ingest sinks in r8 and here in r9). The initial write uses
    overwrite mode so a replayed first batch lands idempotently."""
    from chicago_crime_spark_ml_spark.sources.io import (  # noqa: PLC0415
        merge_parquet,
        try_read_parquet,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if try_read_parquet(spark, path) is not None:
            merge_parquet(spark, path, batch_df, keys)
        else:
            batch_df.write.mode("overwrite").parquet(path)

    return (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )


def _read_state_excluding_batch(
    spark: SparkSession, path: str, batch_id: int, cols, schema: str
) -> DataFrame:
    """Read a ``batch_id=N``-partitioned state store for batch
    ``batch_id``'s processing, EXCLUDING that batch's own partition
    (r10 replay-safety fix): after a crash between the state write and
    the checkpoint commit, the replayed batch would otherwise see its
    own prior attempt's rows, the delta operators' dup-id drop would
    then empty the recomputed output, and the per-batch overwrite
    would REPLACE the batch's data with nothing — permanent loss of
    exactly the rows the replay was supposed to guarantee. Filtering
    out the current batch partition makes the replay recompute the
    identical output and overwrite it with itself. Missing store →
    empty frame (try_read_parquet's error-class probe).

    The read takes the store's DECLARED ``schema`` (data columns plus
    ``batch_id bigint``), so opening the store starts no footer
    inference job; an existing empty directory reads as the empty
    frame directly. ``tests/test_streaming_multimodal.py`` pins every
    declared state schema against an inferred read.

    HEALS a crashed compaction swap first (r13 review): if a
    compaction died between its two renames, the store directory is
    absent and ``<path>__old`` holds the data — without the heal this
    read maps the missing store to the EMPTY frame, the delta op
    classifies the whole batch as new, and the batch write re-creates
    the store directory, so the NEXT compaction's recovery preamble
    sees live+old both present and deletes ``__old`` as garbage —
    permanent loss of the entire compacted history. Every read path
    into a swap-maintained store must therefore restore first; the
    probe is one driver-local os.path.exists. (A serving read racing
    a LIVE maintenance swap can at worst restore the store under the
    compactor's feet, failing the compactor's staging rename with the
    data intact — a retryable error, never loss; compaction is
    contracted to the stopped-stream maintenance slot anyway.)"""
    from chicago_crime_spark_ml_spark.sources.io import (  # noqa: PLC0415
        recover_compaction_swap,
        try_read_parquet,
    )

    recover_compaction_swap(path)
    df = try_read_parquet(spark, path, schema=schema)
    if df is None:
        return spark.createDataFrame([], schema)
    return df.filter(F.col("batch_id") != F.lit(batch_id)).select(*cols)


# Declared data schemas of the sinks' ``batch_id=N`` state stores, as
# DDL templates over the caller's id/text column names. One table, so
# the sinks and the schema-vs-inference test read the same source.
_STATE_SCHEMAS = {
    "lexical_postings": "{id} long, term string, tf long",
    "lexical_doclen": "{id} long, dl long",
    "lsh_index": "{id} long, band int, bucket bigint",
    "dhash_index": "{id} long, band int, byte int",
    "frame_index": "{id} long, dhash string",
    "docs": "{id} long, {text} string",
}


def _state_schema(
    kind: str, id_col: str, text_col: str = "text"
) -> tuple[list[str], str]:
    """(data columns, DDL) of a :data:`_STATE_SCHEMAS` store kind."""
    ddl = _STATE_SCHEMAS[kind].format(id=id_col, text=text_col)
    return [f.split()[0] for f in ddl.split(", ")], ddl


# The multi-version manifest lives INSIDE the store directory under an
# underscore-prefixed name: partition discovery skips "_"-prefixed
# paths, so the store's own parquet reads never see it, and the
# compaction swap (rename the whole store directory) retires the
# manifest ATOMICALLY with the generation of rows it describes — no
# crash point can leave a fresh store paired with a stale manifest.
# The name itself is io.MV_DIRNAME — ONE source of truth shared with
# compact_ingest_index's plain-compaction rejection (a second literal
# would let a rename silently disable that guard).
from chicago_crime_spark_ml_spark.sources.io import (  # noqa: E402
    mv_manifest_path as _mv_path,
)

# ADVICE r11: the multi-version set is broadcast only while it is
# provably small; a backfill that re-sends a large slice of the corpus
# falls back to a shuffle join instead of OOMing the driver.
_MV_BROADCAST_MAX = 4_000_000


def _write_multiversion_manifest(
    resent_ids: DataFrame, paths: Sequence[str], batch_id: int, id_col: str
) -> None:
    """Record the ids this batch re-emitted with CHANGED content — the
    ids that now hold rows in more than one batch partition — into each
    store's tiny ``_mv/batch_id=N`` manifest (r12, VERDICT r11 #5).
    ``paths`` lists every store that received the same changed set
    (the lexical sink's postings AND doclen); the set is checked for
    emptiness ONCE for all of them, and ``resent_ids`` must not read
    the stores (the sinks pass materialized sets), since this runs
    after their writes.
    The set comes from the delta operator's own changed-content
    detection (joins it already runs), so maintaining the manifest
    adds no store scan; a replayed batch recomputes the identical set
    and overwrites its own partition (or, identically, re-skips the
    write). Empty sets write NOTHING — the common every-batch case —
    so the manifest holds one partition per batch that actually
    carried a changed re-send, not one per batch: after a year of
    micro-batches the manifest's directory listing is proportional to
    the re-send history, and a store that never saw one has no
    manifest at all (the reader's fastest path). Skipping the write
    also drops one Spark write job per store per micro-batch.

    Write ORDER (deliberate): the sinks write the store partition
    FIRST, manifest second. Between the two writes a concurrent
    serving-side read sees a changed re-send as two versions
    (transient duplication); the reverse order would make the id's
    rows VANISH for the window (manifest points at a batch with no
    rows yet) — and losing rows is strictly worse than briefly
    duplicating them, the same staleness-vs-duplication stance as the
    delta operators. A crash between the writes is healed by replay
    (the checkpoint hasn't committed, the sink reruns whole, and the
    reader excludes the replaying batch from BOTH files). Bare
    parquet has no cross-file transaction; a table format gives the
    atomic version — same caveat as the compaction swap.

    Heals a crashed manifest self-compaction first (r13 review): a
    compact_mv_manifest crash between its renames leaves the pointers
    in ``_mv__old`` with ``_mv`` absent — writing a fresh partition
    here would re-create ``_mv``, and the next fold's recovery
    preamble would then delete ``__old`` as post-swap garbage,
    permanently orphaning every pre-crash pointer (the affected ids
    would serve v1 ∪ v2 forever). Restoring first makes this write
    land inside the restored history instead."""
    from chicago_crime_spark_ml_spark.sources.io import (  # noqa: PLC0415
        recover_compaction_swap,
    )

    rows = resent_ids.select(id_col).distinct().coalesce(1)
    if rows.isEmpty():
        return
    for path in paths:
        recover_compaction_swap(_mv_path(path))
        rows.write.mode("overwrite").parquet(
            f"{_mv_path(path)}/batch_id={batch_id}"
        )


def _read_state_latest_by(
    spark: SparkSession,
    path: str,
    batch_id: int,
    id_col: str,
    cols,
    schema: str,
) -> DataFrame:
    """LATEST-WINS read of a ``batch_id=N``-partitioned per-id state
    store (r11, ADVICE r10): a changed-content re-sent id has rows in
    TWO batch partitions — the delta operators re-emit the new
    version (staleness is worse than duplication) but append-only
    storage keeps the old one. Readers that treat the store as "the
    current version of each id" (the rescore corpus, the delta
    operators' changed-content detection) must see only the id's
    HIGHEST-batch rows, or they compare against a v1 ∪ v2 union —
    e.g. the stored text a rescore shingles would stay the ORIGINAL
    text forever while the index tracked the new one, silently
    dropping true pairs, and a revert-to-v1 re-send would look
    "unchanged" against the union and never be re-emitted.

    Cost shape (r12, VERDICT r11 #5): multi-version ids come from the
    store's maintained ``_mv`` manifest — one row per changed re-send
    ever, written per batch by the sinks from the delta operators' own
    changed-content detection — NOT from an aggregate over the store
    (the r11 implementation ran a full (id, batch_id) group-by over
    the corpus on every micro-batch; the store is now scanned exactly
    once, by the filter itself — plan-asserted in tests). An id's
    highest manifest batch equals its highest store batch (every
    re-emission after the first writes a manifest row), so per-id max
    over the TINY manifest is the correct latest pointer. The
    manifest set is broadcast only below _MV_BROADCAST_MAX ids
    (ADVICE r11: a corpus-scale backfill must shuffle, not OOM);
    an empty set skips the join entirely — the common every-batch
    path. Excludes the current batch's own partition from BOTH the
    store and the manifest (crash-replay guard, see
    _read_state_excluding_batch). Stores predating the manifest
    (no ``_mv``) are read as all-single-version — correct for every
    store the r12+ sinks write, and for compacted stores (the swap
    retires the manifest with the superseded rows). MIGRATION: a
    store that received changed re-sends under the PRE-manifest sinks
    holds multi-version ids the manifest doesn't know about — run
    ``compact_ingest_index(replace_latest_by=...)`` once before
    resuming its stream under this reader."""
    df = _read_state_excluding_batch(
        spark,
        path,
        batch_id,
        [*cols, "batch_id"],
        schema + ", batch_id bigint",
    )
    from chicago_crime_spark_ml_spark.sources.io import (  # noqa: PLC0415
        recover_compaction_swap,
        try_read_parquet,
    )

    # mergeSchema: a SELF-COMPACTED manifest (compact_mv_manifest)
    # carries its pointers in a latest_bid DATA column under the
    # sentinel partition, while per-batch partitions written since are
    # id-only — footer sampling could hide either column. The manifest
    # is tiny by construction, so the all-footers merge is free.
    # Heal first (r13 review): after a crashed manifest fold the
    # pointers sit in `_mv__old` — reading None here would serve every
    # multi-version id as v1 ∪ v2 (and a revert-to-v1 re-send would
    # read as unchanged and never re-emit). Same preamble as the store
    # read above; one os.path.exists.
    recover_compaction_swap(_mv_path(path))
    mv_raw = try_read_parquet(spark, _mv_path(path), mergeSchema="true")
    if mv_raw is None:
        return df.select(*cols)
    ptr = (
        F.coalesce(F.col("latest_bid"), F.col("batch_id"))
        if "latest_bid" in mv_raw.columns
        else F.col("batch_id")
    )
    mv = (
        mv_raw.filter(F.col("batch_id") != F.lit(batch_id))
        .groupBy(id_col)
        .agg(F.max(ptr).alias("_latest"))
        .localCheckpoint(eager=True)
    )
    n_mv = mv.count()
    if n_mv == 0:
        return df.select(*cols)
    right = F.broadcast(mv) if n_mv <= _MV_BROADCAST_MAX else mv
    return (
        df.join(right, id_col, "left")
        .filter(
            F.col("_latest").isNull()
            | (F.col("batch_id") == F.col("_latest"))
        )
        .select(*cols)
    )


def read_state_latest(
    spark: SparkSession,
    path: str,
    id_col: str,
    cols,
    schema: str,
) -> DataFrame:
    """PUBLIC latest-wins view of a streaming-maintained state store —
    the serving-side read (r12): each id resolved to its newest
    version via the store's ``_mv`` manifest, no batch excluded (the
    reserved never-a-batch id -2 disables the crash-replay exclusion,
    which only applies INSIDE a replaying sink; sinks write N >= 0 and
    compaction stamps -1). Use this — not a raw parquet read — when a
    store may hold changed re-sends that compaction hasn't retired
    yet: bm25_search_from_index over a raw read would double-count a
    multi-version doc's terms."""
    return _read_state_latest_by(spark, path, -2, id_col, cols, schema)


def compact_mv_manifest(spark: SparkSession, path: str, id_col: str) -> int:
    """Self-compaction for a store's ``_mv`` multi-version manifest
    (r13, VERDICT r12 #3): the sinks write one ``batch_id=N`` manifest
    partition per micro-batch that carried a changed re-send, so a
    HIGH-CHURN store's manifest listing grows linearly in re-send
    batches between store compactions — and every latest-wins read
    lists and scans all of them. This folds the whole history into ONE
    sentinel partition (``batch_id=-1``, io.RESERVED_COMPACTED_BATCH)
    holding each id's latest pointer as a ``latest_bid`` DATA column,
    via the shared crash-safe rename-aside swap — the read is O(1)
    files again regardless of churn. Store rows are untouched: this is
    strictly cheaper than a full replace-compaction and can run far
    more often (the replace-compaction still retires the manifest
    entirely). Idempotent; re-folding a folded manifest keeps the
    pointers (max over coalesce(latest_bid, batch_id)).

    Replay interplay (why the maintenance slot needs no checkpoint
    coordination): if the folded history includes an UNCOMMITTED batch
    N and the stream replays it, the reader's own-batch exclusion no
    longer hides those pointer rows — the replaying sink then sees the
    re-sent id's latest pointer aimed at its own excluded partition,
    so the id reads as absent, the delta op classifies the re-send as
    NEW and re-emits the identical rows into partition N (the same
    rows a changed-re-send classification emits) — the store, manifest
    pointer, and checkpoint all converge to the pre-crash state. Loss
    is impossible; the transient cost is one new-doc-shaped probe.
    Returns the number of pointer rows kept. Missing manifest → 0."""
    from chicago_crime_spark_ml_spark.sources.io import (  # noqa: PLC0415
        RESERVED_COMPACTED_BATCH,
        commit_compaction_swap,
        recover_compaction_swap,
        try_read_parquet,
    )

    mv_dir = _mv_path(path)
    recover_compaction_swap(mv_dir)
    mv = try_read_parquet(spark, mv_dir, mergeSchema="true")
    if mv is None:
        return 0
    ptr = (
        F.coalesce(F.col("latest_bid"), F.col("batch_id"))
        if "latest_bid" in mv.columns
        else F.col("batch_id")
    )
    rows = mv.groupBy(id_col).agg(
        F.max(ptr).cast("long").alias("latest_bid")
    )
    staging = mv_dir + "__compacting"
    rows.coalesce(1).write.mode("overwrite").parquet(
        f"{staging}/batch_id={RESERVED_COMPACTED_BATCH}"
    )
    commit_compaction_swap(mv_dir, staging)
    return spark.read.parquet(mv_dir).count()


def streaming_near_dup_ingest(
    docs: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 8,
    seed: int = 42,
    band_width: int = 1,
    query_name: str = "near_dup_ingest",
):
    """Continuous-ingestion near-dup detection: the streaming form of
    the incremental LSH job (operators/dedup.lsh_index_delta). Each
    micro-batch hashes ONLY its own docs, probes the persisted band
    index for candidate pairs touching the batch ((old,new) and
    (new,new) — history is never re-compared against itself), then
    appends the batch's band rows so the index stays current. Exact
    Jaccard rescoring of the candidates stays the caller's step, same
    as the batch path.

    Exactly-once on replays: both sinks write into a
    ``batch_id=N`` subdirectory with overwrite mode, so a replayed
    micro-batch overwrites its own output instead of double-appending
    (parquet append is not idempotent; per-batch overwrite is). The
    candidate-pair WRITE is forced BEFORE the index append — pairs
    read the index lazily, and appending first would make a batch's
    docs collide with themselves. The index read is a plain parquet
    scan, so at scale the band-partitioned layout prunes the probe.

    Returns the StreamingQuery; read ``pairs_path`` for candidates and
    ``index_path`` for the live index (both gain a ``batch_id``
    partition column)."""
    from chicago_crime_spark_ml_spark.operators.dedup import (  # noqa: PLC0415
        lsh_index_delta,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # probe the index by ATTEMPTING the read, falling back to the
        # empty frame when the path doesn't exist yet: an os.path check
        # is driver-LOCAL and always false on hdfs:///s3a:// stores —
        # every batch would silently probe an empty index while the
        # directory kept accumulating, a recall loss with no error
        # (ADVICE r7). Only the missing-dataset error classes map to
        # the empty frame; any other AnalysisException (corrupt
        # footers, schema-merge failure, wrong path type) re-raises —
        # silently probing empty on those would drop all historical
        # recall with no error (ADVICE r8). The current batch's own
        # partition is excluded so a crash-replay can't self-
        # cannibalize, and a changed-content re-sent id resolves to
        # its newest band rows (latest-wins, r11).
        index = _read_state_latest_by(
            spark, index_path, batch_id, id_col,
            *_state_schema("lsh_index", id_col),
        )
        delta_rows, pairs, resent = lsh_index_delta(
            index,
            batch_df,
            text_col=text_col,
            id_col=id_col,
            n=n,
            num_hashes=num_hashes,
            seed=seed,
            band_width=band_width,
            return_resent=True,
        )
        # resent is already materialized by the delta operator
        delta_rows = delta_rows.localCheckpoint(eager=True)
        pairs.write.mode("overwrite").parquet(
            f"{pairs_path}/batch_id={batch_id}"
        )
        delta_rows.write.mode("overwrite").parquet(
            f"{index_path}/batch_id={batch_id}"
        )
        _write_multiversion_manifest(resent, [index_path], batch_id, id_col)

    return (
        docs.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )


def streaming_media_near_dup_ingest(
    media: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    modality: str = "image",
    blob_col: str = "blob",
    id_col: str = "doc_id",
    band_bytes: int = 2,
    min_shared: int = 2,
    max_bucket: int | None = 10_000,
    max_df: int | None = 10_000,
    query_name: str = "media_near_dup_ingest",
):
    """Continuous-ingestion MEDIA near-dup detection — the streaming
    form of the incremental media indexes, and the media twin of
    :func:`streaming_near_dup_ingest`. Each micro-batch decodes and
    signatures ONLY its own blobs (``modality='image'`` → perceptual
    dHash, ``'audio'`` → the window-energy fingerprint — both emit the
    shared row-bytes shape and probe the persisted (band, byte) index
    via dhash_index_delta; ``'video'`` → per-frame dHash postings
    probing a (id, dhash) frame index via frame_index_delta with the
    ≥ ``min_shared`` containment rule), emitting candidate pairs
    touching the batch ((old,new) and (new,new) — history is never
    re-compared against itself), then appends the batch's index rows.
    Exact rescoring (hamming popcount for image/audio) stays the
    caller's step, same as the batch path; video pairs arrive already
    thresholded on distinct shared frames.

    Exactly-once on replays: both sinks write a ``batch_id=N``
    subdirectory with overwrite mode (parquet append is not
    idempotent; per-batch overwrite is), and the pair write is forced
    BEFORE the index append so a batch never collides with itself.
    The delta operators additionally drop postings whose doc already
    sits in the index (re-ingest of a doc in a later batch), so the
    live index never accumulates duplicates. The index existence probe
    attempts the read and falls back to an empty frame ONLY on the
    missing-dataset error classes; other AnalysisExceptions re-raise
    instead of silently probing empty (ADVICE r8). ``max_bucket``
    (image/audio) and ``max_df`` (video) are the per-micro-batch
    occupancy guards: a degenerate hot cell — flat/black frames
    banding to one value — would otherwise cost every future batch
    O(delta × cell size) forever."""
    from chicago_crime_spark_ml_spark.operators.multimodal import (  # noqa: PLC0415
        audio_fingerprint,
        dhash_index_delta,
        frame_index_delta,
        frame_stream_dhash,
        image_dhash,
    )

    sig_fn = {
        "image": image_dhash,
        "audio": audio_fingerprint,
        "video": frame_stream_dhash,
    }.get(modality)
    if sig_fn is None:
        raise ValueError(
            f"modality must be 'image', 'audio', or 'video', "
            f"got {modality!r}"
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        index = _read_state_latest_by(
            spark, index_path, batch_id, id_col,
            *_state_schema(
                "frame_index" if modality == "video" else "dhash_index",
                id_col,
            ),
        )
        # signature once behind a barrier: the delta rows feed the
        # probe AND both union branches — lazy, the per-blob decode
        # mapInPandas would re-run per consumer
        sig = sig_fn(
            batch_df, blob_col=blob_col, id_col=id_col
        ).localCheckpoint(eager=True)
        if modality == "video":
            delta_rows, pairs, resent = frame_index_delta(
                index,
                sig,
                id_col=id_col,
                min_shared=min_shared,
                max_df=max_df,
                return_resent=True,
            )
        else:
            delta_rows, pairs, resent = dhash_index_delta(
                index,
                sig,
                id_col=id_col,
                band_bytes=band_bytes,
                max_bucket=max_bucket,
                return_resent=True,
            )
        # resent is already materialized by the delta operator
        delta_rows = delta_rows.localCheckpoint(eager=True)
        pairs.write.mode("overwrite").parquet(
            f"{pairs_path}/batch_id={batch_id}"
        )
        delta_rows.write.mode("overwrite").parquet(
            f"{index_path}/batch_id={batch_id}"
        )
        _write_multiversion_manifest(resent, [index_path], batch_id, id_col)

    return (
        media.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )


def streaming_ivf_ingest(
    vectors: DataFrame,
    index_path: str,
    checkpoint: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_name: str = "ivf_ingest",
):
    """Continuous EMBEDDING ingestion into a materialized IVF index —
    completing streaming delta-ingest across every modality the engine
    deduplicates (text: streaming_near_dup_ingest; image/audio/video:
    streaming_media_near_dup_ingest; embeddings: THIS). Each
    micro-batch assigns ONLY its own vectors to the index's frozen
    centroids and lands them via ivf_index_delta with
    ``ingest_id=f"batch-{batch_id}"`` — the dynamic partition
    overwrite into ``cell=*/ingest=batch-N`` makes a replayed
    micro-batch overwrite exactly its own partitions (the same
    per-batch_id idempotence rule as the other ingest sinks, expressed
    through the index layout itself). Probes (probe_ivf_index) see new
    vectors immediately with zero refit; schedule a rebuild when
    ivf_drift_metric trips. The index must exist (write_ivf_index) —
    frozen-centroid assignment is meaningless without centroids, so a
    missing index is a real error and the AnalysisException from the
    centers read propagates (deliberately NOT the empty-frame
    fallback the near-dup sinks use for their build-as-you-go
    indexes)."""
    from chicago_crime_spark_ml_spark.operators.similarity import (  # noqa: PLC0415
        ivf_index_delta,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ivf_index_delta(
            batch_df.sparkSession,
            index_path,
            batch_df,
            ingest_id=f"batch-{batch_id}",
            vec_col=vec_col,
            id_col=id_col,
        )

    return (
        vectors.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )


def streaming_cluster_maintenance(
    docs: DataFrame,
    index_path: str,
    docs_path: str,
    labels_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.8,
    n: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
    band_width: int = 2,
    n_label_buckets: int = 64,
    query_name: str = "cluster_maintenance",
):
    """Continuously-maintained NEAR-DUP CLUSTER LABELS — the streaming
    composition of the whole incremental dedup family in one sink
    (probe → exact rescore → incremental CC → partition-pruned label
    upsert): after every micro-batch, ``labels_path`` holds the
    complete (node, label, part) labeling equal to a full rebuild over
    every pair ever observed, without ever re-flooding history.

    Per batch: (1) the persisted band index is probed with only the
    batch's docs (dedup.lsh_index_delta — (old,new) and (new,new)
    candidates, history never re-compared); (2) candidates are
    exact-rescored at ``jaccard_threshold`` (dedup.rescore_jaccard,
    shingling only candidate docs — texts come from the maintained
    ``docs_path`` corpus ∪ the batch); (3) surviving pairs contract
    onto the stored labeling (dedup.connected_components_delta —
    O(delta) flooding); (4) only label buckets containing relabeled or
    new nodes are rewritten (io.merge_parquet_partitioned over
    ``part = node % n_label_buckets`` — a FIXED bucket count, the
    layout-choice-not-data-size rule, so the upsert's partition work
    is bounded at any corpus size).

    Replay idempotence, layer by layer: index/docs rows land in
    ``batch_id=N`` overwrite dirs (a replayed batch overwrites its own
    output) and already-indexed ids append nothing; the CC delta is
    naturally idempotent (re-applying the same edges to the updated
    labeling changes no label, so the replayed upsert rewrites
    nothing). Default banding is the 32×2 certification setting.

    Label semantics under changed-content re-sends: labels are
    maintained by ADD-ONLY incremental CC, so they equal a full
    rebuild over every pair EVER observed — edges contributed by a
    doc's superseded v1 text are never retracted (retraction needs a
    periodic full rebuild, the standard trade of monotone incremental
    clustering). The latest-wins docs/index reads (r11) keep all
    FUTURE probes and rescores on the newest text; the
    streaming_cluster_maintenance_check certification constructs its
    v1 junk orthogonal to everything precisely so observed-pairs ==
    latest-content pairs and the stream==batch hash is meaningful.
    Returns the StreamingQuery."""
    from chicago_crime_spark_ml_spark.operators.dedup import (  # noqa: PLC0415
        connected_components_delta,
        lsh_index_delta,
        rescore_jaccard,
    )
    from chicago_crime_spark_ml_spark.sources.io import (  # noqa: PLC0415
        merge_parquet_partitioned,
        try_read_parquet,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_docs = batch_df.select(id_col, text_col).localCheckpoint(
            eager=True
        )
        index = _read_state_latest_by(
            spark, index_path, batch_id, id_col,
            *_state_schema("lsh_index", id_col),
        )
        delta_rows, cand, resent_idx = lsh_index_delta(
            index,
            batch_docs,
            text_col=text_col,
            id_col=id_col,
            n=n,
            num_hashes=num_hashes,
            seed=seed,
            band_width=band_width,
            return_resent=True,
        )
        # resent_idx is already materialized by the delta operator
        delta_rows = delta_rows.localCheckpoint(eager=True)
        # batch-precedence corpus with UNIQUE ids: a re-sent id's
        # stored text is shadowed (changed content rescans against the
        # new text), and duplicate (id, text) rows can never multiply
        # the rescore joins. LATEST-WINS read (r11, ADVICE r10): a
        # changed-content id re-sent in an EARLIER batch now resolves
        # to its newest stored text — previously the id-only dup-drop
        # below kept the original text forever and later batches'
        # rescores silently scored candidates against it. The current
        # batch's own partition is excluded (crash-replay guard).
        stored_docs = _read_state_latest_by(
            spark, docs_path, batch_id, id_col,
            *_state_schema("docs", id_col, text_col),
        )
        corpus = batch_docs.unionByName(
            stored_docs.join(
                F.broadcast(batch_docs.select(id_col)),
                id_col,
                "left_anti",
            )
        )
        pairs = rescore_jaccard(
            cand, corpus, threshold=jaccard_threshold,
            text_col=text_col, id_col=id_col, n=n,
        ).select("id_a", "id_b").localCheckpoint(eager=True)

        part = (F.col("node") % n_label_buckets).cast("bigint").alias(
            "part"
        )
        stored_labels = try_read_parquet(spark, labels_path)
        if stored_labels is None:
            first = connected_components_delta(
                spark.createDataFrame([], "node long, label long"), pairs
            )
            first.select("node", "label", part).write.mode(
                "overwrite"
            ).partitionBy("part").parquet(labels_path)
        else:
            labels = stored_labels.select("node", "label")
            updated = connected_components_delta(labels, pairs)
            changed = (
                updated.join(
                    labels.select(
                        "node", F.col("label").alias("_prev")
                    ),
                    "node",
                    "left",
                )
                .filter(
                    F.col("_prev").isNull()
                    | (F.col("_prev") != F.col("label"))
                )
                .select("node", "label", part)
                .localCheckpoint(eager=True)
            )
            if not changed.isEmpty():
                merge_parquet_partitioned(
                    spark,
                    labels_path,
                    changed,
                    keys=["node"],
                    partition_cols=["part"],
                )
        # appends LAST: pairs/labels above read index ∪ fresh lazily,
        # and appending first would let a batch collide with itself
        delta_rows.write.mode("overwrite").parquet(
            f"{index_path}/batch_id={batch_id}"
        )
        _write_multiversion_manifest(
            resent_idx, [index_path], batch_id, id_col
        )
        # (id, text) rows not already current in the docs store land in
        # this batch's partition: identical re-sends append nothing
        # (replay idempotence), while a CHANGED-content re-send IS
        # written — its newer batch id makes the latest-wins readers
        # above resolve to the new text (r11, ADVICE r10; the id-only
        # anti-join kept the stale text forever). stored_docs already
        # excludes this batch_id, so a replay rewrites its own rows
        # instead of emptying them.
        fresh_docs = batch_docs.join(
            stored_docs, [id_col, text_col], "left_anti"
        ).localCheckpoint(eager=True)
        # the docs store's own changed-re-send set, on the store's
        # (id, text) semantics — NOT the index's band-row semantics
        # (two texts can collide to identical band rows): fresh ids
        # the store already holds. One broadcast-filtered scan of the
        # store's id column — the same pass the rescore corpus above
        # already makes this batch.
        resent_docs = (
            stored_docs.select(id_col)
            .join(
                F.broadcast(fresh_docs.select(id_col)),
                id_col,
                "left_semi",
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        fresh_docs.write.mode("overwrite").parquet(
            f"{docs_path}/batch_id={batch_id}"
        )
        _write_multiversion_manifest(
            resent_docs, [docs_path], batch_id, id_col
        )

    return (
        docs.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )


def streaming_lexical_ingest(
    docs: DataFrame,
    postings_path: str,
    doclen_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_name: str = "lexical_ingest",
):
    """Continuous lexical-index ingestion — the RETRIEVAL member of the
    streaming ingest family (text near-dups: streaming_near_dup_ingest;
    media: streaming_media_near_dup_ingest; embeddings:
    streaming_ivf_ingest; search: THIS). Each micro-batch tokenizes
    ONLY its own docs and appends (postings, doclen) rows via
    text.lexical_index_delta, so bm25_search_from_index over the two
    directories is always current with zero corpus re-tokenization.

    Per micro-batch the sink starts one Spark job per fact it needs:
    the state stores open with their declared schemas (no footer
    inference), the batch is tokenized ONCE (doclen derives from the
    materialized postings), the re-send verdict is materialized ONCE
    before any store write, and the changed-id set is checked for
    emptiness once for both manifests. Write order: both store
    partitions, then the manifests (see _write_multiversion_manifest).

    Exactly-once on replays: both sinks write into a ``batch_id=N``
    subdirectory with overwrite mode (a replayed batch overwrites its
    own output — parquet append is not idempotent), and the delta
    operator's dup-id probe additionally drops docs already indexed by
    EARLIER batches (re-sent ids; changed content re-emits, see
    lexical_index_delta). Missing index directories map to empty
    frames via try_read_parquet's error-class probe — build-as-you-go
    like the near-dup sinks, never an os.path check."""
    from chicago_crime_spark_ml_spark.operators.text import (  # noqa: PLC0415
        lexical_index_delta,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # LATEST-WINS reads (r11): the delta operator's changed-content
        # detection is provably exact only against a SINGLE stored
        # version per id — against a v1 ∪ v2 union a revert-to-v1
        # re-send matches stored rows and is wrongly dropped.
        post = _read_state_latest_by(
            spark, postings_path, batch_id, id_col,
            *_state_schema("lexical_postings", id_col),
        )
        dlen = _read_state_latest_by(
            spark, doclen_path, batch_id, id_col,
            *_state_schema("lexical_doclen", id_col),
        )
        # all three frames are lazy over the delta's postings and its
        # re-send verdict, both materialized by the operator: the
        # writes below never read the stores they are writing
        fresh_post, fresh_len, resent = lexical_index_delta(
            post,
            dlen,
            batch_df,
            text_col=text_col,
            id_col=id_col,
            return_resent=True,
        )
        fresh_post.write.mode("overwrite").parquet(
            f"{postings_path}/batch_id={batch_id}"
        )
        fresh_len.write.mode("overwrite").parquet(
            f"{doclen_path}/batch_id={batch_id}"
        )
        # a changed re-send re-emits BOTH its postings and its doclen
        # row, so the same id set is multi-version in both stores
        _write_multiversion_manifest(
            resent, [postings_path, doclen_path], batch_id, id_col
        )

    return (
        docs.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )


def user_value_stats_tws(events: DataFrame) -> DataFrame:
    """Custom stateful operator on the transformWithStateInPandas API
    (Spark 4's typed-state successor to applyInPandasWithState): per-user
    running (n_events, total_value) kept in a typed ValueState cell.

    vs the legacy API: state is schema'd and composable (Value/List/Map
    state, timers for TTL/eviction), and the processor is an object with
    an explicit lifecycle (init/handleInputRows/close) instead of one
    closure — the shape long-lived production operators need. State
    lives in the state store keyed by user_id; executors hold only
    their keys. Stream-equals-batch is asserted in tests against the
    plain groupBy totals (same contract as stateful_user_totals).
    """
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming import StatefulProcessor  # noqa: PLC0415
    from pyspark.sql.types import (  # noqa: PLC0415
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    class Totals(StatefulProcessor):
        def init(self, handle) -> None:
            self.state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, total = (self.state.get() or (0, 0.0)) if self.state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].fillna(0.0).sum())
            self.state.update((n, float(total)))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Totals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    lower_s: float,
    upper_s: float,
    left_watermark: str,
    right_watermark: str,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join bounded by an event-time interval:
    ``right_ts ∈ [left_ts + lower_s, left_ts + upper_s]`` per key.

    The two properties that make this runnable forever on unbounded
    input: (1) BOTH sides carry a watermark, so each side's buffered
    rows are eventually declared complete; (2) the join condition
    contains an event-time range, which tells the state-store exactly
    how long a buffered row can still find a match — rows older than
    watermark+range are evicted. Without the time bound Spark must keep
    every row ever seen (unbounded state); with it, state is
    O(rate × (watermark + range)). ``how`` may be "inner" or
    "leftOuter" (outer results emit only once the watermark proves no
    match can arrive — correctness over latency).

    The batch twin is operators.relational.interval_join (same
    interval semantics, DuckDB-oracled via
    ``events_purchases_before_error``); stream==batch is the test
    contract (tests/test_streaming_multimodal.py)."""
    lw = left.withWatermark(left_ts, left_watermark)
    rw = right.withWatermark(right_ts, right_watermark)
    # The range predicate must stay INTERVAL arithmetic on the raw
    # timestamp columns — that's the shape Spark's analyzer recognizes
    # when deriving the state-eviction watermark constraint. Casting to
    # double would compute the same booleans but leave join state
    # unevictable (and is rejected outright for outer joins).
    lo = F.make_interval(secs=F.lit(float(lower_s)))
    hi = F.make_interval(secs=F.lit(float(upper_s)))
    cond = (
        (lw[left_key] == rw[right_key])
        & (rw[right_ts] >= lw[left_ts] + lo)
        & (rw[right_ts] <= lw[left_ts] + hi)
    )
    return lw.join(rw, cond, how)


def enrich_with_static(
    stream: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
    hint_broadcast: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: attach a batch dimension (feature
    store snapshot, reference table) to every micro-batch. Spark executes
    the static side fresh per micro-batch, so the dim may be a live
    table; with the broadcast hint (bounded dims) the join is map-only —
    no state store, no watermark, unlike stream-stream joins. The
    canonical serving-side shape: events enriched with per-user
    train-time features (the FeatureStore contract in serving.py, but
    on the stream path)."""
    d = F.broadcast(dim) if hint_broadcast else dim
    return stream.join(d, on=on, how=how)
