"""Structured Streaming jobs: the engine-native upgrade of the
reference's Pusher-WebSocket thread (SURVEY.md §2.8).

Reference → Spark mapping:
- S6 websocket source (mm_calls.py:143-162)  → ``readStream`` file
  source over the events fixture, or the socket source fed by a
  websocket relay (same downstream code — the transformations are
  source-agnostic).
- T1 channel routing (mm_calls.py:176-204)   → filter/groupBy on the
  decoded channel columns.
- T2 stateless handlers (mm_calls.py:164-174)→ ``foreachBatch`` /
  select transforms; C6 payload decode is ``from_json`` → ``unbase64``.
- T3 keyed upsert state (mm_calls.py:105/261/325) → ``foreachBatch``
  MERGE into a keyed state table (latest-row-wins), the Delta-style
  upsert pattern.
- T4 periodic triggers (mm_calls.py:386-389) → ``trigger(...)``;
  tests use ``availableNow`` to drain the fixture deterministically.

The reference had NO watermarks/windows/late-data policy (state lost
on crash, at-most-once); the engine adds watermarked tumbling /
sliding / session windows as the idiomatic upgrade, with checkpointed
exactly-once state.

Scale notes: windowed aggregations shuffle once on (window, key);
watermarks bound state size (without one, complete-mode state grows
unboundedly — only used here for finite fixture drains). The upsert
state table is partitioned by key hash; at 100 TB stream history the
state holds only one row per key.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from sports_betting_data_pipeline_spark.io import (
    _ensure_engine_confs,
    _events_file_schema,
    normalize_events_ts,
    table_path,
)
from sports_betting_data_pipeline_spark.schemas import PUSHER_MESSAGE
from sports_betting_data_pipeline_spark.session import local_frame

# The wire envelope for the socket path: ts travels as an
# epoch-nanosecond int64 (the reference's Pusher payloads are JSON with
# integer timestamps, mm_calls.py:164-174) and is truncated to µs
# scan-side by normalize_events_ts. The file path derives its schema
# from the parquet footer instead (fixture generations differ).
EVENTS_RAW = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def split_future_events(
    df: DataFrame,
    ts_col: str = "ts",
    bound: str = "1 HOUR",
    threshold: "datetime.datetime | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """Route rows whose event time is implausibly far in the FUTURE to
    a quarantine side output, before any watermark sees them.

    Returns ``(clean, quarantined)``: rows with
    ``ts_col > threshold`` land on the quarantined side; everything
    else — including NULL event times, which the no-event-time
    filters downstream already own (st13/T3) — stays clean.

    The threshold is ``current_timestamp() + bound`` by default, or an
    explicit ``threshold`` timestamp when given. EXACTLY-ONCE PAIRING
    CAVEAT: ``current_timestamp()`` is fixed per microbatch at
    PLANNING time, per QUERY — if the two halves are attached to two
    separate ``writeStream`` sinks, each query plans its own
    timestamp, so a row landing near the boundary between the two
    planning instants can appear in both streams or neither. For
    two-sink routing either pass an explicit ``threshold`` (one
    literal, shared by construction) or split inside a single
    ``foreachBatch`` (one plan, one instant). A single-query pipeline
    (quarantine-and-drop, as ``read_events_stream`` uses it) is safe
    with the default.

    Why this exists: Spark's watermark is ``max(event time) - delay``,
    so a SINGLE corrupt far-future timestamp (a producer with a wrong
    clock, a ns/µs unit mixup) advances the watermark past every
    genuine event and the state operator evicts — then drops — the
    entire live workload (pinned as the engine contract by the
    timewarp fuzz variant and st16's eviction semantics). At 100 TB
    one poisoned row can silently discard a day of state; bounding
    event time against PROCESSING time is the standard defense.
    """
    if threshold is not None:
        cutoff = F.lit(threshold).cast("timestamp")
    else:
        cutoff = F.current_timestamp() + F.expr(f"INTERVAL {bound}")
    is_future = F.col(ts_col) > cutoff
    clean = df.filter(F.coalesce(~is_future, F.lit(True)))
    quarantined = df.filter(is_future)
    return clean, quarantined


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    source: str = "file",
    host: str | None = None,
    port: int | None = None,
    future_bound: str | None = None,
    future_policy: str = "quarantine",
) -> DataFrame:
    """S6: streaming events source with the ns→µs timestamp conversion
    applied scan-side. ``source`` selects the connector — every
    downstream transformation is source-agnostic:

    - ``"file"`` (default): parquet readStream over the fixture dir —
      the test/CI path.
    - ``"socket"``: Spark's built-in socket source reading
      newline-delimited Pusher envelopes from a
      :class:`sources.pusher.SocketBridge` (or any websocket→TCP
      relay): each line is the C6 wire message — JSON with a
      base64(JSON EVENTS_RAW) payload (mm_calls.py:164-174) — decoded
      fully JVM-side.

    ``future_bound`` (opt-in, default off — st01–st17 semantics are
    unchanged) guards the watermark against corrupt far-future event
    times: rows with ``ts > processing time + future_bound`` are
    either excluded from the main stream (``future_policy=
    "quarantine"`` — recover them with :func:`split_future_events` on
    the raw read and sink them separately) or clamped to the bound
    (``"clamp"`` — the row survives with a capped event time, so the
    watermark can never outrun processing time by more than the
    bound). See :func:`split_future_events` for why one poisoned
    timestamp is a state-eviction hazard at scale.
    """
    if future_policy not in ("quarantine", "clamp"):
        raise ValueError(f"unknown future_policy: {future_policy!r}")
    _ensure_engine_confs(spark)
    if source == "file":
        # readStream needs a schema up front; take it from the parquet
        # footer (a metadata-only batch read) so both fixture
        # generations — ns-as-long and timestamp[us] — stream as-is.
        # Memoized per fixture dir: every streaming query construction
        # (st01-st10) otherwise re-lists the directory and re-reads the
        # footer (ADVICE r3).
        file_schema = _events_file_schema(spark, sf_dir)
        # The file source needs a DIRECTORY. A dir-shaped table
        # (events.parquet/ holding part files — the layout load_table
        # and size_hint already support) streams from the table
        # path itself: a pathGlobFilter of 'events.parquet' would
        # match LEAF file names and silently drain zero rows. A
        # single-file table keeps the glob over the fixture dir.
        tbl = table_path(sf_dir, "events")
        if os.path.isdir(tbl):
            raw = (
                spark.readStream.schema(file_schema)
                .format("parquet")
                .load(tbl)
            )
        else:
            raw = (
                spark.readStream.schema(file_schema)
                .format("parquet")
                .option("pathGlobFilter", "events.parquet")
                .load(sf_dir)
            )
    elif source == "socket":
        if not host or not port:
            raise ValueError("socket source requires host and port")
        lines = (
            spark.readStream.format("socket")
            .option("host", host)
            .option("port", port)
            .load()
        )
        # C6 decode: envelope JSON -> base64 payload -> EVENTS_RAW
        raw = (
            lines.select(
                F.from_json(F.col("value"), PUSHER_MESSAGE).alias("env")
            )
            .select(
                F.from_json(
                    F.unbase64(F.col("env.payload")).cast("string"), EVENTS_RAW
                ).alias("r")
            )
            .select("r.*")
        )
    else:
        raise ValueError(f"unknown events stream source: {source!r}")
    out = normalize_events_ts(raw)
    if future_bound is not None:
        if future_policy == "clamp":
            threshold = F.current_timestamp() + F.expr(f"INTERVAL {future_bound}")
            # NOT F.least(ts, threshold): least() skips NULLs, so a
            # NULL event time would be fabricated as the threshold —
            # the maximal watermark-advancing value — instead of
            # staying NULL for the downstream no-event-time filters
            # (st13/T3 own NULL ts). when() keeps NULL ts NULL.
            out = out.withColumn(
                "ts",
                F.when(F.col("ts") > threshold, threshold).otherwise(
                    F.col("ts")
                ),
            )
        else:
            out, _ = split_future_events(out, "ts", future_bound)
    return out


def default_state_partitions(n_keys: int, cores: int) -> int:
    """State-partition count for a stateful query expected to hold
    ``n_keys`` distinct keys on ``cores`` total executor cores:
    ``min(cores, max(2, ceil(n_keys / 10)))``.

    The rule is the sf1 streaming posture measurement promoted to an
    API default (SCALE.md r8, the state-store analog of
    :func:`functions.similarity.default_n_centroids`): every state
    partition costs a state-store instance + an Arrow worker, so at
    150 keys 16 partitions beat both 8 (idle cores) and 32 (batch
    overhead), while at 1500+ keys 32 (= cores) wins and 64
    oversubscribes. ~keys/10 fits both measured points; the core
    count is the hard cap. Streaming queries FREEZE the count at
    first checkpoint — size ``n_keys`` for the cardinality the stream
    will reach, not day-1 volume.
    """
    import math

    return min(int(cores), max(2, math.ceil(max(0, int(n_keys)) / 10)))


def run_stream_to_table(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: int | None = 8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain a finite stream into an in-memory sink synchronously and
    return the result table (the deterministic test/drain harness —
    production uses a real sink + processingTime trigger, T4).

    ``state_partitions`` pins the stateful-operator partition count
    for this query (a streaming query fixes it at first start and
    keeps it for the checkpoint's lifetime — size it to key
    cardinality, NOT to the session's relational shuffle setting;
    every state partition costs a state-store instance + a Python
    worker for Arrow-stateful ops). Sizing rule (measured, SCALE.md
    r8 sf1 streaming posture): ≈ min(total cores, key parallelism) —
    at 150 keys 16 partitions beat 8 and 32 on a 32-core box, at
    1500+ keys 32 (= cores) wins, and 64 oversubscribes workers and
    loses. Since the count is frozen by the first checkpoint, size it
    for the key cardinality the stream will REACH, not day-1 volume.

    ``checkpoint_dir`` pins the checkpoint location; pass one to read
    operator state back afterwards (:func:`frontier_drop_counts` —
    the temp checkpoint Spark otherwise creates is deleted on query
    stop). Without one, the drain parks its checkpoint on a RAM-backed
    tmpfs when the platform has one: the checkpoint of an availableNow
    drain into a MEMORY sink has no durability value (the sink dies
    with the process anyway), and the offset/commit-log fsyncs are a
    measurable slice of the per-query floor. A unique dir per call —
    never keyed on ``name`` — so a repeat drain (bench best-of-N)
    re-reads the source instead of resuming a committed checkpoint
    and returning an empty table. Production passes a real
    ``checkpoint_dir`` on durable storage."""
    import shutil
    import uuid

    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    scratch_ck = None
    if checkpoint_dir is None and os.path.isdir("/dev/shm") and os.access(
        "/dev/shm", os.W_OK
    ):
        scratch_ck = os.path.join(
            "/dev/shm", "spark_drain_ck", uuid.uuid4().hex
        )
    try:
        writer = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
        )
        if checkpoint_dir is not None:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        elif scratch_ck is not None:
            writer = writer.option("checkpointLocation", scratch_ck)
        query = writer.start()
        query.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if scratch_ck is not None:
            shutil.rmtree(scratch_ck, ignore_errors=True)
    return spark.table(name)


def frontier_drop_counts(
    spark: SparkSession, checkpoint_dir: str, key_col: str = "user_id"
) -> DataFrame:
    """Per-key count of rows the (ts, event_id) high-water-mark guard
    discarded, read from the operator's OWN state via Spark's state
    data source — the alarm surface for the silent-discard concern
    (VERDICT r6 #7): a deployment schedules this against the live
    checkpoint and alerts on any nonzero row, instead of grepping
    executor logs for :func:`_log_frontier_drops` WARNs.

    Works for every stateful op here that carries a ``dropped`` state
    field (:func:`threshold_alerts`, :func:`zscore_anomalies`).
    Output: (``key_col``, dropped) — one row per key ever seen; all
    zeros under an event-time-ordered source.

    Scale: the state source reads the newest checkpointed snapshot
    partition-parallel; nothing is replayed and the streaming query
    does not pause."""
    state = (
        spark.read.format("statestore")
        .load(checkpoint_dir)
    )
    # applyInPandasWithState stores its declared stateStructType nested
    # under value.groupState (empirically pinned by the test; plain
    # agg operators surface fields at value.* instead).
    return state.select(
        F.col(f"key.{key_col}").alias(key_col),
        F.col("value.groupState.dropped").alias("dropped"),
    )


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window counts per event_type (the windowed
    upgrade of T2's per-message handling)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Watermarked sliding-window counts (each event lands in
    width/slide overlapping windows)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width, slide).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n",
        )
    )


def session_counts(events: DataFrame, gap: str = "2 days") -> DataFrame:
    """Session windows per user: events closer than ``gap`` merge into
    one session (no session concept exists in the reference; this is
    the engine-native sessionization)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id"),
            F.unix_timestamp(F.col("w.start")).alias("session_start_s"),
            "n_events",
        )
    )


def latest_per_key_upsert(
    events: DataFrame, state_dir: str | None = None
) -> DataFrame:
    """T3: keyed latest-row-wins upsert via foreachBatch MERGE.

    Each microbatch merges into a parquet state table: union existing
    state with the batch, keep the newest row per user_id
    (ts desc, event_id desc tiebreak). This is the engine's version of
    ``sport_events[event_id] = event`` / wagers-dict upsert-delete
    (mm_calls.py:105, 261, 325) — durable, exactly-once per batch, and
    expressible as a batch MERGE so the oracle can check the final
    state.

    A caller-supplied ``state_dir`` is the DURABLE contract: the
    checkpoint inside it records processed source files, so a repeat
    call with the same dir RESUMES — already-committed files are not
    reprocessed and the existing state table carries forward (that is
    the exactly-once point; it is why the default is a fresh temp dir
    per call, the run_stream_to_table rule). Rewriting a source file
    in place under a reused state_dir therefore does NOT re-ingest it;
    land new data as NEW files, or use a fresh state_dir.
    """
    spark = events.sparkSession
    state_dir = state_dir or tempfile.mkdtemp(prefix="upsert_state_")
    state_path = os.path.join(state_dir, "state")
    checkpoint = os.path.join(state_dir, "checkpoint")

    def merge_batch(batch: DataFrame, _epoch: int) -> None:
        latest = _latest_per_user(batch)
        # Only the genuinely-missing-state case (first batch) may fall
        # back to batch-only state; any other read failure (corrupt
        # file, FS hiccup) must propagate and fail the query rather
        # than silently resetting the state table.
        if os.path.exists(state_path):
            existing = batch.sparkSession.read.parquet(state_path)
            merged = _latest_per_user(existing.unionByName(latest))
        else:
            merged = latest
        merged.write.mode("overwrite").parquet(state_path + "_next")
        batch.sparkSession.read.parquet(state_path + "_next").write.mode(
            "overwrite"
        ).parquet(state_path)

    query = (
        events.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    if not os.path.exists(state_path):
        # zero microbatches (empty source, or a resumed checkpoint
        # with nothing new and no prior state): the upsert of nothing
        # is an EMPTY state table, not a read error. Columns match the
        # merge output (_latest_per_user preserves the event schema).
        return local_frame(spark, [], events.schema)
    return spark.read.parquet(state_path)


def _latest_per_user(df: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# C6: Pusher envelope encode/decode (mm_calls.py:164-174).
# ---------------------------------------------------------------------------
PAYLOAD_SCHEMA = T.StructType([T.StructField("k", T.LongType())])


def encode_pusher_envelope(events: DataFrame) -> DataFrame:
    """Wrap event props as a Pusher-style wire message: JSON envelope
    with a base64(JSON) payload and a tournament channel name
    (mm_calls.py:192-204's per-tournament event binding)."""
    return events.select(
        F.to_json(
            F.struct(
                F.concat(
                    F.lit("tournament_"), F.pmod(F.col("user_id"), F.lit(10))
                ).alias("channel"),
                F.col("event_type").alias("event"),
                F.base64(F.col("props").cast("binary")).alias("payload"),
            )
        ).alias("msg")
    )


def decode_pusher_envelope(messages: DataFrame) -> DataFrame:
    """C6: json.loads(msg) → b64decode(payload) → json.loads —
    as from_json → unbase64 → from_json, fully JVM-side."""
    env = messages.select(
        F.from_json(F.col("msg"), PUSHER_MESSAGE).alias("env")
    ).select("env.channel", "env.event", "env.payload")
    return env.select(
        "channel",
        "event",
        F.from_json(F.unbase64(F.col("payload")).cast("string"), PAYLOAD_SCHEMA)
        .getField("k")
        .alias("k"),
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState (the engine-native
# version of T3's keyed dict state when the update logic is arbitrary
# Python, not a MERGE).
# ---------------------------------------------------------------------------
def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running (count, value-sum) kept in explicit group
    state — ``applyInPandasWithState`` with Arrow-batched update
    functions. This is the reference's in-memory keyed dict
    (mm_calls.py:23-24) upgraded to checkpointable, partitioned,
    exactly-once state.

    Emits the running totals on every update; over a single
    availableNow microbatch (the fixture is one parquet file) each key
    emits exactly once, so the drained table equals the batch
    aggregate — which is what the oracle checks. State is (long,
    double) per user: at 100 TB of history the store holds one tiny
    row per key, hash-partitioned with the shuffle.
    """
    import pandas as pd  # executor-side import
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("s", T.DoubleType())]
    )

    def update(key, pdf_iter, state):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
        state.update((n, s))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(s, 2)],
            }
        )

    # Narrow the Arrow transfer (see threshold_alerts); the running
    # totals consume only (user_id, value).
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    window_seconds: int,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: right rows within
    ``window_seconds`` BEFORE each left row, same key (the "views
    leading up to this purchase" shape).

    Both sides carry watermarks and the join condition bounds right.ts
    to [left.ts - window, left.ts], so Spark can evict right-side
    state once the watermark passes the window — without the bound,
    stream-stream join state grows forever. Over a finite availableNow
    drain the emitted matches equal the batch inequality join.

    ``how='left_outer'`` additionally emits a null-padded row for each
    unmatched left row — but only once the watermark PASSES that row's
    join window (the engine must hold the row back until no matching
    right row can still arrive). Left rows inside the final watermark
    delay of stream end therefore never finalize in a drain: the
    append-mode late-data semantics this repo pins for windowed
    aggregates (SCALE.md) apply to outer joins identically, and st11's
    oracle encodes exactly that cutoff.
    """
    l = left.select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_id"),
    ).withWatermark("l_ts", "10 minutes")
    r = right.select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
    ).withWatermark("r_ts", "10 minutes")
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {window_seconds} SECOND"))
    )
    if how not in ("inner", "left_outer"):
        raise ValueError(f"stream_stream_join supports inner/left_outer, got {how!r}")
    return l.join(r, cond, how).select(
        F.col("l_key").alias("user_id"),
        F.col("l_id").alias("purchase_id"),
        F.col("r_id").alias("view_id"),
        F.unix_micros("l_ts").alias("purchase_ts_us"),
        F.unix_micros("r_ts").alias("view_ts_us"),
    )


def watermarked_dedup(
    events: DataFrame, subset: list[str] | None = None, delay: str = "1 day"
) -> DataFrame:
    """Exactly-once ingest dedup: drop re-deliveries of the same key
    arriving within the watermark delay (``dropDuplicatesWithinWatermark``).

    The upgrade of the reference's at-most-once in-memory keyed dicts
    (mm_calls.py:23-26) for at-least-once sources: state per key is
    retained only until the watermark passes key_ts + delay, so state
    size is bounded by the duplicate-arrival horizon instead of the
    whole stream history (plain streaming ``dropDuplicates`` state
    grows forever)."""
    return events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(
        subset or ["event_id"]
    )


# ---------------------------------------------------------------------------
# Streaming ingest near-dup filter: the streaming face of the LLM dedup
# toolkit (functions/dedup) — drop arriving documents that are SimHash-
# near a previously seen document, at ingest time.
# ---------------------------------------------------------------------------
DOCUMENTS_RAW = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source readStream over the documents fixture (same
    source-agnostic posture — and the same dir-shaped-table handling —
    as read_events_stream)."""
    _ensure_engine_confs(spark)
    tbl = table_path(sf_dir, "documents")
    if os.path.isdir(tbl):
        return (
            spark.readStream.schema(DOCUMENTS_RAW).format("parquet").load(tbl)
        )
    return (
        spark.readStream.schema(DOCUMENTS_RAW)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )


# byte → popcount table; XOR'd uint64 signatures viewed as uint8 give
# Hamming distance as an 8-byte table-lookup sum (no per-row bin()).
_POP8 = None


def _pop8():
    global _POP8
    if _POP8 is None:
        import numpy as np

        _POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    return _POP8


def neardup_bucket_update(
    state_ids,
    state_sigs,
    batch_ids,
    batch_sigs,
    max_hamming: int,
    max_state: int,
):
    """One bucket's state transition for the streaming near-dup filter
    (pure function — unit-testable without Spark).

    Returns ``(kept_ids, kept_sigs, new_state_ids, new_state_sigs)``.

    Rules:
    - a doc is kept iff no previously SEEN doc (kept or rejected — a
      rejected doc can still be another doc's nearest earlier
      neighbor) in the bucket is within ``max_hamming``;
    - redeliveries (doc_id already in state) are dropped and do NOT
      grow state — at-least-once sources redeliver, so state growth
      must be keyed on distinct docs, not arrivals;
    - state is capped at ``max_state`` entries per bucket, compacted
      deterministically to the smallest doc_ids (the first-seen ones
      under the doc_id ordering — the docs that define the
      first-seen-wins rule). The cap bounds memory on an infinite
      stream; beyond it the filter degrades gracefully to checking
      the oldest ``max_state`` docs, the same accepted-approximation
      as batch l09's prefix blocking.

    Hamming distance is numpy-vectorized: XOR the uint64 signature
    against the whole seen array, view as bytes, popcount via an
    8-bit table — O(seen/8 words) per arrival instead of a Python
    ``bin().count`` loop.
    """
    import numpy as np

    pop8 = _pop8()
    n_state = len(state_ids)
    n_batch = len(batch_ids)
    seen_ids = set(int(i) for i in state_ids)
    # preallocate: state + worst-case whole batch joins the seen set
    all_sigs = np.empty(n_state + n_batch, dtype=np.uint64)
    all_sigs[:n_state] = np.asarray(state_sigs, dtype=np.int64).view(np.uint64)
    out_ids = [int(i) for i in state_ids]
    cnt = n_state
    kept_ids, kept_sigs = [], []
    order = np.argsort(np.asarray(batch_ids, dtype=np.int64), kind="stable")
    for idx in order:
        doc_id = int(batch_ids[idx])
        sig = int(batch_sigs[idx])
        if doc_id in seen_ids:
            continue  # redelivery: already decided, state unchanged
        u = np.uint64(sig & 0xFFFFFFFFFFFFFFFF)
        if cnt:
            x = np.bitwise_xor(all_sigs[:cnt], u)
            dist = pop8[x.view(np.uint8).reshape(-1, 8)].sum(axis=1)
            near = bool((dist <= max_hamming).any())
        else:
            near = False
        if not near:
            kept_ids.append(doc_id)
            kept_sigs.append(sig)
        # seen-semantics: every distinct arrival joins the state
        all_sigs[cnt] = u
        out_ids.append(doc_id)
        seen_ids.add(doc_id)
        cnt += 1
    new_ids = out_ids[:cnt]
    new_sigs = all_sigs[:cnt].view(np.int64)
    if cnt > max_state:
        keep = np.argsort(np.asarray(new_ids, dtype=np.int64), kind="stable")[
            :max_state
        ]
        keep.sort()
        new_ids = [new_ids[int(i)] for i in keep]
        new_sigs = new_sigs[keep]
    return kept_ids, kept_sigs, list(new_ids), [int(s) for s in new_sigs]


def streaming_neardup_filter(
    docs: DataFrame,
    max_hamming: int = 8,
    prefix_bits: int = 16,
    max_state_per_bucket: int = 4096,
) -> DataFrame:
    """Keep only documents NOT SimHash-near any previously seen doc.

    Arrivals are bucketed by signature prefix (the l09 blocking) and
    each bucket keeps the list of seen signatures in explicit group
    state; a doc is emitted iff its Hamming distance to every earlier
    signature in its bucket exceeds ``max_hamming``. "Earlier" is
    doc_id order — made deterministic within a microbatch by sorting,
    so over one availableNow drain the kept set equals the batch rule
    "no doc with smaller doc_id in my bucket within max_hamming"
    (pinned against the batch self-join in tests; rows-only at the
    driver since DuckDB cannot reproduce xxhash64).

    Scale: arrivals are repartitioned BEFORE the signature expression
    so hashing runs core-parallel regardless of source parallelism
    (a single-file microbatch otherwise pins one core — the standard
    decouple-source-from-compute exchange; the text column travels
    once, narrow (id, sig, bucket) rows feed the second, bucket-key
    shuffle into the state operator). State is BOUNDED:
    redeliveries never grow it and each bucket is compacted to
    ``max_state_per_bucket`` entries (smallest doc_ids — see
    neardup_bucket_update), so an infinite at-least-once stream holds
    at most ``2^prefix_bits * max_state_per_bucket`` signatures. The
    Hamming check is numpy-vectorized (XOR + byte-popcount table),
    not a per-row Python ``bin()`` loop.
    """
    import pandas as pd  # executor-side import
    from pyspark.sql.streaming.state import GroupStateTimeout

    from sports_betting_data_pipeline_spark.functions.dedup import simhash64

    from sports_betting_data_pipeline_spark.io import widen_for_compute

    sig_docs = (
        widen_for_compute(docs.select("doc_id", "text"))
        .select("doc_id", simhash64("text").alias("sig"))
        .withColumn("bucket", F.shiftrightunsigned("sig", 64 - prefix_bits))
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("sig", T.LongType()),
            T.StructField("bucket", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ids", T.ArrayType(T.LongType())),
            T.StructField("sigs", T.ArrayType(T.LongType())),
        ]
    )

    def update(key, pdf_iter, state):
        ids, sigs = state.get if state.exists else ([], [])
        rows = pd.concat(list(pdf_iter))
        kept_ids, kept_sigs, new_ids, new_sigs = neardup_bucket_update(
            list(ids),
            list(sigs),
            rows["doc_id"].to_numpy(),
            rows["sig"].to_numpy(),
            max_hamming,
            max_state_per_bucket,
        )
        state.update((new_ids, new_sigs))
        yield pd.DataFrame(
            {
                "doc_id": kept_ids,
                "sig": kept_sigs,
                "bucket": [key[0]] * len(kept_ids),
            }
        )

    return sig_docs.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ohlc_candles(events: DataFrame, width_us: int = 21600000000) -> DataFrame:
    """Streaming OHLC candle aggregation — the live twin of the batch
    ts02 resample: per event type and fixed bucket, first/highest/
    lowest/last value plus volume, maintained incrementally as events
    arrive. open/close are ``min_by``/``max_by`` keyed on event time —
    fully partial-aggregable, so streaming state per (type, bucket) is
    one small struct, merged map-side each microbatch.

    Bucketing uses the same integer epoch-µs division as ts02 so the
    drained table is row-identical to the batch rollup.
    """
    bucket_us = F.expr(f"unix_micros(ts) div {width_us} * {width_us}")
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("event_type", bucket_us.alias("bucket_us"))
        .agg(
            F.round(F.min_by("value", "ts"), 4).alias("open_value"),
            F.round(F.max("value"), 4).alias("high_value"),
            F.round(F.min("value"), 4).alias("low_value"),
            F.round(F.max_by("value", "ts"), 4).alias("close_value"),
            F.count(F.lit(1)).alias("volume"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def _log_frontier_drops(key, n_batch: int, n_kept: int) -> None:
    """WARN when a (ts, event_id) high-water-mark guard discards rows.

    The guard exists for REPLAYS: under the pinned mtime-ordered file
    sources it never fires, but against a real source that is merely
    out-of-order (not a replay) a silent drop would make
    threshold_alerts/zscore diverge from the batch oracle with no
    trace. The per-(key, batch) counter in the executor log is the
    detection signal deployments watch instead of losing data silently
    (ADVICE r5). Executor-side logging only — no output-schema change,
    so oracle hashes are untouched.
    """
    dropped = n_batch - n_kept
    if dropped > 0:
        import logging  # executor-side import

        logging.getLogger("sports_betting_data_pipeline_spark.streaming").warning(
            "frontier guard dropped %d out-of-order row(s) behind the "
            "high-water mark for key %s this microbatch",
            dropped,
            tuple(key),
        )


def threshold_alerts(events: DataFrame, threshold: float = 1500.0) -> DataFrame:
    """Stateful first-crossing alert: per user, emit exactly ONE row at
    the first event where the running value total reaches ``threshold``
    — the "bankroll exposure breached" alert a live wagering pipeline
    fires (the reference's balance checks, mm_calls.py, are
    poll-per-loop; this is the push-based streaming version).

    State per user is (cumulative_sum, alerted) plus the key's
    (ts, event_id) high-water mark — O(users) scalars forever. Each
    microbatch sorts its group rows by (ts, event_id) before
    accumulating, making the crossing point deterministic regardless
    of Arrow batch order; once alerted, later batches short-circuit
    without emitting. Drained with availableNow the alert set equals
    the batch "first row whose running sum >= T" window query, which
    is what the oracle checks.

    Cross-batch ordering (ADVICE r4): the running sum is
    order-sensitive, so rows arriving BEHIND the key's high-water mark
    (an out-of-order source replaying old events) are DROPPED rather
    than silently mis-accumulated — the stateful analog of
    watermark-late drop. Under an event-time-ordered source (the file
    setups here pin order via mtime + maxFilesPerTrigger=1) the guard
    never fires and results are identical.
    """
    import pandas as pd  # executor-side import
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("alert_event_id", T.LongType()),
            T.StructField("cum_value", T.DoubleType()),
            T.StructField("n_events_before", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("cum", T.DoubleType()),
            T.StructField("n", T.LongType()),
            T.StructField("alerted", T.BooleanType()),
            T.StructField("max_ns", T.LongType()),
            T.StructField("max_eid", T.LongType()),
            T.StructField("dropped", T.LongType()),
        ]
    )

    def update(key, pdf_iter, state):
        cum, n, alerted, max_ns, max_eid, dropped = (
            state.get if state.exists else (0.0, 0, False, -(1 << 62), -1, 0)
        )
        rows = [pdf for pdf in pdf_iter]
        if alerted:
            state.update((cum, n, True, max_ns, max_eid, dropped))
            return
        pdf = pd.concat(rows).sort_values(["ts", "event_id"])
        ts_ns = pdf["ts"].astype("int64")
        # drop rows behind the key's (ts, event_id) high-water mark —
        # the running sum is order-sensitive (see docstring)
        keep = (ts_ns > max_ns) | (
            (ts_ns == max_ns) & (pdf["event_id"] > max_eid)
        )
        dropped += len(pdf) - int(keep.sum())
        _log_frontier_drops(key, len(pdf), int(keep.sum()))
        pdf = pdf[keep]
        ts_ns = ts_ns[keep]
        # Vectorized running sum (r7): cumsum over [state.cum, v0, v1,
        # ...] accumulates strictly left-to-right STARTING FROM the
        # carried state value, so every partial sum is bit-identical
        # to the former per-row `cum += v` loop — including across
        # batch boundaries (((cum+v0)+v1) association, which a
        # `cum + np.cumsum(vals)` would NOT preserve) — at C speed
        # instead of ~4000 Python iterations per key per batch (the
        # st13 addBatch floor). The first index whose partial sum
        # crosses the threshold is the alert row.
        import numpy as np

        vals = pdf["value"].fillna(0.0).to_numpy(dtype="float64")
        cums = np.cumsum(np.concatenate(([cum], vals)))[1:]
        hit = np.nonzero(cums >= threshold)[0]
        if hit.size:
            i = int(hit[0])
            cum_i = float(cums[i])
            eid_i = int(pdf["event_id"].iloc[i])
            state.update(
                (cum_i, n + i + 1, True, int(ts_ns.iloc[i]), eid_i, dropped)
            )
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "alert_event_id": [eid_i],
                    "cum_value": [round(cum_i, 2)],
                    "n_events_before": [n + i + 1],
                }
            )
            return
        if len(pdf):
            cum = float(cums[-1])
            n += len(pdf)
            max_ns = int(ts_ns.iloc[-1])
            max_eid = int(pdf["event_id"].iloc[-1])
        state.update((cum, n, False, max_ns, max_eid, dropped))

    # Narrow the Arrow transfer: the stateful node serializes EVERY
    # input column into Python (column pruning does not reach through
    # FlatMapGroupsInPandasWithState), so project the four consumed
    # columns first — props alone is wider than the rest combined.
    return (
        events.select("user_id", "ts", "event_id", "value")
        # no event time -> no event-time processing (the st01/st02
        # window convention, made EXPLICIT here): the (ts, event_id)
        # frontier cannot order a NULL timestamp — before this filter
        # NaT silently became the int64 sentinel and fell behind the
        # initial high-water mark, an accidental drop (fuzz_oracle
        # nulls variant)
        .filter(F.col("ts").isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def zscore_anomalies(
    events: DataFrame, min_history: int = 10, threshold: float = 3.0
) -> DataFrame:
    """Streaming per-key anomaly detection: flag an event whose value
    sits more than ``threshold`` sample standard deviations from the
    key's OWN history (prior events only — the flagged event never
    contaminates the statistics it is judged against, and the state
    update is unconditional either way).

    State per user is (n, sum, sum-of-squares) plus the key's
    (ts, event_id) high-water mark — the sufficient statistics of
    mean/variance, merged per batch in event order ((ts, event_id)
    sort per Arrow group). No window over history, no event retention:
    O(keys) state forever — the live twin of the batch prefix-window
    z-score, which is what the oracle computes.

    Cross-batch ordering (ADVICE r4): prefix statistics are
    order-sensitive, so rows arriving behind the key's high-water mark
    are DROPPED (watermark-late-drop semantics) instead of silently
    contaminating the prefix each later event is judged against. Under
    an event-time-ordered source the guard never fires.
    """
    import pandas as pd  # executor-side import
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("z", T.DoubleType()),
            T.StructField("n_prev", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
            T.StructField("ss", T.DoubleType()),
            T.StructField("max_ns", T.LongType()),
            T.StructField("max_eid", T.LongType()),
            T.StructField("dropped", T.LongType()),
        ]
    )

    def update(key, pdf_iter, state):
        n, s, ss, max_ns, max_eid, dropped = (
            state.get if state.exists else (0, 0.0, 0.0, -(1 << 62), -1, 0)
        )
        pdf = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
        ts_ns = pdf["ts"].astype("int64")
        keep = (ts_ns > max_ns) | (
            (ts_ns == max_ns) & (pdf["event_id"] > max_eid)
        )
        dropped += len(pdf) - int(keep.sum())
        _log_frontier_drops(key, len(pdf), int(keep.sum()))
        pdf = pdf[keep]
        ts_ns = ts_ns[keep]
        if len(pdf):
            max_ns = int(ts_ns.iloc[-1])
            max_eid = int(pdf["event_id"].iloc[-1])
        # Vectorized prefix statistics (r7): cumsum over
        # [carried_state, v0, v1, ...] reproduces the sequential
        # `s += v` / `ss += v*v` accumulation bit-for-bit (strict
        # left-to-right association from the state value — see
        # threshold_alerts), and the per-row mean/var/z arithmetic is
        # the same IEEE expression element-wise. Only the handful of
        # FLAGGED rows go back through Python (round() kept Python-side
        # because np.round's scale-rint-divide can differ from
        # Python's correctly-rounded round() in the last ulp).
        import numpy as np

        vals = pdf["value"].fillna(0.0).to_numpy(dtype="float64")
        m = len(vals)
        out = []
        if m:
            s_run = np.cumsum(np.concatenate(([s], vals)))
            ss_run = np.cumsum(np.concatenate(([ss], vals * vals)))
            n_prior = n + np.arange(m, dtype="int64")
            s_prior = s_run[:-1]
            ss_prior = ss_run[:-1]
            with np.errstate(divide="ignore", invalid="ignore"):
                mean = s_prior / n_prior
                var = (ss_prior - s_prior * s_prior / n_prior) / (
                    n_prior - 1
                )
                z = (vals - mean) / np.sqrt(var)
            flag = (
                (n_prior >= min_history)
                & (var > 0)
                & (np.abs(z) > threshold)
            )
            if flag.any():
                idx = np.nonzero(flag)[0]
                eids = pdf["event_id"].to_numpy()
                out = [
                    {
                        # a NULL grouping key is a legal group — and
                        # it arrives as float NaN through Arrow, not
                        # None, so pd.isna is the only correct test;
                        # int() on it kills the stage (fuzz_oracle,
                        # two seeds needed to catch both spellings)
                        "user_id": None if pd.isna(key[0]) else int(key[0]),
                        "event_id": int(eids[i]),
                        "z": round(float(z[i]), 4),
                        "n_prev": int(n_prior[i]),
                    }
                    for i in idx
                ]
            n += m
            s = float(s_run[-1])
            ss = float(ss_run[-1])
        state.update((n, s, ss, max_ns, max_eid, dropped))
        if out:
            yield pd.DataFrame(out)

    # Narrow the Arrow transfer (see threshold_alerts).
    return (
        events.select("user_id", "ts", "event_id", "value")
        # no event time -> no event-time processing (the st01/st02
        # window convention, made EXPLICIT here): the (ts, event_id)
        # frontier cannot order a NULL timestamp — before this filter
        # NaT silently became the int64 sentinel and fell behind the
        # initial high-water mark, an accidental drop (fuzz_oracle
        # nulls variant)
        .filter(F.col("ts").isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
