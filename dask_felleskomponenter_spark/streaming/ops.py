"""Structured Streaming operators over the events stream.

The reference has no streaming surface (SURVEY.md §1.3: batch only);
this pack is the ``readStream`` re-expression of the engine's event
operators — the v2 stretch SURVEY.md §7 designates — so the same
logical pipelines run continuously at cluster scale:

- ``stream_events``: file-source stream with the same nanosecond-
  timestamp normalization as the batch source layer
  (``sources/tables.py::load_table``).
- ``windowed_event_counts``: watermarked tumbling-window counts — the
  streaming twin of the batch ``tumbling_window_events`` query. Late
  rows beyond the watermark are dropped; state is bounded by
  (watermark / slide) windows per key.
- ``sessionize_events``: session windows via the built-in
  ``session_window`` (gap-based) — the streaming twin of the batch
  ``lag_sessionize`` query.
- ``sessionize_stateful``: the same sessionization as a custom stateful
  operator on ``applyInPandasWithState`` — the escape hatch shape for
  semantics the built-in windows can't express (per-key custom state,
  timeout-driven emission).

Scale: all state is keyed and watermark-bounded; shuffle happens once on
the grouping key; sinks should be partitioned by window start for
append-mode compaction. Tests drive these with file sources +
``availableNow`` triggers and assert exact parity against the batch
twins — the recommended way to validate streaming semantics without a
long-running cluster.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: Schema of the events table (driver testdata; ts normalized to micros).
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def stream_events(
    spark: SparkSession, path: str, nanos: bool = False
) -> DataFrame:
    """File-source stream of event rows from a parquet directory.

    ``nanos=False`` (default) expects microsecond TIMESTAMP parquet —
    data already normalized, e.g. written by the batch layer.
    ``nanos=True`` streams the RAW nanosecond-timestamp shape (the
    driver's ``events.parquet``): ``ts`` is read as int64 nanos and
    truncated to a microsecond timestamp, the same normalization
    ``sources/tables.py::load_table`` applies batch-side. The required
    ``spark.sql.legacy.parquet.nanosAsLong`` conf is set HERE — relying
    on a prior ``load_table`` call having set it made a fresh session's
    first streaming read fail with PARQUET_TYPE_ILLEGAL.
    """
    if not nanos:
        return spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", LongType()),  # int64 nanos on disk
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    return (
        spark.readStream.schema(raw_schema)
        .parquet(path)
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    )


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts per event type.

    Streaming twin of the batch ``tumbling_window_events`` query: same
    grouping, same aggregate; the watermark bounds state and defines the
    late-data cutoff.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize_events(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session windows per user via built-in ``session_window``
    — sessions close when no event arrives for ``gap``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


#: Output schema of the stateful sessionizer.
SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", IntegerType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", IntegerType()),
    ]
)


def _make_sessionizer(gap_us: int):
    """Build the per-user session state machine: accumulate
    (start, last, count); emit closed sessions when the event-time gap
    exceeds ``gap_us`` or the state times out between micro-batches."""

    def _sessionize_group(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                }
            )
            return

        ts_list: list[int] = []
        for pdf in pdfs:
            # NULL event timestamps reach this operator (the late-row
            # watermark filter keeps them: NULL < watermark is NULL) as
            # NaT, whose .value is int64-min — one such row would open
            # or clamp a session to year 1677. A timestamp-less event
            # has no position on the timeline: drop it, matching the
            # built-in session_window twin (which drops NULL ts rows).
            ts_list.extend(
                int(t.value // 1000) for t in pdf["ts"] if not pd.isna(t)
            )
        ts_list.sort()
        if not ts_list and not state.exists:
            return  # batch carried only timestamp-less rows

        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = None, None, 0

        closed: list[tuple[int, int, int]] = []
        for t in ts_list:
            if start_us is None:
                start_us, last_us, n = t, t, 1
            elif t - last_us > gap_us:
                closed.append((start_us, last_us, n))
                start_us, last_us, n = t, t, 1
            else:
                # late cross-batch events (the watermark admits them)
                # can precede the open session: clamp instead of
                # regressing last_us, which produced end < start
                # sessions and spurious splits on the next on-time
                # event. An ultra-late event more than a gap BEFORE
                # session_start still merges (single-open-session
                # state can't retroactively split; the built-in
                # session_window twin is the fully-general path).
                start_us = min(start_us, t)
                last_us, n = max(last_us, t), n + 1

        state.update((start_us, last_us, n))
        # Event-time timeout: flush the open session once the watermark
        # passes last-event + gap. (ProcessingTimeTimeout would make
        # availableNow triggers spin micro-batches re-checking wall-clock
        # timeouts instead of terminating.)
        timeout_ms = last_us // 1000 + gap_us // 1000
        watermark_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(timeout_ms, watermark_ms + 1))

        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                    "n_events": [c for _, _, c in closed],
                }
            )

    return _sessionize_group


def sessionize_stateful(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful sessionization on ``applyInPandasWithState``.

    Semantically equivalent to ``sessionize_events`` for in-order data;
    exists as the template for stateful logic the built-in windows can't
    express. State per user is three numbers; timeouts flush idle
    sessions so state never grows unboundedly.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_sessionizer(gap_minutes * 60 * 1_000_000),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication: first occurrence per key wins,
    duplicate arrivals within the watermark horizon are dropped.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes, so state is bounded by the duplicate-arrival
    window instead of growing with total distinct keys — the streaming
    twin of the batch ``exact_dedup`` operator (hash the content column
    first for fixed-width state, as in ``operators/dedup.py``).
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower_seconds: float = -300.0,
    upper_seconds: float = 0.0,
    watermark: str = "2 hours",
    prefix: str = "rng_",
) -> DataFrame:
    """Stream-stream inner join with an event-time range condition — the
    streaming twin of ``operators/joins.py::interval_join`` (same
    inclusive ``left_ts + lower <= right_ts <= left_ts + upper``
    semantics, parity-tested).

    Both sides carry watermarks, and the range condition itself is what
    bounds the join state: Spark evicts buffered rows once the watermark
    passes their join-window, so state is (watermark + range-span) deep
    per key instead of unbounded. This is the canonical two-stream
    correlation shape (click↔error attribution) run continuously.

    The range is written DIRECTLY on the timestamp columns (literal
    interval arithmetic): Spark's state-watermark extraction
    (StreamingJoinHelper) cannot see through ``unix_micros()``-style
    conversions, and with an opaque condition the executed plan shows
    ``state cleanup [ left = null, right = null ]`` — rows are buffered
    forever and the state store grows without bound. The timestamp-
    column form restores eviction (both sides non-null in the plan,
    pinned in ``tests/test_streaming.py``).

    No time-bucketing here: Structured Streaming's symmetric hash join
    keys the shuffle on the equality columns and applies the range as a
    state-eviction predicate, which already avoids the batch all-pairs
    blowup the bucketed batch operator exists to prevent.
    """
    from dask_felleskomponenter_spark.operators.joins import range_bounds_us

    lo_us, hi_us = range_bounds_us(lower_seconds, upper_seconds)

    # Same API-collision guard as the batch twin: a left column already
    # named like a prefixed right column would emit a DUPLICATE column
    # in the output schema — and here the bad schema escapes silently
    # into the sink instead of crashing inside the operator.
    clash = {f"{prefix}{c}" for c in right.columns} & set(left.columns)
    if clash:
        raise ValueError(
            f"prefixed right column(s) {sorted(clash)} collide with "
            f"left columns; pass a different prefix"
        )

    lhs = left.withWatermark(left_ts, watermark).alias("l")
    rename = [
        F.col(f"r.{c}").alias(f"{prefix}{c}") for c in right.columns
    ]
    rhs = right.withWatermark(right_ts, watermark).alias("r")

    cond = None
    for k in on:
        clause = F.col(f"l.{k}") == F.col(f"r.{k}")
        cond = clause if cond is None else cond & clause
    l_ts = F.col(f"l.{left_ts}")
    r_ts = F.col(f"r.{right_ts}")
    lo_iv = F.expr(f"make_dt_interval(0, 0, 0, {lo_us} / 1e6)")
    hi_iv = F.expr(f"make_dt_interval(0, 0, 0, {hi_us} / 1e6)")
    cond = cond & (r_ts >= l_ts + lo_iv) & (r_ts <= l_ts + hi_iv)

    return lhs.join(rhs, cond, "inner").select(
        *[F.col(f"l.{c}") for c in left.columns], *rename
    )


def run_to_memory_sink(
    stream_df: DataFrame, query_name: str, checkpoint_dir: str
) -> DataFrame:
    """Drive a streaming DataFrame to completion on currently-available
    data (``availableNow`` trigger) into an in-memory table; returns the
    materialized result as a batch DataFrame. Test/dev harness — real
    deployments write Delta/Kafka sinks with the same plan."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete" if _has_aggregate_complete(stream_df) else "append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def _has_aggregate_complete(df: DataFrame) -> bool:
    # session_window/applyInPandasWithState require append; plain
    # windowed aggregates can use complete for exact test comparisons.
    # Decided by WALKING the analyzed plan's operator and expression
    # trees, not by substring-matching its printed text: a relation
    # path or column literally named 'session_window_events' (or a
    # string literal containing 'Aggregate') must not flip the mode.
    # An earlier camelCase-spelling substring check silently routed
    # session-window streams to complete mode, where the watermark
    # neither drops late rows nor evicts state and checkpoint restarts
    # re-emit every session (pinned in
    # tests/test_streaming.py::test_session_window_stream_uses_append).
    # The plan crosses the Py4J bridge ONCE as JSON and is walked as
    # parsed structure here: per-node/per-expression JVM round-trips
    # cost tens of ms on wide schemas, and raw-text substring checks
    # were spoofable by identifiers merely containing the trigger words.
    # In parsed form the operator kind is the "class" FIELD (a string
    # literal in the data can only ever appear as a "value" field, never
    # as a node class). The analyzer rewrites the SessionWindow
    # expression into timestamp arithmetic whose result attribute it
    # always names exactly 'session_window' with dataType
    # struct<start,end> (its runtime metadata marker does not survive
    # toJSON) — a user column would need that exact generated
    # name-and-shape under an Aggregate to spoof it, which is the
    # session-window contract itself.
    import json as _json

    plan = _json.loads(df._jdf.queryExecution().analyzed().toJSON())
    has_aggregate = False
    stack = [plan]
    while stack:
        node = stack.pop()
        if isinstance(node, list):
            stack.extend(node)
            continue
        if not isinstance(node, dict):
            continue
        cls = node.get("class", "")
        if isinstance(cls, str):
            if cls.endswith(".Aggregate"):
                has_aggregate = True
            elif cls.endswith(".FlatMapGroupsInPandasWithState"):
                return False
            elif (
                cls.endswith(".AttributeReference")
                and node.get("name") == "session_window"
            ):
                dt = node.get("dataType")
                if isinstance(dt, dict) and [
                    f.get("name") for f in dt.get("fields", [])
                ] == ["start", "end"]:
                    return False
        stack.extend(node.values())
    return has_aggregate


def stream_neardup_ingest(
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    history_table: str,
    corpus_path: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    shingle_size: int = 3,
    max_history_bucket_width: int | None = 4096,
):
    """Streaming corpus ingest with cross-batch NEAR-duplicate
    screening: every micro-batch is MinHash-signed, screened against
    the persisted LSH band-bucket history
    (``sources/dedup_store.py::neardup_against_history``) and against
    itself (greedy lowest-id survivors), survivors append to the
    corpus, and their band buckets are recorded — the continuous form
    of the near-dup crawl pipeline (each trigger pays batch-sized cost
    against an unbounded history; the history side of the screen join
    reads bucket-aligned and never shuffles).

    Delivery semantics: checkpointed foreachBatch replays are
    at-least-once. Screening is idempotent (a replayed batch collides
    with its own recorded buckets and yields zero novel rows), so
    duplicates can reach the corpus only if a crash lands exactly
    between the corpus append and the bucket append of one batch — the
    corpus is written FIRST so that window duplicates rather than
    silently drops (same contract as ``stream_dedup_ingest``).

    Near-dup screening is ORDER-SENSITIVE across batches (the first
    batch to ingest a cluster's representative wins); batch boundaries
    are therefore part of the semantics, as with any streaming dedup.

    Returns the started ``StreamingQuery`` (``availableNow`` trigger).
    """
    from dask_felleskomponenter_spark.sources.dedup_store import (
        neardup_against_history,
        record_novel_signatures,
    )

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        # return_buckets materializes the batch's band buckets once, so
        # the record step below reuses them instead of paying the
        # MinHash stage a second time per micro-batch
        novel, buckets = neardup_against_history(
            batch_df.sparkSession,
            batch_df,
            id_col,
            text_col,
            history_table,
            num_hashes=num_hashes,
            bands=bands,
            rows_per_band=rows_per_band,
            shingle_size=shingle_size,
            max_history_bucket_width=max_history_bucket_width,
            return_buckets=True,
        )
        novel = novel.localCheckpoint(eager=True)
        # buckets arrive ALREADY checkpointed: neardup_against_history
        # materializes the returned buckets itself (round 10), cutting
        # their lineage from the history-table scan so the record
        # append below never reads the table it writes and never pays
        # the history screen a second time per micro-batch.
        novel.write.mode("append").parquet(corpus_path)
        record_novel_signatures(
            novel,
            id_col,
            text_col,
            history_table,
            f"batch-{batch_id}",
            n_buckets=n_buckets,
            num_hashes=num_hashes,
            bands=bands,
            rows_per_band=rows_per_band,
            shingle_size=shingle_size,
            buckets_df=buckets,
        )

    return (
        stream_df.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_ingest(
    stream_df: DataFrame,
    id_col: str,
    content_col: str,
    history_table: str,
    corpus_path: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
):
    """Streaming corpus ingest with cross-batch dedup: every micro-batch
    is screened against the bucketed content-hash history
    (``sources/dedup_store.py``), novel documents append to the corpus
    sink, and their hashes are recorded — the continuous form of the
    crawl-ingest pipeline (each trigger pays batch-sized cost against
    an unbounded history).

    Delivery semantics: checkpointed foreachBatch replays are
    at-least-once. Screening is idempotent (a replayed batch finds its
    hashes recorded and yields zero novel rows), so duplicates can reach
    the corpus only if a crash lands exactly between the corpus append
    and the history append of one batch. The corpus is written FIRST so
    that failure mode duplicates rather than silently drops; a
    downstream exact-dedup pass (or a transactional table format making
    the two appends atomic) removes even that window at deployment.

    Returns the started ``StreamingQuery`` (``availableNow`` trigger).
    """
    from dask_felleskomponenter_spark.sources.dedup_store import (
        dedup_against_history,
        record_novel,
    )

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        novel = dedup_against_history(
            batch_df.sparkSession,
            batch_df,
            id_col,
            content_col,
            history_table,
            n_buckets=n_buckets,
            update=False,
        ).localCheckpoint(eager=True)
        novel.write.mode("append").parquet(corpus_path)
        record_novel(
            novel, id_col, history_table, f"batch-{batch_id}", n_buckets
        )

    return (
        stream_df.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
