"""Streaming pack tests: file source → watermarked aggregation →
availableNow memory sink, asserted for exact parity against the batch
twin of each pipeline (the recommended way to validate streaming
semantics without a long-running cluster)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dask_felleskomponenter_spark.sources import load_table
from dask_felleskomponenter_spark.streaming import (
    run_to_memory_sink,
    sessionize_events,
    sessionize_stateful,
    stream_events,
    windowed_event_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events subset written as a parquet directory (file streams need a
    directory, and the raw file has nanosecond timestamps the source
    layer normalizes first)."""
    path = str(tmp_path_factory.mktemp("stream") / "events")
    (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .filter(F.col("user_id") < 20)
        .coalesce(2)
        .write.parquet(path)
    )
    return path


def test_windowed_counts_match_batch(spark, events_dir, tmp_path):
    stream = windowed_event_counts(stream_events(spark, events_dir), "1 hour")
    got = run_to_memory_sink(stream, "win_counts", str(tmp_path / "ckpt"))

    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    g = {(r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
         for r in got.collect()}
    b = {(r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
         for r in batch.collect()}
    assert g == b and len(g) > 0


def test_stream_events_nanos_sets_its_own_conf(spark):
    """stream_events(nanos=True) must not depend on a prior load_table
    call having enabled nanosAsLong — a fresh session's first streaming
    read used to fail with PARQUET_TYPE_ILLEGAL (round-6 review
    finding)."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)
        stream_events(spark, "/root/testdata/sf0.001/events.parquet", nanos=True)
        assert spark.conf.get(key) == "true"
    finally:
        if prev is not None:
            spark.conf.set(key, prev)


def test_session_window_stream_runs(spark, events_dir, tmp_path):
    stream = sessionize_events(stream_events(spark, events_dir), gap="30 minutes")
    got = run_to_memory_sink(stream, "sessions_builtin", str(tmp_path / "ckpt"))
    # append-mode emission only closes sessions the watermark has passed;
    # with a bounded file source the final watermark closes all of them.
    rows = got.collect()
    assert len(rows) > 0
    assert all(r["session_end"] >= r["session_start"] for r in rows)
    # sessions of one user never overlap
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for sess in by_user.values():
        sess.sort(key=lambda r: r["session_start"])
        for a, b in zip(sess, sess[1:]):
            assert a["session_end"] < b["session_start"]


def test_session_window_stream_uses_append(spark, events_dir):
    """The output-mode heuristic must route session-window aggregates to
    append: the analyzed plan spells it 'session_window' (snake_case),
    and the old camelCase check silently selected complete mode — where
    the watermark neither drops late rows nor evicts state and restarts
    re-emit every session."""
    from dask_felleskomponenter_spark.streaming.ops import (
        _has_aggregate_complete,
    )

    sessions = sessionize_events(stream_events(spark, events_dir))
    assert _has_aggregate_complete(sessions) is False, "append required"
    counts = windowed_event_counts(stream_events(spark, events_dir))
    assert _has_aggregate_complete(counts) is True


def test_output_mode_heuristic_not_spoofed_by_names(spark, events_dir):
    """The mode decision walks the plan tree, so identifiers that merely
    CONTAIN the trigger words must not flip it: a grouping column named
    'session_window_events' is still a plain aggregate (complete), and a
    string literal 'Aggregate' in a stateless projection is not an
    aggregate (append)."""
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.streaming.ops import (
        _has_aggregate_complete,
    )

    ev = stream_events(spark, events_dir)
    spoof_agg = (
        ev.select(
            F.col("event_type").alias("session_window_events"), "value"
        )
        .groupBy("session_window_events")
        .agg(F.sum("value").alias("s"))
    )
    assert _has_aggregate_complete(spoof_agg) is True
    spoof_proj = ev.select(F.lit("Aggregate").alias("label"), "value")
    assert _has_aggregate_complete(spoof_proj) is False


def test_stateful_sessionizer_matches_batch_gap_split(spark, events_dir, tmp_path):
    stream = sessionize_stateful(stream_events(spark, events_dir), gap_minutes=30)
    got = run_to_memory_sink(stream, "sessions_stateful", str(tmp_path / "ckpt"))

    # Batch twin: lag-gap sessionization (only sessions CLOSED by a later
    # event appear in the stream's append output; the last open session
    # per user stays in state until timeout, which availableNow does not
    # wait for — so compare against closed sessions only).
    w = F.expr(
        "sum(case when prev_ts is null or (unix_micros(ts) - unix_micros(prev_ts)) > 1800000000 then 1 else 0 end) over (partition by user_id order by ts)"
    )
    from pyspark.sql import Window

    batch = spark.read.parquet(events_dir)
    win = Window.partitionBy("user_id").orderBy("ts")
    batch = (
        batch.withColumn("prev_ts", F.lag("ts").over(win))
        .withColumn("session_no", w)
        .groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    # drop each user's final (still-open) session
    last = Window.partitionBy("user_id")
    closed_batch = (
        batch.withColumn("max_no", F.max("session_no").over(last))
        .filter(F.col("session_no") < F.col("max_no"))
        .select("user_id", "session_start", "session_end", "n_events")
    )
    g = {(r["user_id"], r["session_start"], r["session_end"], r["n_events"])
         for r in got.collect()}
    b = {(r["user_id"], r["session_start"], r["session_end"], r["n_events"])
         for r in closed_batch.collect()}
    assert b <= g  # every batch-closed session was emitted by the stream
    assert len(g) > 0


def test_stream_dedup_drops_duplicates(spark, tmp_path):
    from datetime import datetime

    from pyspark.sql import Row

    from dask_felleskomponenter_spark.streaming import stream_dedup

    src = str(tmp_path / "dup_events")
    rows = [
        Row(event_id=1, ts=datetime(2024, 1, 1, 0, 0), key="a"),
        Row(event_id=2, ts=datetime(2024, 1, 1, 0, 5), key="a"),
        Row(event_id=3, ts=datetime(2024, 1, 1, 0, 10), key="b"),
        Row(event_id=4, ts=datetime(2024, 1, 1, 0, 15), key="a"),
    ]
    spark.createDataFrame(rows).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("event_id long, ts timestamp, key string").parquet(src)
    deduped = stream_dedup(stream, ["key"], ts_col="ts", watermark="1 hour")
    got = run_to_memory_sink(deduped, "dedup_stream", str(tmp_path / "ckpt"))
    keys = sorted(r["key"] for r in got.collect())
    assert keys == ["a", "b"]  # duplicates of 'a' within the watermark dropped


def test_stream_interval_join_matches_batch_operator(spark, events_dir, tmp_path):
    """Stream-stream range join (clicks ⋈ errors within the preceding 5
    minutes) must produce exactly the batch interval_join's pairs."""
    from dask_felleskomponenter_spark.operators.joins import interval_join
    from dask_felleskomponenter_spark.streaming import (
        run_to_memory_sink,
        stream_events,
        stream_interval_join,
    )

    def split(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        errors = df.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("err_id"), "user_id", "ts"
        )
        return clicks, errors

    s_clicks, s_errors = split(stream_events(spark, events_dir))
    joined = stream_interval_join(
        s_clicks, s_errors, on=["user_id"],
        lower_seconds=-300, upper_seconds=0,
    )
    got = run_to_memory_sink(joined, "rng_join", str(tmp_path / "ckpt"))
    g = {(r["event_id"], r["rng_err_id"]) for r in got.collect()}

    b_clicks, b_errors = split(spark.read.parquet(events_dir))
    batch = interval_join(
        b_clicks,
        b_errors.withColumnRenamed("ts", "err_ts"),
        on=["user_id"], left_ts="ts", right_ts="err_ts",
        lower_seconds=-300, upper_seconds=0,
        value_cols=["err_id"],
    )
    b = {(r["event_id"], r["rng_err_id"]) for r in batch.collect()}
    assert g == b
    assert len(g) > 0


def test_watermark_drops_late_rows_across_restarts(spark, tmp_path):
    """The late-data contract, actually exercised: a second availableNow
    run on the same checkpoint carries a row OLDER than the committed
    watermark; in append mode that row must be dropped — its window must
    never be emitted — while on-time rows keep finalizing windows."""
    import pandas as pd

    from dask_felleskomponenter_spark.streaming.ops import (
        stream_events,
        windowed_event_counts,
    )

    src = tmp_path / "src"
    src.mkdir()

    def write_batch(name, times):
        import glob
        import shutil

        pdf = pd.DataFrame(
            {
                "event_id": range(len(times)),
                "ts": [pd.Timestamp(t) for t in times],
                "user_id": [1] * len(times),
                "event_type": ["click"] * len(times),
                "value": [1.0] * len(times),
                "props": ["{}"] * len(times),
            }
        )
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(stage))
        # the file stream source lists top-level files only
        for i, f in enumerate(glob.glob(str(stage / "part-*.parquet"))):
            shutil.move(f, str(src / f"{name}_{i}.parquet"))

    ckpt = str(tmp_path / "ck")

    def run(qname):
        agg = windowed_event_counts(
            stream_events(spark, str(src)),
            window_duration="1 hour",
            watermark="30 minutes",
        )
        rows = []

        def sink(batch_df, _bid):
            rows.extend(batch_df.collect())

        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["window_start"].hour, r["event_type"]): r["n_events"]
            for r in rows
        }

    # batch 1: 10:00, 11:00, 12:00 -> watermark commits at 11:30 and
    # availableNow's closing no-data batch emits the finalized [10,11)
    # window; 11 and 12 stay in state.
    write_batch("b1", ["2024-03-01 10:00", "2024-03-01 11:00", "2024-03-01 12:00"])
    first = run("wm_run1")
    assert first == {(10, "click"): 1}

    # run 2 restores watermark 11:30 from the checkpoint: the 09:30 row
    # is behind it -> dropped; 14:00 advances the watermark to 13:30,
    # finalizing the 11 and 12 windows. If the late row leaked, a
    # (9, click) window would appear — and (10, click) must NOT re-emit.
    write_batch("b2", ["2024-03-01 09:30", "2024-03-01 14:00"])
    second = run("wm_run2")
    assert (9, "click") not in second, "late row leaked past the watermark"
    assert second.get((11, "click")) == 1
    assert second.get((12, "click")) == 1
    assert (10, "click") not in second  # finalized windows emit exactly once


def test_streaming_foreachbatch_maintains_incremental_summary(spark, tmp_path):
    """Composition: a micro-batch stream folds each batch into the
    incremental summary (sync/incremental.py) via foreachBatch; after
    the stream drains, the summary equals the batch aggregate of all
    data — the streaming materialized-view pattern end to end."""
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sync.incremental import (
        COUNT_COL,
        refresh_incremental_summary,
    )

    data_dir = str(tmp_path / "in")
    spark.range(2000).select(
        (F.col("id") % 11).alias("k"), (F.col("id") % 83).cast("double").alias("v")
    ).repartition(4).write.parquet(data_dir)

    summary_path = str(tmp_path / "summary")

    def fold(batch_df, _batch_id):
        refresh_incremental_summary(
            batch_df.sparkSession, summary_path, batch_df,
            keys=["k"], sum_cols=["v"],
        )

    stream = (
        spark.readStream.schema("k bigint, v double")
        .option("maxFilesPerTrigger", 1)  # force several micro-batches
        .parquet(data_dir)
    )
    q = (
        stream.writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(180)

    got = {
        r.k: (r[COUNT_COL], round(r.v, 6))
        for r in spark.read.parquet(summary_path).collect()
    }
    expect = {
        r.k: (r.n, round(r.s, 6))
        for r in spark.read.parquet(data_dir)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == expect


def test_stream_dedup_ingest_cross_batch_exactly_once(spark, tmp_path):
    """Streaming corpus ingest with the dedup history: duplicates
    planted ACROSS micro-batches must reach the corpus exactly once,
    and a full re-ingest of the same input (fresh checkpoint) must add
    nothing — the idempotence the hash history buys."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.streaming.ops import stream_dedup_ingest

    table = f"stream_hist_{_uuid.uuid4().hex[:12]}"
    data_dir = str(tmp_path / "in")
    # 400 docs, text repeats with period 100 → every text appears in
    # 4 docs; 4 input files of 100 rows each = 4 micro-batches, so
    # most collisions are cross-batch
    spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc text "), (F.col("id") % 100).cast("string")).alias(
            "text"
        ),
    ).repartition(4).write.parquet(data_dir)

    def run(ckpt_name):
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(data_dir)
        )
        q = stream_dedup_ingest(
            stream, "doc_id", "text", table,
            str(tmp_path / "corpus"), str(tmp_path / ckpt_name),
            n_buckets=4,
        )
        q.awaitTermination(180)

    try:
        run("ckpt1")
        corpus = spark.read.parquet(str(tmp_path / "corpus"))
        texts = [r["text"] for r in corpus.select("text").collect()]
        assert len(texts) == 100, "each duplicated text must land once"
        assert sorted(set(texts)) == sorted(
            f"doc text {i}" for i in range(100)
        )
        run("ckpt2")  # full replay, fresh checkpoint: nothing novel
        assert spark.read.parquet(str(tmp_path / "corpus")).count() == 100
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_interval_join_state_is_evictable(spark, tmp_path):
    """Regression: the range condition must be written on the timestamp
    columns directly — through unix_micros() the state-watermark
    extraction fails silently and the executed plan shows 'state
    cleanup [ left = null, right = null ]': every buffered row is kept
    forever. Pin the non-null eviction predicates."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.streaming.ops import stream_interval_join

    spark.range(50).select(
        (F.col("id") % 5).alias("user_id"),
        F.expr("timestamp_micros(cast(id*1000000 as long))").alias("ts"),
    ).write.parquet(str(tmp_path / "l"))
    spark.range(50).select(
        (F.col("id") % 5).alias("user_id"),
        F.expr("timestamp_micros(cast(id*1000000+500000 as long))").alias("ts"),
    ).write.parquet(str(tmp_path / "r"))
    l = spark.readStream.schema("user_id bigint, ts timestamp").parquet(
        str(tmp_path / "l")
    )
    r = spark.readStream.schema("user_id bigint, ts timestamp").parquet(
        str(tmp_path / "r")
    )
    j = stream_interval_join(
        l, r, ["user_id"], lower_seconds=-2.0, upper_seconds=2.0,
        watermark="10 seconds",
    )
    q = (
        j.writeStream.format("memory")
        .queryName("sij_evict")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    buf = io.StringIO()
    with redirect_stdout(buf):
        q.explain(True)
    plan = buf.getvalue()
    assert "state cleanup [ left value predicate:" in plan, plan[-3000:]
    assert "left = null" not in plan, plan[-3000:]


def test_stateful_sessionizer_handles_cross_batch_late_events(spark, tmp_path):
    """Regression: a late event admitted by the watermark used to
    REGRESS last_us (sessions with end < start, spurious splits).
    A late 09:55 arrival must extend the open (10:00, 10:10) session
    backwards, and the session closed by the 11:30 gap must span
    09:55 → 10:30 with all four events counted."""
    import time as _time

    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.streaming.ops import (
        run_to_memory_sink,
        sessionize_stateful,
    )

    def write_batch(name, micros_list):
        df = spark.createDataFrame(
            [(1, m) for m in micros_list], "user_id long, us long"
        ).select("user_id", F.expr("timestamp_micros(us)").alias("ts"))
        df.coalesce(1).write.parquet(str(tmp_path / "in" / name))

    M = 60 * 1_000_000
    base = 10 * 60 * M  # 10:00 as minutes-of-day micros
    write_batch("b1", [base, base + 10 * M])
    _time.sleep(1.1)  # file mtime orders the micro-batches
    write_batch("b2", [base - 5 * M, base + 30 * M, base + 90 * M])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in" / "*"))
    )
    got = run_to_memory_sink(
        sessionize_stateful(stream, gap_minutes=30),
        "sessions_late",
        str(tmp_path / "ckpt"),
    )
    rows = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in got.collect()
    }
    for _u, start, end, _n in rows:
        assert end >= start, rows
    import datetime as _dt

    expect_start = _dt.datetime(1970, 1, 1, 9, 55)
    expect_end = _dt.datetime(1970, 1, 1, 10, 30)
    assert (1, expect_start, expect_end, 4) in rows, rows


def test_sessionize_stateful_drops_null_timestamps(spark, tmp_path):
    """Round-7 review finding: a NULL event timestamp reaches the
    stateful sessionizer as NaT (the late-row watermark filter keeps
    it — NULL < watermark is NULL), and NaT.value is int64-min, so one
    such row used to open or clamp a session to year 1677. A
    timestamp-less event has no position on the timeline: it must be
    dropped, matching the built-in session_window twin."""
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.streaming.ops import (
        run_to_memory_sink,
        sessionize_stateful,
    )

    M = 60 * 1_000_000
    base = 10 * 60 * M  # 10:00 as minutes-of-day micros
    df = spark.createDataFrame(
        [
            (1, base),
            (1, None),            # NULL ts inside an open session
            (1, base + 5 * M),
            (2, None),            # user with ONLY a NULL-ts event
            (1, base + 90 * M),   # closes the first session by gap
        ],
        "user_id long, us long",
    ).select("user_id", F.expr("timestamp_micros(us)").alias("ts"))
    df.coalesce(1).write.parquet(str(tmp_path / "in" / "b1"))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in" / "*"))
    )
    got = run_to_memory_sink(
        sessionize_stateful(stream, gap_minutes=30),
        "sessions_nullts",
        str(tmp_path / "ckpt"),
    )
    rows = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in got.collect()
    }
    # the NULL row neither counts nor clamps: the closed session is
    # exactly (10:00, 10:05, 2), and nothing starts in year 1677
    import datetime as _dt

    assert (
        1, _dt.datetime(1970, 1, 1, 10, 0), _dt.datetime(1970, 1, 1, 10, 5), 2
    ) in rows, rows
    assert all(s.year >= 1970 for _, s, _, _ in rows), rows
    assert not any(u == 2 for u, *_ in rows), rows
