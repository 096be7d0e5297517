"""Unit tests of the per-user state machine behind ``sessionize_stateful``.

``applyInPandasWithState`` calls the group function once per key and
micro-batch with an iterator of pandas chunks and a ``GroupState``. The
function is driven here directly, with an in-memory ``GroupState``, so
the session logic is checked against a pure-Python gap-split oracle on
many random streams without starting a streaming query. The end-to-end
streaming runs live in ``test_streaming.py``."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from dask_felleskomponenter_spark.streaming.ops import (
    SESSION_SCHEMA,
    _STATE_SCHEMA,
    _make_sessionizer,
)

GAP_US = 30 * 60 * 1_000_000
T0_US = 1_700_000_000 * 1_000_000


class FakeGroupState:
    """In-memory stand-in for ``pyspark.sql.streaming.state.GroupState``
    with the members the sessionizer touches."""

    def __init__(self, watermark_ms: int = 0):
        self._value: tuple | None = None
        self.hasTimedOut = False
        self.timeout_ms: int | None = None
        self.watermark_ms = watermark_ms

    @property
    def exists(self) -> bool:
        return self._value is not None

    @property
    def get(self) -> tuple:
        if self._value is None:
            raise ValueError("state is not set")
        return self._value

    def update(self, value: tuple) -> None:
        self._value = tuple(value)

    def remove(self) -> None:
        self._value = None

    def setTimeoutTimestamp(self, ms: int) -> None:
        self.timeout_ms = ms

    def getCurrentWatermarkMs(self) -> int:
        return self.watermark_ms


def _chunk(ts_us: list[int | None]) -> pd.DataFrame:
    return pd.DataFrame(
        {"ts": pd.to_datetime(pd.Series(ts_us, dtype="Int64"), unit="us")}
    )


def _emitted(frames) -> list[tuple[int, int, int, int]]:
    out = []
    for pdf in frames:
        for r in pdf.itertuples(index=False):
            out.append(
                (
                    int(r.user_id),
                    r.session_start.value // 1000,
                    r.session_end.value // 1000,
                    int(r.n_events),
                )
            )
    return out


def _step(fn, state, chunks, key=(7,)):
    """One micro-batch for one key; returns the sessions it closed."""
    return _emitted(fn(key, iter(chunks), state))


def _flush(fn, state, key=(7,)):
    """Fire the event-time timeout, as Spark does once the watermark
    passes the registered timestamp."""
    state.hasTimedOut = True
    try:
        return _emitted(fn(key, iter([]), state))
    finally:
        state.hasTimedOut = False


def _oracle(ts_us: list[int], gap_us: int, user_id: int = 7):
    """Batch gap split: a new session starts where the gap to the
    previous event exceeds ``gap_us``."""
    out = []
    for t in sorted(ts_us):
        if out and t - out[-1][2] <= gap_us:
            _, s, _, n = out[-1]
            out[-1] = (user_id, s, t, n + 1)
        else:
            out.append((user_id, t, t, 1))
    return out


def _random_times(rng: random.Random, n: int) -> list[int]:
    """Event times with a mix of short and long gaps, so both in-session
    steps and session breaks are frequent."""
    t, out = T0_US, []
    for _ in range(n):
        if rng.random() < 0.3:
            t += rng.randrange(GAP_US + 1, 4 * GAP_US)
        else:
            t += rng.randrange(0, GAP_US + 1)
        out.append(t)
    return out


def _split(rng: random.Random, items: list, max_parts: int) -> list[list]:
    if not items:
        return []
    cuts = sorted(rng.sample(range(1, len(items)), min(max_parts, len(items)) - 1)) \
        if len(items) > 1 else []
    bounds = [0, *cuts, len(items)]
    return [items[a:b] for a, b in zip(bounds, bounds[1:])]


@pytest.mark.parametrize("seed", range(10))
def test_in_order_stream_matches_batch_gap_split(seed):
    """In-order events split over random micro-batches and Arrow-sized
    chunks, then flushed by the timeout, give exactly the batch split."""
    rng = random.Random(seed)
    times = _random_times(rng, rng.randrange(1, 60))
    fn, state = _make_sessionizer(GAP_US), FakeGroupState()
    got = []
    for batch in _split(rng, times, rng.randrange(1, 8)):
        got += _step(fn, state, [_chunk(c) for c in _split(rng, batch, 3)])
    got += _flush(fn, state)
    assert got == _oracle(times, GAP_US)
    assert not state.exists


@pytest.mark.parametrize("seed", range(100, 106))
def test_any_arrival_order_conserves_events(seed):
    """Late and out-of-order events across micro-batches may merge into
    the open session, but every event is counted exactly once and no
    session ends before it starts."""
    rng = random.Random(seed)
    times = _random_times(rng, rng.randrange(5, 50))
    arrival = times[:]
    rng.shuffle(arrival)
    fn, state = _make_sessionizer(GAP_US), FakeGroupState()
    got = []
    for batch in _split(rng, arrival, rng.randrange(1, 6)):
        got += _step(fn, state, [_chunk(batch)])
    got += _flush(fn, state)
    assert sum(n for *_, n in got) == len(times)
    for _, start, end, n in got:
        assert start <= end and n >= 1
        assert min(times) <= start and end <= max(times)


@pytest.mark.parametrize("seed", range(200, 204))
def test_order_within_a_micro_batch_is_irrelevant(seed):
    rng = random.Random(seed)
    times = _random_times(rng, rng.randrange(2, 40))
    shuffled = times[:]
    rng.shuffle(shuffled)
    results = []
    for rows in (times, shuffled):
        fn, state = _make_sessionizer(GAP_US), FakeGroupState()
        chunks = [_chunk(c) for c in _split(random.Random(seed), rows, 4)]
        results.append(_step(fn, state, chunks) + _flush(fn, state))
    assert results[0] == results[1] == _oracle(times, GAP_US)


@pytest.mark.parametrize(
    "delta_us, n_sessions",
    [(GAP_US - 1, 1), (GAP_US, 1), (GAP_US + 1, 2)],
)
def test_gap_boundary(delta_us, n_sessions):
    """A gap of exactly ``gap`` stays in the session; only a larger one
    splits it, matching the oracle's ``<=``."""
    fn, state = _make_sessionizer(GAP_US), FakeGroupState()
    times = [T0_US, T0_US + delta_us]
    got = _step(fn, state, [_chunk(times)]) + _flush(fn, state)
    assert len(got) == n_sessions
    assert got == _oracle(times, GAP_US)


def test_timeout_flushes_open_session_and_clears_state():
    fn, state = _make_sessionizer(GAP_US), FakeGroupState()
    assert _step(fn, state, [_chunk([T0_US, T0_US + 5_000_000])]) == []
    assert state.get == (T0_US, T0_US + 5_000_000, 2)
    assert _flush(fn, state) == [(7, T0_US, T0_US + 5_000_000, 2)]
    assert not state.exists


def test_timestamp_less_batch_without_state_is_a_no_op():
    fn, state = _make_sessionizer(GAP_US), FakeGroupState()
    assert _step(fn, state, [_chunk([None, None])]) == []
    assert not state.exists
    assert state.timeout_ms is None


def test_timestamp_less_rows_leave_open_session_unchanged():
    fn, state = _make_sessionizer(GAP_US), FakeGroupState()
    _step(fn, state, [_chunk([T0_US])])
    before = state.get
    assert _step(fn, state, [_chunk([None]), _chunk([None, None])]) == []
    assert state.get == before
    assert _flush(fn, state) == [(7, T0_US, T0_US, 1)]


def test_null_timestamps_mixed_with_events_are_dropped():
    fn, state = _make_sessionizer(GAP_US), FakeGroupState()
    got = _step(fn, state, [_chunk([None, T0_US, None, T0_US + 1])])
    assert got == [] and state.get == (T0_US, T0_US + 1, 2)


def test_late_event_within_gap_extends_session_start():
    """A late event before the open session's start is clamped in as the
    new start, never producing an end-before-start session."""
    fn, state = _make_sessionizer(GAP_US), FakeGroupState()
    _step(fn, state, [_chunk([T0_US + 10_000_000, T0_US + 20_000_000])])
    assert _step(fn, state, [_chunk([T0_US])]) == []
    assert state.get == (T0_US, T0_US + 20_000_000, 3)


def test_timeout_is_last_event_plus_gap():
    fn, state = _make_sessionizer(GAP_US), FakeGroupState(watermark_ms=0)
    _step(fn, state, [_chunk([T0_US, T0_US + 7_000_000])])
    assert state.timeout_ms == (T0_US + 7_000_000 + GAP_US) // 1000


def test_timeout_is_never_at_or_behind_the_watermark():
    """Spark rejects a timeout timestamp at or before the current
    watermark; a watermark already past last-event + gap must push the
    timeout just beyond it."""
    watermark_ms = (T0_US + 10 * GAP_US) // 1000
    fn, state = _make_sessionizer(GAP_US), FakeGroupState(watermark_ms)
    _step(fn, state, [_chunk([T0_US])])
    assert state.timeout_ms == watermark_ms + 1


def test_emitted_frames_and_state_follow_declared_schemas():
    fn, state = _make_sessionizer(GAP_US), FakeGroupState()
    frames = list(
        fn((42,), iter([_chunk([T0_US, T0_US + 2 * GAP_US])]), state)
    )
    assert [list(f.columns) for f in frames] == [SESSION_SCHEMA.fieldNames()]
    assert frames[0]["user_id"].tolist() == [42]
    assert len(state.get) == len(_STATE_SCHEMA.fields)
