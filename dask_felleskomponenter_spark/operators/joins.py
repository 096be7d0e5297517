"""Join operators (SURVEY.md §2 J1 + §2B join rows).

The reference's only Spark-side join is a 4-key left-outer equi-join of
catalog views (``governance/main.py:52-58``). Here the full join family is
declared once, with the scale decisions made explicit:

- **Broadcast** small dimensions (``F.broadcast``) so fact-table joins
  never shuffle the fact side. At 100 TB the fact tables (lineitem,
  orders, events) are the only things that should ever move, and even then
  only when the join key differs from the storage partitioning.
- **Sort-merge** for fact⋈fact joins — Catalyst picks it automatically
  once both sides exceed ``autoBroadcastJoinThreshold``; AQE converts to
  broadcast at runtime when a filtered side turns out small.
- **Semi/anti** joins instead of ``IN``/``NOT IN`` subqueries: they
  short-circuit on the build side and never duplicate probe rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | Sequence[tuple[str, str]],
    how: str = "inner",
) -> DataFrame:
    """Multi-key equi-join; ``on`` is column names or (left, right) pairs.

    An EMPTY key list raises: ``left.join(right, [], how)`` silently
    degenerates to a condition-free cross product (crossJoin is enabled
    by default since Spark 3) — at fact×fact scale an O(|L|·|R|) blowup
    with no error, and through ``anti_join`` it silently returns zero
    rows instead. A deliberate cartesian product should say
    ``crossJoin``."""
    if not on:
        raise ValueError(
            "equi_join needs at least one join key (an empty key list "
            "is a cartesian product — use crossJoin if you mean that)"
        )
    if on and isinstance(on[0], tuple):
        cond = None
        for lc, rc in on:  # type: ignore[misc]
            clause = left[lc] == right[rc]
            cond = clause if cond is None else cond & clause
        return left.join(right, cond, how)
    return left.join(right, list(on), how)  # type: ignore[arg-type]


def broadcast_dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | Sequence[tuple[str, str]],
    how: str = "inner",
) -> DataFrame:
    """Equi-join with an explicit broadcast hint on the dimension side."""
    return equi_join(fact, F.broadcast(dim), on, how)


def semi_join(
    left: DataFrame, right: DataFrame, on: Sequence[str] | Sequence[tuple[str, str]]
) -> DataFrame:
    """Rows of ``left`` with at least one match in ``right`` (EXISTS)."""
    return equi_join(left, right, on, "left_semi")


def anti_join(
    left: DataFrame, right: DataFrame, on: Sequence[str] | Sequence[tuple[str, str]]
) -> DataFrame:
    """Rows of ``left`` with no match in ``right`` (NOT EXISTS)."""
    return equi_join(left, right, on, "left_anti")


def range_bounds_us(lower_seconds: float, upper_seconds: float) -> tuple[int, int]:
    """Inclusive event-time range bounds in microseconds, shared by the
    batch interval join and its streaming twin so their rounding and
    validation can never drift."""
    lo_us = int(round(float(lower_seconds) * 1_000_000))
    hi_us = int(round(float(upper_seconds) * 1_000_000))
    if hi_us < lo_us:
        raise ValueError("upper_seconds must be >= lower_seconds")
    return lo_us, hi_us


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    lower_seconds: float,
    upper_seconds: float,
    value_cols: Sequence[str],
    prefix: str = "rng_",
) -> DataFrame:
    """Bounded interval (range) join: every pair of rows with equal keys
    and ``left_ts + lower <= right_ts <= left_ts + upper`` (bounds
    inclusive, in seconds; ``lower`` is usually negative — "the 5
    minutes before the event" is ``lower=-300, upper=0``).

    A plain key equi-join plus range filter amplifies quadratically on
    dense keys (every click meets every error of the same user before
    filtering). Instead both sides are hashed into time buckets of
    width ``upper - lower``: a right row lands in exactly one bucket, a
    left row probes the (at most two) buckets its window can overlap,
    and the join is an equi-join on ``(keys…, bucket)``. Pair
    candidates are bounded by true temporal locality, the shuffle key
    is still hashable, and no pair can be produced twice (the right row
    has one bucket). This is the standard bounded-range optimization a
    warehouse's range-join planner applies (cited as the round-2
    extension of ``asof_join`` in VERDICT r1).

    Inner semantics: unmatched left rows are absent. For left-outer
    aggregates, aggregate the pairs and re-join onto the probe side
    (see ``plans/queries.py::range_join_error_context``).

    Matched right value columns land as ``{prefix}{col}``.
    """
    from dask_felleskomponenter_spark.operators.shuffle import (
        ensure_prefix_free,
        fresh_name,
    )

    key_cols = list(on)
    lo_us, hi_us = range_bounds_us(lower_seconds, upper_seconds)
    width_us = max(hi_us - lo_us, 1)

    # Internal helper names must not shadow user columns (withColumn
    # would replace them and the final projection would return bucket
    # ids as user data) — NOR the generated ``_rng_{key}`` build
    # aliases: a join key literally named 'ts' would otherwise make
    # ts_tag = '_rng_ts' collide with the key alias and every later
    # reference AMBIGUOUS (round-10 review).
    key_aliases = {f"_rng_{k}" for k in key_cols}
    bkt_col = fresh_name("_rng_bkt", left, right, extra=key_aliases)
    ts_tag = fresh_name("_rng_ts", left, right, extra=key_aliases | {bkt_col})
    # The PREFIXED OUTPUT names are part of the API and cannot be
    # fresh-named away — a left column already holding one would make
    # the final projection ambiguous; fail loudly at plan-build time.
    ensure_prefix_free(prefix, value_cols, left.columns)
    overlap = key_aliases & {f"{prefix}{c}" for c in value_cols}
    if overlap:
        raise ValueError(
            f"interval_join: prefixed value columns collide with the "
            f"internal key aliases {sorted(overlap)} — pick another "
            f"prefix"
        )

    # cast("timestamp") is a no-op for LTZ input but keeps NTZ-typed
    # columns legal for unix_micros (identical wall-clock under a UTC
    # session; see session.py's inferTimestampNTZ note).
    l_us = F.unix_micros(F.col(left_ts).cast("timestamp"))
    r_us = F.unix_micros(F.col(right_ts).cast("timestamp"))

    probe = left.withColumn(
        bkt_col,
        F.explode(
            F.sequence(
                F.floor((l_us + F.lit(lo_us)) / F.lit(width_us)),
                F.floor((l_us + F.lit(hi_us)) / F.lit(width_us)),
            )
        ),
    )
    build = right.select(
        *[F.col(k).alias(f"_rng_{k}") for k in key_cols],
        F.floor(r_us / F.lit(width_us)).alias(bkt_col),
        F.col(right_ts).alias(ts_tag),
        *[F.col(c).alias(f"{prefix}{c}") for c in value_cols],
    )

    cond = probe[bkt_col] == build[bkt_col]
    for k in key_cols:
        cond = cond & (probe[k] == build[f"_rng_{k}"])
    m_ts = F.unix_micros(F.col(ts_tag).cast("timestamp"))
    m_left = F.unix_micros(F.col(left_ts).cast("timestamp"))
    in_range = (m_ts >= m_left + F.lit(lo_us)) & (m_ts <= m_left + F.lit(hi_us))
    joined = probe.join(build, cond, "inner").filter(in_range)
    return joined.select(
        *[probe[c] for c in left.columns],
        *[F.col(f"{prefix}{c}") for c in value_cols],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    prefix: str = "asof_",
) -> DataFrame:
    """As-of join: every ``left`` row, joined to the *latest* ``right``
    row with the same key and ``right_ts <= left_ts`` (ASOF LEFT JOIN).

    Spark has no native as-of join; the naive shapes are a range join
    (pair blowup on dense keys) or per-row subqueries. This is the
    interleaved-stream form instead: union both sides ordered by
    ``(ts, side)`` — build rows sorting *before* probe rows at equal
    timestamps, giving ``<=`` semantics — then carry the most recent
    build row forward with one running ``last(ignorenulls)`` window.
    Cost is ONE shuffle on the key plus a linear in-partition sort; no
    pair amplification no matter how dense either side is, which is what
    makes it survive 100 TB event streams.

    Build rows are carried as a single struct so a build row whose value
    columns are NULL still *wins* the as-of race (matching SQL ASOF
    semantics, where the latest row matches regardless of its payload).
    Build rows with a NULL ``right_ts`` are dropped: ``right_ts <=
    left_ts`` is NULL for them in SQL ASOF semantics, never a match —
    and the ascending NULLS-FIRST window order would otherwise treat
    them as infinitely old matches for probe rows with no true
    predecessor. Right rows should be unique per (key, right_ts) —
    pre-dedup for deterministic results, as with any as-of engine.

    Matched value columns land as ``{prefix}{col}``; unmatched probe
    rows keep NULLs there (LEFT semantics).
    """
    from pyspark.sql import Window
    from pyspark.sql.types import StructField, StructType

    from dask_felleskomponenter_spark.operators.shuffle import (
        ensure_prefix_free,
        fresh_name,
    )

    if not value_cols:
        raise ValueError("asof_join needs at least one value column")
    key_cols = list(on)
    if not key_cols:
        # Window.partitionBy() with no keys is a GLOBAL single-partition
        # window — the one-reducer funnel as_key_list exists to reject;
        # at event-stream scale that is a silent single-executor
        # sort/OOM, not an as-of join
        raise ValueError(
            "asof_join needs at least one key column (a keyless as-of "
            "would sort the union of both full streams in ONE partition)"
        )
    out_cols = list(left.columns)
    # the prefixed output names are API and can't be fresh-named
    ensure_prefix_free(prefix, value_cols, out_cols)

    # Internal stream-tag names must not shadow user columns — a left
    # column literally named "_asof_ts" would otherwise duplicate in the
    # union schema and break every later by-name reference.
    ts_tag = fresh_name("_asof_ts", left, right)
    side_tag = fresh_name("_asof_side", left, right)
    val_tag = fresh_name("_asof_val", left, right)
    match_tag = fresh_name("_asof_match", left, right)

    # Build the NULL-struct type from the schema objects, not DDL text —
    # column names needing backticks (spaces, dots) round-trip safely.
    right_fields = {f.name: f for f in right.schema.fields}
    val_type = StructType(
        [StructField(c, right_fields[c].dataType) for c in value_cols]
    )

    probe = left.select(
        *[F.col(c) for c in left.columns],
        F.col(left_ts).alias(ts_tag),
        F.lit(1).alias(side_tag),
        F.lit(None).cast(val_type).alias(val_tag),
    )
    # Build rows with a NULL key can never match under SQL equi-join
    # semantics (NULL = NULL is UNKNOWN) — but the window's partitionBy
    # groups NULL keys together, so without this filter a NULL-key
    # probe row would "match" a NULL-key build row. NULL-key probe rows
    # stay (LEFT semantics: kept with NULL payload).
    build_keys_ok = F.lit(True)
    for k in key_cols:
        build_keys_ok = build_keys_ok & F.col(k).isNotNull()
    build = right.filter(
        F.col(right_ts).isNotNull() & build_keys_ok
    ).select(
        *[F.col(k) for k in key_cols],
        F.col(right_ts).alias(ts_tag),
        F.lit(0).alias(side_tag),
        F.struct(*[F.col(c) for c in value_cols]).alias(val_tag),
    )
    stream = probe.unionByName(build, allowMissingColumns=True)

    w = (
        Window.partitionBy(*key_cols)
        .orderBy(ts_tag, side_tag)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = stream.withColumn(
        match_tag, F.last(val_tag, ignorenulls=True).over(w)
    )
    return carried.filter(F.col(side_tag) == 1).select(
        *[F.col(c) for c in out_cols],
        *[F.col(match_tag)[c].alias(f"{prefix}{c}") for c in value_cols],
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: the manual twin of AQE's runtime skew-join
    split, for when the skew is known ahead of time (one user_id owning
    10% of a 100 TB fact table) or AQE is unavailable (streaming
    micro-batches, static plans).

    Every ``big`` row gets a deterministic salt in ``[0, salt_buckets)``;
    ``small`` is exploded ``salt_buckets``× so the join key becomes
    ``(keys…, salt)`` — a hot key's rows now land on ``salt_buckets``
    reducers instead of one. Result equals ``big.join(small, on, how)``
    exactly (oracle-checked); cost is the ``salt_buckets``× replication
    of the small side, which is why the small side must be the
    replicated one. Supported ``how``: inner / left (the replicated side
    must be the non-preserved side so no duplicates arise).

    The salt is ``operators/shuffle.py::deterministic_row_salt`` —
    partition-id-mixed, retry-deterministic, map-column-safe; see its
    docstring for the full rationale (shared with
    ``operators/aggregates.py::two_phase_salted_agg``).
    """
    from dask_felleskomponenter_spark.operators.shuffle import (
        deterministic_row_salt,
        fresh_name,
    )

    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    if int(salt_buckets) < 1:
        # 0 makes big's pmod salt NULL (or DIVIDE_BY_ZERO under ANSI)
        # while small explodes sequence(0,-1) = [0,-1]: the salt key
        # never matches and an inner join silently returns ZERO rows
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets!r}")
    keys = list(on)
    salt_col = fresh_name("_salt", big, small)
    big_s = big.withColumn(salt_col, deterministic_row_salt(big, salt_buckets))
    small_s = small.withColumn(
        salt_col, F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    ).withColumn(salt_col, F.col(salt_col).cast("long"))
    joined = big_s.join(small_s, keys + [salt_col], how)
    return joined.drop(salt_col)


def grid_box_join(
    left: DataFrame,
    right: DataFrame,
    left_xy: tuple[str, str],
    right_xy: tuple[str, str],
    radius: int | float,
    prefix: str = "nb_",
) -> DataFrame:
    """Spatial box join: every (left, right) pair whose coordinates
    differ by at most ``radius`` on BOTH axes (Chebyshev / bounding-box
    proximity) — the proximity-join primitive behind point-in-radius
    lookups, geofencing, and spatial dedup.

    Scale shape (the 2-D analogue of ``interval_join``): a naive
    cross-join-plus-filter is O(|L|·|R|). Instead both sides hash into
    square grid cells of side ``radius``; a right row lands in exactly
    ONE home cell, a left row probes its own cell plus the 8 neighbours
    (a 9-way explode of cell ids — constant-factor replication of the
    probe side only), and the join is an equi-join on the cell id with
    the exact box predicate as a residual. Candidates are bounded by
    true spatial locality, the shuffle key is hashable, and no pair is
    emitted twice (one home cell per right row). Skewed cells (urban
    hot spots) split further via AQE skew handling.

    Matched right columns land as ``{prefix}{col}``.
    """
    from dask_felleskomponenter_spark.operators.shuffle import (
        ensure_prefix_free,
        fresh_name,
    )

    lx, ly = left_xy
    rx, ry = right_xy
    if radius <= 0:
        raise ValueError("radius must be positive")
    cell = float(radius)

    # Helper names picked clear of both the left columns and the
    # prefixed right columns — withColumn must never replace user data.
    # (The box filter's F.col(f"{prefix}{rx}") would be ambiguous.)
    prefixed = {f"{prefix}{c}" for c in right.columns}
    ensure_prefix_free(prefix, right.columns, left.columns)
    cx_col = fresh_name("_cell_x", left, extra=prefixed)
    cy_col = fresh_name("_cell_y", left, extra=prefixed | {cx_col})
    dx_col = fresh_name("_dx", left, extra=prefixed)
    dy_col = fresh_name("_dy", left, extra=prefixed | {dx_col})

    l_cx = F.floor(F.col(lx) / cell)
    l_cy = F.floor(F.col(ly) / cell)
    offsets = F.expr(
        "array(-1L, 0L, 1L)"
    )
    probe = (
        left.withColumn(dx_col, F.explode(offsets))
        .withColumn(dy_col, F.explode(offsets))
        .withColumn(cx_col, l_cx + F.col(dx_col))
        .withColumn(cy_col, l_cy + F.col(dy_col))
        .drop(dx_col, dy_col)
    )
    build = right.select(
        *[F.col(c).alias(f"{prefix}{c}") for c in right.columns]
    ).withColumn(
        cx_col, F.floor(F.col(f"{prefix}{rx}") / cell)
    ).withColumn(
        cy_col, F.floor(F.col(f"{prefix}{ry}") / cell)
    )
    joined = probe.join(build, [cx_col, cy_col])
    box = (
        (F.abs(F.col(lx) - F.col(f"{prefix}{rx}")) <= radius)
        & (F.abs(F.col(ly) - F.col(f"{prefix}{ry}")) <= radius)
    )
    return joined.filter(box).drop(cx_col, cy_col)

