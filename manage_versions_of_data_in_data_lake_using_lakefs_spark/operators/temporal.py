"""Temporal operators: as-of join and sessionization (north-star ext.).

The reference is purely batch with integer dates (SURVEY.md §1.2), but a
training-data pipeline over event streams needs time-ordered operators.
Both are built as *scalable* compositions of native DataFrame ops:

- **as-of join** uses the union+window pattern, NOT a range join: tag the
  two inputs, union them, and carry the last right-side row forward with
  ``last(ignorenulls)`` over an ordered per-key window. One shuffle on the
  join key, no quadratic candidate blow-up, no broadcast requirement —
  this is the formulation that survives 100 TB event tables (a range-join
  formulation explodes with key frequency; Spark has no native as-of).
- **sessionization** is the classic gap-rule: ``lag`` → boundary flag →
  running sum over a per-key ordered window. Map-side after one shuffle
  by the session key.

Timestamps are compared in integer microseconds (``unix_micros``) so the
arithmetic is exact and portable to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right_ts <= left_ts`` and the same ``on`` key (direction
    'backward'; the only direction the union pattern needs — 'forward'
    is the mirror ordering).

    Implementation: tag left rows 1 / right rows 0, union, then
    ``last(<right col>, ignorenulls=True)`` over
    ``Window.partitionBy(on).orderBy(ts, tag).rowsBetween(unboundedPreceding,
    currentRow)``. Right rows sort before left rows at equal timestamps,
    so ties are inclusive — identical to ASOF JOIN ``ON l.ts >= r.ts``.
    """
    if direction != "backward":
        raise NotImplementedError("only backward as-of is implemented")
    passthrough = [c for c in left.columns if c not in (on, left_ts)]
    l = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_tag"),
        *[F.col(c) for c in passthrough],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in right_cols],
    )
    r = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_tag"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in passthrough],
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
    )
    u = l.unionByName(r)
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts").asc(), F.col("_tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "*",
        *[
            F.last(F.col(f"_r_{c}"), ignorenulls=True).over(w).alias(f"_m_{c}")
            for c in right_cols
        ],
    )
    out = carried.where(F.col("_tag") == 1).select(
        F.col("_k").alias(on),
        F.col("_ts").alias(left_ts),
        *[F.col(c) for c in passthrough],
        *[F.col(f"_m_{c}").alias(f"{c}_matched") for c in right_cols],
    )
    return out


def resample_locf(
    df: DataFrame,
    on: str,
    ts_col: str,
    value_col: str,
    step_seconds: int,
) -> DataFrame:
    """Regular-grid resampling with last-observation-carried-forward
    (r7) — the gap-filling pass every time-series/sensor training
    pipeline runs before windowed feature extraction.

    Per key: grid points at every multiple of ``step_seconds`` inside
    [min(ts), max(ts)] (integer-micro arithmetic, so grid membership is
    engine-exact), each carrying the value of the latest observation at
    or before it. Observations at identical (key, ts) are reduced with
    ``max`` first so the carried value is deterministic.

    Scale shape: one per-key min/max aggregate, a ``sequence``+explode
    grid (rows ∝ span/step, distributed like any other rows — size the
    step so per-key grids stay sane), then the union+window as-of
    pattern — one shuffle on the key, no range join, no broadcast.
    Output: (on, grid_us, value_col) — grid_us in microseconds."""
    us = int(step_seconds) * 1_000_000
    obs = (
        df.select(
            F.col(on),
            F.unix_micros(F.col(ts_col)).alias("_ous"),
            F.col(value_col),
        )
        .groupBy(on, "_ous")
        .agg(F.max(value_col).alias(value_col))
    )
    bounds = obs.groupBy(on).agg(
        F.min("_ous").alias("_lo"), F.max("_ous").alias("_hi")
    )
    # integer pmod arithmetic, not float floor (epoch micros ~1.7e15 sit
    # close enough to 2^53 that a double floor's margin thins) and not
    # `div` (truncates toward zero, wrong ceil/floor for pre-1970
    # negative micros): lo + pmod(-lo, us) is the smallest multiple
    # >= lo, hi - pmod(hi, us) the largest <= hi, for any sign
    grid = (
        bounds.select(
            F.col(on),
            F.expr(f"_lo + pmod(-_lo, {us})").alias("_s"),
            F.expr(f"_hi - pmod(_hi, {us})").alias("_e"),
        )
        .where(F.col("_s") <= F.col("_e"))  # span < step → no grid point
        .select(
            F.col(on),
            F.explode(F.sequence(F.col("_s"), F.col("_e"), F.lit(us))).alias(
                "grid_us"
            ),
        )
    )
    out = asof_join(
        grid, obs, on=on, left_ts="grid_us", right_ts="_ous", right_cols=[value_col]
    )
    return out.select(
        F.col(on), F.col("grid_us"), F.col(f"{value_col}_matched").alias(value_col)
    )


def sessionize(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap: int = 30 * 60,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Assign gap-based session indexes per key: a new session starts when
    the time since the previous event exceeds ``gap`` seconds.

    Adds ``session_idx`` (1-based per key, in time order). One shuffle by
    ``key``; the two stacked windows (lag + running sum) share the same
    partitioning and sort, so Catalyst plans a single exchange + sort.
    """
    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(key).orderBy(*order)
    micros = F.unix_micros(F.col(ts_col))
    prev = F.lag(micros).over(w)
    boundary = F.when(
        prev.isNull() | ((micros - prev) > F.lit(gap * 1_000_000)), F.lit(1)
    ).otherwise(F.lit(0))
    run = Window.partitionBy(key).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("_b", boundary).withColumn(
        "session_idx", F.sum("_b").over(run).cast("int")
    ).drop("_b")


def session_stats(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap: int = 30 * 60,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Session-level rollup: event count + span per (key, session_idx)."""
    s = sessionize(df, key, ts_col, gap, order_tiebreak)
    micros = F.unix_micros(F.col(ts_col))
    return s.groupBy(key, "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(micros).alias("start_us"),
        F.max(micros).alias("end_us"),
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bin_width: int,
    how: str = "inner",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Bucketed interval (range) join: rows of ``points`` matched to every
    interval row with ``start <= point <= end`` — WITHOUT the broadcast
    nested-loop / cartesian plan Spark gives a raw non-equi join.

    Mechanics: both sides are binned at ``bin_width`` (integer units of the
    compared columns). Intervals explode to one row per covered bin via
    ``sequence``; points map to their single bin; the join is then a plain
    *equi-join on the bin key* plus the exact range predicate as a
    post-filter. Candidate volume is |points| + Σ(interval_len/bin_width)
    — linear, shuffled by bin, AQE-splittable — instead of |points| ×
    |intervals|. ``bin_width`` trades explode factor against bin
    selectivity; pick it near the median interval length.

    ``extra_keys`` prepends ordinary equi keys (shared column names) to the
    bin key — e.g. per-user interval attachment joins on (user, bin).
    A point lives in exactly one bin, so matches are never duplicated.
    Only ``how='inner'`` is supported (outer variants need bin-miss
    handling the caller can build with an anti-join).
    """
    if how != "inner":
        raise NotImplementedError("interval_join: only how='inner'")
    p_bin = F.floor(F.col(point_col) / F.lit(bin_width))
    binned_p = points.withColumn("_bin", p_bin)
    binned_i = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / F.lit(bin_width)),
                F.floor(F.col(end_col) / F.lit(bin_width)),
            )
        ),
    )
    return (
        binned_p.join(binned_i, on=(extra_keys or []) + ["_bin"])
        .where((F.col(point_col) >= F.col(start_col)) & (F.col(point_col) <= F.col(end_col)))
        .drop("_bin")
    )


def resample_ohlc(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    id_col: str,
    bucket_us: int,
) -> DataFrame:
    """Time-bucket downsampling to OHLC bars: per (key, bucket) the
    first/last/max/min value plus the row count — the finance-style
    complement to ``resample_locf`` (which fills gaps; this one
    summarizes). ONE hash aggregation: open/close ride ``min_by`` /
    ``max_by`` over the total order (µs, id) — no window, no per-bucket
    sort, so the plan is a single shuffle on (key, bucket) with map-side
    partial aggregation, the shape that survives any table size. The
    (ts, id) tiebreak makes same-microsecond events deterministic.
    The DuckDB oracle spells the same semantics as rank-selects
    (arg_min there can't order by a composite) — divergent spellings,
    identical answers, which is exactly what the hash check certifies.
    """
    us = F.unix_micros(F.col(ts_col))
    b = events.select(
        F.col(key_col).alias("key"),
        F.expr(f"unix_micros({ts_col}) div {bucket_us}").alias("bucket"),
        F.struct(us.alias("us"), F.col(id_col).alias("id")).alias("ord"),
        F.col(val_col).alias("v"),
    )
    return (
        b.groupBy("key", "bucket")
        .agg(
            F.min_by("v", "ord").alias("open"),
            F.max_by("v", "ord").alias("close"),
            F.max("v").alias("high"),
            F.min("v").alias("low"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("key").alias(key_col), "bucket", "open", "close", "high", "low", "n_events"
        )
    )


def resample_ohlc_sql(
    table: str,
    key_col: str,
    ts_col: str,
    val_col: str,
    id_col: str,
    bucket_us: int,
) -> str:
    """DuckDB twin of ``resample_ohlc`` (kept adjacent): rank-select
    spelling of the same (µs, id)-ordered first/last semantics."""
    return f"""
WITH b AS (
    SELECT {key_col} AS key,
           epoch_us({ts_col}) // {bucket_us} AS bucket,
           epoch_us({ts_col}) AS us, {id_col} AS id, {val_col} AS v
    FROM {table}
),
r AS (
    SELECT key, bucket, v,
           row_number() OVER (PARTITION BY key, bucket ORDER BY us, id) AS ra,
           row_number() OVER (PARTITION BY key, bucket ORDER BY us DESC, id DESC) AS rd
    FROM b
)
SELECT key AS {key_col}, bucket,
       MAX(CASE WHEN ra = 1 THEN v END) AS open,
       MAX(CASE WHEN rd = 1 THEN v END) AS close,
       MAX(v) AS high, MIN(v) AS low,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM r GROUP BY key, bucket
"""
