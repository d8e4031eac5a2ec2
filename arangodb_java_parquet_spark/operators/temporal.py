"""Temporal operators Spark lacks natively: as-of join, sessionization.

Implemented as compositions of built-in DataFrame ops (SURVEY.md custom-
operator preference (a)), not UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, *,
              on: str, left_time: str, right_time: str,
              value_cols: list[str], right_on: str,
              direction: str = "backward",
              tolerance_seconds: float | None = None) -> DataFrame:
    """As-of join, left ``on`` matched to right ``right_on``; for each
    left row take

    * ``direction="backward"`` — the most recent right row with
      ``right_time <= left_time``;
    * ``direction="forward"`` — the earliest right row with
      ``right_time >= left_time``;
    * ``direction="nearest"`` — whichever of the two is closer in time
      (ties prefer backward, matching pandas ``merge_asof``).

    Strategy — union + sorted window, the shuffle-minimal formulation:
    tag both sides, union them, and within each ``on`` partition ordered by
    time take ``last(right value, ignorenulls=True)`` over the preceding
    frame (backward) / ``first`` over the following frame (forward). ONE
    shuffle total (the window partition), versus the naive inequality-join
    + groupBy which is O(matches) intermediate rows and two shuffles. At
    equal timestamps the right row sorts inside the frame so the match is
    inclusive in every direction.

    Standard as-of semantics: right rows with a NULL key or NULL time never
    supply values (SQL/DuckDB ASOF never matches on NULL); left rows with a
    NULL time match nothing.

    ``tolerance_seconds`` (pandas ``merge_asof(tolerance=...)``): a match
    further than this from the left time is masked to NULL — equivalent to
    restricting the match window to [t-tol, t] / [t, t+tol], because the
    as-of match is already the time-extremal candidate. Seconds for
    temporal columns, raw units for numeric time columns. Applied as a
    post-match mask, so it adds no shuffle.

    Scale: this is the standard large-scale formulation (also how
    pd.merge_asof would be driven per group); it never materializes the
    cross-match, so a user with 10^9 events × 10^7 quotes per key range
    stays linear. ``nearest`` reuses the same single exchange for both
    window passes (two sorts, one shuffle).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown as-of direction: {direction!r}")
    right = right.filter(F.col(right_on).isNotNull()
                         & F.col(right_time).isNotNull())

    rt_type = right.schema[right_time].dataType
    l_tag = left.select(
        F.col(on).alias("__k"), F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
          for c in value_cols],
        F.lit(None).cast(rt_type).alias("__rt"),
        F.struct(*left.columns).alias("__row"))
    r_tag = right.select(
        F.col(right_on).alias("__k"), F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
        F.col(right_time).alias("__rt"),
        F.lit(None).cast(l_tag.schema["__row"].dataType).alias("__row"))

    unioned = l_tag.unionByName(r_tag)
    # backward frame: right (0) sorts before left (1) at equal time ->
    # inclusive; forward frame: reversed tag order so the equal-time right
    # row falls INSIDE the left row's following frame.
    wb = (W.partitionBy("__k").orderBy("__t", "__is_left")
          .rowsBetween(W.unboundedPreceding, 0))
    wf = (W.partitionBy("__k").orderBy(F.col("__t"), F.col("__is_left").desc())
          .rowsBetween(0, W.unboundedFollowing))
    # left NULL-time rows sort first (nulls-first) where the forward frame
    # would see every right row — mask them to "no match" explicitly.
    has_t = F.col("__t").isNotNull()

    def backward(c):
        return F.when(has_t, F.last(c, ignorenulls=True).over(wb))

    def forward(c):
        return F.when(has_t, F.first(c, ignorenulls=True).over(wf))

    t_dtype = dict(unioned.dtypes)["__t"]
    if t_dtype.startswith(("timestamp", "date")):
        def micros(c):
            return F.unix_micros(c.cast("timestamp"))
        tol_units = (None if tolerance_seconds is None
                     else int(tolerance_seconds * 1_000_000))
    else:
        def micros(c):
            return c
        tol_units = tolerance_seconds

    def mask_tolerance(filled, matched_time_col):
        if tol_units is None:
            return filled
        dist = F.abs(micros(F.col("__t")) - micros(F.col(matched_time_col)))
        within = F.col(matched_time_col).isNotNull() & (dist <= tol_units)
        return filled.select(
            "__is_left", "__row", "__t", matched_time_col,
            *[F.when(within, F.col(f"asof_{c}")).alias(f"asof_{c}")
              for c in value_cols])

    if direction in ("backward", "forward"):
        pick = backward if direction == "backward" else forward
        filled = unioned.select(
            "__is_left", "__row", "__t",
            pick("__rt").alias("__mt"),
            *[pick(f"__r_{c}").alias(f"asof_{c}") for c in value_cols])
        filled = mask_tolerance(filled, "__mt")
        return (filled.filter(F.col("__is_left") == 1)
                .select("__row.*", *[f"asof_{c}" for c in value_cols]))

    # nearest: evaluate both directions over the SAME exchange, then pick
    # per row by time distance (strict > so ties keep the backward match).
    both = unioned.select(
        "__is_left", "__row", "__t",
        F.when(has_t, F.last("__rt", ignorenulls=True).over(wb)).alias("__bt"),
        F.when(has_t, F.first("__rt", ignorenulls=True).over(wf)).alias("__ft"),
        *[backward(f"__r_{c}").alias(f"__b_{c}") for c in value_cols],
        *[forward(f"__r_{c}").alias(f"__f_{c}") for c in value_cols])

    pick_fwd = (F.col("__bt").isNull()
                | (F.col("__ft").isNotNull()
                   & ((micros(F.col("__t")) - micros(F.col("__bt")))
                      > (micros(F.col("__ft")) - micros(F.col("__t"))))))
    out = both.select(
        "__is_left", "__row", "__t",
        F.when(pick_fwd, F.col("__ft")).otherwise(F.col("__bt"))
        .alias("__mt"),
        *[F.when(pick_fwd, F.col(f"__f_{c}")).otherwise(F.col(f"__b_{c}"))
          .alias(f"asof_{c}") for c in value_cols])
    out = mask_tolerance(out, "__mt")
    return (out.filter(F.col("__is_left") == 1)
            .select("__row.*", *[f"asof_{c}" for c in value_cols]))


def sessionize(df: DataFrame, *, key: str, time: str,
               gap: Column, tiebreak: list[str]) -> DataFrame:
    """Assign session ids: a new session starts when the gap to the previous
    event of the same key exceeds ``gap`` (seconds).

    lag + cumulative sum of boundary flags — one shuffle on ``key``.
    ``tiebreak`` columns make ordering total when timestamps can collide.
    """
    w = W.partitionBy(key).orderBy(time, *tiebreak)

    def epoch_s(c: Column) -> Column:
        # TIMESTAMP_NTZ can't cast straight to double; go through micros
        # (t() pins the session to UTC so NTZ->LTZ is identity).
        return F.unix_micros(c.cast("timestamp")) / F.lit(1_000_000.0)

    prev = F.lag(time).over(w)
    new_session = (prev.isNull()
                   | (epoch_s(F.col(time)) - epoch_s(prev) > gap)).cast("long")
    wcum = w.rowsBetween(W.unboundedPreceding, 0)
    return df.withColumn("session_seq", F.sum(new_session).over(wcum))
