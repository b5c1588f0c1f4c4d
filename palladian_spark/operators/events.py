"""Event-stream operators over the events table
(event_id, ts, user_id, event_type, value, props).

The conversation analogues of these power transcript analytics (a turn
stream IS an event stream keyed by conv_id), so they're first-class here:

  * sessionize           — gaps-and-islands with an inactivity timeout:
                           lag() flags session starts, a running sum makes
                           session ids, one groupBy folds sessions.  One
                           shuffle on user_id; AQE skew-join handles hot
                           users.
  * windowed_event_counts — tumbling-window rollup per event_type (the
                           batch twin of the streaming watermarked agg in
                           streaming/incremental.py).
  * user_activity        — per-user activity profile (count/sum/first/last)
                           in one hash agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _exact_sum(col: str, decimals: int = 6):
    """Order-independent rounded sum of a double column.

    A plain double ``sum`` merges partials in partition order, so the last
    rounded decimal can flip between runs when the true sum sits near a
    round-half boundary.  Casting each value to a decimal first makes the
    sum exact (decimal addition is associative/commutative), so the result
    is identical for any partitioning.  Scale 9 >> the data's precision, so
    the per-row cast never changes a value's meaning.  Range bound:
    decimal(38,9) holds 29 integer digits — a |value| ≥ 1e29 would cast
    to NULL and drop out of the sum (at that magnitude the double input
    had no sub-integer precision left anyway).
    """
    return F.round(
        F.sum(F.col(col).cast("decimal(38,9)")).cast("double"), decimals)


def session_islands(events: DataFrame, timeout_minutes: int = 30,
                    user_col: str = "user_id", ts_col: str = "ts",
                    tiebreak_col: str = "event_id") -> DataFrame:
    """Gaps-and-islands core: the input plus a per-user ``session_id``.

    ``tiebreak_col`` makes same-timestamp ordering deterministic; when the
    table has no such column, a monotonically-increasing id stands in
    (ordering among exact ts ties is then partition-layout dependent, which
    only matters if a session boundary falls exactly between tied rows).
    """
    synthetic_tb = tiebreak_col is None or tiebreak_col not in events.columns
    if synthetic_tb:
        events = events.withColumn("_tb", F.monotonically_increasing_id())
        tiebreak_col = "_tb"
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    # parquet may carry TIMESTAMP_NTZ; session tz is UTC so the cast is the
    # identity wall-clock mapping and matches DuckDB's epoch_us on naive ts
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = us - F.lag(us).over(w)
    new_session = (gap.isNull()
                   | (gap > timeout_minutes * 60 * 1_000_000)).cast("int")
    out = (events
           .withColumn("_new", new_session)
           .withColumn("session_id", F.sum("_new").over(
               w.rowsBetween(Window.unboundedPreceding, 0)))
           .drop("_new"))
    # only drop _tb if WE added it — a user column of that name survives
    return out.drop("_tb") if synthetic_tb else out


def sessionize(events: DataFrame, timeout_minutes: int = 30,
               user_col: str = "user_id", ts_col: str = "ts",
               tiebreak_col: str = "event_id",
               value_col: str = "value") -> DataFrame:
    """Split each user's event stream into sessions separated by gaps
    > timeout.  Output: (user_col, session_id, session_start, session_end,
    n_events[, total_value — present iff ``value_col`` exists])."""
    with_id = session_islands(events, timeout_minutes, user_col, ts_col,
                              tiebreak_col)
    aggs = [F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events")]
    if value_col is not None and value_col in events.columns:
        aggs.append(_exact_sum(value_col).alias("total_value"))
    return with_id.groupBy(user_col, "session_id").agg(*aggs)


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          ts_col: str = "ts") -> DataFrame:
    """Tumbling-window counts/sums per event_type — JVM `window()` agg
    (batch form; the streaming form adds a watermark)."""
    return (events
            .groupBy(F.window(ts_col, window).alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 _exact_sum("value").alias("total_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n_events", "total_value"))


def conversation_stats(transcripts: DataFrame) -> DataFrame:
    """Per-conversation profile over the full transcript schema
    (conv_id, turn_idx, role, text, tool, ts — BASELINE input_hint):
    turn/role counts, time span, average turn length.  One map-side-
    combinable hash agg on conv_id — AQE skew handling covers hot
    conversations.  ``avg_chars`` is the average non-null text length in
    fixed point: round(avg * 10000) as a BIGINT, so no engine's double
    formatting can change the value."""
    return (transcripts.groupBy("conv_id")
            .agg(F.count("*").alias("n_turns"),
                 F.sum((F.col("role") == "user").cast("long"))
                 .alias("n_user"),
                 F.sum((F.col("role") == "assistant").cast("long"))
                 .alias("n_assistant"),
                 F.min("ts").alias("first_ts"),
                 F.max("ts").alias("last_ts"),
                 # NOT F.avg: avg over an int column merges double partials,
                 # so the 4th decimal can flip with partition merge order at
                 # round-half boundaries.  Exact long sum + one final
                 # division is deterministic for any partitioning; the
                 # count("text") denominator keeps avg's null-skipping
                 # semantics (sum(length) skips nulls too).
                 F.round(F.sum(F.length("text")).cast("double") * 10000
                         / F.count("text")).cast("long").alias("avg_chars")))


def user_activity(events: DataFrame) -> DataFrame:
    """Per-user profile: one hash agg, map-side combinable."""
    return (events.groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 F.countDistinct("event_type").alias("n_event_types"),
                 F.min("ts").alias("first_seen"),
                 F.max("ts").alias("last_seen"),
                 _exact_sum("value").alias("total_value")))
