"""Frequent-pattern mining (Apriori successor, SURVEY.md §2.7).

The reference ships a small Apriori (extraction/apriori/Apriori.java:276
LoC, single JVM).  At corpus scale the same job is FP-Growth in
``pyspark.ml.fpm`` — distributed, shuffle-efficient — so we wrap it
instead of porting the Java loop (the survey's own recommendation).

Use case here: event-type basket analysis per session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def frequent_itemsets(baskets: DataFrame, items_col: str = "items",
                      min_support: float = 0.1,
                      min_confidence: float = 0.5):
    """Run FP-Growth over a basket DataFrame (one array<string> column of
    DISTINCT items per row).  Returns (itemsets_df, rules_df)."""
    from pyspark.ml.fpm import FPGrowth
    fp = FPGrowth(itemsCol=items_col, minSupport=min_support,
                  minConfidence=min_confidence)
    model = fp.fit(baskets)
    return model.freqItemsets, model.associationRules


def session_event_baskets(events: DataFrame,
                          timeout_minutes: int = 30,
                          user_col: str = "user_id",
                          ts_col: str = "ts") -> DataFrame:
    """(user session) → distinct event_type basket, ready for FP-Growth.
    Reuses sessionize's island computation — one definition of a session."""
    from palladian_spark.operators.events import session_islands
    with_id = session_islands(events, timeout_minutes, user_col, ts_col)
    return (with_id.groupBy(user_col, "session_id")
            .agg(F.array_sort(F.collect_set("event_type")).alias("items")))
