"""Latest row per key as a window rank: the building block of the
as-of joins (J5/J6).

Spark has no native AS OF join; the reference does it with correlated
scalar subqueries per horizon (``function.sql:167-205``) and a jitter band
for the 1-hour horizon (``function.sql:156-165``: accept the latest snapshot
in ``(t-70min, t-45min]``). The idiomatic Spark rewrite (SURVEY.md §4.2-4):
filter candidates to the lookback predicate → ``row_number()`` over
``Window.partitionBy(keys).orderBy(desc(ts))`` → keep rank 1. The filter
prunes partitions/row-groups before the single shuffle-by-key.

The registered J5/J6 queries (``__spark_entry__.py``) inline that
composition with an ``event_id`` tie-break, so rows with equal timestamps
resolve deterministically; :func:`latest_per_key` orders by ``ts`` alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(df: DataFrame, keys: list[str], ts_col: str) -> DataFrame:
    """Latest row per key (W3: correlated ORDER BY … DESC LIMIT 1 idiom,
    ``function.sql:10-15``) — one shuffle, no self-join."""
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

