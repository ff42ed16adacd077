"""contains — membership of needles in a haystack column (search.hpp:47).

The reference broadcasts the haystack to every worker
(cpp/src/search.cpp:77-78).  Spark equivalents, by haystack kind:

- literal list → ``col.isin(values)`` (codegen'd, no data movement);
- haystack *column* → broadcast LEFT SEMI join marks membership; we
  keep full rows by a broadcast left join against the distinct
  haystack + null-check, which Catalyst executes as a
  BroadcastHashJoin — identical data movement to the reference
  (haystack replicated, needles stay put).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def contains(needles: DataFrame, needle_col: str,
             haystack: DataFrame | Sequence, haystack_col: str | None = None,
             out_col: str = "contains") -> DataFrame:
    """Append bool column: ``needles[needle_col] ∈ haystack``."""
    if not isinstance(haystack, DataFrame):
        return needles.withColumn(out_col, F.col(needle_col).isin(list(haystack)))
    if haystack_col is None:
        if len(haystack.columns) != 1:
            raise ValueError("haystack_col required for multi-column haystack")
        haystack_col = haystack.columns[0]
    hay = (haystack.select(F.col(haystack_col).alias("__hay"))
           .dropDuplicates().withColumn("__hit", F.lit(True)))
    joined = needles.join(F.broadcast(hay),
                          needles[needle_col] == F.col("__hay"), "left")
    return joined.withColumn(out_col, F.coalesce(F.col("__hit"), F.lit(False))) \
                 .drop("__hay", "__hit")
