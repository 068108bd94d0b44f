"""Generic as-of / range join operators (SURVEY §2.2 J7/J8).

The as-of join ("latest right-side row at-or-before each left timestamp,
per key") appears in the corpus as q16; this module is the reusable
operator with the scale rationale:

Strategy: equi-join on the key + range predicate + max_by aggregation.
The shuffle is on the join KEY (bounded by key cardinality), never a global
time sort; the range filter drops out-of-window pairs before the aggregate,
and max_by keeps one row per left row — so peak state per task is O(left
rows in task), not O(left × right).

For dense right sides (many events per key within range) the union-window
variant beats join+aggregate: union both sides tagged, one window sort per
key, last_value(ignorenulls) carries the most recent right row forward.
That version does ONE shuffle+sort of |L|+|R| rows — preferable when the
per-key right density is high. Both are provided; both semantics match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    value_cols: list[str],
    how: str = "left",
    tolerance: Column | None = None,
) -> DataFrame:
    """join+max_by form. Returns left columns + asof_<value_cols>."""
    cond = (left[left_on] == right[right_on]) & (
        right[right_time] <= left[left_time]
    )
    if tolerance is not None:
        cond = cond & (right[right_time] >= left[left_time] - tolerance)
    joined = left.join(right, cond, how)
    aggs = [
        F.max_by(right[v], right[right_time]).alias(f"asof_{v}") for v in value_cols
    ]
    return joined.groupBy(*[left[c] for c in left.columns]).agg(*aggs)


def asof_join_union(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    value_cols: list[str],
) -> DataFrame:
    """union+window form: one shuffle of |L|+|R| on the key, sort by
    (time, side) with right rows first at equal timestamps (at-or-before
    semantics), then last_value(ignoreNulls) carries values forward."""
    lcols = left.columns
    l_tagged = left.select(
        F.col(left_on).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in lcols]).alias("_l"),
        *[F.lit(None).cast(dict(right.dtypes)[v]).alias(f"_v_{v}") for v in value_cols],
    )
    r_tagged = right.select(
        F.col(right_on).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            l_tagged.schema["_l"].dataType.simpleString()
        ).alias("_l"),
        *[F.col(v).alias(f"_v_{v}") for v in value_cols],
    )
    u = l_tagged.unionByName(r_tagged)
    w = (
        Window.partitionBy("_k")
        .orderBy("_t", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "_side",
        "_l",
        *[
            F.last(f"_v_{v}", ignorenulls=True).over(w).alias(f"asof_{v}")
            for v in value_cols
        ],
    )
    return carried.filter(F.col("_side") == 1).select(
        "_l.*", *[f"asof_{v}" for v in value_cols]
    )
