"""Window functions (SURVEY.md §2.7).

NiFi's only windowed constructs are ``AttributeRollingWindow`` (rolling
sum/count/mean) and ``EnforceOrder``; this module supplies them plus the
full ranking/analytic surface as the declared superset.

Scale: every helper is a single ``Window.partitionBy(key)`` — one shuffle
on the key, sorted within partitions, no driver involvement.  Top-K per
group uses row_number + filter (Spark turns global ORDER BY+LIMIT into
TakeOrderedAndProject; the per-group form never materializes full sorts).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from apache_nifi_spark.sqltext import ident

__all__ = [
    "enforce_order",
    "rolling_window",
    "top_k_per_group",
    "rank_records",
    "monitor_activity",
]


def enforce_order(
    df: DataFrame, group: str, order: str, out_col: str = "seq"
) -> DataFrame:
    """EnforceOrder: assign a dense per-group sequence by the order column
    (NiFi holds out-of-order FlowFiles; batch Spark simply sorts within the
    partition window)."""
    return df.withColumn(
        out_col,
        F.expr(f"row_number() OVER (PARTITION BY {ident(group)} ORDER BY {ident(order)} ASC)"),
    )


def rolling_window(
    df: DataFrame,
    group: str,
    order: str,
    value: str,
    preceding: int,
    aggs: Sequence[str] = ("sum", "count", "avg"),
) -> DataFrame:
    """AttributeRollingWindow: rolling stats over the last N rows per key.

    NiFi's processor keeps per-key state in the state manager; the batch
    equivalent is a ROWS frame.  (Time-based windows: see
    ``streaming.windows.sliding_agg``.)
    """
    w = (
        Window.partitionBy(group)
        .orderBy(F.col(order).asc())
        .rowsBetween(-preceding, Window.currentRow)
    )
    fns: Mapping[str, Column] = {
        "sum": F.sum(value).over(w),
        "count": F.count(value).over(w),
        "avg": F.avg(value).over(w),
        "min": F.min(value).over(w),
        "max": F.max(value).over(w),
    }
    return df.withColumns({f"rolling_{a}": fns[a] for a in aggs})


def top_k_per_group(
    df: DataFrame,
    group: Sequence[str],
    order_by: Column | Sequence[Column],
    k: int,
    out_col: str = "rn",
) -> DataFrame:
    """Top-K per group (NiFi idiom: PriorityAttributePrioritizer + rate
    limit).  row_number over a partitioned window, filter ≤ k.  Pass a
    composite ``order_by`` for a total order (deterministic winners)."""
    orders = [order_by] if isinstance(order_by, Column) else list(order_by)
    w = Window.partitionBy(*group).orderBy(*orders)
    return df.withColumn(out_col, F.row_number().over(w)).filter(F.col(out_col) <= k)


def rank_records(
    df: DataFrame,
    group: Sequence[str],
    order_by: Column,
    kind: str = "rank",
    out_col: str = "rank",
) -> DataFrame:
    """Ranking family: row_number / rank / dense_rank / percent_rank / ntile-N."""
    w = Window.partitionBy(*group).orderBy(order_by)
    if kind == "row_number":
        expr = F.row_number()
    elif kind == "rank":
        expr = F.rank()
    elif kind == "dense_rank":
        expr = F.dense_rank()
    elif kind == "percent_rank":
        expr = F.percent_rank()
    elif kind.startswith("ntile"):
        expr = F.ntile(int(kind.split(":")[1]))
    else:
        raise ValueError(f"unknown rank kind: {kind}")
    return df.withColumn(out_col, expr.over(w))


def monitor_activity(
    df: DataFrame,
    ts_col: str,
    group_cols: Sequence[str],
    threshold_seconds: int,
):
    """MonitorActivity (SURVEY.md §2.3-adjacent): flag inactivity gaps.

    NiFi's MonitorActivity emits an 'inactive' marker when no FlowFile
    arrives for a threshold; the batch analog reports, per group, every
    inter-event gap exceeding the threshold (lag over an ordered window —
    one shuffle on the group key, no UDF).
    """
    w = Window.partitionBy(*group_cols).orderBy(F.col(ts_col))
    prev = F.lag(F.col(ts_col)).over(w)
    # integer-microsecond subtraction then one double division: identical
    # IEEE result to DuckDB's (epoch_us(a)-epoch_us(b))/1e6 oracle form
    micros = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev_micros = F.lag(micros).over(w)
    gap = (micros - prev_micros) / F.lit(1000000.0)
    return (
        df.select(
            *group_cols,
            prev.alias("inactive_since"),
            F.col(ts_col).alias("active_again"),
            gap.alias("gap_seconds"),
        )
        .filter(F.col("gap_seconds") > threshold_seconds)
    )
