"""Splitting / merging / aggregation (SURVEY.md §2.5).

Covers ``MergeContent``/``MergeRecord`` (bin by correlation key),
Defragment strategy, ``SplitRecord`` (explode), ``CalculateRecordStats``,
``PartitionRecord``, ``DeduplicateRecord``, plus the relational GROUP BY
surface NiFi only reaches through QueryRecord's Calcite SQL.

Scale: groupBy aggregates get map-side partial aggregation from Catalyst
(one shuffle of partial states, not rows).  ``merge_record``'s
collect_list is the one inherently memory-proportional-to-bin operator —
same as NiFi's bin space; callers bound bin size with ``max_entries``.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from apache_nifi_spark.sqltext import ident, lit

__all__ = [
    "cdc_apply_changes",
    "merge_record",
    "defragment",
    "calculate_record_stats",
    "partition_record",
    "deduplicate_record",
    "split_record",
]


def merge_record(
    df: DataFrame,
    correlation: str | Sequence[str],
    payload: Column,
    max_entries: int | None = None,
) -> DataFrame:
    """MergeRecord: bin records by Correlation Attribute.

    Returns one row per bin: key(s), ``records`` array, ``record_count``.
    ``max_entries`` truncates each bin (NiFi's Maximum Number of Entries);
    min-size / max-bin-age are streaming-time properties — see
    ``streaming.windows`` for the windowed equivalent.
    """
    keys = [correlation] if isinstance(correlation, str) else list(correlation)
    agg = df.groupBy(*keys).agg(
        F.collect_list(payload).alias("records"),
        F.count(F.lit(1)).alias("record_count"),
    )
    if max_entries is not None:
        agg = agg.withColumn("records", F.slice("records", 1, max_entries))
    return agg


def defragment(
    df: DataFrame,
    fragment_id: str,
    fragment_index: str,
    payload: Column,
) -> DataFrame:
    """MergeContent Defragment strategy: reassemble fragments in index order.

    ``sort_array(collect_list(struct(idx, payload)))`` sorts by the struct's
    leading field — deterministic reassembly with a single shuffle.
    """
    return (
        df.groupBy(fragment_id)
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col(fragment_index).alias("idx"), payload.alias("p")))
                ),
                lambda s: s["p"],
            ).alias("fragments"),
            F.count(F.lit(1)).alias("fragment_count"),
        )
    )


def calculate_record_stats(
    df: DataFrame, category_cols: Sequence[str]
) -> DataFrame:
    """CalculateRecordStats: overall count + count per categorical value.

    One pass via grouping sets (rollup-style union of group-bys) instead of
    NiFi's per-FlowFile loop; emits (category, value, record_count) with the
    overall count under category='<total>'.
    """
    count = F.expr("count(1) AS record_count")
    out = df.groupBy(
        F.expr("'<total>' AS category"), F.expr("'<total>' AS value")
    ).agg(count)
    for c in category_cols:
        out = out.unionByName(
            df.groupBy(
                F.expr(f"{lit(c)} AS category"), F.expr(f"CAST({ident(c)} AS STRING) AS value")
            ).agg(count)
        )
    return out


def partition_record(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """PartitionRecord: co-locate records by key value.

    In NiFi this splits one FlowFile into per-value FlowFiles; in Spark the
    equivalent physical act is a hash repartition on the keys (downstream
    per-partition operators then see single-key runs after a sort within
    partitions)."""
    return df.repartition(*[F.col(k) for k in keys]).sortWithinPartitions(*keys)


def deduplicate_record(
    df: DataFrame, keys: Sequence[str], keep_order_col: str | None = None
) -> DataFrame:
    """DeduplicateRecord / DetectDuplicate (batch): one row per key.

    With ``keep_order_col``, keeps the row with the smallest value of that
    column (deterministic, oracle-friendly); otherwise ``dropDuplicates``
    (arbitrary winner, cheapest plan).
    """
    if keep_order_col is None:
        return df.dropDuplicates(list(keys))
    rn = (
        f"row_number() OVER (PARTITION BY {', '.join(map(ident, keys))}"
        f" ORDER BY {ident(keep_order_col)} ASC)"
    )
    return df.withColumn("__rn", F.expr(rn)).filter("__rn = 1").drop("__rn")


def split_record(
    df: DataFrame, array_col: str, out_col: str = "record", with_index: bool = True
) -> DataFrame:
    """SplitRecord/SplitJson/SplitText: one row per array element, emitting
    NiFi's ``fragment.index`` as a column when requested."""
    keep = [ident(c) for c in df.columns if c != array_col]
    if with_index:
        gen = f"posexplode({ident(array_col)}) AS (fragment_index, {ident(out_col)})"
    else:
        gen = f"explode({ident(array_col)}) AS {ident(out_col)}"
    return df.selectExpr(*keep, gen)


def cdc_apply_changes(
    changes: DataFrame,
    keys: Sequence[str],
    sequence_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Apply a change-data-capture log to produce final table state: for
    every key, the change with the highest ``sequence_col`` wins; keys
    whose last change is a delete vanish.  (The incremental-refresh
    primitive a training-data pipeline needs when an upstream store
    emits I/U/D events — NiFi flows build this from
    QueryDatabaseTable + PutDatabaseRecord; here it is one operator.)

    Shape: ONE shuffle on the keys (window row_number over the
    sequence, ties broken by op so a same-sequence delete wins) and a
    filter — no join, no driver state.  At 100 TB the same code runs in
    foreachBatch against the serving table with the batch's max
    sequence as the idempotency fence.
    """
    w = Window.partitionBy(*keys).orderBy(
        F.col(sequence_col).desc(), F.col(op_col).desc()
    )
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col(op_col) != delete_op))
        .drop("__rn", op_col)
    )
