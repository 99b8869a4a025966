"""Joins & enrichment (SURVEY.md §2.6).

Covers:
- ``LookupRecord``/``LookupAttribute`` + lookup services → broadcast hash
  join (the lookup table is by definition bounded: KV file, CSV, DB table).
- ``ForkEnrichment``→``JoinEnrichment`` (wrapper / insert / SQL strategies)
  → general DataFrame joins; the SQL strategy is Spark SQL over two views.
- ``GeoEnrichIP``-style range joins → non-equi join conditions.
- As-of join (beyond-reference, SURVEY.md §2.6 last row).

Scale: the lookup path ALWAYS broadcasts (NiFi holds the lookup in memory
per node — same invariant), so no shuffle of the fact side.  General
enrichment joins go to Catalyst/AQE for broadcast-vs-sort-merge selection
and skew splitting.  The as-of join avoids a cross product by unioning both
sides and using a partitioned window — one shuffle on the key, linear scan
within partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apache_nifi_spark.operators.route import sql_over_views

__all__ = [
    "lookup_record",
    "lookup_split",
    "join_enrichment",
    "join_enrichment_sql",
    "range_join",
    "asof_join",
    "join_zip",
]


def lookup_record(
    df: DataFrame,
    lookup: DataFrame,
    on: str | Sequence[str] | Column,
    how: str = "left",
) -> DataFrame:
    """LookupRecord: enrich each record from a bounded lookup service.

    Broadcast hash join — fact side never shuffles; at 100 TB the lookup
    (dimension) rides to every executor once.
    """
    return df.join(F.broadcast(lookup), on=on, how=how)


def lookup_split(
    df: DataFrame,
    lookup: DataFrame,
    on: str | Sequence[str],
) -> dict[str, DataFrame]:
    """LookupRecord's matched/unmatched relationships: broadcast semi/anti
    joins (no payload columns from the lookup side are needed to route)."""
    return {
        "matched": df.join(F.broadcast(lookup), on=on, how="left_semi"),
        "unmatched": df.join(F.broadcast(lookup), on=on, how="left_anti"),
    }


def join_enrichment(
    original: DataFrame,
    enrichment: DataFrame,
    on: str | Sequence[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """JoinEnrichment (wrapper/insert strategies reduce to a keyed join).

    ``how`` ∈ inner/left/right/full/left_semi/left_anti — strictly more than
    NiFi's Wrapper/Insert strategies.  Catalyst/AQE picks the physical join.
    """
    return original.join(enrichment, on=on, how=how)


def join_enrichment_sql(
    spark: SparkSession,
    original: DataFrame,
    enrichment: DataFrame,
    sql: str,
) -> DataFrame:
    """JoinEnrichment SQL strategy: user SQL over views ``original`` and
    ``enrichment`` (NiFi runs Calcite with exactly these two table names)."""
    views = {"original": original, "enrichment": enrichment}
    return sql_over_views(spark, views, {"joined": sql})["joined"]


def range_join(
    fact: DataFrame,
    dim: DataFrame,
    point: Column,
    lo: Column,
    hi: Column,
    how: str = "inner",
    extra: Column | None = None,
) -> DataFrame:
    """GeoEnrichIP-style range join: point ∈ [lo, hi).

    The dim (range table) is broadcast — Spark executes a broadcast
    nested-loop join, which is the right physical plan when the range table
    is bounded (MaxMind-style).  For two large sides, pre-bucketize the
    range key and equi-join on bucket first.
    """
    cond = (point >= lo) & (point < hi)
    if extra is not None:
        cond = cond & extra
    return fact.join(F.broadcast(dim), on=cond, how=how)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    direction: str = "backward",
) -> DataFrame:
    """As-of join (beyond-reference; NiFi correlates only by exact key).

    For each left row, attach the latest right row with
    ``right.ts <= left.ts`` (``direction="backward"``) or the earliest
    right row with ``right.ts >= left.ts`` (``"forward"``) within the
    same key — implemented as union + partitioned window
    ``last/first(..., ignorenulls=True)``: ONE shuffle on (key), no
    cross product, linear within partitions.  This survives 100×
    scale-up where a range cross-join would not.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")

    lt = left.withColumn("__ts", F.col(left_ts)).withColumn("__side", F.lit(1))
    rt = (
        right.select(
            F.col(on),
            F.col(right_ts).alias("__ts"),
            *[F.col(c) for c in right_cols],
        )
        .withColumn("__side", F.lit(0))
    )
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    if direction == "backward":
        # right rows sort before left rows at the same timestamp
        # (as-of is <=); carry the last right value seen so far forward.
        w = (
            Window.partitionBy(on)
            .orderBy(F.col("__ts").asc(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        pick = F.last
    else:
        # forward: left rows sort before right rows at the same timestamp
        # (side desc) so a right row at exactly left.ts falls inside the
        # FOLLOWING frame — as-of-forward is >=, inclusive.
        w = (
            Window.partitionBy(on)
            .orderBy(F.col("__ts").asc(), F.col("__side").desc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        pick = F.first
    filled = unioned.withColumns(
        {c: pick(F.when(F.col("__side") == 0, F.col(c)), ignorenulls=True).over(w) for c in right_cols}
    )
    return filled.filter(F.col("__side") == 1).drop("__ts", "__side")


def join_zip(
    original: DataFrame,
    enrichment: DataFrame,
    group: Sequence[str],
    order: Column,
    enrich_order: Column,
    enrich_cols: Sequence[str],
) -> DataFrame:
    """JoinEnrichment Insert/Wrapper strategies (SURVEY.md §2.6): positional
    zip of two equal-length record sets.

    NiFi aligns the original and enriched FlowFiles record-by-record; the
    distributed equivalent numbers both sides *within a partition key* and
    equi-joins on (key, position) — one shuffle per side, no global
    ordering bottleneck (a bare global row_number would serialize on a
    single reducer at 100 TB).
    """
    wl = Window.partitionBy(*group).orderBy(order)
    wr = Window.partitionBy(*group).orderBy(enrich_order)
    left = original.withColumn("__pos", F.row_number().over(wl))
    right = enrichment.withColumn("__pos", F.row_number().over(wr)).select(
        *group, "__pos", *enrich_cols
    )
    return left.join(right, on=[*group, "__pos"], how="inner").drop("__pos")
