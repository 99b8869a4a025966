"""Routing & per-record SQL — NiFi's WHERE and multiplexed WHERE.

Covers (SURVEY.md §2.3):
- ``RouteOnAttribute``  — N EL predicates → N relationships (+ unmatched).
- ``RouteText`` / ``RouteOnContent`` — regex routing over text content.
- ``QueryRecord``       — SQL over records (Calcite in NiFi → Spark SQL here;
  the centerpiece mapping: a temp view + ``spark.sql``).
- ``ScanAttribute``/``ScanContent`` — dictionary membership.
- ``ValidateRecord``    — valid/invalid split via corrupt-record column.

Scale: NiFi evaluates routes FlowFile-at-a-time; here each route is a
Catalyst-planned filter over a columnar scan, and the multi-route fan-out
computes the parent ONCE (caller caches or relies on parquet scan reuse)
then applies N pushed-down predicates — SURVEY.md §4.2 item 1.
"""

from __future__ import annotations

import threading
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_nifi_spark.sqltext import ident, lit

__all__ = [
    "route_on_attribute",
    "route_text",
    "query_record",
    "scan_attribute",
    "validate_record",
    "distribute_load",
    "duplicate_flowfile",
    "sql_over_views",
]

#: Temp views are session-global, and REST compiles run concurrently: a
#: thread binding ``FLOWFILE`` between another thread's bind and its
#: ``spark.sql`` would hand that statement the wrong input.  Every
#: "register view(s) + ``spark.sql``" pair holds this lock; ``spark.sql``
#: analyzes eagerly, so a returned plan keeps its own inputs.
_VIEW_LOCK = threading.Lock()


def sql_over_views(
    spark: SparkSession, views: Mapping[str, DataFrame], statements: Mapping[str, str]
) -> dict[str, DataFrame]:
    """Run each named SQL statement over ``views`` bound as temp views."""
    with _VIEW_LOCK:
        for view, df in views.items():
            df.createOrReplaceTempView(view)
        return {name: spark.sql(sql) for name, sql in statements.items()}


def route_on_attribute(
    df: DataFrame,
    routes: Mapping[str, Column],
    strategy: str = "route_all_matching",
) -> dict[str, DataFrame]:
    """RouteOnAttribute: each named predicate becomes an output relationship;
    rows matching none land in ``unmatched``.

    strategy:
      - ``route_all_matching``: a row may appear on every matching route.
      - ``route_first_matching``: a row goes only to the first matching route
        (NiFi's Route-to-Property-Name single-relationship mode).
    """
    out: dict[str, DataFrame] = {}
    if strategy == "route_all_matching":
        for name, pred in routes.items():
            out[name] = df.filter(pred)
    elif strategy == "route_first_matching":
        prior: Column | None = None
        for name, pred in routes.items():
            eff = pred if prior is None else pred & ~prior
            out[name] = df.filter(eff)
            prior = pred if prior is None else prior | pred
    else:
        raise ValueError(f"unknown strategy: {strategy}")

    none_match = ~_any_of(list(routes.values()))
    out["unmatched"] = df.filter(none_match)
    return out


def _any_of(preds: Sequence[Column]) -> Column:
    acc = preds[0]
    for p in preds[1:]:
        acc = acc | p
    return acc


def route_text(df: DataFrame, text_col: str, pattern: str) -> dict[str, DataFrame]:
    """RouteText/RouteOnContent: regex over content → matched / unmatched."""
    c = F.col(text_col)
    return {
        "matched": df.filter(c.rlike(pattern)),
        "unmatched": df.filter(~c.rlike(pattern) | c.isNull()),
    }


def query_record(
    spark: SparkSession,
    df: DataFrame,
    queries: Mapping[str, str],
    view_name: str = "FLOWFILE",
) -> dict[str, DataFrame]:
    """QueryRecord: run SQL statements against the record set.

    NiFi runs Calcite per-FlowFile over table ``FLOWFILE``; here the record
    set is one temp view and each route's SQL is planned by Catalyst with
    full pushdown into the underlying scan.  Far stronger at scale: one
    distributed plan instead of millions of per-file Calcite plans.
    """
    return sql_over_views(spark, {view_name: df}, queries)


def scan_attribute(
    df: DataFrame, col: str, dictionary: Sequence, negate: bool = False
) -> DataFrame:
    """ScanAttribute/ScanContent: membership against a dictionary.

    The dictionary is a literal list → Catalyst compiles ``isin`` to a hash
    set JVM-side (or a broadcast semi-join if the caller joins instead);
    never a per-row Python callback.
    """
    pred = F.col(col).isin(list(dictionary))
    return df.filter(~pred if negate else pred)


def validate_record(
    df: DataFrame, constraints: Mapping[str, Column]
) -> dict[str, DataFrame]:
    """ValidateRecord: constraint predicates → valid / invalid split, with a
    per-row ``violations`` array naming failed constraints (NiFi attaches
    the failure reason as an attribute)."""
    checks = [F.when(~pred, F.lit(name)) for name, pred in constraints.items()]
    annotated = df.withColumn(
        "violations", F.array_compact(F.array(*checks))
    )
    return {
        "valid": annotated.filter(F.size("violations") == 0).drop("violations"),
        "invalid": annotated.filter(F.size("violations") > 0),
    }


def distribute_load(
    df: DataFrame,
    weights: Mapping[str, int],
    order_col: str,
) -> DataFrame:
    """DistributeLoad (§2.3): weighted round-robin relationship
    assignment — relationship ``r`` with weight ``w`` receives ``w`` of
    every ``sum(weights)`` records, in a deterministic cycle over the
    total order ``order_col`` gives.

    Scale-safe global cycle (no single-partition window over data rows):

    1. ``repartitionByRange(order_col)`` + ``sortWithinPartitions`` —
       partition *i*'s rows all precede partition *i+1*'s, so a global
       index decomposes into (partition offset + local index).
    2. ``monotonically_increasing_id`` encodes exactly that pair
       (partition id in the high bits, 0-based row-in-partition in the
       low 33) — assigned in the sorted row order, no WindowExec at all
       on the data side.
    3. Per-partition counts → cumulative offsets: an aggregate of
       O(shuffle partitions) rows, cumulated with a one-group window
       over that TINY side only, then broadcast-joined back.

    The result is value-identical to ``row_number() OVER (ORDER BY
    order_col)`` (the DuckDB oracle form) while every data-row stage
    stays partition-parallel; downstream consumers filter their
    relationship, which is exactly a NiFi connection.
    """
    total = sum(weights.values())
    if total <= 0 or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative with a positive sum")
    order = ident(order_col)
    mid = "monotonically_increasing_id()"
    stamped = (
        df.repartitionByRange(F.expr(order))
        .sortWithinPartitions(F.expr(order))
        .selectExpr(
            "*",
            f"CAST(shiftright({mid}, 33) AS INT) AS _dl_pid",
            f"CAST({mid} & {(1 << 33) - 1} AS BIGINT) AS _dl_local",
        )
    )
    # one-group cumulative sum over ≤ shuffle-partition-count rows —
    # control-plane sized; the partitionBy expression is constant-valued
    # (pid % 1 == 0) but not foldable, keeping an explicit single group
    # without WindowExec's no-partition warning (a literal would be
    # optimized out of the partition spec)
    offs = stamped.groupBy("_dl_pid").agg(
        F.expr(
            "sum(count(1)) OVER (PARTITION BY pmod(_dl_pid, 1) ORDER BY _dl_pid)"
            " - count(1) AS _dl_off"
        )
    )
    slot = f"pmod(_dl_off + _dl_local, {total})"
    rel, lo = "CAST(NULL AS STRING)", 0
    for name, wt in weights.items():
        if wt:
            rel = (
                f"CASE WHEN {slot} >= {lo} AND {slot} < {lo + wt}"
                f" THEN {lit(name)} ELSE {rel} END"
            )
            lo += wt
    return stamped.join(F.broadcast(offs), "_dl_pid").selectExpr(
        *(ident(c) for c in df.columns if c != "relationship"), f"{rel} AS relationship"
    )


def duplicate_flowfile(df: DataFrame, copies: int | Column) -> DataFrame:
    """DuplicateFlowFile (§2.3, test-fan-out utility): emit the original
    plus ``copies`` clones, each stamped with ``copy_index`` (0 = the
    original — NiFi sets ``copy.index`` the same way).  ``sequence`` +
    ``explode``: the fan-out happens executor-side, no driver loop."""
    n = F.lit(copies) if isinstance(copies, int) else copies
    return df.withColumn(
        "copy_index", F.explode(F.sequence(F.lit(0), n.cast("int")))
    )
