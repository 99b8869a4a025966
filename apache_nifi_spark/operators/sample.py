"""Sampling & rate limiting (SURVEY.md §2.3: SampleRecord, ControlRate).

``sample_interval`` is deterministic (every Nth by a key) — the
oracle-checkable strategy.  Probabilistic and reservoir strategies match
NiFi's other SampleRecord modes; they are seeded but partition-layout
dependent, so they get rows-only correctness checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "sample_interval",
    "sample_probabilistic",
    "sample_reservoir",
    "sample_stratified_hash",
    "assign_split",
    "control_rate_limit",
]


def assign_split(
    df: DataFrame,
    key: Column,
    splits: dict[str, float] | None = None,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment — the dataset-split
    operator every training-data pipeline needs (SURVEY.md §2.12 class).

    Buckets ``md5(key)``'s first 8 hex chars into [0, 100) and walks the
    cumulative split boundaries (default train .9 / val .05 / test .05).
    Hash-based, not ``rand()``: the assignment is a pure function of the
    row key, so it is stable across runs, engines, partitionings, and
    incremental re-ingests (a re-crawled document keeps its split —
    the leakage-safety property rand() cannot give).  At scale this is
    one codegen'd expression, no shuffle, no state.

    DuckDB computes the identical bucket via
    ``('0x' || substring(md5(k),1,8))::UBIGINT % 100`` — value-oracled.
    """
    splits = splits or {"train": 0.90, "val": 0.05, "test": 0.05}
    bucket = (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long") % 100
    )
    expr = None
    cum = 0.0
    items = list(splits.items())
    for name, frac in items[:-1]:
        cum += frac * 100
        cond = bucket < F.lit(int(round(cum)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def sample_interval(df: DataFrame, key: Column, n: int) -> DataFrame:
    """Every Nth record by a stable key (SampleRecord interval strategy).
    Deterministic under any partitioning — safe for oracle checks."""
    return df.filter(key % n == 0)


def sample_probabilistic(df: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """SampleRecord probabilistic strategy — Bernoulli per row."""
    return df.sample(withReplacement=False, fraction=fraction, seed=seed)


def sample_reservoir(df: DataFrame, k: int, order_key: Column | None = None, seed: int = 42) -> DataFrame:
    """SampleRecord reservoir strategy: uniform-without-replacement K rows.

    Implemented as top-K by a per-row hash of a stable key (deterministic
    when ``order_key`` given — md5 hex, identical ordering in any engine)
    or by rand(seed).  Spark plans this as TakeOrderedAndProject — no
    global sort materialization.
    """
    score = F.md5(order_key.cast("string")) if order_key is not None else F.rand(seed)
    return df.orderBy(score).limit(k)


def sample_stratified_hash(
    df: DataFrame,
    key: Column,
    stratum: Column,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic stratified sampling: per-stratum Bernoulli keep-rates
    keyed on a stable row id — the corpus-mixture operator ("keep 75% of
    en, 25% of code, 5% of low-quality") of a training-data pipeline.

    Keep iff the first two hex chars of ``md5(key)`` fall below the
    stratum's threshold (rate quantized to nearest 1/256 — round, not
    truncate, so e.g. rate 0.1 keeps 26/256 = 0.1016 rather than the
    always-low 25/256).  Hash-based rather than ``rand()`` so the
    decision is a pure function of the row — reproducible across runs,
    engines (DuckDB computes the identical md5 prefix, so this is
    value-oracled), partitionings, and restarts; at 100 TB it is a
    codegen'd filter pushed at scan speed with no shuffle and no
    seed-state coordination across executors.

    A NULL ``key`` hashes as the empty string (md5('') = 'd4...'), so
    NULL-key rows sample deterministically instead of being dropped.
    """
    def _thr(rate: float) -> str:
        # "zz" sorts above every hex prefix → keep-all; quantized hex
        # threshold otherwise.  (A "100" threshold would compare
        # lexicographically against 2-char prefixes and break.)
        return "zz" if rate >= 1.0 else format(max(round(rate * 256), 0), "02x")

    thr = F.lit(_thr(default_rate))
    for name, rate in sorted(rates.items()):
        thr = F.when(stratum == name, F.lit(_thr(rate))).otherwise(thr)
    hashed = F.md5(F.coalesce(key.cast("string"), F.lit("")))
    return df.filter(F.substring(hashed, 1, 2) < thr)


def control_rate_limit(df: DataFrame, group: Column, order: Column, per_group: int) -> DataFrame:
    """ControlRate with a grouping attribute: at most N records per group
    (per trigger in streaming; per batch here) — window row_number filter."""
    from pyspark.sql import Window

    w = Window.partitionBy(group).orderBy(order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(f"__rn <= {int(per_group)}")
        .drop("__rn")
    )
