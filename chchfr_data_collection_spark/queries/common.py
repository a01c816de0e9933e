"""Shared helpers for catalog queries."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session_cache import memo


def T(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool = False
) -> DataFrame:
    """Load a fixture table; `parallel=True` for compute-bound consumers
    (per-row shingling / quantization / regex) — see session.parallelize_scan.

    The `parallel=True` plan is memoized per (session, sf_dir, table)
    alongside session.load_table's memo: `parallelize_scan` pays a
    physical-planning pass (`df.rdd.getNumPartitions`, ~0.1 s) per call
    to decide whether to repartition, and the decision is a pure
    function of the (immutable) fixture file and the session's
    parallelism. Lazy plan only — every action still scans parquet."""
    from ..session import load_table, parallelize_scan

    df = load_table(spark, sf_dir, name)
    if not parallel:
        return df
    return memo(spark, ("parallel_scan", sf_dir, name), lambda: parallelize_scan(df))


def store_fixture(spark: SparkSession, sf_dir: str, name: str, store_cls, fill):
    """A `store_cls` store in a fresh temp dir named after `name`,
    filled by `fill(store)` once per (session, sf_dir) and returned to
    every later call — the persisted-store fixtures catalog entries
    probe, so a bench pass prices the probe, not the bootstrap."""
    import tempfile
    import uuid

    def build():
        base = tempfile.mkdtemp(prefix=f"{name}_{uuid.uuid4().hex[:8]}_")
        store = store_cls(spark, base)
        fill(store)
        return store

    return memo(spark, (name, sf_dir), build)


def dec(c: Column | str) -> Column:
    """Exact-decimal view of a 2-dp monetary/quantity double."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("decimal(12,2)")


def dsum(c: Column | str) -> Column:
    """Cross-engine-exact sum of a 2-dp double: decimal sum -> double."""
    return F.sum(dec(c)).cast("double")


def davg(c: Column | str) -> Column:
    """Cross-engine-exact mean: exact decimal sum / count, in double."""
    c = F.col(c) if isinstance(c, str) else c
    return F.sum(dec(c)).cast("double") / F.count(c)
