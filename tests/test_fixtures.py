"""Fixture-schema contract: what `load_table` must yield for every table
at every scale factor.

Round-3 postmortem: the driver's `events.parquet` flipped from parquet
TIMESTAMP(NANOS) to TIMESTAMP(MICROS) between rounds and the loader's
hard-coded nanos workaround broke 25 catalog queries with no local
signal. This test is that signal — it pins the POST-LOAD schema (the
contract every query in the catalog programs against), so any future
physical-layout drift the loader fails to normalize becomes a named
local failure instead of a driver-gate surprise.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from chchfr_data_collection_spark.session import TABLES, load_table

SF_DIRS = [
    d
    for d in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    if os.path.isdir(d)
]

# Post-load contract: column name -> Spark type. Timestamps must arrive
# as session-TZ TimestampType (never NTZ, never raw long) and embeddings
# as array<float> — every catalog query assumes exactly this.
EXPECTED: dict[str, list[tuple[str, T.DataType]]] = {
    "region": [("r_regionkey", T.IntegerType()), ("r_name", T.StringType())],
    "nation": [
        ("n_nationkey", T.IntegerType()),
        ("n_name", T.StringType()),
        ("n_regionkey", T.IntegerType()),
    ],
    "customer": [
        ("c_custkey", T.LongType()),
        ("c_name", T.StringType()),
        ("c_nationkey", T.IntegerType()),
        ("c_acctbal", T.DoubleType()),
        ("c_mktsegment", T.StringType()),
    ],
    "supplier": [
        ("s_suppkey", T.LongType()),
        ("s_name", T.StringType()),
        ("s_nationkey", T.IntegerType()),
        ("s_acctbal", T.DoubleType()),
    ],
    "part": [
        ("p_partkey", T.LongType()),
        ("p_name", T.StringType()),
        ("p_brand", T.StringType()),
        ("p_type", T.StringType()),
        ("p_size", T.IntegerType()),
        ("p_retailprice", T.DoubleType()),
    ],
    "orders": [
        ("o_orderkey", T.LongType()),
        ("o_custkey", T.LongType()),
        ("o_orderstatus", T.StringType()),
        ("o_totalprice", T.DoubleType()),
        # Naive parquet micros surface as NTZ — the value-correct choice
        # for date-literal comparisons, and what every driver-green TPC-H
        # row was validated against. Only events.ts needs session-TZ
        # TimestampType (streaming window() requires it).
        ("o_orderdate", T.TimestampNTZType()),
        ("o_orderpriority", T.StringType()),
    ],
    "lineitem": [
        ("l_orderkey", T.LongType()),
        ("l_partkey", T.LongType()),
        ("l_suppkey", T.LongType()),
        ("l_linenumber", T.IntegerType()),
        ("l_quantity", T.DoubleType()),
        ("l_extendedprice", T.DoubleType()),
        ("l_discount", T.DoubleType()),
        ("l_tax", T.DoubleType()),
        ("l_returnflag", T.StringType()),
        ("l_linestatus", T.StringType()),
        ("l_shipdate", T.TimestampNTZType()),
    ],
    "events": [
        ("event_id", T.LongType()),
        ("ts", T.TimestampType()),
        ("user_id", T.LongType()),
        ("event_type", T.StringType()),
        ("value", T.DoubleType()),
        ("props", T.StringType()),
    ],
    "documents": [
        ("doc_id", T.LongType()),
        ("text", T.StringType()),
        ("lang", T.StringType()),
        ("source", T.StringType()),
        ("n_chars", T.LongType()),
    ],
    "embeddings": [
        ("vec_id", T.LongType()),
        ("embedding", T.ArrayType(T.FloatType())),
        ("label", T.IntegerType()),
    ],
}


def test_contract_covers_all_tables():
    assert set(EXPECTED) == set(TABLES)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("table", TABLES)
def test_fixture_schema(spark, sf_dir, table):
    df = load_table(spark, sf_dir, table)
    got = [(f.name, f.dataType) for f in df.schema.fields]
    want = EXPECTED[table]
    # Array element nullability varies by writer; compare ignoring it.
    def norm(t: T.DataType) -> str:
        return t.simpleString()

    assert [(n, norm(t)) for n, t in got] == [
        (n, norm(t)) for n, t in want
    ], f"{table} @ {sf_dir}: post-load schema drifted"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_ts_not_ntz(spark, sf_dir):
    """ts must be session-TZ TimestampType — NTZ breaks window/rollup SQL
    and raw nanos longs break everything downstream."""
    t = load_table(spark, sf_dir, "events").schema["ts"].dataType
    assert isinstance(t, T.TimestampType), f"events.ts loaded as {t}"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_nonempty_and_bounded_ts(spark, sf_dir):
    """Sanity: at least one row, and ts values land in a plausible epoch
    range (catches unit errors: nanos misread as micros shifts dates to
    year ~1970, micros misread as nanos to year ~50k)."""
    row = (
        load_table(spark, sf_dir, "events")
        .selectExpr("min(year(ts)) AS lo", "max(year(ts)) AS hi", "count(*) AS n")
        .first()
    )
    assert row["n"] > 0
    assert 2000 <= row["lo"] <= row["hi"] <= 2100, (
        f"events.ts years [{row['lo']}, {row['hi']}] — unit mis-normalization"
    )


# --- session_cache: the memo behind load_table and every fixture memo ---


def test_session_memo_builds_once_under_concurrent_misses(spark):
    """8 threads missing one key at once: `build` runs exactly once and
    every caller gets its value (the catalog column-parity test fans
    entries out over 8 threads that share fixture memos)."""
    import sys
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from chchfr_data_collection_spark.session_cache import memo

    calls = []
    gate = threading.Barrier(8)
    key = ("test_concurrent_miss", object())

    def build():
        calls.append(1)
        time.sleep(0.2)  # hold the miss open while the others arrive
        return object()

    def get(_):
        gate.wait(timeout=30)
        return memo(spark, key, build)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the check-then-act finely
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            got = list(pool.map(get, range(8), timeout=60))
    finally:
        sys.setswitchinterval(switch)
    assert len(calls) == 1
    assert all(v is got[0] for v in got)


def test_session_replace_unpersists_previous(spark):
    """`replace` keeps one persisted copy per slot: the new handle is
    cached, the previous one is released, and a memo entry still
    holding the released handle is dropped with it."""
    from chchfr_data_collection_spark.session_cache import memo, replace

    first = replace(spark, "test_replace", spark.range(11).filter("id % 3 = 1"))
    assert first.storageLevel.useMemory
    holder_key = ("test_replace_holder", object())
    assert memo(spark, holder_key, lambda: first) is first
    second = replace(spark, "test_replace", spark.range(13).filter("id % 3 = 1"))
    assert not (first.storageLevel.useMemory or first.storageLevel.useDisk)
    assert second.storageLevel.useMemory
    assert memo(spark, holder_key, lambda: "rebuilt") == "rebuilt"
    second.unpersist()


def test_session_memo_releases_stopped_sessions(spark):
    """Entries of a session whose context has stopped are dropped on the
    next call, so nothing pins a dead session's values."""
    import gc
    import weakref

    from chchfr_data_collection_spark import session_cache

    class _Context:
        _jsc = "running"

    class _Session:
        def __init__(self):
            self.sparkContext = _Context()

    class _Value:
        pass

    fake = _Session()
    ref = weakref.ref(session_cache.memo(fake, "fixture", _Value))
    assert ref() is not None
    fake.sparkContext._jsc = None  # what SparkContext.stop() does
    session_cache.memo(spark, ("test_stopped_sweep", object()), object)
    gc.collect()
    assert ref() is None
    assert fake not in session_cache._SESSIONS
