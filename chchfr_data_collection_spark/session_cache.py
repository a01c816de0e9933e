"""Session-scoped memo: the one place the engine keeps state across
catalog invocations.

- `memo(spark, key, build)` returns the value cached for (session,
  key), running `build()` once: concurrent misses on one key wait for
  the first build. The lock is per key, so unrelated builds — and
  nested ones, such as a store fixture loading its tables — overlap.
- `replace(spark, slot, df)` persists `df` as the slot's one cached
  copy and unpersists the copy it replaces. A memo entry holding the
  released copy is dropped with it, so `memo` never hands one out.

Entries are keyed on the SparkSession object, not its applicationId: a
`spark.newSession()` sibling shares the applicationId but not the
session state its plans are bound to, and the object key costs no py4j
round-trip. Cached DataFrames hold their session, so no weak mapping
could ever let one go; instead every call drops the entries of stopped
sessions, checked Python-side (`SparkContext.stop()` sets `_jsc` to
None).
"""

from __future__ import annotations

import threading

# per-session memo bound, FIFO eviction: a fixture dir takes ~30
# entries (table plans, parallel-scan plans, store fixtures), so a few
# dirs fit while a session that walks many dirs stays bounded
_MAX_ENTRIES = 128

_LOCK = threading.Lock()  # guards _SESSIONS; never held across a build
_SESSIONS: dict = {}  # SparkSession -> ({key: [lock, value]}, {slot: df})
_UNBUILT = object()


def _entries(spark):
    """`spark`'s (memo cells, replace slots), after dropping every
    stopped session's entries. Caller holds _LOCK."""
    for s in [s for s in _SESSIONS if s.sparkContext._jsc is None]:
        del _SESSIONS[s]
    return _SESSIONS.setdefault(spark, ({}, {}))


def memo(spark, key, build):
    """The value cached for (spark, key); `build()` runs once per miss."""
    with _LOCK:
        cells = _entries(spark)[0]
        cell = cells.get(key)
        if cell is None:
            if len(cells) >= _MAX_ENTRIES:
                del cells[next(iter(cells))]
            cell = cells[key] = [threading.Lock(), _UNBUILT]
    if cell[1] is _UNBUILT:
        with cell[0]:
            if cell[1] is _UNBUILT:
                cell[1] = build()
    return cell[1]


def replace(spark, slot, df):
    """Persist `df` as `slot`'s cached copy, unpersisting the previous
    one first: a re-invocation builds a plan equal to the previous one,
    and CacheManager would treat the new persist as already cached and
    drop both with the old handle. The unpersist is guarded."""
    with _LOCK:
        cells, slots = _entries(spark)
        prev = slots.get(slot)
        if prev is not None:
            for key, (_, v) in list(cells.items()):
                if v is prev or (isinstance(v, tuple) and any(x is prev for x in v)):
                    del cells[key]
            try:
                prev.unpersist()
            except Exception:
                pass  # already released; nothing to do
        df = slots[slot] = df.persist()
    return df
