"""Model-based interleaving tests for the MinHash index lifecycle and
the fleet coordinators (round-14 verdict, next #3: the r12–r14 lesson
is that hypothesis models find the cross-feature bugs a per-contract
suite misses — the r13 tombstone-cache bug fell to exactly this
pattern). test_store_model.py covers BatchAppendStore and
ComponentStore; this file adds:

- the MinHash index under random insert / re-insert / forget / fold /
  purge / expire interleavings, compared against a pure-Python model
  of WHICH DOCS SERVE (the lifecycle semantics; the LSH math itself is
  pinned by the minhash suites), plus a snapshot→mutate→sync epilogue
  asserting the documented sync outcomes (clone equal, or refusal
  leaving the clone untouched);
- the fleet coordinators: skewed appends across two batch stores ×
  expire_everywhere (sequential fail-fast — a mid-fleet refusal leaves
  the documented partial state) × pinned quiesce-free
  snapshot_everywhere + restore (skew {} by construction; each
  restored store equals the model at the pin).

The model drives compact only in its exact modes (merge_ratio=0 /
purge): the size-tier policy's byte thresholds are environment-shaped
and pinned by test_tiered_compaction instead. Spark jobs per example
are expensive: sequences and example counts are small; the value is
the adversarial ORDERINGS, not volume (budget raised per run via
SPARK_GRAFT_MODEL_EXAMPLES for closing stamps)."""

from __future__ import annotations

import itertools
import os as _os

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql import types as T

from chchfr_data_collection_spark.operators.minhash_index import MinHashIndex
from chchfr_data_collection_spark.operators.store_base import BatchAppendStore
from chchfr_data_collection_spark.operators.takedown import (
    expire_everywhere,
    forget_everywhere,
    restore_everywhere,
    snapshot_everywhere,
)

MODEL = settings(
    max_examples=int(_os.environ.get("SPARK_GRAFT_MODEL_EXAMPLES", "10")),
    # the same examples every run, so suite time and failures reproduce
    derandomize=True,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
        HealthCheck.data_too_large,
    ],
)

_dirs = itertools.count()


# ---------------------------------------------------------------------------
# MinHash index lifecycle vs a which-docs-serve model


def _doc_df(spark, ids):
    rows = [
        (int(i), f"alpha beta gamma delta epsilon token{int(i)}")
        for i in sorted(ids)
    ]
    return spark.createDataFrame(rows, "doc_id: bigint, text: string")


def _served_docs(idx) -> set:
    """doc_ids a fresh read serves: the fold-consistent arrays view,
    masked by the current tombstones — the probe path's visibility."""
    df = idx._read_relation("arrays")
    deleted, small = idx._deleted_docs()
    if deleted is not None:
        excl = F.broadcast(deleted) if small else deleted
        df = df.join(excl, "doc_id", "left_anti")
    return {r.doc_id for r in df.select("doc_id").distinct().collect()}


_mh_ids_st = st.lists(st.integers(0, 11), min_size=1, max_size=4, unique=True)
_mh_op_st = st.one_of(
    st.tuples(st.just("insert"), st.integers(0, 3), _mh_ids_st),
    st.tuples(st.just("forget"), st.integers(0, 1), _mh_ids_st),
    st.tuples(st.just("fold"), st.booleans()),  # purge?
    st.tuples(st.just("expire"), st.integers(0, 3)),
)


class _MhModel:
    """Pure-Python twin of the index lifecycle: entries (delta or
    generation) own doc sets; tombstones mask; folds group entries;
    purges erase masked docs and clear tombstones."""

    def __init__(self, boot_docs):
        self.entries = {"bootstrap": set(boot_docs)}  # key -> docs
        self.folded: set = set()      # real delta_ids tombstoned by folds
        self.expired: set = set()
        self.tombstones: dict = {}
        self.gen_n = itertools.count(1)

    def dead(self) -> set:
        return (
            set().union(*self.tombstones.values())
            if self.tombstones
            else set()
        )

    def served(self) -> set:
        live = set().union(*self.entries.values()) if self.entries else set()
        return live - self.dead()

    def insert(self, did, ids):
        self.entries[did] = set(ids)  # replace semantics

    def fold(self, purge: bool):
        if purge:
            dead = self.dead()
            for k in list(self.entries):
                self.entries[k] = self.entries[k] - dead
            self.tombstones.clear()
        live = sorted(self.entries)
        if len(live) >= (1 if purge else 2):
            self.folded |= {k for k in live if not k.startswith("gen-")}
            docs = set().union(*(self.entries.pop(k) for k in live))
            self.entries[f"gen-model-{next(self.gen_n)}"] = docs

    def expire(self, did):
        self.expired.add(did)
        self.entries.pop(did, None)


@MODEL
@given(
    boot=_mh_ids_st,
    ops=st.lists(_mh_op_st, max_size=4),
    tail=st.lists(_mh_op_st, max_size=1),
)
# the pinned round-15 counterexample (found at the raised
# SPARK_GRAFT_MODEL_EXAMPLES budget): forget f0={2} BEFORE the
# snapshot masks doc 2's bytes out of the export; the tail RE-LANDS
# f0={0} (narrowing — doc 2 serves again on the source) and the old
# sync silently diverged the clone, which could never re-materialize
# doc 2. Now refused by the tombstone-narrowing gate; every run
# replays this regardless of budget.
@example(
    boot=[2, 8],
    ops=[
        ("fold", False),
        ("insert", 0, [0]),
        ("forget", 0, [2]),
        ("insert", 0, [0]),
    ],
    tail=[("forget", 0, [0])],
)
def test_minhash_lifecycle_matches_model(spark, tmp_path, boot, ops, tail):
    base = tmp_path / f"mh{next(_dirs)}"
    idx = MinHashIndex(spark, str(base))
    idx.bootstrap(_doc_df(spark, boot))
    model = _MhModel(boot)
    assert _served_docs(idx) == model.served()

    def run(op):
        if op[0] == "insert":
            did, ids = f"d{op[1]}", op[2]
            if did in model.folded:
                with pytest.raises(RuntimeError, match="already compacted"):
                    idx.insert(_doc_df(spark, ids), did)
            elif did in model.expired:
                # the expired marker excludes the id from every read;
                # re-landing it is the documented resurrection hazard
                # the store refuses at fold time — skip in the model
                # (retention pins this in test_retention_parity)
                return
            else:
                idx.insert(_doc_df(spark, ids), did)
                model.insert(did, ids)
        elif op[0] == "forget":
            fid, ids = f"f{op[1]}", set(op[2])
            idx.forget(
                spark.createDataFrame(
                    [(int(i),) for i in sorted(ids)], "doc_id: bigint"
                ),
                fid,
            )
            model.tombstones[fid] = ids
        elif op[0] == "fold":
            purge = op[1]
            idx.compact(purge_forgotten=purge, merge_ratio=0)
            model.fold(purge)
        elif op[0] == "expire":
            did = f"d{op[1]}"
            if did in model.folded and did not in model.expired:
                with pytest.raises(ValueError, match="folded into a"):
                    idx.expire([did])
            elif did in model.entries or did in model.expired:
                idx.expire([did])
                model.expire(did)
            # never landed: nothing to drive
        assert _served_docs(idx) == model.served(), f"after {op}"

    for op in ops:
        run(op)

    # sync epilogue: snapshot, mutate once, sync — either the clone
    # converges to the source, or the mutation collapsed shipped
    # history (fold/expire) and the refusal leaves the clone untouched
    dest = str(tmp_path / f"mhclone{next(_dirs)}")
    idx.snapshot_to(dest)
    clone = MinHashIndex(spark, dest)
    at_snapshot = _served_docs(clone)
    assert at_snapshot == model.served()
    for op in tail:
        run(op)
    try:
        idx.sync_to(dest)
    except RuntimeError:
        assert _served_docs(MinHashIndex(spark, dest)) == at_snapshot, (
            "a refused sync mutated the clone"
        )
    else:
        assert _served_docs(MinHashIndex(spark, dest)) == model.served()


# ---------------------------------------------------------------------------
# Fleet coordinators vs a per-store batches model


class _FleetToy(BatchAppendStore):
    DATA_SUBDIR = "data"
    CELL_COLS = ("cell",)
    TOMBSTONE_KEY = "id"
    DATA_SCHEMA = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.LongType()),
            T.StructField("cell", T.LongType()),
            T.StructField("batch_id", T.LongType()),
        ]
    )

    def __init__(self, spark, base_path: str) -> None:
        self._init_batch_store(spark, base_path)

    def _tombstone_key_type(self):
        return T.LongType()


def _fleet_rows(bid: int, ids) -> set:
    return {(i, bid * 1000 + i, i % 2) for i in ids}


def _fleet_df(spark, rows):
    return spark.createDataFrame(sorted(rows), "id long, val long, cell long")


def _fleet_read(store, as_of=None) -> set:
    return {
        (r.id, r.val, r.cell)
        for r in store.read(as_of_batch=as_of).collect()
    }


_fl_ids_st = st.lists(st.integers(0, 7), min_size=1, max_size=3, unique=True)
_fl_op_st = st.one_of(
    st.tuples(st.just("append"), st.sampled_from([(0,), (1,), (0, 1)]),
              _fl_ids_st),
    st.tuples(st.just("forget"), st.integers(0, 1), _fl_ids_st),
    st.tuples(st.just("expire"), st.integers(1, 4)),
)


@MODEL
@given(ops=st.lists(_fl_op_st, min_size=1, max_size=4))
def test_fleet_coordinators_match_model(spark, tmp_path, ops):
    """Skewed appends × expire_everywhere × pinned snapshot/restore:
    after every coordinator call both stores equal the model, a
    mid-fleet expire refusal leaves exactly the documented partial
    state, and the pinned quiesce-free snapshot restores both stores
    at the fleet-minimum batch with skew {} — or refuses loudly when
    the pin fell below a retention floor."""
    n = next(_dirs)
    stores = [
        _FleetToy(spark, str(tmp_path / f"fleet{n}_a")),
        _FleetToy(spark, str(tmp_path / f"fleet{n}_b")),
    ]
    # model state per store. The shared micro-batch stream delivers
    # IN ORDER to each store: a store may LAG (pending batches not yet
    # delivered) but never SKIP — the prefix property behind the
    # pinned snapshot's skew-{}-by-construction claim. (The first
    # model draft allowed skips and correctly got skew REPORTED — the
    # coordinator surfaces gaps rather than hiding them.)
    batches = [dict(), dict()]   # store -> {bid: rows} (delivered)
    pending = [[], []]           # store -> [(bid, rows)] not yet delivered
    floors = [None, None]
    tombstones: dict = {}
    next_bid = itertools.count(1)

    for s in stores:
        rows = _fleet_rows(0, [0, 1])
        s.bootstrap(_fleet_df(spark, rows))
    batches[0][0] = _fleet_rows(0, [0, 1])
    batches[1][0] = _fleet_rows(0, [0, 1])

    def dead() -> set:
        return set().union(*tombstones.values()) if tombstones else set()

    def model_read(i, upto=None) -> set:
        rows = set().union(
            *(
                r
                for b, r in batches[i].items()
                if upto is None or b <= upto
            )
        ) if batches[i] else set()
        return {r for r in rows if r[0] not in dead()}

    for op in ops:
        if op[0] == "append":
            which, ids = op[1], op[2]
            bid = next(next_bid)
            rows = _fleet_rows(bid, ids)
            for i in (0, 1):
                pending[i].append((bid, rows))
                if i in which:
                    # in-order delivery: drain this store's backlog
                    for pb, pr in pending[i]:
                        stores[i].append_batch(_fleet_df(spark, pr), pb)
                        batches[i][pb] = pr
                    pending[i] = []
        elif op[0] == "forget":
            fid, ids = f"f{op[1]}", set(op[2])
            forget_everywhere(
                spark.createDataFrame(
                    [(int(i),) for i in sorted(ids)], "id: bigint"
                ),
                fid,
                *stores,
            )
            tombstones[fid] = ids
        elif op[0] == "expire":
            before = op[1]
            # sequential fail-fast: apply per store until a refusal
            ok = []
            for i in (0, 1):
                would_keep = [b for b in batches[i] if b >= before]
                monotone_noop = floors[i] is not None and before <= floors[i]
                if not would_keep and not monotone_noop:
                    break
                ok.append(i)
            if len(ok) == 2:
                expire_everywhere((stores[0], before), (stores[1], before))
            else:
                with pytest.raises(ValueError, match="would empty"):
                    expire_everywhere(
                        (stores[0], before), (stores[1], before)
                    )
            for i in ok:
                if floors[i] is None or before > floors[i]:
                    floors[i] = before
                    batches[i] = {
                        b: r for b, r in batches[i].items() if b >= before
                    }
        for i in (0, 1):
            assert _fleet_read(stores[i]) == model_read(i), f"after {op}"

    # pinned quiesce-free fleet snapshot + restore
    pin = min(max(batches[i]) for i in (0, 1))
    root = str(tmp_path / f"fleetsnap{n}")
    pinned_below_floor = any(
        floors[i] is not None and pin < floors[i] for i in (0, 1)
    )
    if pinned_below_floor:
        with pytest.raises(ValueError):
            snapshot_everywhere(
                root, (stores[0], "a"), (stores[1], "b"), pin_batches=True
            )
        return
    catalog = snapshot_everywhere(
        root, (stores[0], "a"), (stores[1], "b"), pin_batches=True
    )
    assert catalog["skew"] == {}
    assert catalog["pin_batch"] == pin
    restored = restore_everywhere(
        spark, root, {"_FleetToy": _FleetToy}, on_skew="raise"
    )
    for i, name in ((0, "a"), (1, "b")):
        # the clone is tombstone-CLEAN (masked rewrite) — compare to
        # the model at the pin, which already excludes tombstoned ids
        assert _fleet_read(restored[name]) == model_read(i, upto=pin), (
            f"restored {name} diverged from the model at pin {pin}"
        )
