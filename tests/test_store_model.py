"""Model-based interleaving test of the BatchAppendStore kernel.

The store suites pin each contract individually (redelivery replaces,
crashed appends invisible, tombstones mask every read, purge deferral,
history/as-of). This file checks the contracts hold UNDER COMPOSITION:
hypothesis drives random interleavings of append / crash-mid-append /
redeliver / forget / purge against a pure-Python reference model, and
the store's serving view must equal the model after every operation.

The model encodes the documented semantics exactly — including the
deliberately sharp edges:

- a purge while an append is in flight removes committed rows but
  DEFERS the tombstone clearing (store_base.purge_forgotten);
- a redelivery re-runs the batch's deterministic transform in full, so
  rows purged OUT of a batch re-land if that batch is redelivered
  after its tombstones cleared (the documented "quiesce ingestion of
  taken-down ids across a purge" contract — the model resurrects them
  too, because that IS the contract);
- re-landing a forget_id REPLACES its previous id set;
- history() is the landed-marker log and never shrinks on purge.

Spark jobs per example are expensive: sequences and example counts are
small; the value is the adversarial ORDERINGS, not volume.
"""

from __future__ import annotations

import itertools

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import types as T

from chchfr_data_collection_spark.operators.store_base import BatchAppendStore


class _ToyStore(BatchAppendStore):
    """Minimal concrete store: one cell column, long ids."""

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


def _batch_rows(bid: int, ids) -> set:
    """The deterministic per-batch transform (what a foreachBatch sink
    would compute): row identity depends only on (batch_id, id)."""
    return {(i, bid * 1000 + i, i % 3) for i in ids}


def _df(spark, rows):
    return spark.createDataFrame(
        sorted(rows), "id long, val long, cell long"
    )


def _read_set(store, as_of=None) -> set:
    return {
        (r.id, r.val, r.cell)
        for r in store.read(as_of_batch=as_of).collect()
    }


def _crash_append(store, df, bid: int) -> None:
    """Run append_batch but die between the data write and the landed
    marker — the partial batch is on disk with an intent marker only."""
    real = store._mark_landed

    def boom(root, name):
        if root == store.landed_path and name == str(bid):
            raise RuntimeError("crash before marker")
        real(root, name)

    store._mark_landed = boom
    try:
        with pytest.raises(RuntimeError, match="crash before marker"):
            store.append_batch(df, bid)
    finally:
        store._mark_landed = real


_ids_st = st.lists(st.integers(0, 11), min_size=1, max_size=5, unique=True)
_op_st = st.one_of(
    st.tuples(st.just("append"), _ids_st),
    st.tuples(st.just("crash"), _ids_st),
    st.tuples(st.just("redeliver"), st.integers(0, 5)),
    st.tuples(st.just("redeliver_committed"), st.integers(0, 5)),
    st.tuples(st.just("forget"), st.integers(0, 2), _ids_st),
    st.tuples(st.just("purge")),
    st.tuples(st.just("compact")),
    st.tuples(st.just("compact_bounded"), st.integers(0, 5)),
    st.tuples(st.just("expire"), st.integers(0, 5)),
)

_dirs = itertools.count()

# Default budget: 10 examples per suite (Spark jobs per example are
# expensive). The CLOSING-STAMP runs raise it via
# SPARK_GRAFT_MODEL_EXAMPLES (round-13 verdict, next #6: the r13 stamp
# said "0 failed" while a falsifying example sat within hypothesis's
# reach — a stamp's budget must be recorded and larger than CI's).
import os as _os

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


@MODEL
@given(first=_ids_st, ops=st.lists(_op_st, max_size=5))
def test_store_matches_model_under_interleavings(spark, tmp_path, first, ops):
    base = tmp_path / f"s{next(_dirs)}"
    store = _ToyStore(spark, str(base))

    # model state. `committed` is keyed by the LANDED PARTITION VALUE —
    # real batch ids, plus the negative generation value once a compact
    # folds (exactly the store's own write-log coordinate)
    committed: dict[int, set] = {}   # value -> rows currently on disk & landed
    original: dict[int, set] = {}    # bid -> the batch's full transform output
    crashed: dict[int, set] = {}     # bid -> rows on disk, intent only
    tombstones: dict[str, set] = {}  # forget_id -> ids
    folded: set = set()              # real bids consumed by a compact
    gen_batches: dict[int, set] = {}  # gen value -> real bids it holds
    upto: list = [None]              # highest real bid ever folded
    floor: list = [None]             # retention floor (expired below)

    def tomb_ids() -> set:
        return set().union(*tombstones.values()) if tombstones else set()

    def expected(as_of=None) -> set:
        dead = tomb_ids()
        return {
            r
            for b, rows in committed.items()
            if as_of is None or b <= as_of
            for r in rows
            if r[0] not in dead
        }

    def model_history() -> list:
        return sorted(
            {upto[0] if v < 0 else v for v in committed}
        ) if committed else []

    next_bid = itertools.count()

    def do_append(ids, crash: bool):
        bid = next(next_bid)
        rows = _batch_rows(bid, ids)
        if crash:
            _crash_append(store, _df(spark, rows), bid)
            crashed[bid] = rows
        else:
            store.append_batch(_df(spark, rows), bid)
            committed[bid] = set(rows)
        original[bid] = rows

    # batch 0 always commits so read() has a data relation to resolve
    do_append(first, crash=False)

    for op in ops:
        kind = op[0]
        if kind == "append":
            do_append(op[1], crash=False)
        elif kind == "crash":
            do_append(op[1], crash=True)
        elif kind == "redeliver":
            if not crashed:
                continue
            bid = sorted(crashed)[op[1] % len(crashed)]
            store.append_batch(_df(spark, original[bid]), bid)
            del crashed[bid]
            committed[bid] = set(original[bid])
        elif kind == "redeliver_committed":
            reals = sorted(set(original) - set(crashed))
            bid = reals[op[1] % len(reals)]
            store.append_batch(_df(spark, original[bid]), bid)
            if bid not in folded and (floor[0] is None or bid >= floor[0]):
                # a folded or expired bid's redelivery is DROPPED by
                # the ledgers — the model changes nothing; a live one
                # replaces
                committed[bid] = set(original[bid])
        elif kind == "forget":
            fid = f"f{op[1]}"
            ids = set(op[2])
            store.forget(_df(spark, _batch_rows(0, ids)).select("id"), fid)
            tombstones[fid] = ids
        elif kind == "purge":
            receipt = store.purge_forgotten()
            dead = tomb_ids()
            if dead:
                removed = sum(
                    1 for rows in committed.values() for r in rows
                    if r[0] in dead
                )
                for b in committed:
                    committed[b] = {
                        r for r in committed[b] if r[0] not in dead
                    }
                assert receipt["rows_removed"] == removed
                assert receipt["purge_deferred"] == sorted(crashed)
                if crashed:
                    assert receipt["tombstones_cleared"] == []
                else:
                    assert receipt["tombstones_cleared"] == sorted(tombstones)
                    tombstones.clear()
            else:
                assert receipt["rows_removed"] == 0
                assert receipt["tombstones_cleared"] == []
        elif kind == "compact":
            # merge_ratio=0 = "fold EVERYTHING into one generation" —
            # the round-13 behavior, kept as the model-simple mode
            receipt = store.compact(merge_ratio=0)
            vals = sorted(committed)
            if len(vals) < 2:
                assert receipt["compacted"] is False
            else:
                assert receipt["compacted"] is True
                gen = receipt["generation"]
                merged = set().union(*(committed[v] for v in vals))
                reals = [v for v in vals if v >= 0]
                folded.update(reals)
                upto[0] = max(
                    reals + ([upto[0]] if upto[0] is not None else [])
                )
                gen_batches[gen] = set(reals).union(
                    *(gen_batches[v] for v in vals if v < 0)
                )
                committed.clear()
                committed[gen] = merged
        elif kind == "compact_bounded":
            # the round-14 tiered path: fold only reals <= the chosen
            # boundary into a NEW generation, standing generations
            # untouched (merge_ratio=None disables the size-tier walk)
            reals_now = sorted(v for v in committed if v >= 0)
            if not reals_now:
                continue
            bound = reals_now[op[1] % len(reals_now)]
            receipt = store.compact(upto=bound, merge_ratio=None)
            sources = [v for v in reals_now if v <= bound]
            if len(sources) < 2:
                assert receipt["compacted"] is False
            else:
                assert receipt["compacted"] is True
                assert receipt["folded"] == sources
                gen = receipt["generation"]
                folded.update(sources)
                upto[0] = max(
                    sources + ([upto[0]] if upto[0] is not None else [])
                )
                gen_batches[gen] = set(sources)
                committed[gen] = set().union(
                    *(committed[v] for v in sources)
                )
                for v in sources:
                    del committed[v]
        elif kind == "expire":
            reals = sorted(v for v in committed if v >= 0)
            cand = (
                reals[op[1] % len(reals)] if reals
                else (upto[0] + 1 if upto[0] is not None else 0)
            )

            def _covers(v):
                if v >= 0:
                    return v < cand
                return all(b < cand for b in gen_batches[v])

            covered = [v for v in committed if _covers(v)]
            split = [
                v for v in committed
                if v < 0
                and any(b < cand for b in gen_batches[v])
                and any(b >= cand for b in gen_batches[v])
            ]
            if floor[0] is not None and cand <= floor[0]:
                assert store.expire(cand) == {
                    "expired": [], "before": floor[0],
                }
            elif split:
                with pytest.raises(ValueError, match="inside"):
                    store.expire(cand)
            elif len(covered) == len(committed):
                with pytest.raises(ValueError, match="empty the"):
                    store.expire(cand)
            else:
                receipt = store.expire(cand)
                assert sorted(receipt["expired"]) == sorted(covered)
                for v in covered:
                    del committed[v]
                floor[0] = cand
        # the serving view equals the model after EVERY operation
        assert _read_set(store) == expected(), f"after {op}"
        assert store.history() == model_history()

    # end-of-sequence: time travel at every readable committed point —
    # points inside a folded prefix refuse (VACUUM) — and a fresh
    # instance (cold caches, marker re-resolution) agrees
    for b in store.history():
        if upto[0] is not None and b < upto[0]:
            with pytest.raises(ValueError, match="VACUUM"):
                store.read(as_of_batch=b)
        else:
            assert _read_set(store, as_of=b) == expected(as_of=b), f"as_of {b}"
    if upto[0] is not None and upto[0] > 0:
        with pytest.raises(ValueError, match="VACUUM"):
            store.read(as_of_batch=upto[0] - 1)
    fresh = _ToyStore(spark, str(base))
    assert _read_set(fresh) == expected()
    assert fresh.history() == model_history()


# --------------------------------------------------------------------------
# DR composition: snapshot/sync/clone-purge interleaved with the write
# ops, vs a model that carries BOTH sides. The model encodes the
# documented boundaries exactly: a snapshot applies source tombstones
# at the byte level (the clone starts clean), a sync ships only the
# missing committed batches masked by the tombstones AT SYNC TIME and
# mirrors the source's standing forget_ids by REPLACEMENT (clone fids
# the source has since purged stay active on the clone), and a source
# purge between syncs leaves the clone serving the erased rows until
# its own takedown lands — the purge-before-sync boundary.

_dr_op_st = st.one_of(
    st.tuples(st.just("append"), _ids_st),
    st.tuples(st.just("crash"), _ids_st),
    st.tuples(st.just("redeliver"), st.integers(0, 5)),
    st.tuples(st.just("forget"), st.integers(0, 2), _ids_st),
    st.tuples(st.just("purge")),
    st.tuples(st.just("snapshot")),
    st.tuples(st.just("sync")),
    st.tuples(st.just("clone_purge")),
    st.tuples(st.just("compact")),
)


@MODEL
@given(first=_ids_st, ops=st.lists(_dr_op_st, max_size=6))
# the round-13 falsifying example, pinned so the cross-handle
# tombstone-staleness regression (round-13 verdict, wrong #1: the
# model's long-lived clone handle kept serving a row sync_to's
# INTERNAL handle had tombstoned) replays on every run, not only when
# the hypothesis database carries it
@example(first=[0], ops=[("snapshot",), ("forget", 0, [0]), ("sync",)])
def test_snapshot_sync_match_model_under_interleavings(
    spark, tmp_path, first, ops
):
    base = tmp_path / f"dr{next(_dirs)}"
    store = _ToyStore(spark, str(base))

    committed: dict[int, set] = {}
    crashed: dict[int, set] = {}
    tombstones: dict[str, set] = {}
    clone = None
    clone_committed: dict[int, set] = {}
    clone_tombs: dict[str, set] = {}
    upto: list = [None]        # source: highest real bid ever folded
    clone_upto: list = [None]  # the ledger the snapshot shipped
    next_bid = itertools.count()

    def tomb_ids(t) -> set:
        return set().union(*t.values()) if t else set()

    def masked(rows) -> set:
        dead = tomb_ids(tombstones)
        return {r for r in rows if r[0] not in dead}

    def clone_expected() -> set:
        dead = tomb_ids(clone_tombs)
        return {
            r for rows in clone_committed.values() for r in rows
            if r[0] not in dead
        }

    original: dict[int, set] = {}

    def do_append(ids, crash: bool):
        bid = next(next_bid)
        rows = _batch_rows(bid, ids)
        original[bid] = rows
        if crash:
            _crash_append(store, _df(spark, rows), bid)
            crashed[bid] = rows
        else:
            store.append_batch(_df(spark, rows), bid)
            committed[bid] = set(rows)

    do_append(first, crash=False)

    for op in ops:
        kind = op[0]
        if kind == "append":
            do_append(op[1], crash=False)
        elif kind == "crash":
            do_append(op[1], crash=True)
        elif kind == "redeliver":
            if not crashed:
                continue
            bid = sorted(crashed)[op[1] % len(crashed)]
            store.append_batch(_df(spark, original[bid]), bid)
            del crashed[bid]
            committed[bid] = set(original[bid])
        elif kind == "forget":
            fid = f"f{op[1]}"
            ids = set(op[2])
            store.forget(_df(spark, _batch_rows(0, ids)).select("id"), fid)
            tombstones[fid] = ids
        elif kind == "purge":
            store.purge_forgotten()
            if tomb_ids(tombstones):
                for b in committed:
                    committed[b] = masked(committed[b])
                if not crashed:
                    tombstones.clear()
        elif kind == "snapshot":
            if clone is not None:
                continue
            store.snapshot_to(str(base) + "_clone")
            clone = _ToyStore(spark, str(base) + "_clone")
            clone_committed = {b: masked(r) for b, r in committed.items()}
            clone_tombs = {}
            clone_upto[0] = upto[0]  # the copied ledger
        elif kind == "sync":
            if clone is None:
                continue
            foreign = set(clone_committed) - set(committed)
            if foreign:
                # a source compact() since the snapshot folded history
                # the clone still carries — sync must refuse, and the
                # clone must be untouched by the refused call
                with pytest.raises(RuntimeError, match="fresh snapshot"):
                    store.sync_to(clone.base_path)
            else:
                store.sync_to(clone.base_path)
                for b in set(committed) - set(clone_committed):
                    clone_committed[b] = masked(committed[b])
                for fid, ids in tombstones.items():
                    clone_tombs[fid] = set(ids)
        elif kind == "clone_purge":
            if clone is None:
                continue
            clone.purge_forgotten()
            if tomb_ids(clone_tombs):
                dead = tomb_ids(clone_tombs)
                for b in clone_committed:
                    clone_committed[b] = {
                        r for r in clone_committed[b] if r[0] not in dead
                    }
                clone_tombs.clear()
        elif kind == "compact":
            receipt = store.compact(merge_ratio=0)
            if receipt["compacted"]:
                gen = receipt["generation"]
                merged = set().union(*committed.values())
                reals = [v for v in committed if v >= 0]
                upto[0] = max(
                    reals + ([upto[0]] if upto[0] is not None else [])
                )
                committed.clear()
                committed[gen] = merged
        if clone is not None:
            assert _read_set(clone) == clone_expected(), f"clone after {op}"
            assert clone.history() == sorted(
                {clone_upto[0] if v < 0 else v for v in clone_committed}
            )

    # end of sequence: a fresh instance over the clone agrees, and the
    # source still matches its own model
    dead = tomb_ids(tombstones)
    src_expected = {
        r for rows in committed.values() for r in rows if r[0] not in dead
    }
    assert _read_set(store) == src_expected
    if clone is not None:
        fresh = _ToyStore(spark, clone.base_path)
        assert _read_set(fresh) == clone_expected()


# --------------------------------------------------------------------------
# ComponentStore vs an independent union-find model. The subtle part the
# model encodes (and the store documents): PURGE severs a node's FUTURE
# bridging — its membership rows are byte-erased, so a re-arrival starts
# a fresh identity — while its PAST effect persists (survivors keep
# labels that may name a purged id; labels are values, not references).
# Modeled as per-node GENERATIONS: forget masks + severs new pairs at
# the node; purge retires the current generation (the ghost stays in
# its old component for others' labels); a post-purge re-arrival gets a
# new generation that unions from scratch.


class _UnionFind:
    def __init__(self):
        self.parent = {}

    def add(self, x):
        self.parent.setdefault(x, x)

    def find(self, x):
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a, b):
        self.add(a)
        self.add(b)
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[ra] = rb


_pairs_st = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=4
)
_nodes_st = st.lists(st.integers(0, 9), min_size=1, max_size=3, unique=True)
_cc_op_st = st.one_of(
    st.tuples(st.just("apply"), _pairs_st),
    st.tuples(st.just("forget"), st.integers(0, 2), _nodes_st),
    # compact drives BOTH modes (round 15): purge always full-folds;
    # otherwise the sampled merge_ratio picks pull-everything (0),
    # the default tier walk (0.5), or a pure bounded fold (None)
    st.tuples(
        st.just("compact"),
        st.booleans(),
        st.sampled_from([0.0, 0.5, None]),
    ),
)


@MODEL
@given(first=_pairs_st, ops=st.lists(_cc_op_st, max_size=4))
def test_component_store_matches_union_find_model(spark, tmp_path, first, ops):
    from chchfr_data_collection_spark.operators.component_store import (
        ComponentStore,
    )

    base = tmp_path / f"cc{next(_dirs)}"
    store = ComponentStore(spark, str(base))

    uf = _UnionFind()
    gen = itertools.count()
    cur: dict[int, tuple] = {}   # node -> live instance (node, generation)
    tombstones: dict[str, set] = {}
    n_apply = itertools.count()

    def tomb_ids() -> set:
        return set().union(*tombstones.values()) if tombstones else set()

    def enter(n):
        if n not in cur:
            cur[n] = (n, next(gen))
            uf.add(cur[n])

    def model_apply(pairs):
        dead = tomb_ids()
        for a, b in pairs:
            if a not in dead and b not in dead:
                enter(a)
                enter(b)
                uf.union(cur[a], cur[b])
            elif a not in dead:
                enter(a)
            elif b not in dead:
                enter(b)

    def model_labels() -> set:
        dead = tomb_ids()
        comp_min: dict = {}
        for inst in uf.parent:
            root = uf.find(inst)
            comp_min[root] = min(comp_min.get(root, inst[0]), inst[0])
        return {
            (n, comp_min[uf.find(inst)])
            for n, inst in cur.items()
            if n not in dead
        }

    def _labels(s) -> set:
        return {(r.node, r.component) for r in s.labels().collect()}

    def df_pairs(pairs):
        return spark.createDataFrame(pairs, "da: bigint, db: bigint")

    store.bootstrap(df_pairs(first))
    model_apply(first)
    assert _labels(store) == model_labels()

    for op in ops:
        if op[0] == "apply":
            store.apply_pairs(df_pairs(op[1]), f"d{next(n_apply)}")
            model_apply(op[1])
        elif op[0] == "forget":
            fid = f"f{op[1]}"
            ids = set(op[2])
            store.forget(
                spark.createDataFrame([(i,) for i in ids], "node: bigint"),
                fid,
            )
            tombstones[fid] = ids
        elif op[0] == "compact":
            purge = op[1]
            store.compact(purge_forgotten=purge, merge_ratio=op[2])
            if purge:
                # no crashed applies in this sequence, so clearing is
                # never deferred: tombstoned generations retire
                for n in tomb_ids():
                    cur.pop(n, None)
                tombstones.clear()
        assert _labels(store) == model_labels(), f"after {op}"

    # a fresh instance (cold caches, cross-session read) agrees
    assert _labels(ComponentStore(spark, str(base))) == model_labels()
