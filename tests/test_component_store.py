"""Persisted component-assignment store (round-10 verdict item 1): the
incremental-CC serving state as a crash-safe on-disk table. Pins the
store's four contracts: (1) bootstrap+apply == batch CC over the union
of all pairs, read back through a FRESH instance; (2) idempotence under
re-delivery and chunking-insensitivity (monotone merge); (3) crash
safety of apply and compact at every window (marker-gated visibility,
orphan wipe on retry, LWW resolve across a half-finished fold); (4)
right-to-be-forgotten with re-arrival masking, fingerprint-guarded
purge, and purge deferral while unmarked orphans exist."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chchfr_data_collection_spark.operators.component_store import ComponentStore
from chchfr_data_collection_spark.operators.graph import connected_components


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "da: bigint, db: bigint"
    )


def _labels(df):
    return {(r.node, r.component) for r in df.collect()}


LANDED = [(1, 2), (2, 3), (5, 6), (10, 11)]
DELTA = [(3, 4), (6, 10), (20, 21), (4, 100)]


def _batch_cc(spark, pairs):
    return _labels(connected_components(_edges(spark, pairs)))


def test_bootstrap_apply_equals_batch_cc_across_instances(spark, tmp_path):
    """The store's resolved labels after bootstrap(landed) +
    apply(delta) equal batch CC over landed ∪ delta — including a
    delta edge that MERGES two landed components (6-10) and one that
    extends a component through a fresh node chain (3-4-100) — and a
    fresh instance on the same path (a later session) resolves
    identically from disk."""
    store = ComponentStore(spark, str(tmp_path / "cs"))
    store.bootstrap(_edges(spark, LANDED))
    store.apply_pairs(_edges(spark, DELTA), "d1")
    want = _batch_cc(spark, LANDED + DELTA)
    assert _labels(store.labels()) == want
    fresh = ComponentStore(spark, str(tmp_path / "cs"))
    assert _labels(fresh.labels()) == want


def test_patch_is_delta_sized(spark, tmp_path):
    """The apply writes ONLY changed + first-seen rows: untouched
    components (1-2-3 stays 1-2-3 if the delta never names it) leave
    no row in the patch partition — the O(delta) write contract."""
    store = ComponentStore(spark, str(tmp_path / "cs"))
    store.bootstrap(_edges(spark, LANDED))
    seq = store.apply_pairs(_edges(spark, [(6, 10), (20, 21)]), "d1")
    patch = spark.read.schema(store._read_schema()).parquet(
        store.assign_path
    ).filter(F.col("seq") == f"{seq:08d}")
    rows = {(r.node, r.component) for r in patch.select("node", "component").collect()}
    # merged: component 10's nodes relabel to 5; fresh: 20, 21
    assert rows == {(10, 5), (11, 5), (20, 20), (21, 20)}


def test_reapply_and_chunking_insensitive(spark, tmp_path):
    """Re-delivering an applied delta lands an EMPTY patch (labels
    unchanged), and applying the delta in chunks — in either order —
    resolves to the same labels as one apply: the fold is a monotone,
    order-insensitive merge."""
    want = _batch_cc(spark, LANDED + DELTA)
    a = ComponentStore(spark, str(tmp_path / "a"))
    a.bootstrap(_edges(spark, LANDED))
    a.apply_pairs(_edges(spark, DELTA), "d1")
    seq = a.apply_pairs(_edges(spark, DELTA), "d1-redelivery")
    assert _labels(a.labels()) == want
    redo = spark.read.schema(a._read_schema()).parquet(a.assign_path).filter(
        F.col("seq") == f"{seq:08d}"
    )
    assert redo.count() == 0, "re-delivery landed a non-empty patch"

    for order in (0, 1):
        s = ComponentStore(spark, str(tmp_path / f"chunk{order}"))
        s.bootstrap(_edges(spark, LANDED))
        chunks = [DELTA[:2], DELTA[2:]]
        if order:
            chunks.reverse()
        for i, ch in enumerate(chunks):
            s.apply_pairs(_edges(spark, ch), f"c{i}")
        assert _labels(s.labels()) == want, f"chunk order {order} diverged"


def test_crashed_apply_invisible_then_retry_recovers(spark, tmp_path):
    """An apply that dies after writing its partition but BEFORE its
    landed marker is invisible to labels(); the same-delta_id retry
    wipes the orphan (fresh seq — the old one may predate concurrent
    folds) and lands correctly."""
    store = ComponentStore(spark, str(tmp_path / "cs"))
    store.bootstrap(_edges(spark, LANDED))
    before = _labels(store.labels())

    real_mark = store._mark

    def boom(seq, delta_id):
        raise RuntimeError("simulated crash before landed marker")

    store._mark = boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.apply_pairs(_edges(spark, DELTA), "d1")
    store._mark = real_mark

    # crashed state: orphan partition + intent on disk, view unchanged
    assert store._read_json(f"{store.intent_path}/d1") is not None
    assert _labels(store.labels()) == before
    assert _labels(ComponentStore(spark, store.base_path).labels()) == before

    old_seq = int(store._read_json(f"{store.intent_path}/d1")["seq"])
    # another delta lands WHILE d1's crash is unrepaired: its seq must
    # clear d1's reserved number (the intent holds the reservation)...
    mid_seq = store.apply_pairs(_edges(spark, [(50, 51)]), "d2")
    assert mid_seq > old_seq, "intent reservation was not honored"
    # ...and d1's retry lands ABOVE it: the retried patch is computed
    # against the CURRENT view (d2 included), so re-using the old,
    # lower seq would let d2's rows win last-writer-wins over rows
    # derived from a strictly newer view
    new_seq = store.apply_pairs(_edges(spark, DELTA), "d1")
    assert new_seq > mid_seq, "retry landed below a later delta"
    fs, HPath = store._fs()
    assert not fs.exists(
        HPath(f"{store.assign_path}/seq={old_seq:08d}")
    ), "orphan partition not wiped by the retry"
    assert _labels(store.labels()) == _batch_cc(
        spark, LANDED + DELTA + [(50, 51)]
    )


def test_compact_folds_and_survives_both_crash_windows(spark, tmp_path):
    """compact() folds patches into one resolved GENERATION (ledger-
    committed, gid-keyed) with labels unchanged; a crash BEFORE the
    ledger commit leaves the view on the sources (the staged gid dir
    is invisible and rolled back), a hard death in the same window is
    rolled back by the next maintenance call's _recover_fold, and a
    crash AFTER the commit but mid-source-deletion resolves
    identically (LWW: the generation supersedes every duplicated row)
    — retrying compact() finishes."""
    want = _batch_cc(spark, LANDED + DELTA)

    def build(name):
        s = ComponentStore(spark, str(tmp_path / name))
        s.bootstrap(_edges(spark, LANDED))
        for i, ch in enumerate([DELTA[:2], DELTA[2:]]):
            s.apply_pairs(_edges(spark, ch), f"c{i}")
        return s

    def seq_dirs(s):
        fs, HPath = s._fs()
        return [
            st.getPath().getName()
            for st in fs.listStatus(HPath(s.assign_path))
            if st.getPath().getName().startswith("seq=")
        ]

    # clean fold: patches retire, one generation stands
    s = build("clean")
    receipt = s.compact(merge_ratio=0)
    assert receipt["compacted"] is True
    assert _labels(s.labels()) == want
    # patches retired from every fresh resolve (unmarked); their
    # bytes park in place for reader grace until a later sweep
    assert sorted(s._marked()) == []
    assert s._vacuum_state()["retired"]
    s._vacuum_sweep(force=True)
    assert seq_dirs(s) == [], f"fold left patch dirs {seq_dirs(s)}"
    gens = s._generations()
    assert len(gens) == 1 and gens[0]["gid"] == receipt["generation"]
    assert s._read_json(s.fold_intent_path) is None

    # crash window A: generation staged, ledger commit never lands —
    # the in-process except rolls back (sources untouched)
    s = build("crash-pre-commit")
    real_wj = ComponentStore._write_json

    def boom_on_ledger(self, path, obj):
        if path == self.gens_ledger_path:
            raise RuntimeError("simulated crash before ledger commit")
        real_wj(self, path, obj)

    ComponentStore._write_json = boom_on_ledger
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            s.compact(merge_ratio=0)
    finally:
        ComponentStore._write_json = real_wj
    assert s._generations() == []
    assert s._read_json(s.fold_intent_path) is None
    assert _labels(s.labels()) == want
    assert _labels(ComponentStore(spark, s.base_path).labels()) == want
    s.compact(merge_ratio=0)  # retry folds cleanly
    assert _labels(s.labels()) == want

    # crash window A, hard death (no except ran): intent + orphan gid
    # dir on disk, ledger never written — the next maintenance call
    # rolls it back and proceeds
    s = build("crash-hard-death")
    fs, HPath = s._fs()
    orphan = {
        "gid": "gen-deadbeef",
        "gseq": 3,
        "low": 1,
        "folded": [[1, "bootstrap"], [2, "c0"], [3, "c1"]],
        "folded_gids": [],
    }
    s._write_json(s.fold_intent_path, orphan)
    fs.mkdirs(HPath(s._gen_dir("gen-deadbeef")))
    assert _labels(ComponentStore(spark, s.base_path).labels()) == want
    receipt = ComponentStore(spark, s.base_path).compact(merge_ratio=0)
    assert receipt["compacted"] is True
    assert not fs.exists(HPath(s._gen_dir("gen-deadbeef")))
    assert _labels(ComponentStore(spark, s.base_path).labels()) == want

    # crash window B: ledger committed, source deletion half-finished
    s = build("crash-mid-delete")
    real_unmark = s._unmark
    calls = {"n": 0}

    def die_second(seq, delta_id):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash mid source deletion")
        real_unmark(seq, delta_id)

    s._unmark = die_second
    with pytest.raises(RuntimeError, match="simulated crash"):
        s.compact(merge_ratio=0)
    s._unmark = real_unmark
    # rows duplicated on disk right now; the resolve is unaffected
    assert len(s._generations()) == 1
    assert _labels(s.labels()) == want
    assert _labels(ComponentStore(spark, s.base_path).labels()) == want
    s.compact()  # _recover_fold finishes the cleanup
    assert _labels(s.labels()) == want
    assert sorted(s._marked()) == []
    s._vacuum_sweep(force=True)
    assert seq_dirs(s) == []
    assert s._read_json(s.fold_intent_path) is None


def test_forget_masks_rearrival_and_purge(spark, tmp_path):
    """forget() removes nodes from every subsequent labels() read; a
    forgotten node RE-ARRIVING via a later delta's pairs stays hidden;
    compact(purge_forgotten=True) byte-erases the nodes and clears the
    tombstones; and a purge with an unmarked orphan partition on disk
    DEFERS the clearing (result-level erasure preserved)."""
    store = ComponentStore(spark, str(tmp_path / "cs"))
    store.bootstrap(_edges(spark, LANDED))
    store.apply_pairs(_edges(spark, DELTA), "d1")
    gone = spark.createDataFrame([(4,), (11,)], "node: bigint")
    store.forget(gone, "t1")
    got = _labels(store.labels())
    assert not {n for n, _ in got} & {4, 11}
    assert _labels(ComponentStore(spark, store.base_path).labels()) == got

    # re-arrival: node 4 comes back in a later pair batch — masked
    store.apply_pairs(_edges(spark, [(4, 200)]), "d2")
    after = _labels(store.labels())
    assert not {n for n, _ in after} & {4, 11}
    assert (200, 4) in after or any(n == 200 for n, _ in after)

    # deferred purge: an unmarked orphan (crashed apply) blocks clearing
    real_mark = store._mark

    def boom(seq, delta_id):
        raise RuntimeError("crash")

    store._mark = boom
    with pytest.raises(RuntimeError):
        store.apply_pairs(_edges(spark, [(300, 301)]), "d3")
    store._mark = real_mark
    receipt = store.compact(purge_forgotten=True)
    assert receipt["purge_deferred"], "orphan did not defer the purge"
    assert store._deleted_nodes()[0] is not None, "tombstones cleared unsafely"

    # retry the crashed apply (wipes the orphan), then purge for real
    store.apply_pairs(_edges(spark, [(300, 301)]), "d3")
    receipt = store.compact(purge_forgotten=True)
    assert receipt["purge_deferred"] == []
    assert store._deleted_nodes()[0] is None, "clean purge did not clear"
    raw = spark.read.schema(store._read_schema()).parquet(store.assign_path)
    assert raw.filter(F.col("node").isin(4, 11)).count() == 0, (
        "purge left forgotten nodes' bytes in the patch relation"
    )
    graw = spark.read.schema(store._gid_read_schema()).parquet(store.gens_path)
    assert graw.filter(F.col("node").isin(4, 11)).count() == 0, (
        "purge left forgotten nodes' bytes in the gens relation"
    )
    # and the labels still resolve (without the forgotten nodes)
    assert not {n for n, _ in _labels(store.labels())} & {4, 11}


def test_forget_casts_node_type_and_caches_listing(spark, tmp_path):
    """forget() accepts any single-column id frame, casting to the
    store's pinned node type and failing loudly on lossy casts; the
    tombstone listing runs once per instance and is invalidated by
    forget()."""
    store = ComponentStore(spark, str(tmp_path / "cs"))
    store.bootstrap(_edges(spark, LANDED))
    store.forget(spark.createDataFrame([("11",)], "anything: string"), "t1")
    assert store._deleted_listings == 0
    for _ in range(3):
        assert not {n for n, _ in _labels(store.labels())} & {11}
    assert store._deleted_listings == 1, "labels() re-listed tombstones"
    with pytest.raises(TypeError, match="cast losslessly"):
        store.forget(spark.createDataFrame([("nope",)], "x: string"), "t2")
    store.forget(spark.createDataFrame([(5,)], "node: bigint"), "t3")
    assert not {n for n, _ in _labels(store.labels())} & {5, 11}
    assert store._deleted_listings == 2, "forget() did not invalidate cache"


def test_streaming_foreach_batch_apply(spark, tmp_path):
    """The streaming maintenance leg: the delta pair feed replayed in
    one-file micro-batches through foreach_batch_cc_apply resolves to
    batch CC over all pairs — and a second replay from a fresh
    checkpoint (an at-least-once redelivery of every batch) changes
    nothing."""
    from chchfr_data_collection_spark.streaming.documents import (
        foreach_batch_cc_apply,
    )

    store = ComponentStore(spark, str(tmp_path / "cs"))
    store.bootstrap(_edges(spark, LANDED))
    feed = str(tmp_path / "feed")
    _edges(spark, DELTA).repartition(2).write.mode("overwrite").parquet(feed)
    want = _batch_cc(spark, LANDED + DELTA)

    def replay(ck):
        stream = (
            spark.readStream.schema("da bigint, db bigint")
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(feed)
        )
        q = foreach_batch_cc_apply(stream, store, str(tmp_path / ck))
        q.awaitTermination()

    replay("ck1")
    assert _labels(store.labels()) == want
    replay("ck2")  # full redelivery: monotone merge, no corruption
    assert _labels(store.labels()) == want
    assert _labels(ComponentStore(spark, store.base_path).labels()) == want


def test_crash_after_marker_before_intent_cleanup_keeps_rows(spark, tmp_path):
    """The narrowest apply crash window: the partition landed AND its
    marker committed, but the intent file survived (death between the
    two deletes). A redelivery of the same delta_id must NOT wipe the
    committed, serving partition — it drops the stale intent and lands
    its own (empty) patch."""
    store = ComponentStore(spark, str(tmp_path / "cs"))
    store.bootstrap(_edges(spark, LANDED))
    real_read = store._read_json
    # simulate: land d1 fully, then resurrect its intent as if the
    # cleanup never ran
    seq = store.apply_pairs(_edges(spark, DELTA), "d1")
    store._write_json(f"{store.intent_path}/d1", {"seq": seq})
    want = _batch_cc(spark, LANDED + DELTA)
    assert _labels(store.labels()) == want

    store.apply_pairs(_edges(spark, DELTA), "d1")  # redelivery
    assert _labels(store.labels()) == want, (
        "redelivery after a post-marker crash lost the committed patch"
    )
    fs, HPath = store._fs()
    assert fs.exists(
        HPath(f"{store.assign_path}/seq={seq:08d}")
    ), "the committed partition was wiped"
    assert real_read(f"{store.intent_path}/d1") is None


def test_time_travel_reads_and_history(spark, tmp_path):
    """labels(as_of_seq=s) resolves the assignment exactly as it stood
    after delivery s (any marked prefix is a consistent state); current
    tombstones mask EVERY read, historical included; compact() folds
    history away and an as-of read past it fails loudly; history()
    lists the committed write log."""
    store = ComponentStore(spark, str(tmp_path / "cs"))
    store.bootstrap(_edges(spark, LANDED))
    s1 = store.history()[0][0]
    s2 = store.apply_pairs(_edges(spark, DELTA[:2]), "d1")
    s3 = store.apply_pairs(_edges(spark, DELTA[2:]), "d2")
    assert [d for _, d in store.history()] == ["bootstrap", "d1", "d2"]

    assert _labels(store.labels(as_of_seq=s1)) == _batch_cc(spark, LANDED)
    assert _labels(store.labels(as_of_seq=s2)) == _batch_cc(
        spark, LANDED + DELTA[:2]
    )
    assert _labels(store.labels(as_of_seq=s3)) == _labels(store.labels())

    # a takedown outranks an audit: the forgotten node is masked even
    # in historical reads
    store.forget(spark.createDataFrame([(11,)], "node: bigint"), "t1")
    assert not {n for n, _ in _labels(store.labels(as_of_seq=s1))} & {11}

    # VACUUM semantics: compact folds the history; pre-fold reads raise
    store.compact()
    with pytest.raises(ValueError, match="folded|predates"):
        store.labels(as_of_seq=s1).collect()
    gen_seq = store.history()[-1][0]
    assert not {n for n, _ in _labels(store.labels(as_of_seq=gen_seq))} & {11}


def test_cross_process_forget_lands_in_compact_purge(spark, tmp_path):
    """A forget() landed by ANOTHER instance after this instance's
    tombstone cache was populated must still be byte-erased by this
    instance's compact(purge_forgotten=True) — the cache is re-listed
    under the WriterLease (round-11 ADVICE, high). Pre-fix, the stale
    cache wrote the forgotten rows into the gen partition while the
    fresh-listed fingerprints cleared their tombstones: a false
    erasure, with the docs fully serving again afterwards."""
    store = ComponentStore(spark, str(tmp_path / "cs"))
    store.bootstrap(_edges(spark, LANDED))
    store.apply_pairs(_edges(spark, DELTA), "d1")
    # populate THIS instance's tombstone cache (empty at this point)
    assert store._deleted_nodes()[0] is None
    # a takedown lands through a different process/instance
    other = ComponentStore(spark, store.base_path)
    other.forget(spark.createDataFrame([(4,), (11,)], "node: bigint"), "t1")
    receipt = store.compact(purge_forgotten=True)
    assert receipt["purge_deferred"] == []
    raw = spark.read.schema(store._read_schema()).parquet(store.assign_path)
    graw = spark.read.schema(store._gid_read_schema()).parquet(store.gens_path)
    assert (
        raw.filter(F.col("node").isin(4, 11)).count()
        + graw.filter(F.col("node").isin(4, 11)).count()
        == 0
    ), (
        "stale tombstone cache: cross-process forget's rows survived "
        "the purge rewrite"
    )
    assert store._deleted_nodes()[0] is None, "tombstones not cleared"
    assert not {n for n, _ in _labels(store.labels())} & {4, 11}


def test_forgotten_node_never_bridges_min_and_nonmin(spark, tmp_path):
    """Severed-edge semantics (round-11 ADVICE, medium), both id
    accidents: a tombstoned node whose id IS its old component's label
    (it was the minimum) and one whose id is NOT. In neither case may a
    delta edge through the forgotten node merge its old component with
    the delta cluster; the surviving endpoint still enters as a
    first-seen singleton."""
    # component {1,2,3} labeled 1; component {10,11} labeled 10
    store = ComponentStore(spark, str(tmp_path / "cs"))
    store.bootstrap(_edges(spark, [(1, 2), (2, 3), (10, 11)]))

    # case A: forget node 1 — the MINIMUM of its component (its id ==
    # the component label). Pre-fix, the raw vertex 1 matched label 1
    # in changed_map and the whole {2,3} component merged with 200.
    store.forget(spark.createDataFrame([(1,)], "node: bigint"), "fa")
    store.apply_pairs(_edges(spark, [(1, 200)]), "da")
    got = _labels(store.labels())
    assert (200, 200) in got, "survivor endpoint did not enter as singleton"
    assert (2, 1) in got and (3, 1) in got, (
        "forgotten MIN node bridged its old component into the delta"
    )

    # case B: forget node 11 — NOT the minimum (label is 10).
    store.forget(spark.createDataFrame([(11,)], "node: bigint"), "fb")
    store.apply_pairs(_edges(spark, [(11, 300), (300, 301)]), "db")
    got = _labels(store.labels())
    assert (300, 300) in got and (301, 300) in got, (
        "severed edge lost the surviving endpoints' own cluster"
    )
    assert (10, 10) in got, "forgotten NON-min node bridged its component"
    assert not {n for n, _ in got} & {1, 11}

    # both endpoints tombstoned: the edge contributes nothing at all
    store.forget(spark.createDataFrame([(1,), (11,)], "node: bigint"), "fc")
    before = _labels(store.labels())
    store.apply_pairs(_edges(spark, [(1, 11)]), "dc")
    assert _labels(store.labels()) == before


def test_seq_space_exhaustion_raises(spark, tmp_path):
    """The 8-digit seq field is a hard bound: the marker name embeds
    `{seq:08d}` and resolve compares the padded strings, so a 9-digit
    seq would misparse and silently break ordering — _land_patch must
    raise instead (round-11 ADVICE, low)."""
    store = ComponentStore(spark, str(tmp_path / "cs"))
    store.bootstrap(_edges(spark, LANDED))
    real = store._max_seq
    store._max_seq = lambda: 99_999_999
    try:
        with pytest.raises(RuntimeError, match="seq space"):
            store.apply_pairs(_edges(spark, [(500, 501)]), "dz")
    finally:
        store._max_seq = real
    # the failed attempt reserved nothing and landed nothing
    store.apply_pairs(_edges(spark, [(500, 501)]), "dz2")
    assert (500, 500) in _labels(store.labels())


def test_chain_delta_applies_in_few_jobs(spark, tmp_path):
    """A delta whose contracted graph is a 64-node chain bridging three
    landed components (plus a landed self-pair and a first-seen
    singleton) resolves to batch CC over the union, and the apply runs
    a bounded number of Spark jobs: the contracted graph is solved in
    one local pass, so no job is spent per contraction round or on
    sizing the patch."""
    landed = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)]
    chain = [3] + list(range(1000, 1030)) + [10] + list(range(1030, 1061)) + [21]
    assert len(chain) == 64
    delta = list(zip(chain, chain[1:])) + [(2, 2), (900, 900)]
    store = ComponentStore(spark, str(tmp_path / "cs"))
    store.bootstrap(_edges(spark, landed))
    sc = spark.sparkContext
    group = f"cs-apply-jobs-{tmp_path.name}"
    sc.setJobGroup(group, "chain delta apply")
    try:
        store.apply_pairs(_edges(spark, delta), "d1")
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert _labels(store.labels()) == _batch_cc(spark, landed + delta)
    assert len(jobs) <= 8, f"apply ran {len(jobs)} Spark jobs"
