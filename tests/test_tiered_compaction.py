"""Tiered / bounded log compaction (round-13 verdict, missing #1 and
next #3): `compact(upto=B)` folds only committed real batches <= B,
standing generations are NOT re-folded on every call (two successive
bounded folds leave the first generation's files byte-identical), the
size-ratio walk merges generations only when the trigger fires, and
retention composes — a WHOLE old generation expires while younger
generations stand. merge_ratio=0 (fold everything) remains the
round-13 behavior and is pinned by the pre-existing compact suite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chchfr_data_collection_spark.streaming.embeddings import (
    IvfAssignmentStore,
    ivf_assign,
    ivf_centroids,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _rows(df):
    return {(r.vec_id, r.cent_id, r.batch_id) for r in df.collect()}


def _ivf4(spark, tmp_path, name="ivf"):
    """Four committed batches 0..3, ~equal size."""
    store = IvfAssignmentStore(spark, str(tmp_path / name))
    cent = ivf_centroids(spark, SF_DIR)
    bounds = [0, 150, 300, 450, 10**9]
    store.bootstrap(
        ivf_assign(_emb(spark).filter(F.col("vec_id") < 150), cent)
    )
    for b in (1, 2, 3):
        store.append_batch(
            ivf_assign(
                _emb(spark).filter(
                    (F.col("vec_id") >= bounds[b])
                    & (F.col("vec_id") < bounds[b + 1])
                ),
                cent,
            ),
            b,
        )
    return store, cent


def _gen_files(store, gen):
    """Sorted (name, mtime, size) fingerprint of a generation's files."""
    import pathlib

    return sorted(
        (str(p.relative_to(store.data_path)), p.stat().st_mtime_ns,
         p.stat().st_size)
        for p in pathlib.Path(store.data_path).glob(
            f"**/batch_id={gen}/*.parquet"
        )
    )


def test_bounded_fold_leaves_later_batches_and_first_gen_untouched(
    spark, tmp_path
):
    """compact(upto=1) folds [0,1] only; a second bounded fold of
    [2,3] creates a SECOND generation without rewriting the first —
    maintenance cost scales with the new deltas, not the corpus."""
    store, cent = _ivf4(spark, tmp_path)
    serving = {(r.vec_id, r.cent_id) for r in store.read().collect()}

    r1 = store.compact(upto=1, merge_ratio=None)
    assert r1["compacted"] is True
    assert r1["generation"] == -1
    assert r1["folded"] == [0, 1]
    assert r1["upto"] == 1
    assert store._landed_batch_values() == [-1, 2, 3]
    assert store.history() == [1, 2, 3]
    assert {(r.vec_id, r.cent_id) for r in store.read().collect()} == serving

    gen1_before = _gen_files(store, -1)
    assert gen1_before, "generation -1 must hold files"

    r2 = store.compact(upto=3, merge_ratio=None)
    assert r2["compacted"] is True
    assert r2["generation"] == -2
    assert r2["folded"] == [2, 3]
    assert r2["upto"] == 3
    assert store._landed_batch_values() == [-2, -1]
    assert store.history() == [3]
    assert {(r.vec_id, r.cent_id) for r in store.read().collect()} == serving

    assert _gen_files(store, -1) == gen1_before, (
        "a bounded fold must NOT rewrite the standing generation"
    )

    # ledger: per-generation records + cumulative flat keys
    led = store._read_json(store.folded_ledger_path)
    assert led["batches"] == [0, 1, 2, 3]
    assert led["upto"] == 3
    assert led["gen"] == -2
    assert led["generations"] == [
        {"gen": -2, "upto": 3, "batches": [2, 3]},
        {"gen": -1, "upto": 1, "batches": [0, 1]},
    ]

    # VACUUM horizon is global: every folded point refuses
    for b in (0, 1, 2):
        with pytest.raises(ValueError, match="VACUUM"):
            store.read(as_of_batch=b)
    assert store.read(as_of_batch=3).count() == len(serving)

    # redeliveries of batches in EITHER generation drop
    for bid in (0, 3):
        store.append_batch(
            ivf_assign(_emb(spark).filter(F.col("vec_id") < 5), cent), bid
        )
    assert store._landed_batch_values() == [-2, -1]
    assert {(r.vec_id, r.cent_id) for r in store.read().collect()} == serving

    # a fresh instance resolves the two-generation layout identically
    fresh = IvfAssignmentStore(spark, store.base_path)
    assert {(r.vec_id, r.cent_id) for r in fresh.read().collect()} == serving
    assert fresh.history() == [3]


def test_size_ratio_trigger_merges_generations(spark, tmp_path):
    """The LSM walk: a fold whose gathered bytes outweigh
    merge_ratio x a standing generation's bytes consumes it; a fold
    far smaller leaves it standing (the default-path behavior)."""
    store, cent = _ivf4(spark, tmp_path)

    # fold [0,1] into gen -1
    store.compact(upto=1, merge_ratio=None)
    gen1 = _gen_files(store, -1)

    # [2,3] is ~the same byte weight as gen -1 -> with the default
    # ratio 0.5 the walk pulls gen -1 into the fold: ONE generation
    r = store.compact()
    assert r["compacted"] is True
    assert r["generation"] == -2
    assert r["folded"] == [-1, 2, 3]
    assert store._landed_batch_values() == [-2]
    led = store._read_json(store.folded_ledger_path)
    assert led["generations"] == [
        {"gen": -2, "upto": 3, "batches": [0, 1, 2, 3]}
    ]
    # merged away from every fresh read; bytes park in the vacuum
    # set for reader grace until a later sweep (round 15)
    assert gen1 and store._vacuum_state()["retired"]
    store._vacuum_sweep(force=True)
    assert _gen_files(store, -1) == []

    # a tiny new batch against the big generation, with a ratio the
    # tiny bytes cannot reach (at toy scale parquet file overhead
    # dominates real bytes, so the threshold is explicit here): the
    # trigger does not fire and the fold set is a single batch — a
    # no-op (folding one batch into its own generation bounds nothing)
    tiny = ivf_assign(_emb(spark).filter(F.col("vec_id") < 5), cent).withColumn(
        "vec_id", F.col("vec_id") + 700000
    )
    store.append_batch(tiny, 4)
    gen2 = _gen_files(store, -2)
    assert store.compact(merge_ratio=25.0) == {
        "compacted": False, "folded": [], "rows": None,
    }
    assert _gen_files(store, -2) == gen2
    assert store._landed_batch_values() == [-2, 4]

    # two tiny batches: they fold together into a YOUNG generation,
    # the big one still untouched
    store.append_batch(
        tiny.withColumn("vec_id", F.col("vec_id") + 1000), 5
    )
    r = store.compact(merge_ratio=25.0)
    assert r["compacted"] is True
    assert r["folded"] == [4, 5]
    assert store._landed_batch_values() == [-3, -2]
    assert _gen_files(store, -2) == gen2, (
        "the size-ratio trigger must not re-fold a generation far "
        "above the new deltas' weight"
    )


def test_expire_whole_old_generation_with_younger_standing(spark, tmp_path):
    """Retention x tiered compaction: a boundary above an old
    generation's whole batch range retires it while a younger
    generation and live batches stand; a boundary SPLITTING either
    generation refuses with the per-generation message."""
    store, cent = _ivf4(spark, tmp_path)
    store.compact(upto=1, merge_ratio=None)   # gen -1 = [0,1]
    store.compact(upto=3, merge_ratio=None)   # gen -2 = [2,3]
    extra = ivf_assign(_emb(spark).filter(F.col("vec_id") < 5), cent).withColumn(
        "vec_id", F.col("vec_id") + 700000
    )
    store.append_batch(extra, 4)

    with pytest.raises(ValueError, match=r"\[0, 1\].*inside"):
        store.expire(1)  # splits gen -1
    with pytest.raises(ValueError, match=r"\[2, 3\].*inside"):
        store.expire(3)  # splits gen -2

    receipt = store.expire(2)  # retires gen -1 whole
    assert receipt == {"expired": [-1], "before": 2}
    assert store._landed_batch_values() == [-2, 4]
    want = {(r.vec_id, r.cent_id) for r in store.read().collect()}
    assert {
        (r.vec_id, r.cent_id)
        for r in IvfAssignmentStore(spark, store.base_path).read().collect()
    } == want

    # expired-generation redeliveries still drop (floor covers them)
    store.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") < 150), cent), 0
    )
    assert store._landed_batch_values() == [-2, 4]

    # the next fold prunes the retired generation from the ledger's
    # records while the flat redelivery-drop set stays cumulative
    store.append_batch(
        extra.withColumn("vec_id", F.col("vec_id") + 2000), 5
    )
    store.compact(merge_ratio=None)
    led = store._read_json(store.folded_ledger_path)
    assert [g["gen"] for g in led["generations"]] == [-3, -2]
    assert led["batches"] == [0, 1, 2, 3, 4, 5]


def test_snapshot_and_sync_with_two_generations(spark, tmp_path):
    """DR on the tiered layout: a snapshot carries BOTH generations
    verbatim; an incremental sync ships later real batches; a source
    fold since the export refuses down BOTH detection paths (foreign
    clone batches / unshippable generation) with honest remedies."""
    store, cent = _ivf4(spark, tmp_path)
    store.compact(upto=1, merge_ratio=None)
    store.compact(upto=3, merge_ratio=None)

    dest = str(tmp_path / "clone")
    store.snapshot_to(dest)
    clone = IvfAssignmentStore(spark, dest)
    assert clone._landed_batch_values() == [-2, -1]
    assert clone.history() == [3]
    with pytest.raises(ValueError, match="VACUUM"):
        clone.read(as_of_batch=2)

    # a second clone that will NEVER see batches 4/5 — the
    # unshippable-generation path below
    dest_stale = str(tmp_path / "clone_stale")
    store.snapshot_to(dest_stale)

    # incremental: a new real batch ships
    extra = ivf_assign(_emb(spark).filter(F.col("vec_id") < 5), cent).withColumn(
        "vec_id", F.col("vec_id") + 700000
    )
    store.append_batch(extra, 4)
    assert store.sync_to(dest)["shipped"]["batches"] == [4]
    assert {(r.vec_id, r.cent_id) for r in clone.read().collect()} == {
        (r.vec_id, r.cent_id) for r in store.read().collect()
    }

    # fold batches 4+5 on the source
    store.append_batch(
        extra.withColumn("vec_id", F.col("vec_id") + 1000), 5
    )
    store.compact(merge_ratio=None)
    assert store._landed_batch_values() == [-3, -2, -1]

    # clone holds batch 4 as a real id the source folded -> foreign
    with pytest.raises(RuntimeError, match="fresh snapshot"):
        store.sync_to(dest)
    # clone_stale never saw 4/5: nothing foreign, but the generation
    # holding them cannot ship through append_batch
    with pytest.raises(RuntimeError, match="not incrementally shippable"):
        store.sync_to(dest_stale)


def test_sync_refuses_retention_ahead_clone(spark, tmp_path):
    """Round-13 ADVICE (low): a clone whose retention floor is AHEAD
    of the source's would silently re-drop shipped batches while the
    manifest attested them — refused with the remedy named."""
    store, cent = _ivf4(spark, tmp_path)
    dest = str(tmp_path / "clone")
    store.snapshot_to(dest)
    clone = IvfAssignmentStore(spark, dest)
    clone.expire(2)

    with pytest.raises(RuntimeError, match="retention floor"):
        store.sync_to(dest)

    # remedy: expire the source to the clone's boundary, then sync
    store.expire(2)
    receipt = store.sync_to(dest)
    assert receipt["shipped"]["batches"] == []
    assert {(r.vec_id, r.cent_id) for r in clone.read().collect()} == {
        (r.vec_id, r.cent_id) for r in store.read().collect()
    }


def test_history_maps_folded_ids_in_commit_pending_window(spark, tmp_path):
    """Round-13 ADVICE (low): with the commit manifest pending (fold
    verified, finish crashed before the ledger write) history() must
    collapse the folded ids to the commit's upto — every reported
    entry stays a point read(as_of_batch=...) can resolve."""
    store, cent = _ivf4(spark, tmp_path)

    real_wj = IvfAssignmentStore._write_json

    def boom(self, path, obj):
        if path.endswith("_folded.json"):
            raise RuntimeError("crash before ledger")
        real_wj(self, path, obj)

    IvfAssignmentStore._write_json = boom
    try:
        with pytest.raises(RuntimeError, match="crash before ledger"):
            store.compact(upto=2, merge_ratio=None)
    finally:
        IvfAssignmentStore._write_json = real_wj
    assert store._read_json(store.compact_commit_path) is not None
    assert store._read_json(store.folded_ledger_path) is None

    # [0,1,2] folded (commit pending), batch 3 untouched
    assert store.history() == [2, 3]
    for b in store.history():
        store.read(as_of_batch=b)  # every entry resolves
    for b in (0, 1):
        with pytest.raises(ValueError, match="VACUUM"):
            store.read(as_of_batch=b)

    # recovery rolls forward; history unchanged
    store.purge_forgotten()
    assert store.history() == [2, 3]


def test_refused_sync_leaves_clone_untouched(spark, tmp_path):
    """Round-14 self-review (medium): a sync refused for an
    unshippable post-snapshot generation must not have mutated the
    clone first — the schema-reconciliation sidecar write used to
    precede the refusal, flipping a live clone's append guard while
    shipping nothing."""
    from pyspark.sql import types as T

    store, cent = _ivf4(spark, tmp_path)
    store.compact(merge_ratio=0)  # clone will hold generation -1
    dest = str(tmp_path / "clone")
    store.snapshot_to(dest)
    clone = IvfAssignmentStore(spark, dest)
    clone_schema_before = clone.data_schema()

    # evolve the SOURCE schema, then fold two post-snapshot batches —
    # the sync now has both a sidecar to reconcile and an unshippable
    # generation; the refusal must come first
    store.evolve_schema(
        T.StructType(
            list(IvfAssignmentStore.DATA_SCHEMA.fields)
            + [T.StructField("crawl_src", T.StringType(), True)]
        )
    )
    extra = ivf_assign(_emb(spark).filter(F.col("vec_id") < 5), cent).withColumn(
        "vec_id", F.col("vec_id") + 700000
    ).withColumn("crawl_src", F.lit("cc"))
    store.append_batch(extra, 4)
    store.append_batch(
        extra.withColumn("vec_id", F.col("vec_id") + 1000), 5
    )
    store.compact(merge_ratio=None)

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="not incrementally shippable"):
        store.sync_to(dest)
    assert clone.data_schema() == clone_schema_before, (
        "a refused sync must leave the clone's schema sidecar untouched"
    )
    assert clone._read_json(clone.schema_sidecar_path) is None


def test_pinned_snapshot_exports_as_of_batch(spark, tmp_path):
    """snapshot_to(pin_batch=B): only committed values <= B travel —
    the consistent-point export that makes a quiesce-free fleet
    snapshot possible; a later sync ships the beyond-pin batches."""
    store, cent = _ivf4(spark, tmp_path)
    dest = str(tmp_path / "pinned")
    receipt = store.snapshot_to(dest, pin_batch=2)
    assert receipt["pin_batch"] == 2
    assert receipt["batches"] == [0, 1, 2]
    assert receipt["high_water"] == {"kind": "batch", "value": 2}

    clone = IvfAssignmentStore(spark, dest)
    assert clone._landed_batch_values() == [0, 1, 2]
    assert {(r.vec_id, r.cent_id) for r in clone.read().collect()} == {
        (r.vec_id, r.cent_id)
        for r in store.read(as_of_batch=2).collect()
    }

    # incremental catch-up past the pin
    assert store.sync_to(dest)["shipped"]["batches"] == [3]
    assert clone._landed_batch_values() == [0, 1, 2, 3]


def test_pinned_snapshot_fold_and_retention_interplay(spark, tmp_path):
    """A pin inside a generation refuses (fold boundaries bound the
    pinnable points); a generation wholly under the pin ships with a
    TRIMMED ledger — the clone keeps VACUUM/redelivery semantics for
    what it holds, while a beyond-pin folded batch is a legitimate
    new batch on the fork."""
    store, cent = _ivf4(spark, tmp_path)
    store.compact(upto=1, merge_ratio=None)  # gen -1 = [0,1]
    store.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") < 5), cent)
        .withColumn("vec_id", F.col("vec_id") + 700000),
        4,
    )
    store.compact(upto=4, merge_ratio=None)  # gen -2 = [2,3,4]

    with pytest.raises(ValueError, match="inside generation"):
        store.snapshot_to(str(tmp_path / "bad"), pin_batch=3)

    dest = str(tmp_path / "pin1")
    receipt = store.snapshot_to(dest, pin_batch=1)
    assert receipt["batches"] == [-1]
    clone = IvfAssignmentStore(spark, dest)
    led = clone._read_json(clone.folded_ledger_path)
    assert led["generations"] == [{"gen": -1, "upto": 1, "batches": [0, 1]}]
    assert led["upto"] == 1 and led["batches"] == [0, 1]
    with pytest.raises(ValueError, match="VACUUM"):
        clone.read(as_of_batch=0)
    # a redelivery of a batch folded UNDER the pin drops...
    clone.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") < 150), cent), 0
    )
    assert clone._landed_batch_values() == [-1]
    # ...while a batch folded BEYOND the pin lands as new on the fork
    clone.append_batch(
        ivf_assign(
            _emb(spark).filter(
                (F.col("vec_id") >= 150) & (F.col("vec_id") < 300)
            ),
            cent,
        ),
        2,
    )
    assert clone._landed_batch_values() == [-1, 2]

    # retention floor bounds the pin
    store.expire(2)
    with pytest.raises(ValueError, match="below the retention floor"):
        store.snapshot_to(str(tmp_path / "bad2"), pin_batch=1)


def test_fleet_snapshot_pin_batches_consistent_without_quiesce(
    spark, tmp_path
):
    """snapshot_everywhere(pin_batches=True): batch stores pinned at
    the fleet's minimum committed batch — skew {} by construction on
    a DELIBERATELY skewed fleet — with no fleet-wide lease window."""
    from chchfr_data_collection_spark.operators.takedown import (
        restore_everywhere,
        snapshot_everywhere,
    )
    from chchfr_data_collection_spark.streaming.embeddings import (
        PqCodesStore,
        pq_codebook,
        pq_encode,
    )

    emb = _emb(spark)
    cent = ivf_centroids(spark, SF_DIR)
    cb = pq_codebook(spark, SF_DIR)
    a = emb.filter(F.col("vec_id") < 300)
    b = emb.filter(F.col("vec_id") >= 300)
    ivf = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    ivf.bootstrap(ivf_assign(a, cent))
    ivf.append_batch(ivf_assign(b, cent), 1)  # ivf at batch 1
    pq = PqCodesStore(spark, str(tmp_path / "pq"))
    pq.bootstrap(pq_encode(a, cb))            # pq still at batch 0

    with pytest.raises(ValueError, match="pick one"):
        snapshot_everywhere(
            str(tmp_path / "x"), (ivf, "ivf"), (pq, "pq"),
            quiesce=True, pin_batches=True,
        )

    root = str(tmp_path / "set")
    catalog = snapshot_everywhere(
        root, (ivf, "ivf"), (pq, "pq"), pin_batches=True
    )
    assert catalog["pin_batch"] == 0
    assert catalog["skew"] == {}, "pinned marks must agree"
    assert all(
        rec["high_water"] == {"kind": "batch", "value": 0}
        for rec in catalog["stores"].values()
    )
    restored = restore_everywhere(
        spark,
        root,
        {
            "IvfAssignmentStore": IvfAssignmentStore,
            "PqCodesStore": PqCodesStore,
        },
        on_skew="raise",
    )
    # the restored IVF holds exactly the pinned prefix
    assert restored["ivf"]._landed_batch_values() == [0]
    assert {
        (r.vec_id, r.cent_id) for r in restored["ivf"].read().collect()
    } == {(r.vec_id, r.cent_id) for r in ivf.read(as_of_batch=0).collect()}


def test_sync_refuses_diverged_same_id_generations(spark, tmp_path):
    """Round-14 self-review: tiered folds make same-id generations
    with DIFFERENT fold membership reachable (the clone compacts
    itself with other boundaries; both ledger counters count down
    from the shipped state) — the landed-value diff alone would
    attest divergent rows as in-sync."""
    store, cent = _ivf4(spark, tmp_path)
    dest = str(tmp_path / "clone")
    store.snapshot_to(dest)
    clone = IvfAssignmentStore(spark, dest)

    extra = ivf_assign(_emb(spark).filter(F.col("vec_id") < 5), cent).withColumn(
        "vec_id", F.col("vec_id") + 700000
    )
    store.append_batch(extra, 4)
    store.append_batch(
        extra.withColumn("vec_id", F.col("vec_id") + 1000), 5
    )
    store.compact(merge_ratio=None)   # source gen -1 = [4,5]
    clone.compact(merge_ratio=0)      # clone gen -1 = [0,1,2,3]

    with pytest.raises(RuntimeError, match="DIFFERENT fold membership"):
        store.sync_to(dest)


# ---------------------------------------------------------------------------
# ComponentStore (round-15 verdict, wrong #1 / next #1): the LSM fold
# adapted to the last-writer-wins seq layout — generations land at the
# fold range's highest consumed seq in a sibling gid-keyed relation,
# committed by one atomic ledger rewrite.


def _cc_edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "da: bigint, db: bigint"
    )


def _cc_labels(store):
    return {(r.node, r.component) for r in store.labels().collect()}


def _cc_want(spark, pairs):
    from chchfr_data_collection_spark.operators.graph import (
        connected_components,
    )

    return {
        (r.node, r.component)
        for r in connected_components(_cc_edges(spark, pairs)).collect()
    }


CC_BOOT = [(1, 2), (2, 3), (10, 11)]
CC_D = [[(3, 4)], [(20, 21)], [(4, 20)], [(30, 31)]]


def _cc4(spark, tmp_path, name="cc"):
    """Bootstrap (seq 1) plus four delta patches (seqs 2..5)."""
    from chchfr_data_collection_spark.operators.component_store import (
        ComponentStore,
    )

    s = ComponentStore(spark, str(tmp_path / name))
    s.bootstrap(_cc_edges(spark, CC_BOOT))
    for i, ch in enumerate(CC_D):
        s.apply_pairs(_cc_edges(spark, ch), f"d{i}")
    return s


def test_cc_bounded_fold_leaves_first_generation_byte_identical(
    spark, tmp_path
):
    """Two successive bounded folds (merge_ratio=None): the second
    consumes only the patches landed since the first, and the first
    generation's files are BYTE-IDENTICAL afterwards — maintenance
    cost scales with the deltas, not the corpus. Labels equal batch CC
    throughout; as-of reads refuse inside each folded span and resolve
    AT each generation's position."""
    from chchfr_data_collection_spark.operators.component_store import (
        ComponentStore,
    )

    all_pairs = CC_BOOT + [p for ch in CC_D for p in ch]
    s = _cc4(spark, tmp_path)
    r1 = s.compact(merge_ratio=None)  # folds patches 1..5
    assert r1["compacted"] is True and r1["low"] == 1 and r1["gseq"] == 5
    assert _cc_labels(s) == _cc_want(spark, all_pairs)

    fp1 = s._partition_fingerprint(s._gen_dir(r1["generation"]))
    s.apply_pairs(_cc_edges(spark, [(40, 41)]), "d4")
    s.apply_pairs(_cc_edges(spark, [(41, 42)]), "d5")
    r2 = s.compact(merge_ratio=None)  # folds patches 6,7 only
    assert r2["compacted"] is True and r2["low"] == 6 and r2["gseq"] == 7
    assert r2["folded_gids"] == []
    assert fp1 == s._partition_fingerprint(s._gen_dir(r1["generation"])), (
        "bounded fold rewrote the standing generation"
    )
    want = _cc_want(spark, all_pairs + [(40, 41), (41, 42)])
    assert _cc_labels(s) == want
    fresh = ComponentStore(spark, s.base_path)
    assert _cc_labels(fresh) == want
    assert [g["gid"] for g in s._generations()] == [
        r1["generation"],
        r2["generation"],
    ]

    # as-of: inside either folded span refuses (VACUUM); at a
    # generation's position resolves that fold's newest state
    with pytest.raises(ValueError, match="folded into a generation"):
        s.labels(as_of_seq=3)
    with pytest.raises(ValueError, match="folded into a generation"):
        s.labels(as_of_seq=6)
    assert {
        (r.node, r.component) for r in s.labels(as_of_seq=5).collect()
    } == _cc_want(spark, all_pairs)
    assert {
        (r.node, r.component) for r in s.labels(as_of_seq=7).collect()
    } == want


def test_cc_size_ratio_trigger_merges_generations(spark, tmp_path):
    """With a huge merge_ratio the second fold PULLS the standing
    generation (bytes gathered >= ratio x its own trivially fails —
    so use ratio=0 semantics vs a ratio that fires): ratio 0 folds
    everything into ONE generation whose members are the union; the
    pulled generation's directory is gone."""
    s = _cc4(spark, tmp_path)
    r1 = s.compact(merge_ratio=None)
    s.apply_pairs(_cc_edges(spark, [(40, 41)]), "d4")
    s.apply_pairs(_cc_edges(spark, [(50, 51)]), "d5")
    r2 = s.compact(merge_ratio=0)  # pull-everything trigger
    assert r2["folded_gids"] == [r1["generation"]]
    gens = s._generations()
    assert [g["gid"] for g in gens] == [r2["generation"]]
    assert gens[0]["low"] == 1 and int(gens[0]["gseq"]) == 7
    assert [d for _, d in gens[0]["members"]] == [
        "bootstrap", "d0", "d1", "d2", "d3", "d4", "d5",
    ]
    # the pulled generation is gone from every fresh resolve (ledger
    # no longer lists it); its bytes park for reader grace until swept
    fs, HPath = s._fs()
    assert s._vacuum_state()["retired"]
    s._vacuum_sweep(force=True)
    assert not fs.exists(HPath(s._gen_dir(r1["generation"])))
    want = _cc_want(
        spark,
        CC_BOOT + [p for ch in CC_D for p in ch] + [(40, 41), (50, 51)],
    )
    assert _cc_labels(s) == want


def test_cc_upto_bounds_the_fold(spark, tmp_path):
    """compact(upto=B) folds only patches <= B; newer patches keep
    serving beside the generation (the generation lands at the range
    max, BELOW them in last-writer-wins order), and the unfolded
    suffix stays individually addressable by as-of reads."""
    from chchfr_data_collection_spark.operators.component_store import (
        ComponentStore,
    )

    s = _cc4(spark, tmp_path)  # patches 1..5
    r = s.compact(upto=3, merge_ratio=None)
    assert r["compacted"] is True and r["gseq"] == 3 and r["low"] == 1
    assert sorted(s._marked()) == [4, 5]
    all_pairs = CC_BOOT + [p for ch in CC_D for p in ch]
    assert _cc_labels(s) == _cc_want(spark, all_pairs)
    assert _cc_labels(ComponentStore(spark, s.base_path)) == _cc_want(
        spark, all_pairs
    )
    # the unfolded suffix is still historically addressable
    assert {
        (r_.node, r_.component) for r_ in s.labels(as_of_seq=4).collect()
    } == _cc_want(spark, CC_BOOT + CC_D[0] + CC_D[1] + CC_D[2])
    with pytest.raises(ValueError, match="folded into a generation"):
        s.labels(as_of_seq=2)
    # history interleaves the generation at its position
    assert [d for _, d in s.history()] == [r["generation"], "d2", "d3"]


def test_cc_expire_whole_old_generation_with_younger_standing(
    spark, tmp_path
):
    """Retention composes with tiering: a floor strictly above an old
    generation's position expires it whole (ledger removal first,
    bytes after) while younger generations and patches stand; as-of
    below the floor refuses with the retention message."""
    from chchfr_data_collection_spark.operators.component_store import (
        ComponentStore,
    )

    s = _cc4(spark, tmp_path)  # patches 1..5
    r1 = s.compact(upto=3, merge_ratio=None)   # gen1@3 = [1..3]
    r2 = s.compact(merge_ratio=None)           # gen2@5 = [4,5]
    receipt = s.expire(before_seq=4)
    assert [3, r1["generation"]] in receipt["expired"]
    assert [g["gid"] for g in s._generations()] == [r2["generation"]]
    fs, HPath = s._fs()
    assert not fs.exists(HPath(s._gen_dir(r1["generation"])))
    # survivors: nodes whose winning row lives in gen2 (patches 4,5) —
    # node 4's label never CHANGED in patch 4 (it already carried the
    # component the merge landed on), so it wrote no row there and
    # ages out with gen1 (the patch-row retention semantic, unchanged)
    got = _cc_labels(ComponentStore(spark, s.base_path))
    assert {n for n, _ in got} == {20, 21, 30, 31}
    with pytest.raises(ValueError, match="expired by retention"):
        s.labels(as_of_seq=3)


def test_cc_snapshot_and_sync_travel_generations(spark, tmp_path):
    """Generations travel AS generations: the clone keeps the ledger
    (same VACUUM spans — as-of inside a folded range refuses on the
    clone too), sync ships a post-snapshot generation the clone lacks
    and the patches beside it, a re-sync is a no-op, and a clone that
    compacted itself along DIFFERENT boundaries refuses to sync."""
    from chchfr_data_collection_spark.operators.component_store import (
        ComponentStore,
    )

    s = _cc4(spark, tmp_path)          # patches 1..5
    r1 = s.compact(merge_ratio=0)      # everything -> gen1@5
    dest = str(tmp_path / "ccclone")
    s.snapshot_to(dest)
    clone = ComponentStore(spark, dest)
    assert [g["gid"] for g in clone._generations()] == [r1["generation"]]
    assert _cc_labels(clone) == _cc_labels(s)
    assert clone.history() == s.history()
    with pytest.raises(ValueError, match="folded into a generation"):
        clone.labels(as_of_seq=2)

    # source moves on: two patches the clone NEVER held, folded into a
    # second generation — sync ships the generation as a generation
    s.apply_pairs(_cc_edges(spark, [(40, 41)]), "d4")
    s.apply_pairs(_cc_edges(spark, [(50, 51)]), "d5")
    r2 = s.compact(merge_ratio=None)   # gen2@7 = [6,7]
    receipt = s.sync_to(dest)
    shipped = {d for _, d in receipt["shipped"]["patches"]}
    assert shipped == {r2["generation"]}
    clone = ComponentStore(spark, dest)
    assert [g["gid"] for g in clone._generations()] == [
        r1["generation"],
        r2["generation"],
    ]
    assert _cc_labels(clone) == _cc_labels(s)
    assert clone.history() == s.history()
    assert s.sync_to(dest)["shipped"]["patches"] == []

    # a source fold that consumes patches the clone still HOLDS AS
    # PATCHES collapses shipped history: refuse, naming the remedy
    # (the batch stores' contract)
    s.apply_pairs(_cc_edges(spark, [(60, 61)]), "d6")
    s.apply_pairs(_cc_edges(spark, [(70, 71)]), "d7")
    s.sync_to(dest)                    # clone now holds patches 8,9
    s.compact(merge_ratio=None)        # source folds [8,9]
    with pytest.raises(RuntimeError, match="fresh snapshot"):
        s.sync_to(dest)

    # divergence: a clone that folds itself along other boundaries
    dest2 = str(tmp_path / "ccclone2")
    s.snapshot_to(dest2)
    clone2 = ComponentStore(spark, dest2)
    s.apply_pairs(_cc_edges(spark, [(80, 81)]), "d8")
    s.apply_pairs(_cc_edges(spark, [(90, 91)]), "d9")
    s.sync_to(dest2)                   # clone2 holds patches 10,11
    clone2.apply_pairs(_cc_edges(spark, [(95, 96)]), "dx")
    clone2.compact(merge_ratio=None)   # clone2 folds [10,11,12]
    s.compact(merge_ratio=None)        # source folds [10,11]
    with pytest.raises(RuntimeError, match="fresh snapshot|diverges"):
        s.sync_to(dest2)
