"""Store snapshot/export contracts (the DR + fork surface): a
snapshot_to() clone serves identically, carries history and trained
geometry, is BYTE-clean of tombstoned rows (you cannot back up data
you were ordered to erase), starts with no tombstones, and a crash at
any point mid-export leaves a clone that is either unreadable or
visibly missing its completeness attestation. snapshot_everywhere
fans one backup call over every store and writes the catalog LAST."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chchfr_data_collection_spark.operators.component_store import (
    ComponentStore,
)
from chchfr_data_collection_spark.operators.minhash_index import MinHashIndex
from chchfr_data_collection_spark.operators.takedown import (
    restore_everywhere,
    snapshot_everywhere,
)
from chchfr_data_collection_spark.streaming.embeddings import (
    IvfAssignmentStore,
    ivf_assign,
    ivf_centroids,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _ivf_rows(df):
    return {(r.vec_id, r.cent_id, round(r.cos_c, 12)) for r in df.collect()}


def _labels(df):
    return {(r.node, r.component) for r in df.collect()}


def _pairs(df):
    return {(r.da, r.db, round(r.jaccard, 12)) for r in df.collect()}


def _ivf_source(spark, tmp_path, name="ivf"):
    store = IvfAssignmentStore(spark, str(tmp_path / name))
    cent = ivf_centroids(spark, SF_DIR)
    store.bootstrap(ivf_assign(_emb(spark).filter(F.col("vec_id") < 400), cent))
    store.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") >= 400), cent), 1
    )
    store.forget(
        _emb(spark).filter(F.col("vec_id") % 16 == 9).select("vec_id"), "t9"
    )
    return store


def test_ivf_snapshot_clone_serves_and_is_byte_clean(spark, tmp_path):
    src = _ivf_source(spark, tmp_path)
    receipt = src.snapshot_to(str(tmp_path / "clone"))
    clone = IvfAssignmentStore(spark, str(tmp_path / "clone"))

    # the clone serves the source's masked view, with history intact
    assert _ivf_rows(clone.read()) == _ivf_rows(src.read())
    assert clone.history() == src.history() == [0, 1]
    assert _ivf_rows(clone.read(as_of_batch=0)) == _ivf_rows(
        src.read(as_of_batch=0)
    )

    # byte-clean: the raw clone relation holds NO tombstoned row, and
    # the clone starts with no tombstones of its own
    raw = spark.read.parquet(clone.data_path)
    assert raw.filter(F.col("vec_id") % 16 == 9).count() == 0
    assert clone._deleted_keys()[0] is None
    assert receipt["tombstones_applied"] == ["t9"]
    assert clone.snapshot_manifest()["rows"] == raw.count()

    # the clone is a fork: appends to it don't touch the source
    cent = ivf_centroids(spark, SF_DIR)
    extra = ivf_assign(_emb(spark).filter(F.col("vec_id") < 10), cent)
    clone.append_batch(extra.withColumn("vec_id", F.col("vec_id") + 100000), 2)
    assert clone.history() == [0, 1, 2]
    assert src.history() == [0, 1]


def test_snapshot_travels_trained_geometry(spark, tmp_path):
    src = _ivf_source(spark, tmp_path)
    src.retrain(_emb(spark), 2)
    src.snapshot_to(str(tmp_path / "clone"))
    clone = IvfAssignmentStore(spark, str(tmp_path / "clone"))
    want = {(r.cent_id, tuple(r.cv), r.cn2) for r in src.centroids().collect()}
    got = {(r.cent_id, tuple(r.cv), r.cn2) for r in clone.centroids().collect()}
    assert want and got == want
    assert _ivf_rows(clone.read()) == _ivf_rows(src.read())


def test_snapshot_crash_windows_and_fresh_dest(spark, tmp_path):
    src = _ivf_source(spark, tmp_path)
    dest = str(tmp_path / "clone")

    # crash BEFORE the landed markers flip: the clone reads EMPTY
    # (intents gate) and carries no attestation
    real = IvfAssignmentStore._mark_landed

    def boom(self, root, name):
        if root.endswith("clone/_landed"):
            raise RuntimeError("crash before clone markers")
        real(self, root, name)

    IvfAssignmentStore._mark_landed = boom
    try:
        with pytest.raises(RuntimeError, match="crash before clone markers"):
            src.snapshot_to(dest)
    finally:
        IvfAssignmentStore._mark_landed = real
    half = IvfAssignmentStore(spark, dest)
    assert half.read().count() == 0
    assert half.snapshot_manifest() is None

    # the destination is not fresh anymore: refuse, don't overwrite
    with pytest.raises(RuntimeError, match="not empty"):
        src.snapshot_to(dest)

    # recovery = delete and retry
    import shutil

    shutil.rmtree(dest)
    src.snapshot_to(dest)
    assert _ivf_rows(IvfAssignmentStore(spark, dest).read()) == _ivf_rows(
        src.read()
    )

    # crash AFTER markers, BEFORE the manifest: the clone serves but
    # visibly lacks the attestation a restore must require
    dest2 = str(tmp_path / "clone2")
    real_wj = IvfAssignmentStore._write_json

    def boom_wj(self, path, obj):
        if path.endswith("_snapshot.json"):
            raise RuntimeError("crash before manifest")
        real_wj(self, path, obj)

    IvfAssignmentStore._write_json = boom_wj
    try:
        with pytest.raises(RuntimeError, match="crash before manifest"):
            src.snapshot_to(dest2)
    finally:
        IvfAssignmentStore._write_json = real_wj
    served = IvfAssignmentStore(spark, dest2)
    assert _ivf_rows(served.read()) == _ivf_rows(src.read())
    assert served.snapshot_manifest() is None


def test_snapshot_pins_committed_batches_only(spark, tmp_path):
    """Rows landing under a batch_id with NO marker at all (a
    concurrent unfenced append caught mid-write, or bytes written
    outside append_batch) must not travel: on the clone they would
    carry no intent marker and therefore serve under a batch the clone
    never committed. The export pins its scan to the history it
    attests."""
    src = _ivf_source(spark, tmp_path)
    cent = ivf_centroids(spark, SF_DIR)
    rogue = ivf_assign(
        _emb(spark).filter(F.col("vec_id") < 5), cent
    ).withColumn("vec_id", F.col("vec_id") + 900000)
    (
        rogue.withColumn("batch_id", F.lit(7))
        .write.mode("append")
        .partitionBy("cent_id", "batch_id")
        .parquet(src.data_path)
    )
    src.snapshot_to(str(tmp_path / "clone"))
    clone = IvfAssignmentStore(spark, str(tmp_path / "clone"))
    assert clone.history() == [0, 1]
    raw = spark.read.parquet(clone.data_path)
    assert raw.filter(F.col("vec_id") >= 900000).count() == 0
    assert clone.snapshot_manifest()["batches"] == [0, 1]


def _cc_source(spark, tmp_path):
    store = ComponentStore(spark, str(tmp_path / "cc"))
    store.bootstrap(
        spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "da: bigint, db: bigint"
        )
    )
    store.apply_pairs(
        spark.createDataFrame([(3, 4), (20, 21)], "da: bigint, db: bigint"),
        "d1",
    )
    store.forget(spark.createDataFrame([(11,)], "node: bigint"), "t11")
    return store


def test_cc_snapshot_labels_history_and_gating(spark, tmp_path):
    src = _cc_source(spark, tmp_path)
    src.snapshot_to(str(tmp_path / "ccclone"))
    clone = ComponentStore(spark, str(tmp_path / "ccclone"))

    assert _labels(clone.labels()) == _labels(src.labels())
    assert clone.history() == src.history()
    first_seq = src.history()[0][0]
    assert _labels(clone.labels(as_of_seq=first_seq)) == _labels(
        src.labels(as_of_seq=first_seq)
    )
    # byte-clean + no tombstones on the clone
    raw = spark.read.parquet(clone.assign_path)
    assert raw.filter(F.col("node") == 11).count() == 0
    assert clone._deleted_keys()[0] is None
    assert clone.snapshot_manifest() is not None

    # crash before the schema sidecar: every clone read refuses loudly
    dest2 = str(tmp_path / "ccclone2")
    real_wj = ComponentStore._write_json

    def boom_wj(self, path, obj):
        if path.endswith("_schema.json"):
            raise RuntimeError("crash before sidecar")
        real_wj(self, path, obj)

    ComponentStore._write_json = boom_wj
    try:
        with pytest.raises(RuntimeError, match="crash before sidecar"):
            src.snapshot_to(dest2)
    finally:
        ComponentStore._write_json = real_wj
    half = ComponentStore(spark, dest2)
    with pytest.raises(RuntimeError, match="no schema sidecar"):
        half.labels().count()

    # seq coordinates are store-local: a pin refuses before anything
    # lands (only the batch layouts share a batch coordinate)
    dest3 = tmp_path / "ccclone3"
    with pytest.raises(ValueError, match="batch coordinate"):
        src.snapshot_to(str(dest3), pin_batch=1)
    assert not dest3.exists() or not any(dest3.iterdir())


def test_minhash_snapshot_parity_log_and_folded(spark, tmp_path):
    docs = _docs(spark)
    src = MinHashIndex(spark, str(tmp_path / "mh"))
    src.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    src.probe_and_insert(docs.filter(F.col("doc_id") % 8 == 0)).count()
    src.compact()  # creates _folded tombstones for the folded deltas
    folded = sorted(src._landed_ids(src.folded_path))
    assert folded, "compact() should have folded at least two deltas"
    src.probe_and_insert(docs.filter(F.col("doc_id") % 8 == 4)).count()
    src.forget(spark.createDataFrame([(0,)], "doc_id: bigint"), "t0")

    src.snapshot_to(str(tmp_path / "mhclone"))
    clone = MinHashIndex(spark, str(tmp_path / "mhclone"))

    # index parity: masked arrays/postings row sets travel exactly
    for rel in ("arrays", "postings"):
        want = src._read_relation(rel).join(
            spark.createDataFrame([(0,)], "doc_id: bigint"),
            "doc_id",
            "left_anti",
        )
        assert clone._read_relation(rel).count() == want.count()
    raw = spark.read.parquet(clone.arrays_path)
    assert raw.filter(F.col("doc_id") == 0).count() == 0, "byte-clean"
    assert clone._deleted_keys()[0] is None

    # pairs history travels: same log, same as-of reads
    assert clone.history() == src.history()
    if src.history():
        top = src.history()[-1][0]
        assert _pairs(clone.pairs_as_of(top)) == _pairs(src.pairs_as_of(top))

    # the folded tombstones travel: a late retry refuses on the clone
    with pytest.raises(RuntimeError, match="already compacted"):
        clone._require_not_folded(folded[0])
    assert clone.snapshot_manifest() is not None

    # a half-exported clone (no format marker) refuses every read
    dest2 = str(tmp_path / "mhclone2")
    real = MinHashIndex._write_format_marker

    def boom(self):
        if self.base_path.endswith("mhclone2"):
            raise RuntimeError("crash before format marker")
        real(self)

    MinHashIndex._write_format_marker = boom
    try:
        with pytest.raises(RuntimeError, match="crash before format marker"):
            src.snapshot_to(dest2)
    finally:
        MinHashIndex._write_format_marker = real
    half = MinHashIndex(spark, dest2)
    with pytest.raises(RuntimeError, match="Rebootstrap required"):
        half.probe_and_insert(docs.filter(F.col("doc_id") == 4)).count()


def test_sync_ships_missing_batches_and_mirrors_takedowns(spark, tmp_path):
    """Incremental backup: after a full snapshot, new source batches
    and new takedowns arrive; sync_to ships ONLY the missing batches,
    mirrors the tombstones (masking the clone's pre-existing bytes of
    later-forgotten rows), refreshes the manifest, and is idempotent —
    a second sync ships nothing and changes nothing."""
    cent = ivf_centroids(spark, SF_DIR)
    src = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    src.bootstrap(ivf_assign(_emb(spark).filter(F.col("vec_id") < 300), cent))
    dest = str(tmp_path / "clone")
    src.snapshot_to(dest)

    # source moves on: one more batch, one takedown hitting BOTH a
    # batch the clone already holds and the new batch
    src.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") >= 300), cent), 1
    )
    src.forget(
        _emb(spark).filter(F.col("vec_id") % 16 == 9).select("vec_id"), "t9"
    )

    receipt = src.sync_to(dest)
    assert receipt["shipped"]["batches"] == [1]
    assert receipt["tombstones_mirrored"] == ["t9"]
    clone = IvfAssignmentStore(spark, dest)
    assert clone.history() == src.history() == [0, 1]
    assert _ivf_rows(clone.read()) == _ivf_rows(src.read())
    # the SHIPPED batch traveled byte-clean; batch 0's forgotten rows
    # are masked by the mirrored tombstones, erased at the clone purge
    raw = spark.read.parquet(clone.data_path)
    assert (
        raw.filter(
            (F.col("vec_id") % 16 == 9) & (F.col("batch_id") == 1)
        ).count()
        == 0
    )
    assert clone._deleted_keys()[0] is not None
    clone.purge_forgotten()
    raw2 = spark.read.parquet(clone.data_path)
    assert raw2.filter(F.col("vec_id") % 16 == 9).count() == 0

    # idempotent re-sync (the clone's purge already erased its copy of
    # the tombstoned rows; the re-mirrored tombstones re-mask only)
    before = _ivf_rows(IvfAssignmentStore(spark, dest).read())
    receipt2 = src.sync_to(dest)
    assert receipt2["shipped"]["batches"] == []
    assert _ivf_rows(IvfAssignmentStore(spark, dest).read()) == before

    # refusals: not-a-clone destinations
    with pytest.raises(RuntimeError, match="no snapshot attestation"):
        src.sync_to(str(tmp_path / "never_snapshotted"))
    diverged = IvfAssignmentStore(spark, dest)
    diverged.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") < 5), cent)
        .withColumn("vec_id", F.col("vec_id") + 500000),
        77,
    )
    with pytest.raises(RuntimeError, match="diverged"):
        src.sync_to(dest)


def _tree(root):
    """{relative path: bytes} of every file under `root`."""
    import os

    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("layout", ["ivf", "cc"])
def test_refused_sync_leaves_clone_untouched(spark, tmp_path, layout):
    """Every sync refusal fires before the ship step writes: a wrong
    source, a clone whose retention is ahead and a foreign clone unit
    each leave the clone's files (paths and bytes) exactly as they
    were — while the source has a unit to ship."""
    if layout == "ivf":
        cent = ivf_centroids(spark, SF_DIR)

        def rows(lo, hi):
            return ivf_assign(
                _emb(spark).filter(F.col("vec_id").between(lo, hi)), cent
            )

        src = IvfAssignmentStore(spark, str(tmp_path / "src"))
        src.bootstrap(rows(0, 199))

        def grow(store):
            store.append_batch(rows(300, 399), 1)

        def diverge(clone):
            clone.append_batch(rows(0, 4), 9)

        def retire(clone):
            clone.expire(9)
    else:

        def pairs(*ps):
            return spark.createDataFrame(list(ps), "da: bigint, db: bigint")

        src = ComponentStore(spark, str(tmp_path / "src"))
        src.bootstrap(pairs((1, 2), (2, 3)))

        def grow(store):
            store.apply_pairs(pairs((3, 4)), "d1")

        def diverge(clone):
            clone.apply_pairs(pairs((50, 51)), "x1")

        def retire(clone):
            clone.expire(clone.history()[-1][0])

    dest, sibling = str(tmp_path / "clone"), str(tmp_path / "sibling")
    src.snapshot_to(dest)
    src.snapshot_to(sibling)
    grow(src)
    clone = type(src)(spark, dest)

    def refused(store, match):
        before = _tree(dest)
        with pytest.raises(RuntimeError, match=match):
            store.sync_to(dest)
        assert _tree(dest) == before

    # a sibling clone is a full store, but not the recorded source
    refused(type(src)(spark, sibling), "was exported from")
    diverge(clone)
    refused(src, "diverged")
    retire(clone)
    refused(src, "retention floor")


def test_purge_before_sync_is_the_documented_takedown_boundary(
    spark, tmp_path
):
    """A source purge BEFORE a sync clears the tombstones the sync
    would have mirrored — the clone keeps the already-erased rows
    (pinned here so the boundary is visible, not latent). The standing
    contract closes it: fan the forget to source AND clone via
    forget_everywhere, purge each; then both are byte-clean."""
    from chchfr_data_collection_spark.operators.takedown import (
        forget_everywhere,
    )

    cent = ivf_centroids(spark, SF_DIR)
    src = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    src.bootstrap(ivf_assign(_emb(spark), cent))
    dest = str(tmp_path / "clone")
    src.snapshot_to(dest)

    victim = _emb(spark).filter(F.col("vec_id") == 9).select("vec_id")
    src.forget(victim, "t9")
    assert src.purge_forgotten()["tombstones_cleared"] == ["t9"]
    src.sync_to(dest)
    clone = IvfAssignmentStore(spark, dest)
    # the boundary: the clone still serves what the source erased
    assert clone.read().filter(F.col("vec_id") == 9).count() == 1
    assert src.read().filter(F.col("vec_id") == 9).count() == 0

    # the contract: the takedown fans out to every live clone
    forget_everywhere(victim, "t9", src, clone)
    assert clone.read().filter(F.col("vec_id") == 9).count() == 0
    clone.purge_forgotten()
    raw = spark.read.parquet(clone.data_path)
    assert raw.filter(F.col("vec_id") == 9).count() == 0


def test_sync_crash_midway_rerun_completes(spark, tmp_path):
    """A sync that dies between shipped batches re-runs to completion:
    the partially-landed batch is replaced, the rest ship, and the
    manifest (written last) only ever attests a finished sync."""
    cent = ivf_centroids(spark, SF_DIR)
    src = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    src.bootstrap(ivf_assign(_emb(spark).filter(F.col("vec_id") < 200), cent))
    dest = str(tmp_path / "clone")
    src.snapshot_to(dest)
    src.append_batch(
        ivf_assign(
            _emb(spark).filter(
                (F.col("vec_id") >= 200) & (F.col("vec_id") < 400)
            ),
            cent,
        ),
        1,
    )
    src.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") >= 400), cent), 2
    )

    real = IvfAssignmentStore._mark_landed
    calls = {"n": 0}

    def boom(self, root, name):
        if root.endswith("clone/_landed") and name == "2":
            raise RuntimeError("crash mid-sync")
        real(self, root, name)

    IvfAssignmentStore._mark_landed = boom
    try:
        with pytest.raises(RuntimeError, match="crash mid-sync"):
            src.sync_to(dest)
    finally:
        IvfAssignmentStore._mark_landed = real

    half = IvfAssignmentStore(spark, dest)
    assert half.history() == [0, 1], "batch 2 crashed before its marker"
    assert half.snapshot_manifest()["batches"] == [0], (
        "a crashed sync must not refresh the attestation"
    )

    receipt = src.sync_to(dest)
    assert receipt["shipped"]["batches"] == [2]
    assert _ivf_rows(IvfAssignmentStore(spark, dest).read()) == _ivf_rows(
        src.read()
    )
    assert IvfAssignmentStore(spark, dest).snapshot_manifest()[
        "batches"
    ] == [0, 1, 2]


def test_cc_sync_ships_patches_and_refuses_folded_history(spark, tmp_path):
    """ComponentStore sync: only the missing marked patches ship (with
    tombstones mirrored), a re-sync is a no-op, and a source compact()
    after the snapshot makes the clone unsyncable (history collapsed) —
    the refusal names the fresh-snapshot remedy."""
    src = _cc_source(spark, tmp_path)
    dest = str(tmp_path / "ccclone")
    src.snapshot_to(dest)

    src.apply_pairs(
        spark.createDataFrame([(4, 5), (30, 31)], "da: bigint, db: bigint"),
        "d2",
    )
    src.forget(spark.createDataFrame([(21,)], "node: bigint"), "t21")

    receipt = src.sync_to(dest)
    assert [d for _, d in receipt["shipped"]["patches"]] == ["d2"]
    assert receipt["tombstones_mirrored"] == ["t11", "t21"]
    clone = ComponentStore(spark, dest)
    assert _labels(clone.labels()) == _labels(src.labels())
    assert clone.history() == src.history()

    receipt2 = src.sync_to(dest)
    assert receipt2["shipped"]["patches"] == []

    src.compact()
    with pytest.raises(RuntimeError, match="fresh snapshot"):
        src.sync_to(dest)


def test_minhash_sync_ships_deltas_log_and_tombstones(spark, tmp_path):
    """MinHash sync: the post-snapshot probe delta ships to the clone
    (arrays+postings marked only after both land, pairs with their log
    entries), takedowns mirror, the synced clone's pairs history
    matches the source, and a source compact() since the snapshot
    makes the clone unsyncable."""
    docs = _docs(spark)
    src = MinHashIndex(spark, str(tmp_path / "mh"))
    src.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    dest = str(tmp_path / "mhclone")
    src.snapshot_to(dest)

    src.probe_and_insert(docs.filter(F.col("doc_id") % 4 == 0)).count()
    src.forget(spark.createDataFrame([(0,)], "doc_id: bigint"), "t0")

    receipt = src.sync_to(dest)
    assert len(receipt["shipped"]["index"]) == 1
    assert receipt["shipped"]["index_redelivered"] == []
    assert receipt["tombstones_mirrored"] == ["t0"]
    clone = MinHashIndex(spark, dest)
    assert clone.history() == src.history()
    if src.history():
        top = src.history()[-1][0]
        assert _pairs(clone.pairs_as_of(top)) == _pairs(src.pairs_as_of(top))
    for rel in ("arrays", "postings"):
        assert (
            clone._read_relation(rel).count()
            == src._read_relation(rel)
            .join(
                spark.createDataFrame([(0,)], "doc_id: bigint"),
                "doc_id",
                "left_anti",
            )
            .count()
        )
    # shipped bytes are clean of the takedown
    raw = spark.read.parquet(clone.arrays_path)
    assert raw.filter(F.col("doc_id") == 0).count() == 0

    receipt2 = src.sync_to(dest)
    assert receipt2["shipped"] == {
        "index": [],
        "index_redelivered": [],
        "pairs": [],
        "pairs_redelivered": [],
    }

    src.compact()
    with pytest.raises(RuntimeError, match="fresh snapshot"):
        src.sync_to(dest)


def test_minhash_sync_reships_redelivered_delta(spark, tmp_path):
    """A delta RE-DELIVERED on the source after a sync (insert retry:
    same delta_id, content rewritten, pairs re-seq'd) is invisible to
    the marker diff — the manifest's recorded fingerprints and the log
    seqs detect it, and the next sync re-ships rows AND log entry so
    the clone stops serving the superseded attempt."""
    docs = _docs(spark)
    src = MinHashIndex(spark, str(tmp_path / "mh"))
    src.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    src.probe_and_insert(delta, delta_id="d1").count()
    dest = str(tmp_path / "mhclone")
    src.snapshot_to(dest)
    clone = MinHashIndex(spark, dest)
    assert clone.history() == src.history()

    # the retry: same delta_id, one doc fewer — content changed
    src.probe_and_insert(
        delta.filter(F.col("doc_id") != 0), delta_id="d1"
    ).count()
    assert src.history() != clone.history(), "retry re-seqs the log"

    receipt = src.sync_to(dest)
    assert receipt["shipped"]["index_redelivered"] == ["d1"]
    assert receipt["shipped"]["pairs_redelivered"] == ["d1"]
    clone = MinHashIndex(spark, dest)
    assert clone.history() == src.history()
    assert (
        clone._read_relation("arrays").count()
        == src._read_relation("arrays").count()
    )
    top = src.history()[-1][0]
    assert _pairs(clone.pairs_as_of(top)) == _pairs(src.pairs_as_of(top))
    # and the next sync is a no-op again
    r2 = src.sync_to(dest)
    assert r2["shipped"]["index"] == [] and r2["shipped"]["pairs"] == []


def test_minhash_zero_pair_delta_markers_travel(spark, tmp_path):
    """A landed delta whose verified pairs were EMPTY owns a marker and
    a log seq but no pairs partition; snapshot and sync must still ship
    the marker+log (else the clone's history forks), and pairs_as_of of
    that seq returns zero rows on both sides."""
    docs = _docs(spark)
    src = MinHashIndex(spark, str(tmp_path / "mh"))
    src.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    # a delta with no near-dups in the corpus: synthetic unique text
    lone = spark.createDataFrame(
        [(900001, "zq wv xk pf mj lt rb dn hc gy sa eu io")],
        "doc_id: bigint, text: string",
    )
    src.probe_and_insert(lone, delta_id="lone").count()
    pairs_dirs = src._partition_ids("pairs")
    assert "lone" not in pairs_dirs, "fixture must yield zero pairs"
    assert "lone" in {d for _, d in src.history()}

    src.snapshot_to(str(tmp_path / "clone"))
    clone = MinHashIndex(spark, str(tmp_path / "clone"))
    assert clone.history() == src.history()
    lone_seq = {d: s for s, d in src.history()}["lone"]
    assert _pairs(clone.pairs_as_of(lone_seq)) == _pairs(
        src.pairs_as_of(lone_seq)
    )

    # and through sync: a second zero-pair delta lands post-snapshot
    lone2 = spark.createDataFrame(
        [(900002, "qq ww ee rr tt yy uu ii oo pp aa ss dd")],
        "doc_id: bigint, text: string",
    )
    src.probe_and_insert(lone2, delta_id="lone2").count()
    src.sync_to(str(tmp_path / "clone"))
    clone = MinHashIndex(spark, str(tmp_path / "clone"))
    assert clone.history() == src.history()


def test_sync_refuses_cross_generation_geometry(spark, tmp_path):
    """A retrain on EITHER side since the last export migrated every
    landed row to a new geometry; sync must refuse rather than mix
    generations (source-trained batches into a clone-trained store, or
    post-retrain source batches into a pre-retrain clone)."""
    cent = ivf_centroids(spark, SF_DIR)
    src = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    src.bootstrap(ivf_assign(_emb(spark).filter(F.col("vec_id") < 300), cent))
    dest = str(tmp_path / "clone")
    src.snapshot_to(dest)

    # clone retrains → it is a fork now
    clone = IvfAssignmentStore(spark, dest)
    clone.retrain(_emb(spark).filter(F.col("vec_id") < 300), 1)
    src.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") >= 300), cent), 1
    )
    with pytest.raises(RuntimeError, match="clone .* retrained|retrained since its"):
        src.sync_to(dest)

    # source retrains → old clone batches carry the dead geometry
    dest2 = str(tmp_path / "clone2")
    src.snapshot_to(dest2)
    src.retrain(_emb(spark), 1)
    src.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") < 5), cent)
        .withColumn("vec_id", F.col("vec_id") + 800000),
        2,
    )
    with pytest.raises(RuntimeError, match="source .* retrained"):
        src.sync_to(dest2)
    # the remedy works: a fresh snapshot of the retrained source
    import shutil

    shutil.rmtree(dest2)
    src.snapshot_to(dest2)
    assert _ivf_rows(IvfAssignmentStore(spark, dest2).read()) == _ivf_rows(
        src.read()
    )


def _strip_manifest_keys(store, keys):
    m = store.snapshot_manifest()
    for k in keys:
        m.pop(k, None)
    store._write_json(f"{store.base_path}/_snapshot.json", m)


def test_sync_legacy_manifests_upgrade_paths(spark, tmp_path):
    """Clones exported before the generation stamps / delta
    fingerprints existed must neither hard-fail with a false
    'retrained' diagnosis nor mass re-ship: an UNTRAINED batch store
    syncs fine (nothing to verify), a TRAINED one refuses with the
    honest 'predates the stamps' message, and a MinHash legacy clone
    gets one stamp-initializing sync after which redelivery detection
    engages."""
    cent = ivf_centroids(spark, SF_DIR)

    # untrained batch store, legacy manifest: sync proceeds
    src = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    src.bootstrap(ivf_assign(_emb(spark).filter(F.col("vec_id") < 200), cent))
    dest = str(tmp_path / "clone")
    src.snapshot_to(dest)
    clone = IvfAssignmentStore(spark, dest)
    _strip_manifest_keys(clone, ["aux_fp_source", "aux_fp_clone"])
    src.append_batch(
        ivf_assign(
            _emb(spark).filter(
                (F.col("vec_id") >= 200) & (F.col("vec_id") < 300)
            ),
            cent,
        ),
        1,
    )
    assert src.sync_to(dest)["shipped"]["batches"] == [1]

    # trained source, legacy manifest: refuse with the distinct reason
    src.retrain(_emb(spark).filter(F.col("vec_id") < 300), 1)
    dest2 = str(tmp_path / "clone2")
    src.snapshot_to(dest2)
    _strip_manifest_keys(
        IvfAssignmentStore(spark, dest2), ["aux_fp_source", "aux_fp_clone"]
    )
    with pytest.raises(RuntimeError, match="predates the geometry"):
        src.sync_to(dest2)

    # MinHash legacy manifest: first sync initializes fps without a
    # mass re-ship; the NEXT sync detects a redelivery
    docs = _docs(spark)
    mh = MinHashIndex(spark, str(tmp_path / "mh"))
    mh.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    mh.probe_and_insert(delta, delta_id="d1").count()
    mdest = str(tmp_path / "mhclone")
    mh.snapshot_to(mdest)
    _strip_manifest_keys(MinHashIndex(spark, mdest), ["index_delta_fps"])
    r1 = mh.sync_to(mdest)
    assert r1["shipped"]["index"] == [], "legacy sync must not mass re-ship"
    mh.probe_and_insert(
        delta.filter(F.col("doc_id") != 0), delta_id="d1"
    ).count()
    r2 = mh.sync_to(mdest)
    assert r2["shipped"]["index_redelivered"] == ["d1"], (
        "fingerprints recorded by the legacy sync must engage detection"
    )


def test_snapshot_everywhere_writes_catalog_last(spark, tmp_path):
    ivf = _ivf_source(spark, tmp_path)
    cc = _cc_source(spark, tmp_path)
    root = str(tmp_path / "backup")

    catalog = snapshot_everywhere(root, (ivf, "ivf"), (cc, "cc"))
    # receipts key by NAME (round-12 ADVICE, low: two clones of the
    # same store in one call must not collapse into one receipt); the
    # class travels as a value field for restore
    assert set(catalog["stores"]) == {"ivf", "cc"}
    assert catalog["stores"]["ivf"]["class"] == "IvfAssignmentStore"
    assert catalog["stores"]["cc"]["class"] == "ComponentStore"
    assert ivf._read_json(f"{root}/_catalog.json") == catalog
    assert _ivf_rows(
        IvfAssignmentStore(spark, f"{root}/ivf").read()
    ) == _ivf_rows(ivf.read())
    assert _labels(ComponentStore(spark, f"{root}/cc").labels()) == _labels(
        cc.labels()
    )

    # fail-fast fan-out: a crash on store 2 leaves NO catalog
    root2 = str(tmp_path / "backup2")
    real = ComponentStore.snapshot_to

    def boom(self, dest):
        raise RuntimeError("store 2 export failed")

    ComponentStore.snapshot_to = boom
    try:
        with pytest.raises(RuntimeError, match="store 2 export failed"):
            snapshot_everywhere(root2, (ivf, "ivf"), (cc, "cc"))
    finally:
        ComponentStore.snapshot_to = real
    assert ivf._read_json(f"{root2}/_catalog.json") is None

    # restore: the catalog-gated open of the whole set
    registry = {
        "IvfAssignmentStore": IvfAssignmentStore,
        "ComponentStore": ComponentStore,
    }
    restored = restore_everywhere(spark, root, registry)
    assert set(restored) == {"ivf", "cc"}
    assert _ivf_rows(restored["ivf"].read()) == _ivf_rows(ivf.read())
    assert _labels(restored["cc"].labels()) == _labels(cc.labels())
    # the crashed fan-out's root refuses as a SET even though store 1's
    # clone individually completed
    with pytest.raises(RuntimeError, match="no _catalog.json"):
        restore_everywhere(spark, root2, registry)


# -- round-13 ADVICE pins ----------------------------------------------------


def test_sync_refuses_foreign_clone_same_batch_ids(spark, tmp_path):
    """The r12 MEDIUM: batch ids are small sequential ints, so a clone
    of unrelated store B (batches [0]) passes a subset test against
    any source A — the manifest's recorded source identity is what
    must refuse the merge of two unrelated corpora."""
    cent = ivf_centroids(spark, SF_DIR)
    a = IvfAssignmentStore(spark, str(tmp_path / "a"))
    a.bootstrap(ivf_assign(_emb(spark).filter(F.col("vec_id") < 300), cent))
    a.append_batch(
        ivf_assign(
            _emb(spark).filter(
                (F.col("vec_id") >= 300) & (F.col("vec_id") < 400)
            ),
            cent,
        ),
        1,
    )
    b = IvfAssignmentStore(spark, str(tmp_path / "b"))
    b.bootstrap(ivf_assign(_emb(spark).filter(F.col("vec_id") >= 400), cent))
    dest = str(tmp_path / "b_clone")
    b.snapshot_to(dest)

    before = _ivf_rows(IvfAssignmentStore(spark, dest).read())
    with pytest.raises(RuntimeError, match="was exported from"):
        a.sync_to(dest)
    assert _ivf_rows(IvfAssignmentStore(spark, dest).read()) == before
    # the true source still syncs fine
    assert b.sync_to(dest)["shipped"]["batches"] == []

    # same gate on the ComponentStore layout
    cc_a = _cc_source(spark, tmp_path)
    cc_b = ComponentStore(spark, str(tmp_path / "cc_b"))
    cc_b.bootstrap(
        spark.createDataFrame([(100, 101)], "da: bigint, db: bigint")
    )
    cc_dest = str(tmp_path / "cc_b_clone")
    cc_b.snapshot_to(cc_dest)
    with pytest.raises(RuntimeError, match="was exported from"):
        cc_a.sync_to(cc_dest)

    # and on the MinHash layout (delta_ids collide via "bootstrap")
    mh_a = MinHashIndex(spark, str(tmp_path / "mh_a"))
    mh_a.bootstrap(_docs(spark).filter(F.col("doc_id") < 40))
    mh_b = MinHashIndex(spark, str(tmp_path / "mh_b"))
    mh_b.bootstrap(_docs(spark).filter(F.col("doc_id") >= 40))
    mh_dest = str(tmp_path / "mh_b_clone")
    mh_b.snapshot_to(mh_dest)
    with pytest.raises(RuntimeError, match="was exported from"):
        mh_a.sync_to(mh_dest)


def test_sync_reship_predeletes_crashed_batch_partitions(spark, tmp_path):
    """The r12 LOW: a crashed sync's partially-landed batch is
    re-shipped through dynamic overwrite, which only replaces the
    partitions the NEW content writes — if rows were forgotten on the
    source between the attempts, a cell whose surviving rows are now
    empty kept the stale attempt's forgotten bytes. The pre-delete
    makes the re-run a true replace."""
    cent = ivf_centroids(spark, SF_DIR)
    src = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    src.bootstrap(ivf_assign(_emb(spark).filter(F.col("vec_id") < 200), cent))
    dest = str(tmp_path / "clone")
    src.snapshot_to(dest)
    src.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") >= 200), cent), 1
    )

    # crash the sync AFTER batch 1's partitions land but BEFORE its
    # landed marker
    real = IvfAssignmentStore._mark_landed

    def boom(self, root, name):
        if root.endswith("clone/_landed") and name == "1":
            raise RuntimeError("crash mid-ship")
        real(self, root, name)

    IvfAssignmentStore._mark_landed = boom
    try:
        with pytest.raises(RuntimeError, match="crash mid-ship"):
            src.sync_to(dest)
    finally:
        IvfAssignmentStore._mark_landed = real
    clone = IvfAssignmentStore(spark, dest)
    stale = spark.read.parquet(clone.data_path).filter(
        F.col("batch_id") == 1
    )
    assert stale.count() > 0, "the crashed attempt left batch-1 bytes"

    # between the attempts, a whole CELL of batch 1 is forgotten on
    # the source: pick the cell with the fewest batch-1 rows and
    # tombstone all of them
    rows1 = src.read().filter(F.col("batch_id") == 1)
    cell = (
        rows1.groupBy("cent_id").count().orderBy("count", "cent_id").first()
    )
    victims = rows1.filter(F.col("cent_id") == cell.cent_id).select("vec_id")
    n_victims = victims.count()
    assert n_victims > 0
    src.forget(victims, "tcell")

    receipt = src.sync_to(dest)
    assert receipt["shipped"]["batches"] == [1]
    clone = IvfAssignmentStore(spark, dest)
    # the re-shipped batch is byte-clean: the emptied cell's stale
    # partition was pre-deleted, not left behind by dynamic overwrite
    raw1 = spark.read.parquet(clone.data_path).filter(
        (F.col("batch_id") == 1) & (F.col("cent_id") == cell.cent_id)
    )
    assert raw1.count() == 0, (
        "the stale crashed-attempt partition must not survive the "
        "re-ship"
    )
    assert _ivf_rows(clone.read()) == _ivf_rows(src.read())


def test_snapshot_everywhere_two_clones_of_one_store(spark, tmp_path):
    """The r12 LOW: receipts key by name now, so snapshotting the SAME
    store under two names in one call yields two receipts and a
    restore opens both clones; duplicate names are refused loudly."""
    ivf = _ivf_source(spark, tmp_path)
    root = str(tmp_path / "backup")
    catalog = snapshot_everywhere(root, (ivf, "ivf_a"), (ivf, "ivf_b"))
    assert set(catalog["stores"]) == {"ivf_a", "ivf_b"}
    restored = restore_everywhere(
        spark, root, {"IvfAssignmentStore": IvfAssignmentStore}
    )
    assert set(restored) == {"ivf_a", "ivf_b"}
    want = _ivf_rows(ivf.read())
    assert _ivf_rows(restored["ivf_a"].read()) == want
    assert _ivf_rows(restored["ivf_b"].read()) == want

    with pytest.raises(ValueError, match="duplicate store names"):
        snapshot_everywhere(
            str(tmp_path / "backup2"), (ivf, "x"), (ivf, "x")
        )


def test_cc_sync_manifest_rows_matches_snapshot_meaning(spark, tmp_path):
    """The r12 LOW: snapshot_to and sync_to must record the SAME
    quantity in the manifest's "rows" field (raw staged marked-patch
    rows on the clone), not two different views of the store."""
    src = _cc_source(spark, tmp_path)
    dest = str(tmp_path / "ccclone")
    snap_rows = src.snapshot_to(dest)["rows"]
    clone = ComponentStore(spark, dest)
    raw = clone._assign_marked().count()
    assert snap_rows == raw

    src.apply_pairs(
        spark.createDataFrame([(4, 5)], "da: bigint, db: bigint"), "d2"
    )
    sync_rows = src.sync_to(dest)["rows"]
    clone2 = ComponentStore(spark, dest)
    assert sync_rows == clone2._assign_marked().count()
    # and the IVF layout's pair agrees the same way
    ivf = _ivf_source(spark, tmp_path, name="ivf_rows")
    ivf_dest = str(tmp_path / "ivf_rows_clone")
    snap = ivf.snapshot_to(ivf_dest)
    ivf_clone = IvfAssignmentStore(spark, ivf_dest)
    assert snap["rows"] == ivf_clone._data_read().count()
    sync = ivf.sync_to(ivf_dest)
    assert sync["rows"] == IvfAssignmentStore(
        spark, ivf_dest
    )._data_read().count()


# -- round-13: fleet sync, high-water marks, quiesce ------------------------


def _two_batch_stores(spark, tmp_path, skewed: bool):
    """IVF + PQ stores fed by the same 'stream': batches 0 and 1 on
    the IVF store; the PQ store gets batch 1 only when not skewed."""
    from chchfr_data_collection_spark.streaming.embeddings import (
        PqCodesStore,
        pq_codebook,
        pq_encode,
    )

    cent = ivf_centroids(spark, SF_DIR)
    ivf = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    ivf.bootstrap(ivf_assign(_emb(spark).filter(F.col("vec_id") < 300), cent))
    ivf.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") >= 300), cent), 1
    )
    cb = pq_codebook(spark, SF_DIR)
    pq = PqCodesStore(spark, str(tmp_path / "pq"))
    pq.bootstrap(pq_encode(_emb(spark).filter(F.col("vec_id") < 300), cb))
    if not skewed:
        pq.append_batch(
            pq_encode(_emb(spark).filter(F.col("vec_id") >= 300), cb), 1
        )
    return ivf, pq


def test_catalog_records_high_water_and_surfaces_skew(spark, tmp_path):
    """A non-quiesced backup taken mid-pipeline (IVF holds crawl batch
    1, PQ doesn't yet) records the disagreeing marks in the catalog and
    restore_everywhere surfaces them; a quiesced backup of an aligned
    fleet records no skew and restores silently."""
    from chchfr_data_collection_spark.streaming.embeddings import (
        PqCodesStore,
        pq_codebook,
        pq_encode,
    )

    ivf, pq = _two_batch_stores(spark, tmp_path, skewed=True)
    root = str(tmp_path / "backup_skew")
    catalog = snapshot_everywhere(root, (ivf, "ivf"), (pq, "pq"))
    assert catalog["quiesced"] is False
    assert catalog["stores"]["ivf"]["high_water"] == {
        "kind": "batch", "value": 1,
    }
    assert catalog["stores"]["pq"]["high_water"] == {
        "kind": "batch", "value": 0,
    }
    assert catalog["skew"] == {"batch": {"ivf": 1, "pq": 0}}

    registry = {
        "IvfAssignmentStore": IvfAssignmentStore,
        "PqCodesStore": PqCodesStore,
    }
    with pytest.raises(RuntimeError, match="SKEWED"):
        restore_everywhere(spark, root, registry, on_skew="raise")
    with pytest.warns(UserWarning, match="SKEWED"):
        restored = restore_everywhere(spark, root, registry)
    assert set(restored) == {"ivf", "pq"}

    # align the fleet; a QUIESCED snapshot reports no skew — and the
    # fact it completes proves the coordinator holds the fleet leases
    # itself (snapshot_to's own lease take would deadlock here)
    cb = pq_codebook(spark, SF_DIR)
    pq.append_batch(
        pq_encode(_emb(spark).filter(F.col("vec_id") >= 300), cb), 1
    )
    root2 = str(tmp_path / "backup_quiesced")
    catalog2 = snapshot_everywhere(
        root2, (ivf, "ivf"), (pq, "pq"), quiesce=True
    )
    assert catalog2["quiesced"] is True
    assert catalog2["skew"] == {}
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error")
        restored2 = restore_everywhere(spark, root2, registry)
    assert set(restored2) == {"ivf", "pq"}
    # seq-kind marks (store-local coordinates) are recorded, never
    # flagged: add a CC store to the fleet and skew stays batch-only
    cc = _cc_source(spark, tmp_path)
    root3 = str(tmp_path / "backup_mixed")
    catalog3 = snapshot_everywhere(root3, (ivf, "i2"), (cc, "cc"))
    assert catalog3["stores"]["cc"]["high_water"]["kind"] == "seq"
    assert catalog3["skew"] == {}


def test_sync_everywhere_updates_fleet_and_catalog_last(spark, tmp_path):
    """sync_everywhere fans sync_to over the fleet, rewrites the
    catalog LAST (a crash mid-fleet leaves the prior catalog
    attesting the prior set), and the retry completes the remainder."""
    from chchfr_data_collection_spark.streaming.embeddings import (
        PqCodesStore,
        pq_codebook,
        pq_encode,
    )
    from chchfr_data_collection_spark.operators.takedown import (
        sync_everywhere,
    )

    ivf, pq = _two_batch_stores(spark, tmp_path, skewed=False)
    root = str(tmp_path / "backup")
    # refuse before any fleet snapshot exists
    with pytest.raises(RuntimeError, match="no _catalog.json"):
        sync_everywhere(root, (ivf, "ivf"), (pq, "pq"))
    snapshot_everywhere(root, (ivf, "ivf"), (pq, "pq"))

    # fleet moves on: batch 2 lands on both stores, plus a takedown
    cent = ivf_centroids(spark, SF_DIR)
    cb = pq_codebook(spark, SF_DIR)
    extra = _emb(spark).filter(F.col("vec_id") < 8)
    ivf.append_batch(
        ivf_assign(extra, cent).withColumn(
            "vec_id", F.col("vec_id") + 800000
        ),
        2,
    )
    pq.append_batch(
        pq_encode(extra, cb).withColumn("vec_id", F.col("vec_id") + 800000),
        2,
    )

    # crash on the SECOND store's sync: the catalog must still attest
    # the PRIOR set (high-water marks at batch 1)
    real = PqCodesStore.sync_to

    def boom(self, dest):
        raise RuntimeError("pq sync crashed")

    PqCodesStore.sync_to = boom
    try:
        with pytest.raises(RuntimeError, match="pq sync crashed"):
            sync_everywhere(root, (ivf, "ivf"), (pq, "pq"))
    finally:
        PqCodesStore.sync_to = real
    stale = ivf._read_json(f"{root}/_catalog.json")
    assert stale["stores"]["ivf"]["high_water"]["value"] == 1, (
        "a crashed fleet sync must not refresh the catalog"
    )
    assert stale["stores"]["pq"]["high_water"]["value"] == 1

    # retry completes: ivf re-diffs to nothing, pq ships, catalog
    # refreshes with the new marks
    receipt = sync_everywhere(root, (ivf, "ivf"), (pq, "pq"))
    assert receipt["shipped"]["ivf"] == {"batches": []}
    assert receipt["shipped"]["pq"] == {"batches": [2]}
    fresh = ivf._read_json(f"{root}/_catalog.json")
    assert fresh["stores"]["ivf"]["high_water"]["value"] == 2
    assert fresh["stores"]["pq"]["high_water"]["value"] == 2
    assert fresh["skew"] == {}

    # the first (crashed) fleet call had already synced ivf, so its
    # clone served batch 2 while the catalog lagged — exactly the
    # window the catalog-last ordering makes visible; end state agrees
    assert _ivf_rows(
        IvfAssignmentStore(spark, f"{root}/ivf").read()
    ) == _ivf_rows(ivf.read())

    # membership is attested both ways: a name the catalog never
    # listed cannot sync into the set, and a PARTIAL fleet sync is
    # refused — it would rewrite the catalog with a mix of fresh and
    # stale high-water marks, making the skew report lie (round-13
    # self-review, medium)
    with pytest.raises(RuntimeError, match="not in the catalog"):
        sync_everywhere(root, (ivf, "rogue_name"), (pq, "pq"))
    with pytest.raises(RuntimeError, match="were not passed"):
        sync_everywhere(root, (ivf, "ivf"))


def test_sync_everywhere_quiesced_marks_are_consistent(spark, tmp_path):
    """quiesce=True on the fleet SYNC mirrors the snapshot
    coordinator: all fleet leases held for the window (completion
    itself proves _sync_locked is used — sync_to's own lease take
    would deadlock), refreshed marks mutually consistent, skew {}."""
    from chchfr_data_collection_spark.operators.takedown import (
        sync_everywhere,
    )
    from chchfr_data_collection_spark.streaming.embeddings import (
        PqCodesStore,
        pq_codebook,
        pq_encode,
    )

    ivf, pq = _two_batch_stores(spark, tmp_path, skewed=False)
    root = str(tmp_path / "backup")
    snapshot_everywhere(root, (ivf, "ivf"), (pq, "pq"))

    cent = ivf_centroids(spark, SF_DIR)
    cb = pq_codebook(spark, SF_DIR)
    extra = _emb(spark).filter(F.col("vec_id") < 8)
    ivf.append_batch(
        ivf_assign(extra, cent).withColumn("vec_id", F.col("vec_id") + 800000),
        2,
    )
    pq.append_batch(
        pq_encode(extra, cb).withColumn("vec_id", F.col("vec_id") + 800000),
        2,
    )
    receipt = sync_everywhere(root, (ivf, "ivf"), (pq, "pq"), quiesce=True)
    assert receipt["quiesced"] is True
    assert receipt["skew"] == {}
    assert receipt["shipped"] == {
        "ivf": {"batches": [2]},
        "pq": {"batches": [2]},
    }
    catalog = ivf._read_json(f"{root}/_catalog.json")
    assert catalog["stores"]["ivf"]["high_water"]["value"] == 2
    assert catalog["stores"]["pq"]["high_water"]["value"] == 2
    assert _ivf_rows(
        IvfAssignmentStore(spark, f"{root}/ivf").read()
    ) == _ivf_rows(ivf.read())


def test_sync_refuses_narrowed_forget_all_layouts(spark, tmp_path):
    """The tombstone-narrowing gate (round 15, found by the MinHash
    lifecycle model): a forget_id that existed at snapshot time and
    was RE-LANDED (narrowed) — or cleared — before the sync refuses on
    every layout, because the export masked those takedowns' rows out
    of the shipped bytes and a narrowed takedown cannot be
    re-materialized incrementally. A NEW forget_id (the documented
    post-snapshot takedown pattern) still syncs fine, and the refused
    sync leaves the clone untouched."""
    # MinHash
    docs = _docs(spark)
    mh = MinHashIndex(spark, str(tmp_path / "nmh"))
    mh.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    mh.forget(spark.createDataFrame([(2,)], "doc_id: bigint"), "t0")
    mh.snapshot_to(str(tmp_path / "nmhclone"))
    mh.forget(spark.createDataFrame([(3,)], "doc_id: bigint"), "t0")
    with pytest.raises(RuntimeError, match="re-landed or cleared"):
        mh.sync_to(str(tmp_path / "nmhclone"))
    # a fresh snapshot (new baseline) + a NEW fid syncs fine
    mh.snapshot_to(str(tmp_path / "nmhclone2"))
    mh.forget(spark.createDataFrame([(5,)], "doc_id: bigint"), "t1")
    receipt = mh.sync_to(str(tmp_path / "nmhclone2"))
    assert "t1" in receipt["tombstones_mirrored"]

    # batch store (IVF)
    ivf = _ivf_source(spark, tmp_path, "nivf")
    ivf.forget(spark.createDataFrame([(9,)], "vec_id: bigint"), "t0")
    ivf.snapshot_to(str(tmp_path / "nivfclone"))
    before = {(r.vec_id, r.cent_id) for r in
              IvfAssignmentStore(spark, str(tmp_path / "nivfclone"))
              .read().collect()}
    ivf.forget(spark.createDataFrame([(11,)], "vec_id: bigint"), "t0")
    with pytest.raises(RuntimeError, match="re-landed or cleared"):
        ivf.sync_to(str(tmp_path / "nivfclone"))
    after = {(r.vec_id, r.cent_id) for r in
             IvfAssignmentStore(spark, str(tmp_path / "nivfclone"))
             .read().collect()}
    assert after == before, "refused sync mutated the clone"

    # ComponentStore
    cc = ComponentStore(spark, str(tmp_path / "ncc"))
    cc.bootstrap(
        spark.createDataFrame([(1, 2), (3, 4)], "da: bigint, db: bigint")
    )
    cc.forget(spark.createDataFrame([(3,)], "node: bigint"), "t0")
    cc.snapshot_to(str(tmp_path / "nccclone"))
    cc.forget(spark.createDataFrame([(4,)], "node: bigint"), "t0")
    with pytest.raises(RuntimeError, match="re-landed or cleared"):
        cc.sync_to(str(tmp_path / "nccclone"))


@pytest.mark.parametrize("layout", ["ivf", "cc", "minhash"])
def test_spurious_empty_observation_fails_loudly(
    spark, tmp_path, monkeypatch, layout
):
    """Round-15 verdict (what's wrong #4): the single-pass snapshot
    count falls back to 0 when the write's Observation yields no
    metrics. A SPURIOUSLY empty observation on a NON-empty export must
    not produce a silently-undercounted snapshot — the read-back verify
    is the gate, and this pins that it fires on every layout (IOError
    before the readable flip, so the half-staged clone is unreadable
    and carries no attestation)."""
    from chchfr_data_collection_spark.operators import store_base

    if layout == "ivf":
        src = _ivf_source(spark, tmp_path, "obs_src")
    elif layout == "cc":
        src = _cc_source(spark, tmp_path)
    else:
        docs = _docs(spark)
        src = MinHashIndex(spark, str(tmp_path / "obs_mh"))
        src.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
        src.probe_and_insert(docs.filter(F.col("doc_id") % 8 == 0)).count()
    dest = str(tmp_path / "obs_clone")
    monkeypatch.setattr(store_base, "observed_count", lambda obs: 0)
    with pytest.raises(IOError, match="row mismatch"):
        src.snapshot_to(dest)
    # the failed export is detectably incomplete: the completeness
    # attestation (_snapshot.json, written last) never landed, so a
    # restore refuses the destination
    clone = type(src)(spark, dest)
    assert clone.snapshot_manifest() is None
    if layout == "cc":
        with pytest.raises(RuntimeError, match="no schema sidecar"):
            clone.labels()
    elif layout == "minhash":
        with pytest.raises(RuntimeError, match="Rebootstrap required"):
            clone.probe_and_insert(_docs(spark).filter(F.col("doc_id") == 4))
