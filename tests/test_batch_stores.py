"""BatchAppendStore contracts on the two streaming index stores
(round-11 verdict, next #2/#3): micro-batch appends are REDELIVERY-
IDEMPOTENT (a checkpoint-wipe replay of every batch changes nothing —
the old mode("append") sinks duplicated here), crashed appends are
invisible until their redelivery replaces them, the landed markers are
a write log powering history() and time-travel reads, current
tombstones mask EVERY read (historical included), and purge byte-erases
history too — no as-of read can resurrect a purged id."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chchfr_data_collection_spark.streaming.embeddings import (
    IvfAssignmentStore,
    PqCodesStore,
    foreach_batch_ivf_assign,
    foreach_batch_pq_encode,
    ivf_assign,
    ivf_centroids,
    pq_codebook,
    pq_encode,
    read_embeddings_stream,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _ivf_rows(df):
    return {(r.vec_id, r.cent_id, round(r.cos_c, 12)) for r in df.collect()}


def _pq_rows(df):
    return {(r.vec_id, r.j, r.code) for r in df.collect()}


def test_ivf_append_redelivery_replaces(spark, tmp_path):
    """The checkpoint-wipe replay (the r6 sink discipline, now on the
    index append): delivering every micro-batch a SECOND time leaves
    the store byte-for-row identical — each batch replaced its own
    (cent_id, batch_id) partitions instead of appending a duplicate
    copy. Pre-round-12 this test would find 2x rows."""
    import shutil

    store = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    cent = ivf_centroids(spark, SF_DIR)
    ck = str(tmp_path / "ck")
    q = foreach_batch_ivf_assign(
        read_embeddings_stream(spark, SF_DIR), cent, store.base_path, ck
    )
    q.awaitTermination()
    want = _ivf_rows(store.read())
    hist = store.history()
    assert want and hist

    shutil.rmtree(ck)  # lose the checkpoint => every batch redelivers
    q = foreach_batch_ivf_assign(
        read_embeddings_stream(spark, SF_DIR), cent, store.base_path, ck
    )
    q.awaitTermination()
    assert _ivf_rows(store.read()) == want, "redelivery duplicated rows"
    assert store.history() == hist
    # and the streamed store equals the batch twin exactly
    assert want == _ivf_rows(ivf_assign(_emb(spark), cent))


def test_pq_encode_redelivery_replaces(spark, tmp_path):
    import shutil

    store = PqCodesStore(spark, str(tmp_path / "pq"))
    cent = pq_codebook(spark, SF_DIR)
    ck = str(tmp_path / "ck")
    q = foreach_batch_pq_encode(
        read_embeddings_stream(spark, SF_DIR), cent, store.base_path, ck
    )
    q.awaitTermination()
    want = _pq_rows(store.read())
    assert want

    shutil.rmtree(ck)
    q = foreach_batch_pq_encode(
        read_embeddings_stream(spark, SF_DIR), cent, store.base_path, ck
    )
    q.awaitTermination()
    assert _pq_rows(store.read()) == want, "redelivery duplicated codes"
    assert want == _pq_rows(pq_encode(_emb(spark), cent))


def test_append_rejects_drifted_producer_schema(spark, tmp_path):
    """A frame whose columns or types drifted from the store's pinned
    schema is refused BEFORE anything lands — the pinned reads would
    otherwise silently drop an extra column's bytes or null-fill a
    changed type."""
    store = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    cent = ivf_centroids(spark, SF_DIR)
    good = ivf_assign(_emb(spark).filter(F.col("vec_id") < 30), cent)
    store.bootstrap(good)

    with pytest.raises(TypeError, match="does not match the store's pinned"):
        store.append_batch(good.withColumn("extra", F.lit(1)), 1)
    with pytest.raises(TypeError, match="does not match the store's pinned"):
        store.append_batch(good.drop("cos_c"), 1)
    with pytest.raises(TypeError, match="does not match the store's pinned"):
        store.append_batch(
            good.withColumn("vec_id", F.col("vec_id").cast("int")), 1
        )
    assert store.history() == [0], "nothing may land from a drifted frame"


def test_crashed_append_invisible_until_redelivered(spark, tmp_path):
    """A batch that crashes between its data write and its landed
    marker (intent present, no marker) is excluded from every read;
    the redelivery of the SAME batch_id replaces the partial partitions
    and lands the rows exactly once."""
    store = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    cent = ivf_centroids(spark, SF_DIR)
    store.bootstrap(ivf_assign(_emb(spark).filter(F.col("vec_id") < 30), cent))
    base = _ivf_rows(store.read())

    b1 = ivf_assign(_emb(spark).filter(F.col("vec_id") >= 30), cent)
    real_mark = store._mark_landed

    def crash_on_landed(root, name):
        if root == store.landed_path and name == "1":
            raise RuntimeError("crash before marker")
        real_mark(root, name)

    store._mark_landed = crash_on_landed
    with pytest.raises(RuntimeError, match="crash before marker"):
        store.append_batch(b1, 1)
    store._mark_landed = real_mark

    # the partial batch is on disk but invisible (fresh instance too)
    assert _ivf_rows(store.read()) == base
    assert _ivf_rows(IvfAssignmentStore(spark, store.base_path).read()) == base
    assert store.history() == [0]

    # redelivery replaces the orphan partitions and commits
    store.append_batch(b1, 1)
    assert store.history() == [0, 1]
    got = _ivf_rows(store.read())
    assert got == _ivf_rows(ivf_assign(_emb(spark), cent))


def test_history_and_as_of_reads_with_tombstones(spark, tmp_path):
    """history() lists committed batches oldest-first; read(as_of_batch)
    resolves the store as of that delivery; CURRENT tombstones apply to
    every read, historical included (a takedown outranks an audit); an
    as_of before the first batch raises."""
    store = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    cent = ivf_centroids(spark, SF_DIR)
    first = _emb(spark).filter(F.col("vec_id") < 30)
    store.bootstrap(ivf_assign(first, cent))
    store.append_batch(ivf_assign(_emb(spark).filter(F.col("vec_id") >= 30), cent), 7)
    assert store.history() == [0, 7]

    as_of0 = store.read(as_of_batch=0)
    assert _ivf_rows(as_of0) == _ivf_rows(ivf_assign(first, cent))
    assert _ivf_rows(store.read(as_of_batch=7)) == _ivf_rows(store.read())

    # a takedown lands NOW; the historical read must not resurface it
    store.forget(
        spark.createDataFrame([(9,)], "vec_id: bigint"), "t1"
    )
    assert store.read(as_of_batch=0).filter(F.col("vec_id") == 9).count() == 0
    assert store.read().filter(F.col("vec_id") == 9).count() == 0

    with pytest.raises(ValueError, match="no committed batch"):
        store.read(as_of_batch=-1)


def test_purge_erases_history_too(spark, tmp_path):
    """purge_forgotten() rewrites the touched leaves IN PLACE (batch_id
    preserved), so after the purge no read — current or as-of — holds
    the id, and the raw bytes are gone from every batch partition."""
    store = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    cent = ivf_centroids(spark, SF_DIR)
    store.bootstrap(ivf_assign(_emb(spark).filter(F.col("vec_id") < 30), cent))
    # vec 9 lands AGAIN in a later batch (both partitions hold it)
    store.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id").isin(9, 35)), cent), 1
    )
    store.forget(spark.createDataFrame([(9,)], "vec_id: bigint"), "t1")
    receipt = store.purge_forgotten()
    assert receipt["rows_removed"] == 2, "both batches' copies must go"
    assert receipt["tombstones_cleared"] == ["t1"]
    raw = spark.read.parquet(store.assign_path)
    assert raw.filter(F.col("vec_id") == 9).count() == 0, "bytes survived"
    assert store.read(as_of_batch=0).filter(F.col("vec_id") == 9).count() == 0
    assert store.history() == [0, 1], "purge must not rewrite the write log"


def test_pq_store_forget_purge_and_time_travel(spark, tmp_path):
    """The PQ store's lifecycle end-to-end: forget masks reads (all
    PQ_M code rows of the vector), purge byte-erases only the batch
    partitions holding them with a counted verify, history survives,
    and as-of reads never resurrect the id."""
    store = PqCodesStore(spark, str(tmp_path / "pq"))
    cent = pq_codebook(spark, SF_DIR)
    store.bootstrap(pq_encode(_emb(spark).filter(F.col("vec_id") < 30), cent))
    store.append_batch(
        pq_encode(_emb(spark).filter(F.col("vec_id") >= 30), cent), 1
    )
    n_all = store.read().count()
    store.forget(spark.createDataFrame([(9,), (35,)], "vec_id: bigint"), "t1")
    masked = store.read()
    assert masked.filter(F.col("vec_id").isin(9, 35)).count() == 0
    assert masked.count() == n_all - 2 * 16  # PQ_M code rows per vector

    import pathlib

    before = {
        p.name
        for p in pathlib.Path(store.codes_path).glob("batch_id=*/*.parquet")
    }
    receipt = store.purge_forgotten()
    assert receipt["rows_removed"] == 2 * 16
    assert receipt["cells_rewritten"] == 2  # both batch partitions touched
    assert receipt["tombstones_cleared"] == ["t1"]
    raw = spark.read.parquet(store.codes_path)
    assert raw.filter(F.col("vec_id").isin(9, 35)).count() == 0
    assert store.read().count() == n_all - 2 * 16
    assert store.read(as_of_batch=0).filter(F.col("vec_id") == 9).count() == 0
    after = {
        p.name
        for p in pathlib.Path(store.codes_path).glob("batch_id=*/*.parquet")
    }
    assert before != after, "purge did not rewrite the touched partitions"


def _trained_want(spark, serving_filter=None):
    """(vec_id, cent_id) of a fresh 2-iteration trained assignment over
    the fixture corpus (optionally filtered) — the retrain contract."""
    from chchfr_data_collection_spark.streaming.embeddings import (
        centroid_arrays,
        train_centroids,
    )
    from chchfr_data_collection_spark.functions import vectors as V
    from pyspark.sql.window import Window as W

    emb = _emb(spark)
    if serving_filter is not None:
        emb = emb.filter(serving_filter)
    vecs = emb.select("vec_id", V.quantize("embedding").alias("qv"))
    cent = centroid_arrays(train_centroids(vecs, 2))
    dist = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda a, v: a + v,
    )
    aw = W.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("cent_id"))
    return {
        (r.vec_id, r.cent_id)
        for r in vecs.crossJoin(F.broadcast(cent))
        .select("vec_id", "cent_id", dist.alias("dist"))
        .withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
        .collect()
    }


def test_retrain_migrates_drops_tombstones_preserves_history(spark, tmp_path):
    """retrain() rewrites the store to the trained geometry over the
    SERVING corpus: tombstoned rows are byte-dropped by the migration
    (their tombstones stay active for re-arrivals), batch lineage is
    preserved row-by-row (history and as-of reads survive), and the
    result equals a fresh trained bootstrap on the reduced corpus."""
    store = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    cent = ivf_centroids(spark, SF_DIR)
    store.bootstrap(ivf_assign(_emb(spark).filter(F.col("vec_id") < 400), cent))
    store.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") >= 400), cent), 1
    )
    store.forget(spark.createDataFrame([(9,)], "vec_id: bigint"), "t1")

    receipt = store.retrain(_emb(spark), 2)
    assert receipt["rows"] == _emb(spark).count() - 1

    got = {(r.vec_id, r.cent_id) for r in store.read().collect()}
    assert got == _trained_want(spark, F.col("vec_id") != 9)
    raw = spark.read.parquet(store.assign_path)
    assert raw.filter(F.col("vec_id") == 9).count() == 0, (
        "migration must byte-drop tombstoned rows"
    )
    assert store._deleted_vecs()[0] is not None, (
        "tombstones must stay active across a retrain (re-arrival mask)"
    )
    assert store.history() == [0, 1], "retrain must preserve the write log"
    as_of0 = store.read(as_of_batch=0)
    assert {r.vec_id for r in as_of0.collect()} == {
        int(v)
        for v in range(400)
        if v != 9 and v < 400
    } & {r.vec_id for r in raw.collect()}, "as-of slice drifted"
    # a later purge finds nothing to rewrite and just clears
    receipt2 = store.purge_forgotten()
    assert receipt2["cells_rewritten"] == 0
    assert receipt2["tombstones_cleared"] == ["t1"]


def test_retrain_crash_windows_and_inflight_refusal(spark, tmp_path):
    """Verify-then-swap crash safety: a crash BEFORE the commit
    manifest leaves the live store byte-untouched (roll back); a crash
    AFTER it mid-swap is rolled forward by the next maintenance call
    on a fresh instance; and retrain() refuses while an append is in
    flight."""
    import pathlib

    store = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    cent = ivf_centroids(spark, SF_DIR)
    store.bootstrap(ivf_assign(_emb(spark), cent))
    seed_rows = {(r.vec_id, r.cent_id) for r in store.read().collect()}

    # crash BEFORE the commit manifest
    real_wj = store._write_json

    def boom_pre(path, obj):
        if path == store._retrain_commit_path:
            raise RuntimeError("crash pre-commit")
        real_wj(path, obj)

    store._write_json = boom_pre
    with pytest.raises(RuntimeError, match="crash pre-commit"):
        store.retrain(_emb(spark), 2)
    store._write_json = real_wj
    assert {(r.vec_id, r.cent_id) for r in store.read().collect()} == seed_rows

    # crash AFTER the commit manifest, before the swap
    real_fin = store._finish_retrain

    def boom_post():
        raise RuntimeError("crash post-commit")

    store._finish_retrain = boom_post
    with pytest.raises(RuntimeError, match="crash post-commit"):
        store.retrain(_emb(spark), 2)
    store._finish_retrain = real_fin
    assert pathlib.Path(store._retrain_commit_path).exists()

    # a FRESH instance's next maintenance call rolls the swap forward
    fresh = IvfAssignmentStore(spark, store.base_path)
    fresh.purge_forgotten()
    assert not pathlib.Path(fresh._retrain_commit_path).exists()
    got = {(r.vec_id, r.cent_id) for r in fresh.read().collect()}
    assert got == _trained_want(spark)
    assert fresh.centroids().count() == 8

    # in-flight append refusal
    fresh._mark_landed(fresh.intent_path, "7")
    with pytest.raises(RuntimeError, match="in flight"):
        fresh.retrain(_emb(spark), 2)
    fresh._unmark_landed(fresh.intent_path, "7")


def test_purge_defers_clearing_while_append_in_flight(spark, tmp_path):
    """Round-12 self-review (high): an append in flight (intent, no
    marker) is invisible to the purge's scan, but its redelivery
    deterministically re-lands the same rows — so clearing the
    tombstones would let the forgotten ids serve. The purge must
    rewrite committed leaves (result-level erasure holds) but DEFER
    the clearing, surfacing it in the receipt; the next clean purge
    finishes the job."""
    store = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    cent = ivf_centroids(spark, SF_DIR)
    store.bootstrap(ivf_assign(_emb(spark).filter(F.col("vec_id") < 30), cent))

    # batch 1 (holding vec 35) crashes before its landed marker
    b1 = ivf_assign(_emb(spark).filter(F.col("vec_id") >= 30), cent)
    real_mark = store._mark_landed

    def crash(root, name):
        if root == store.landed_path and name == "1":
            raise RuntimeError("crash")
        real_mark(root, name)

    store._mark_landed = crash
    with pytest.raises(RuntimeError):
        store.append_batch(b1, 1)
    store._mark_landed = real_mark

    store.forget(
        spark.createDataFrame([(9,), (35,)], "vec_id: bigint"), "t1"
    )
    receipt = store.purge_forgotten()
    assert receipt["purge_deferred"] == [1], "in-flight append not surfaced"
    assert receipt["tombstones_cleared"] == [], "cleared despite the orphan"
    assert store._deleted_vecs()[0] is not None
    # committed leaves still byte-erased (vec 9 lives in batch 0)
    raw = spark.read.parquet(store.assign_path)
    assert raw.filter(
        (F.col("vec_id") == 9) & (F.col("batch_id") == 0)
    ).count() == 0

    # the redelivery lands vec 35's rows — masked, because the
    # tombstones survived the deferred purge
    store.append_batch(b1, 1)
    assert store.read().filter(F.col("vec_id").isin(9, 35)).count() == 0
    receipt2 = store.purge_forgotten()
    assert receipt2["purge_deferred"] == []
    assert receipt2["tombstones_cleared"] == ["t1"]
    raw = spark.read.parquet(store.assign_path)
    assert raw.filter(F.col("vec_id").isin(9, 35)).count() == 0


def test_bootstrap_clears_trained_geometry(spark, tmp_path):
    """Round-12 self-review (medium): a rebootstrap serves a NEW
    corpus — the previous generation's trained centroids and any
    retrain manifest must not survive it (a stale _centroids would
    hand future appends the old geometry)."""
    import pathlib

    store = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    cent = ivf_centroids(spark, SF_DIR)
    assign = ivf_assign(_emb(spark), cent)
    store.bootstrap(assign)
    store.retrain(_emb(spark), 2)
    assert store.centroids() is not None

    store.bootstrap(assign)
    assert store.centroids() is None, "stale trained geometry survived"
    assert not pathlib.Path(store._retrain_commit_path).exists()
    assert not pathlib.Path(store._retrain_tmp).exists()


def test_appends_after_retrain_use_trained_geometry(spark, tmp_path):
    """The maintenance loop must not reopen the drift hole retrain()
    closes: once the store carries trained centroids, a streamed
    append assigns new arrivals with l2_assign against THEM — the
    landed rows equal the trained assignment of the new vectors, not
    the seed-geometry one."""
    from chchfr_data_collection_spark.streaming.embeddings import l2_assign
    from chchfr_data_collection_spark.functions import vectors as V

    store = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    cent = ivf_centroids(spark, SF_DIR)
    old_corpus = _emb(spark).filter(F.col("vec_id") < 400)
    store.bootstrap(ivf_assign(old_corpus, cent))
    store.retrain(old_corpus, 2)
    trained = store.centroids()
    assert trained is not None

    # the new crawl batch arrives through the stream
    from chchfr_data_collection_spark.streaming.embeddings import (
        EMBEDDINGS_SCHEMA,
    )

    feed = str(tmp_path / "feed")
    _emb(spark).filter(F.col("vec_id") >= 400).write.mode(
        "overwrite"
    ).parquet(feed)
    stream = (
        spark.readStream.schema(EMBEDDINGS_SCHEMA)
        .format("parquet")
        .load(feed)
    )
    q = foreach_batch_ivf_assign(
        stream, cent, store.base_path, str(tmp_path / "ck")
    )
    q.awaitTermination()

    new_q = _emb(spark).filter(F.col("vec_id") >= 400).select(
        "vec_id",
        V.quantize("embedding").alias("qv"),
        V.dot_exact("embedding", "embedding").alias("n2"),
    )
    want = {
        (r.vec_id, r.cent_id, round(r.cos_c, 12))
        for r in l2_assign(new_q, trained).collect()
    }
    got = {
        (r.vec_id, r.cent_id, round(r.cos_c, 12))
        for r in store.read().filter(F.col("vec_id") >= 400).collect()
    }
    assert got == want, "post-retrain append used the stale seed geometry"


def test_pq_retrain_migrates_and_trained_appends(spark, tmp_path):
    """The PQ codebook retrain arc end-to-end: retrain() migrates every
    landed code to the trained codebook (batch lineage preserved,
    tombstoned vectors' codes byte-dropped, counted verify via the
    shared swap tail), the crash-after-commit window rolls forward at
    the next maintenance call, and post-retrain streamed appends
    encode against the TRAINED codebook."""
    import pathlib

    from chchfr_data_collection_spark.functions import vectors as V
    from chchfr_data_collection_spark.streaming.embeddings import (
        EMBEDDINGS_SCHEMA,
        pq_encode_trained,
        pq_subvectors,
        train_pq_codebook,
    )

    store = PqCodesStore(spark, str(tmp_path / "pq"))
    cent = pq_codebook(spark, SF_DIR)
    old_corpus = _emb(spark).filter(F.col("vec_id") < 400)
    store.bootstrap(pq_encode(old_corpus.filter(F.col("vec_id") < 300), cent))
    store.append_batch(
        pq_encode(old_corpus.filter(F.col("vec_id") >= 300), cent), 1
    )
    store.forget(spark.createDataFrame([(9,)], "vec_id: bigint"), "t1")

    receipt = store.retrain(old_corpus, 2)
    assert receipt["vectors"] == 399 and receipt["rows"] == 399 * 16

    sub = pq_subvectors(
        old_corpus.filter(F.col("vec_id") != 9).select(
            "vec_id", V.quantize("embedding").alias("qv")
        )
    )
    want = _pq_rows(pq_encode_trained(sub, train_pq_codebook(sub, 2)))
    assert _pq_rows(store.read()) == want
    raw = spark.read.parquet(store.codes_path)
    assert raw.filter(F.col("vec_id") == 9).count() == 0, (
        "migration must byte-drop tombstoned codes"
    )
    assert store.history() == [0, 1]
    assert store.codebook() is not None

    # crash after the commit manifest: the next maintenance call on a
    # fresh instance rolls the swap forward (shared machinery, but the
    # PQ aux path must participate)
    real_fin = store._finish_retrain
    store._finish_retrain = lambda: (_ for _ in ()).throw(
        RuntimeError("crash post-commit")
    )
    with pytest.raises(RuntimeError, match="crash post-commit"):
        store.retrain(old_corpus, 1)
    store._finish_retrain = real_fin
    fresh = PqCodesStore(spark, store.base_path)
    fresh.purge_forgotten()
    assert not pathlib.Path(fresh._retrain_commit_path).exists()
    want1 = _pq_rows(pq_encode_trained(sub, train_pq_codebook(sub, 1)))
    assert _pq_rows(fresh.read()) == want1

    # post-retrain streamed append encodes with the trained codebook
    feed = str(tmp_path / "feed")
    _emb(spark).filter(F.col("vec_id") >= 400).write.mode(
        "overwrite"
    ).parquet(feed)
    stream = (
        spark.readStream.schema(EMBEDDINGS_SCHEMA).format("parquet").load(feed)
    )
    q = foreach_batch_pq_encode(
        stream, cent, fresh.base_path, str(tmp_path / "ck")
    )
    q.awaitTermination()
    new_sub = pq_subvectors(
        _emb(spark)
        .filter(F.col("vec_id") >= 400)
        .select("vec_id", V.quantize("embedding").alias("qv"))
    )
    got_new = _pq_rows(fresh.read().filter(F.col("vec_id") >= 400))
    assert got_new == _pq_rows(pq_encode_trained(new_sub, fresh.codebook())), (
        "post-retrain append used the stale seed codebook"
    )


def test_shared_trainers_equal_duck_oracle(spark):
    """The one IVF and the one PQ Lloyd trainer, which the catalog
    entries and the store retrains share, replay their DuckDB CTE
    oracles value for value: the k-means centroid table (n_assigned
    included) and the trained per-(j, code) codebook cells."""
    import duckdb

    from chchfr_data_collection_spark.functions import vectors as V
    from chchfr_data_collection_spark.queries.llm import (
        _kmeans_iter_duck,
        _pq_cb_trained_duck,
        embedding_kmeans_iter,
    )
    from chchfr_data_collection_spark.streaming.embeddings import (
        pq_subvectors,
        train_pq_codebook,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )

    got = sorted(tuple(r) for r in embedding_kmeans_iter(spark, SF_DIR).collect())
    want = sorted(con.execute(_kmeans_iter_duck(2)).fetchall())
    assert len(got) == 8 * 64 and got == want

    sub = pq_subvectors(
        _emb(spark).select("vec_id", V.quantize("embedding").alias("qv"))
    )
    got = sorted(
        (r.j, r.code, tuple(r.cv))
        for r in train_pq_codebook(sub, 2).collect()
    )
    want = sorted(
        (j, code, tuple(cv))
        for j, code, cv in con.execute(
            f"WITH {_pq_cb_trained_duck(2)} "
            "SELECT j, code, list(c_val ORDER BY p) FROM cb2 GROUP BY j, code"
        ).fetchall()
    )
    assert len(got) == 16 * 16 and got == want


# -- log compaction (round-12 verdict, next #1) ------------------------------


def _ivf3(spark, tmp_path, name="ivf"):
    """A 3-batch store: the fold fixture."""
    store = IvfAssignmentStore(spark, str(tmp_path / name))
    cent = ivf_centroids(spark, SF_DIR)
    store.bootstrap(ivf_assign(_emb(spark).filter(F.col("vec_id") < 200), cent))
    store.append_batch(
        ivf_assign(
            _emb(spark).filter(
                (F.col("vec_id") >= 200) & (F.col("vec_id") < 400)
            ),
            cent,
        ),
        1,
    )
    store.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") >= 400), cent), 2
    )
    return store, cent


def test_compact_folds_serves_identical_and_vacuums_history(spark, tmp_path):
    """compact() folds the committed batches into one generation: the
    serving read is identical before and after, history() reports the
    folded prefix as its highest real batch id, as-of reads inside the
    folded prefix refuse loudly (VACUUM), and the leaf partition /
    landed marker counts drop to O(generations)."""
    store, cent = _ivf3(spark, tmp_path)
    want = _ivf_rows(store.read())
    before_leaves = len(store._batch_leaf_dirs([0, 1, 2]))

    receipt = store.compact()
    assert receipt["compacted"] is True
    assert receipt["generation"] == -1
    assert receipt["folded"] == [0, 1, 2]
    assert receipt["upto"] == 2
    assert receipt["leaf_partitions_before"] == before_leaves
    assert receipt["leaf_partitions_after"] < before_leaves

    # serving identity, from this instance AND a fresh one
    assert _ivf_rows(store.read()) == want
    fresh = IvfAssignmentStore(spark, store.base_path)
    assert _ivf_rows(fresh.read()) == want

    # the write log is bounded by generations now
    assert store._landed_batch_values() == [-1]
    assert store.history() == [2]
    assert _ivf_rows(store.read(as_of_batch=2)) == want

    # VACUUM: folded points refuse loudly, with the earliest readable
    # point named
    for b in (0, 1):
        with pytest.raises(ValueError, match="VACUUM"):
            store.read(as_of_batch=b)

    # no pending manifests survive a clean fold
    assert store._read_json(store.compact_intent_path) is None
    assert store._read_json(store.compact_commit_path) is None


def test_compact_drops_redelivered_folded_batch(spark, tmp_path):
    """An at-least-once redelivery of a batch the fold already
    consumed is recognized via the ledger and dropped — its rows live
    in the generation; appends of genuinely new batches land beside
    the generation; negative batch ids are refused."""
    store, cent = _ivf3(spark, tmp_path)
    want = _ivf_rows(store.read())
    store.compact()

    # redelivery of folded batch 1: dropped, nothing changes
    redelivered = ivf_assign(
        _emb(spark).filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 400)),
        cent,
    )
    store.append_batch(redelivered, 1)
    assert _ivf_rows(store.read()) == want
    assert store._landed_batch_values() == [-1]

    # a genuinely new batch lands beside the generation
    extra = ivf_assign(_emb(spark).filter(F.col("vec_id") < 5), cent).withColumn(
        "vec_id", F.col("vec_id") + 700000
    )
    store.append_batch(extra, 3)
    assert store.history() == [2, 3]
    assert store.read().filter(F.col("vec_id") >= 700000).count() == 5
    assert _ivf_rows(store.read(as_of_batch=2)) == want

    with pytest.raises(ValueError, match="reserved"):
        store.append_batch(extra, -7)


def test_second_compact_folds_prior_generation(spark, tmp_path):
    """merge_ratio=0 is the round-13 fold-everything mode: the second
    call consumes the standing generation too (one partition set
    afterwards). The tiered default's behavior on the same store is
    pinned by test_tiered_compact_* below."""
    store, cent = _ivf3(spark, tmp_path)
    store.compact()
    extra = ivf_assign(_emb(spark).filter(F.col("vec_id") < 5), cent).withColumn(
        "vec_id", F.col("vec_id") + 700000
    )
    store.append_batch(extra, 3)
    want = _ivf_rows(store.read())

    receipt = store.compact(merge_ratio=0)
    assert receipt["generation"] == -2
    assert sorted(receipt["folded"]) == [-1, 3]
    assert receipt["upto"] == 3
    assert store._landed_batch_values() == [-2]
    assert store.history() == [3]
    assert _ivf_rows(store.read()) == want
    # the cumulative ledger covers every real batch ever folded
    led = store._read_json(store.folded_ledger_path)
    assert led["batches"] == [0, 1, 2, 3]
    with pytest.raises(ValueError, match="VACUUM"):
        store.read(as_of_batch=2)

    # a third call with one partition set is a no-op
    assert store.compact()["compacted"] is False


def test_compact_crash_windows(spark, tmp_path):
    """Crash before the commit manifest: the unverified generation is
    invisible (intent-gated reads), and recovery rolls it back. Crash
    mid-finish: the committed fold serves consistently throughout
    (manifest-resolved reads) and recovery rolls it forward."""
    store, cent = _ivf3(spark, tmp_path)
    want = _ivf_rows(store.read())

    # window 1: die before _compact_commit.json lands
    real_wj = IvfAssignmentStore._write_json

    def boom_commit(self, path, obj):
        if path.endswith("_compact_commit.json"):
            raise RuntimeError("crash before commit")
        real_wj(self, path, obj)

    IvfAssignmentStore._write_json = boom_commit
    try:
        with pytest.raises(RuntimeError, match="crash before commit"):
            store.compact()
    finally:
        IvfAssignmentStore._write_json = real_wj
    # rollback ran in compact()'s except path: manifests gone, gen
    # partitions gone, store exactly its pre-fold self
    assert store._read_json(store.compact_intent_path) is None
    assert store._landed_batch_values() == [0, 1, 2]
    assert _ivf_rows(store.read()) == want
    assert _ivf_rows(IvfAssignmentStore(spark, store.base_path).read()) == want

    # window 1b: intent manifest left on disk (a hard kill, no except
    # path) — reads exclude the unverified generation; the next
    # maintenance call recovers
    plan = {"gen": -1, "folded": [0, 1, 2], "upto": 2, "batches": [0, 1, 2]}
    store._write_json(store.compact_intent_path, plan)
    assert _ivf_rows(store.read()) == want  # gen absent anyway
    store.purge_forgotten()  # any maintenance op recovers
    assert store._read_json(store.compact_intent_path) is None
    assert store._landed_batch_values() == [0, 1, 2]

    # window 2: die mid-finish (after the commit manifest, during the
    # source deletions) — reads stay consistent via the commit
    # exclusions; recovery completes the fold
    real_unmark = IvfAssignmentStore._unmark_landed
    calls = {"n": 0}

    def boom_unmark(self, root, name):
        if root == store.landed_path:
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("crash mid-finish")
        real_unmark(self, root, name)

    IvfAssignmentStore._unmark_landed = boom_unmark
    try:
        with pytest.raises(RuntimeError, match="crash mid-finish"):
            store.compact()
    finally:
        IvfAssignmentStore._unmark_landed = real_unmark
    # the commit manifest is still present; reads resolve through it
    assert store._read_json(store.compact_commit_path) is not None
    assert _ivf_rows(store.read()) == want
    assert _ivf_rows(IvfAssignmentStore(spark, store.base_path).read()) == want

    # recovery (any maintenance call) rolls the fold forward
    store.purge_forgotten()
    assert store._read_json(store.compact_commit_path) is None
    assert store._landed_batch_values() == [-1]
    assert store.history() == [2]
    assert _ivf_rows(store.read()) == want


def test_compact_preserves_forget_purge_interplay(spark, tmp_path):
    """The fold is byte-preserving: tombstoned rows travel into the
    generation still masked, and purge_forgotten() stays the one
    byte-eraser — generation partitions are ordinary leaves to it."""
    store, cent = _ivf3(spark, tmp_path)
    store.forget(spark.createDataFrame([(9,), (35,)], "vec_id: bigint"), "t1")
    masked = _ivf_rows(store.read())
    store.compact()
    assert _ivf_rows(store.read()) == masked
    # the bytes traveled (byte-preserving fold): the serving view holds
    # them masked, and the RAW relation holds them twice right now —
    # once in the generation, once in the vacuum-retired sources kept
    # in place for reader grace (round 15)
    raw = spark.read.parquet(store.data_path)
    assert raw.filter(F.col("vec_id").isin(9, 35)).count() == 4
    assert store._vacuum_state()["retired"], "fold did not retire sources"
    # ...and the purge erases them EVERYWHERE: it force-sweeps the
    # vacuum backlog (an erasure claim must not leave bytes parked for
    # reader grace), then rewrites the generation
    receipt = store.purge_forgotten()
    assert receipt["rows_removed"] == 2
    assert receipt["tombstones_cleared"] == ["t1"]
    raw2 = spark.read.parquet(store.data_path)
    assert raw2.filter(F.col("vec_id").isin(9, 35)).count() == 0
    assert store._vacuum_state()["retired"] == []
    assert _ivf_rows(store.read()) == masked


def test_compact_leaves_inflight_append_alone(spark, tmp_path):
    """A crashed (in-flight) append is outside the fold set: its
    partial partitions survive the fold untouched and its redelivery
    lands normally BESIDE the generation."""
    store = IvfAssignmentStore(spark, str(tmp_path / "ivf"))
    cent = ivf_centroids(spark, SF_DIR)
    store.bootstrap(ivf_assign(_emb(spark).filter(F.col("vec_id") < 200), cent))
    store.append_batch(
        ivf_assign(
            _emb(spark).filter(
                (F.col("vec_id") >= 200) & (F.col("vec_id") < 400)
            ),
            cent,
        ),
        1,
    )
    committed = _ivf_rows(store.read())

    b2 = ivf_assign(_emb(spark).filter(F.col("vec_id") >= 400), cent)
    real_mark = store._mark_landed

    def crash_on_landed(root, name):
        if root == store.landed_path and name == "2":
            raise RuntimeError("crash before marker")
        real_mark(root, name)

    store._mark_landed = crash_on_landed
    with pytest.raises(RuntimeError, match="crash before marker"):
        store.append_batch(b2, 2)
    store._mark_landed = real_mark

    receipt = store.compact()
    assert receipt["folded"] == [0, 1], "in-flight batch 2 must not fold"
    assert _ivf_rows(store.read()) == committed

    # redelivery of the in-flight batch lands beside the generation
    store.append_batch(b2, 2)
    assert store.history() == [1, 2]
    assert _ivf_rows(store.read()) == _ivf_rows(ivf_assign(_emb(spark), cent))


def test_pq_store_compact(spark, tmp_path):
    """The fold on the cell-less layout (CELL_COLS=()): same identity,
    ledger, and VACUUM contracts."""
    store = PqCodesStore(spark, str(tmp_path / "pq"))
    cent = pq_codebook(spark, SF_DIR)
    store.bootstrap(pq_encode(_emb(spark).filter(F.col("vec_id") < 300), cent))
    store.append_batch(
        pq_encode(_emb(spark).filter(F.col("vec_id") >= 300), cent), 1
    )
    want = _pq_rows(store.read())
    receipt = store.compact()
    assert receipt["compacted"] is True and receipt["folded"] == [0, 1]
    assert _pq_rows(store.read()) == want
    assert store.history() == [1]
    with pytest.raises(ValueError, match="VACUUM"):
        store.read(as_of_batch=0)
    # redelivered folded batch is dropped on this layout too
    store.append_batch(
        pq_encode(_emb(spark).filter(F.col("vec_id") >= 300), cent), 1
    )
    assert _pq_rows(store.read()) == want


def test_compact_then_snapshot_and_sync_semantics(spark, tmp_path):
    """DR x compaction: a snapshot of a compacted store carries the
    generation AND the ledger (the clone refuses folded as-of points
    and drops folded redeliveries); a source compact() AFTER a
    snapshot makes the clone unsyncable with the fresh-snapshot remedy
    named."""
    store, cent = _ivf3(spark, tmp_path)
    dest_old = str(tmp_path / "clone_pre")
    store.snapshot_to(dest_old)

    store.compact()
    want = _ivf_rows(store.read())

    # the pre-compact clone can no longer sync — history collapsed
    with pytest.raises(RuntimeError, match="fresh snapshot"):
        store.sync_to(dest_old)

    dest = str(tmp_path / "clone_post")
    store.snapshot_to(dest)
    clone = IvfAssignmentStore(spark, dest)
    assert _ivf_rows(clone.read()) == want
    assert clone._landed_batch_values() == [-1]
    assert clone.history() == [2]
    with pytest.raises(ValueError, match="VACUUM"):
        clone.read(as_of_batch=1)
    # folded redelivery is dropped on the clone too (ledger traveled)
    clone.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") < 200), cent), 0
    )
    assert _ivf_rows(clone.read()) == want

    # and the synced-forward path still works on the compacted pair
    extra = ivf_assign(_emb(spark).filter(F.col("vec_id") < 5), cent).withColumn(
        "vec_id", F.col("vec_id") + 700000
    )
    store.append_batch(extra, 3)
    receipt = store.sync_to(dest)
    assert receipt["shipped"]["batches"] == [3]
    assert _ivf_rows(IvfAssignmentStore(spark, dest).read()) == _ivf_rows(
        store.read()
    )


# -- round-13 self-review pins ----------------------------------------------


def test_as_of_refuses_during_committed_fold_crash_window(spark, tmp_path):
    """HIGH: with the commit manifest pending (fold verified, finish
    crashed before the ledger write), the serving view already
    resolves to the generation — an as-of read inside the folded
    prefix must refuse HERE too, not silently serve the full folded
    corpus at a historical point."""
    store, cent = _ivf3(spark, tmp_path)
    want = _ivf_rows(store.read())

    # crash the finish BEFORE the ledger lands: patch _write_json to
    # die on _folded.json (the first finish step)
    real_wj = IvfAssignmentStore._write_json

    def boom(self, path, obj):
        if path.endswith("_folded.json"):
            raise RuntimeError("crash before ledger")
        real_wj(self, path, obj)

    IvfAssignmentStore._write_json = boom
    try:
        with pytest.raises(RuntimeError, match="crash before ledger"):
            store.compact()
    finally:
        IvfAssignmentStore._write_json = real_wj
    assert store._read_json(store.compact_commit_path) is not None
    assert store._read_json(store.folded_ledger_path) is None

    # serving read resolves to the generation (commit exclusions)...
    assert _ivf_rows(store.read()) == want
    # ...and pre-fold as-of points refuse instead of serving it whole
    for b in (0, 1):
        with pytest.raises(ValueError, match="VACUUM"):
            store.read(as_of_batch=b)
    assert _ivf_rows(store.read(as_of_batch=2)) == want

    # recovery completes the fold; semantics unchanged
    store.purge_forgotten()
    assert store._landed_batch_values() == [-1]
    assert _ivf_rows(store.read()) == want


def test_dropped_redelivery_cleans_stale_intent(spark, tmp_path):
    """HIGH: a redelivery attempt that crashed before its marker, then
    had its batch folded by compact(), leaves intent-without-marker —
    which would defer every future purge's tombstone clearing for a
    batch no redelivery will ever complete (the ledger drops them).
    The drop path must clean the stale intent and bytes up."""
    store, cent = _ivf3(spark, tmp_path)
    b1 = ivf_assign(
        _emb(spark).filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 400)),
        cent,
    )
    # a redelivery of committed batch 1 crashes before its marker
    real_mark = store._mark_landed

    def crash_on_landed(root, name):
        if root == store.landed_path and name == "1":
            raise RuntimeError("crash before marker")
        real_mark(root, name)

    store._mark_landed = crash_on_landed
    with pytest.raises(RuntimeError, match="crash before marker"):
        store.append_batch(b1, 1)
    store._mark_landed = real_mark
    # batch 1's ORIGINAL marker still stands, so nothing is in flight
    # yet and compact folds it
    store.compact()
    want = _ivf_rows(store.read())
    # the crashed attempt's intent now has no matching landed marker:
    # a purge would defer forever if nothing cleans it
    assert "1" in store._landed_ids(store.intent_path)

    # the redelivery retries; the ledger drops it AND cleans up
    store.append_batch(b1, 1)
    assert "1" not in store._landed_ids(store.intent_path)
    assert _ivf_rows(store.read()) == want

    store.forget(spark.createDataFrame([(9,)], "vec_id: bigint"), "t9")
    receipt = store.purge_forgotten()
    assert receipt["purge_deferred"] == [], (
        "a folded batch's stale intent must not defer purges"
    )
    assert receipt["tombstones_cleared"] == ["t9"]


def test_append_unwinds_when_fold_commits_mid_write(spark, tmp_path):
    """HIGH (the race leg): an unfenced redelivery that passes the
    entry ledger check while a compact() is folding its batch must not
    leave a second copy of the rows beside the generation — the
    post-write re-check unwinds it."""
    store, cent = _ivf3(spark, tmp_path)
    led_after_fold = {"gen": -1, "upto": 2, "batches": [0, 1, 2]}

    # simulate the interleaving: the fold's ledger lands AFTER this
    # append's entry check (injected at the intent-marker step) — the
    # append's write then commits into a world where its batch is
    # already folded
    real_mark = store._mark_landed

    def inject_ledger(root, name):
        real_mark(root, name)
        if root == store.intent_path and name == "1":
            store._write_json(store.folded_ledger_path, led_after_fold)

    store._mark_landed = inject_ledger
    try:
        store.append_batch(
            ivf_assign(
                _emb(spark).filter(
                    (F.col("vec_id") >= 200) & (F.col("vec_id") < 400)
                ),
                cent,
            ),
            1,
        )
    finally:
        store._mark_landed = real_mark

    # unwound: no re-landed partitions, no stale intent, marker set
    # unchanged (batch 1's original marker still stands in this
    # simulation — the real fold's finish retires it)
    assert "1" not in store._landed_ids(store.intent_path)
    fs, HPath = store._fs()
    assert store._batch_leaf_dirs([1]) == [], "re-landed bytes survived"
    # the unwind deleted the batch-1 partitions (in the real race the
    # fold's finish deletes them — the generation holds the rows; this
    # simulation has no generation, so batch 1's rows are simply gone):
    # after dropping the injected ledger the view is batches 0 and 2,
    # with not a single DUPLICATED row anywhere
    fs.delete(HPath(store.folded_ledger_path), False)
    got = _ivf_rows(store.read())
    assert got == _ivf_rows(
        ivf_assign(_emb(spark).filter(F.col("vec_id") < 200), cent)
    ) | _ivf_rows(
        ivf_assign(_emb(spark).filter(F.col("vec_id") >= 400), cent)
    )
    raw = spark.read.parquet(store.data_path)
    assert raw.count() == raw.select("vec_id").distinct().count(), (
        "a duplicated row survived the unwind"
    )


def test_retrain_recovers_pending_fold_first(spark, tmp_path):
    """MEDIUM: retrain() swaps the whole data directory — a crashed
    compact()'s manifests must resolve BEFORE the swap replaces the
    relation the fold was consuming. retrain now runs full
    _recover(); the migrated store serves correctly and no stale
    manifest survives."""
    store, cent = _ivf3(spark, tmp_path)
    want_ids = {r.vec_id for r in store.read().collect()}

    real_unmark = IvfAssignmentStore._unmark_landed
    calls = {"n": 0}

    def boom(self, root, name):
        if root == store.landed_path:
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("crash mid-finish")
        real_unmark(self, root, name)

    IvfAssignmentStore._unmark_landed = boom
    try:
        with pytest.raises(RuntimeError, match="crash mid-finish"):
            store.compact()
    finally:
        IvfAssignmentStore._unmark_landed = real_unmark
    assert store._read_json(store.compact_commit_path) is not None

    store.retrain(_emb(spark), 2)
    assert store._read_json(store.compact_commit_path) is None
    assert store._read_json(store.compact_intent_path) is None
    assert {r.vec_id for r in store.read().collect()} == want_ids
    assert store._landed_batch_values() == [-1]
    assert store.centroids() is not None


# -- retention / expiry (round 13) -------------------------------------------


def test_expire_drops_batches_atomically_and_gates_redelivery(
    spark, tmp_path
):
    store, cent = _ivf3(spark, tmp_path)
    want2 = _ivf_rows(
        ivf_assign(_emb(spark).filter(F.col("vec_id") >= 400), cent)
    )

    receipt = store.expire(2)
    assert receipt == {"expired": [0, 1], "before": 2}
    assert store.history() == [2]
    assert _ivf_rows(store.read()) == want2
    # bytes gone, not just masked
    raw = spark.read.parquet(store.data_path)
    assert raw.filter(F.col("batch_id") < 2).count() == 0
    # a fresh instance agrees
    assert _ivf_rows(IvfAssignmentStore(spark, store.base_path).read()) == want2

    # redelivery of an expired batch is recognized and dropped
    store.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") < 200), cent), 0
    )
    assert _ivf_rows(store.read()) == want2
    assert store._landed_batch_values() == [2]

    # as-of points below the retention floor refuse; at/above serve
    for b in (0, 1):
        with pytest.raises(ValueError, match="expired by retention"):
            store.read(as_of_batch=b)
    assert _ivf_rows(store.read(as_of_batch=2)) == want2

    # raising the floor is monotone; lowering is a no-op
    assert store.expire(1) == {"expired": [], "before": 2}


def test_expire_fold_boundary_and_empty_refusals(spark, tmp_path):
    store, cent = _ivf3(spark, tmp_path)
    store.compact()  # folds [0,1,2] -> gen, upto 2

    with pytest.raises(ValueError, match="inside"):
        store.expire(2)  # boundary inside the fold
    with pytest.raises(ValueError, match="empty the"):
        store.expire(3)  # would drop the generation and retain nothing

    extra = ivf_assign(_emb(spark).filter(F.col("vec_id") < 5), cent).withColumn(
        "vec_id", F.col("vec_id") + 700000
    )
    store.append_batch(extra, 3)
    receipt = store.expire(3)  # drops the whole generation, keeps batch 3
    assert receipt["expired"] == [-1]
    assert store.history() == [3]
    got = _ivf_rows(store.read())
    assert got == _ivf_rows(extra)
    # folded redelivery still dropped (the fold ledger outlives the gen)
    store.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") < 200), cent), 1
    )
    assert _ivf_rows(store.read()) == got


def test_expire_crash_midway_recovers(spark, tmp_path):
    store, cent = _ivf3(spark, tmp_path)
    want2 = _ivf_rows(
        ivf_assign(_emb(spark).filter(F.col("vec_id") >= 400), cent)
    )
    real = IvfAssignmentStore._delete_batch_partitions
    calls = {"n": 0}

    def boom(self, bid):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("crash mid-expiry")
        real(self, bid)

    IvfAssignmentStore._delete_batch_partitions = boom
    try:
        with pytest.raises(RuntimeError, match="crash mid-expiry"):
            store.expire(2)
    finally:
        IvfAssignmentStore._delete_batch_partitions = real
    # the ledger landed; the crashed batch is already invisible (its
    # landed marker was flipped before the delete) and batch 1 still
    # serves committed — reads never see a partial batch
    served = _ivf_rows(store.read())
    assert served == _ivf_rows(
        ivf_assign(
            _emb(spark).filter(
                (F.col("vec_id") >= 200) & (F.col("vec_id") < 400)
            ),
            cent,
        )
    ) | want2

    # any maintenance call finishes the expiry
    store.purge_forgotten()
    assert store.history() == [2]
    assert _ivf_rows(store.read()) == want2
    assert store._landed_ids(store.intent_path) == set()


def test_expire_travels_with_snapshot_and_gates_sync(spark, tmp_path):
    store, cent = _ivf3(spark, tmp_path)
    dest_pre = str(tmp_path / "clone_pre")
    store.snapshot_to(dest_pre)

    store.expire(2)
    # the pre-expiry clone can no longer sync; the remedy is named
    with pytest.raises(RuntimeError, match="expire the clone"):
        store.sync_to(dest_pre)
    # expire the clone to the source's boundary, then sync works
    IvfAssignmentStore(spark, dest_pre).expire(2)
    assert store.sync_to(dest_pre)["shipped"]["batches"] == []
    assert _ivf_rows(IvfAssignmentStore(spark, dest_pre).read()) == _ivf_rows(
        store.read()
    )

    # a post-expiry snapshot carries the floor outright
    dest = str(tmp_path / "clone_post")
    store.snapshot_to(dest)
    clone = IvfAssignmentStore(spark, dest)
    with pytest.raises(ValueError, match="expired by retention"):
        clone.read(as_of_batch=0)
    clone.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") < 200), cent), 0
    )
    assert _ivf_rows(clone.read()) == _ivf_rows(store.read())

    # the floor travels with a sync too: a source expire() that drops
    # nothing the clone holds still raises the clone's floor, so the
    # clone refuses the same redeliveries as the source
    store.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") < 200), cent), 5
    )
    store.expire(4)
    dest_floor = str(tmp_path / "clone_floor")
    store.snapshot_to(dest_floor)
    store.expire(5)
    assert store.sync_to(dest_floor)["shipped"]["batches"] == []
    floor_clone = IvfAssignmentStore(spark, dest_floor)
    assert floor_clone._read_json(floor_clone.expired_ledger_path) == (
        store._read_json(store.expired_ledger_path)
    )
    floor_clone.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") < 200), cent), 4
    )
    assert floor_clone.history() == store.history() == [5]
