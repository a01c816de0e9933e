"""Additive schema evolution on the batch stores (round-12 verdict,
next #4): `evolve_schema()` is the sanctioned path to ADD a nullable
column without rebootstrap — reads null-fill pre-evolution batches,
the append guard validates producers against the evolved schema, the
drifted-producer refusal stays loud for everything non-additive, and
the sidecar travels with snapshots and syncs like the trained
geometry."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chchfr_data_collection_spark.streaming.embeddings import (
    IvfAssignmentStore,
    ivf_assign,
    ivf_centroids,
)

SF_DIR = "/root/testdata/sf0.001"

EVOLVED = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("cos_c", T.DoubleType()),
        T.StructField("cent_id", T.LongType()),
        T.StructField("batch_id", T.LongType()),
        T.StructField("crawl_src", T.StringType(), True),
    ]
)


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _store(spark, tmp_path, name="ivf"):
    store = IvfAssignmentStore(spark, str(tmp_path / name))
    cent = ivf_centroids(spark, SF_DIR)
    store.bootstrap(
        ivf_assign(_emb(spark).filter(F.col("vec_id") < 300), cent)
    )
    return store, cent


def test_evolve_append_and_null_fill_across_generations(spark, tmp_path):
    store, cent = _store(spark, tmp_path)
    before = {(r.vec_id, r.cent_id) for r in store.read().collect()}

    receipt = store.evolve_schema(EVOLVED)
    assert receipt == {"evolved": True, "added": ["crawl_src"]}

    # the OLD producer shape is now refused loudly (deliberate cutover)
    old_rows = ivf_assign(_emb(spark).filter(F.col("vec_id") >= 300), cent)
    with pytest.raises(TypeError, match="does not\n?.*match"):
        store.append_batch(old_rows, 1)

    # the evolved producer lands; pre-evolution batches null-fill
    store.append_batch(
        old_rows.withColumn("crawl_src", F.lit("cc-2026-08")), 1
    )
    view = store.read()
    assert "crawl_src" in view.columns
    assert (
        view.filter(F.col("batch_id") == 0)
        .filter(F.col("crawl_src").isNotNull())
        .count()
        == 0
    ), "pre-evolution rows must null-fill the added column"
    got1 = view.filter(F.col("batch_id") == 1)
    assert got1.count() > 0
    assert got1.filter(F.col("crawl_src") != "cc-2026-08").count() == 0

    # a fresh instance resolves the evolved schema from the sidecar
    fresh = IvfAssignmentStore(spark, store.base_path)
    assert {f.name for f in fresh.data_schema().fields} == {
        f.name for f in EVOLVED.fields
    }
    assert {(r.vec_id, r.cent_id) for r in fresh.read(
        as_of_batch=0
    ).collect()} == before

    # idempotent re-evolve is a no-op
    assert fresh.evolve_schema(EVOLVED) == {"evolved": False, "added": []}


def test_evolve_refusals_stay_loud(spark, tmp_path):
    store, _ = _store(spark, tmp_path)

    narrowing = T.StructType(
        [f for f in store.data_schema().fields if f.name != "cos_c"]
    )
    with pytest.raises(TypeError, match="missing"):
        store.evolve_schema(narrowing)

    retyped = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cos_c", T.StringType()),
            T.StructField("cent_id", T.LongType()),
            T.StructField("batch_id", T.LongType()),
        ]
    )
    with pytest.raises(TypeError, match="type changes refused"):
        store.evolve_schema(retyped)

    hard_add = T.StructType(
        list(store.data_schema().fields)
        + [T.StructField("must_have", T.LongType(), False)]
    )
    with pytest.raises(TypeError, match="must be nullable"):
        store.evolve_schema(hard_add)


def test_evolve_with_compact_purge_and_time_travel(spark, tmp_path):
    """The evolved column survives the lifecycle ops: a compact() fold
    materializes the nulls into the generation, purge keeps the column,
    and as-of reads serve it."""
    store, cent = _store(spark, tmp_path)
    store.evolve_schema(EVOLVED)
    store.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") >= 300), cent)
        .withColumn("crawl_src", F.lit("cc-2026-08")),
        1,
    )
    want = {
        (r.vec_id, r.cent_id, r.crawl_src) for r in store.read().collect()
    }
    store.compact()
    assert {
        (r.vec_id, r.cent_id, r.crawl_src) for r in store.read().collect()
    } == want

    store.forget(spark.createDataFrame([(9,)], "vec_id: bigint"), "t9")
    store.purge_forgotten()
    assert {
        (r.vec_id, r.cent_id, r.crawl_src) for r in store.read().collect()
    } == {t for t in want if t[0] != 9}

    assert "crawl_src" in store.read(as_of_batch=1).columns


def test_evolved_sidecar_travels_with_snapshot_and_sync(spark, tmp_path):
    store, cent = _store(spark, tmp_path)
    dest = str(tmp_path / "clone")
    store.snapshot_to(dest)

    # source evolves AFTER the snapshot and lands an evolved batch;
    # the sync carries the sidecar first, then ships
    store.evolve_schema(EVOLVED)
    store.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") >= 300), cent)
        .withColumn("crawl_src", F.lit("cc-2026-08")),
        1,
    )
    receipt = store.sync_to(dest)
    assert receipt["schema_evolved"] is True
    assert receipt["shipped"]["batches"] == [1]
    clone = IvfAssignmentStore(spark, dest)
    assert "crawl_src" in clone.read().columns
    assert {
        (r.vec_id, r.cent_id, r.crawl_src) for r in clone.read().collect()
    } == {
        (r.vec_id, r.cent_id, r.crawl_src) for r in store.read().collect()
    }

    # a snapshot of an evolved store carries the sidecar outright
    dest2 = str(tmp_path / "clone2")
    store.snapshot_to(dest2)
    clone2 = IvfAssignmentStore(spark, dest2)
    assert {f.name for f in clone2.data_schema().fields} == {
        f.name for f in EVOLVED.fields
    }

    # a clone that evolved INDEPENDENTLY is a fork: refuse
    fork = T.StructType(
        list(IvfAssignmentStore.DATA_SCHEMA.fields)
        + [T.StructField("their_col", T.StringType(), True)]
    )
    dest3 = str(tmp_path / "clone3")
    plain = IvfAssignmentStore(spark, str(tmp_path / "plain"))
    plain.bootstrap(
        ivf_assign(_emb(spark).filter(F.col("vec_id") < 300), cent)
    )
    plain.snapshot_to(dest3)
    IvfAssignmentStore(spark, dest3).evolve_schema(fork)
    with pytest.raises(RuntimeError, match="fork"):
        plain.sync_to(dest3)


def test_bootstrap_resets_schema_generation(spark, tmp_path):
    store, cent = _store(spark, tmp_path)
    store.evolve_schema(EVOLVED)
    store.bootstrap(
        ivf_assign(_emb(spark).filter(F.col("vec_id") < 100), cent)
    )
    assert store.data_schema() == IvfAssignmentStore.DATA_SCHEMA
    assert "crawl_src" not in store.read().columns


def test_retrain_carries_evolved_columns_ivf(spark, tmp_path):
    """Round-13 ADVICE (high): retrain() rebuilds the base columns
    from scratch, so a column added via evolve_schema() and populated
    by producers must TRAVEL through the migration (joined back by
    (vec_id, batch_id) row identity) — not silently null-fill past the
    count-only verify."""
    store, cent = _store(spark, tmp_path)
    store.evolve_schema(EVOLVED)
    store.append_batch(
        ivf_assign(_emb(spark).filter(F.col("vec_id") >= 300), cent)
        .withColumn("crawl_src", F.lit("cc-2026-08")),
        1,
    )
    want = {
        (r.vec_id, r.batch_id, r.crawl_src) for r in store.read().collect()
    }
    assert any(src is not None for _, _, src in want)

    store.retrain(_emb(spark), 2)
    got = {
        (r.vec_id, r.batch_id, r.crawl_src) for r in store.read().collect()
    }
    assert got == want, (
        "evolved-column values must survive the retrain migration"
    )
    # lifecycle still composes after the carried migration
    assert "crawl_src" in store.read(as_of_batch=1).columns
    fresh = IvfAssignmentStore(spark, store.base_path)
    assert {
        (r.vec_id, r.batch_id, r.crawl_src) for r in fresh.read().collect()
    } == want


def test_retrain_carries_evolved_columns_pq(spark, tmp_path):
    """Same contract on the PQ store: row identity there is
    (vec_id, j, batch_id)."""
    from chchfr_data_collection_spark.streaming.embeddings import (
        PqCodesStore,
        pq_codebook,
        pq_encode,
    )

    emb = _emb(spark)
    store = PqCodesStore(spark, str(tmp_path / "pq"))
    store.bootstrap(
        pq_encode(emb.filter(F.col("vec_id") < 300),
                  pq_codebook(spark, SF_DIR))
    )
    evolved = T.StructType(
        list(PqCodesStore.DATA_SCHEMA.fields)
        + [T.StructField("license", T.StringType(), True)]
    )
    store.evolve_schema(evolved)
    store.append_batch(
        pq_encode(emb.filter(F.col("vec_id") >= 300),
                  pq_codebook(spark, SF_DIR))
        .withColumn("license", F.lit("ccby")),
        1,
    )
    want = {
        (r.vec_id, r.j, r.batch_id, r.license)
        for r in store.read().collect()
    }
    assert any(t[3] is not None for t in want)

    store.retrain(emb, 2)
    got = {
        (r.vec_id, r.j, r.batch_id, r.license)
        for r in store.read().collect()
    }
    assert got == want
