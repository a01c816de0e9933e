"""Persisted-MinHash-index incremental dedup (round-5 verdict item 2):
the probe result equals the from-scratch banded run restricted to
delta-touching pairs, replaying the delta in sub-batches yields the
same union, and inserts are appends (no index rewrite). Round 8 adds
the lifecycle: format-marker gating, compaction that folds delta
partitions without changing probe results, snapshot retention, and the
zero-pair-retry stale-snapshot fix."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chchfr_data_collection_spark.operators.minhash_index import (
    MH_BANDS,
    MinHashIndex,
)
from chchfr_data_collection_spark.queries.llm import (
    dedup_minhash_banded,
    dedup_minhash_incremental,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _pairs(df):
    return {(r.da, r.db, round(r.jaccard, 12)) for r in df.collect()}


def test_incremental_equals_batch_restriction(spark):
    """The catalog entry == the full banded run filtered to pairs with
    >= 1 delta endpoint (the oracle's definition), exact jaccard and
    all."""
    inc = _pairs(dedup_minhash_incremental(spark, SF_DIR))
    full = dedup_minhash_banded(spark, SF_DIR).filter(
        (F.col("da") % 4 == 0) | (F.col("db") % 4 == 0)
    )
    assert inc == _pairs(full)
    assert inc, "fixture produced no delta-touching near-dup pairs"
    # a banding wider than the MH_K-permutation hash family must fail
    # loudly instead of slicing the signature short
    with pytest.raises(ValueError, match=r"n_bands \* band_rows .* MH_K"):
        dedup_minhash_banded(spark, SF_DIR, n_bands=MH_BANDS + 1)


def test_two_batch_replay_equals_single_probe(spark, tmp_path):
    """Splitting the delta into two sub-batches probed against the
    EVOLVING index finds the same union of pairs as one probe: pairs
    across the sub-batch boundary surface when the second endpoint
    lands (the index already holds the first)."""
    docs = _docs(spark)
    landed = docs.filter(F.col("doc_id") % 4 != 0)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(landed)
    p1 = _pairs(idx.probe_and_insert(docs.filter(F.col("doc_id") % 8 == 0)))
    p2 = _pairs(idx.probe_and_insert(docs.filter(F.col("doc_id") % 8 == 4)))
    single = _pairs(dedup_minhash_incremental(spark, SF_DIR))
    assert p1 | p2 == single
    # a pair inside sub-batch 1 is found at probe 1, not re-emitted at
    # probe 2 (probe work is delta-bounded)
    assert not {p for p in p2 if p[0] % 8 == 0 and p[1] % 8 == 0}


def test_insert_is_append_only(spark, tmp_path):
    """probe_and_insert grows the index by exactly the delta's rows and
    never rewrites landed files (in-place update contract)."""
    docs = _docs(spark)
    landed = docs.filter(F.col("doc_id") % 4 != 0)
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(landed)
    before_files = set((tmp_path / "idx").rglob("*.parquet"))
    arrays_before = spark.read.parquet(idx.arrays_path).count()
    idx.probe_and_insert(delta).count()
    after_files = set((tmp_path / "idx").rglob("*.parquet"))
    assert before_files <= after_files, "bootstrap files were rewritten"
    arrays_after = spark.read.parquet(idx.arrays_path).count()
    n_delta = delta.filter(F.size(F.split("text", " ", -1)) >= 3).count()
    assert arrays_after - arrays_before == n_delta


def test_probe_result_is_stable_snapshot(spark, tmp_path):
    """The returned pairs are a materialized snapshot: collecting them
    AFTER a later insert yields the same set (a lazy plan would re-read
    postings/ and pick up the later delta's buckets — the round-6
    review finding), and no persisted RDD outlives the call."""
    sc = spark.sparkContext
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    persisted_before = sc._jsc.getPersistentRDDs().size()
    probe1 = idx.probe_and_insert(docs.filter(F.col("doc_id") % 8 == 0))
    # <=, not ==: the shared session's ContextCleaner asynchronously
    # unpersists OTHER tests' dereferenced caches at its own pace, so
    # the count may drop concurrently; a leak from THIS call would
    # push it up
    assert sc._jsc.getPersistentRDDs().size() <= persisted_before, (
        "probe_and_insert leaked a persisted handle"
    )
    first = _pairs(probe1)
    idx.probe_and_insert(docs.filter(F.col("doc_id") % 8 == 4))
    assert _pairs(probe1) == first, (
        "probe result drifted after a subsequent insert"
    )


def test_probe_zero_pairs_reads_back_empty(spark, tmp_path):
    """A probe that verifies no pairs still returns a well-formed empty
    frame (the pairs store has no partition to infer a schema from —
    the explicit read schema covers it)."""
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    lone = docs.filter(F.col("doc_id") == -1)  # empty delta
    out = idx.probe_and_insert(lone)
    assert out.columns == ["da", "db", "jaccard"]
    assert out.count() == 0


def test_compact_folds_partitions_preserving_probe(spark, tmp_path):
    """compact() folds N deltas' partitions into one generation:
    postings drops to O(bands) leaf partitions, arrays/pairs to O(1) —
    and a probe AFTER compaction returns exactly the pairs it returned
    before (folding changes layout, never rows). This is the index's
    answer to 'thousands of crawl batches = partition explosion'
    (round-7 verdict ask 2)."""
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    # five crawl batches land five delta partitions per band
    for i in range(5):
        idx.insert(docs.filter(F.col("doc_id") % 20 == 4 * i), f"crawl-{i}")
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    before = _pairs(idx.probe_and_insert(delta, delta_id="probe-a"))
    parts_before = idx._leaf_partition_count(idx.postings_path, 2)
    assert parts_before > MH_BANDS  # sprawl exists to fold

    receipt = idx.compact()
    assert receipt["postings"]["compacted"] is True
    assert idx._leaf_partition_count(idx.postings_path, 2) == MH_BANDS
    assert idx._leaf_partition_count(idx.arrays_path, 1) == 1
    assert idx._leaf_partition_count(idx.pairs_path, 1) == 1

    after = _pairs(idx.probe_and_insert(delta, delta_id="probe-b"))
    assert after == before, "compaction changed probe results"
    # a second compact over an already-folded index is a no-op... once
    # probe-b's fresh delta partitions are folded in
    receipt2 = idx.compact(merge_ratio=0)
    assert receipt2["postings"]["compacted"] is True  # probe-b's delta
    receipt3 = idx.compact(merge_ratio=0)
    assert receipt3["postings"]["compacted"] is False


def test_format_marker_gates_writes(spark, tmp_path):
    """insert/probe against a store without the current format marker
    fail fast with a 'rebootstrap required' message BEFORE landing
    anything — a v1-format index receiving v2 partitions would corrupt
    the store into mixed-schema parquet (round-7 ADVICE, medium)."""
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    # simulate an index bootstrapped by the previous revision
    fs, HPath = idx._fs()
    fs.delete(HPath(idx.format_path), False)
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    with pytest.raises(RuntimeError, match="[Rr]ebootstrap"):
        idx.insert(delta, "d1")
    with pytest.raises(RuntimeError, match="[Rr]ebootstrap"):
        idx.probe_and_insert(delta, delta_id="d1")
    # nothing landed: arrays/ still holds only the bootstrap rows
    n_landed = docs.filter(
        (F.col("doc_id") % 4 != 0) & (F.size(F.split("text", " ", -1)) >= 3)
    ).count()
    assert spark.read.parquet(idx.arrays_path).count() == n_landed
    # rebootstrap restores service
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    idx.probe_and_insert(delta, delta_id="d1").count()


def test_crashed_bootstrap_fails_fast_with_no_stale_pairs(spark, tmp_path):
    """A bootstrap that dies mid-index-write leaves a store that (a)
    refuses inserts/probes — the marker lands LAST — and (b) holds no
    previous generation's pairs/ snapshots — those are deleted FIRST
    (round-7 ADVICE: deleting pairs/ after the write left a window
    where a rebuilt index served the old generation's probe output)."""
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    landed = docs.filter(F.col("doc_id") % 4 != 0)
    idx.bootstrap(landed)
    idx.probe_and_insert(
        docs.filter(F.col("doc_id") % 4 == 0), delta_id="gen1-probe"
    ).count()
    fs, HPath = idx._fs()
    assert fs.exists(HPath(f"{idx.pairs_path}/delta_id=gen1-probe"))

    real = idx._write_sigs
    def boom(*a, **kw):
        raise RuntimeError("simulated crash mid-bootstrap")
    idx._write_sigs = boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.bootstrap(landed)
    idx._write_sigs = real
    assert not fs.exists(HPath(idx.pairs_path)), "stale pairs survived"
    with pytest.raises(RuntimeError, match="[Rr]ebootstrap"):
        idx.insert(docs.filter(F.col("doc_id") % 4 == 0), "d1")


def test_zero_pair_retry_replaces_stale_snapshot(spark, tmp_path):
    """A retried probe under the SAME delta_id whose content now
    verifies ZERO pairs must read back empty: dynamic overwrite writes
    nothing for an empty frame, so without the pre-delete the previous
    attempt's non-empty partition would be served (round-7 verdict
    finding 4)."""
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    rich = idx.probe_and_insert(
        docs.filter(F.col("doc_id") % 4 == 0), delta_id="retry-me"
    )
    assert rich.count() > 0
    empty = idx.probe_and_insert(
        docs.filter(F.col("doc_id") == -1), delta_id="retry-me"
    )
    assert empty.count() == 0, "stale snapshot served on a zero-pair retry"


def test_prune_pairs_reclaims_consumed_snapshots(spark, tmp_path):
    """prune_pairs deletes consumed snapshot partitions (named or all)
    — the retention story for a store that otherwise grows by one
    permanent partition per probe (round-7 ADVICE, low)."""
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    idx.probe_and_insert(docs.filter(F.col("doc_id") % 8 == 0), delta_id="a")
    idx.probe_and_insert(docs.filter(F.col("doc_id") % 8 == 4), delta_id="b")
    assert idx._leaf_partition_count(idx.pairs_path, 1) == 2
    assert idx.prune_pairs(["a"]) == 1
    assert idx._leaf_partition_count(idx.pairs_path, 1) == 1
    assert idx.prune_pairs() == 1
    assert idx._leaf_partition_count(idx.pairs_path, 1) == 0


def test_probe_retry_same_delta_id_idempotent(spark, tmp_path):
    """Re-landing the SAME delta_id (a retried probe after a mid-insert
    failure) replaces the delta's partitions instead of duplicating
    them: index row counts and the verified pair set are unchanged, and
    bucket sizes don't creep toward the cap."""
    docs = _docs(spark)
    landed = docs.filter(F.col("doc_id") % 4 != 0)
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(landed)
    p1 = _pairs(idx.probe_and_insert(delta, delta_id="crawl-2026-08-14"))
    arrays_1 = spark.read.parquet(idx.arrays_path).count()
    postings_1 = spark.read.parquet(idx.postings_path).count()
    p2 = _pairs(idx.probe_and_insert(delta, delta_id="crawl-2026-08-14"))
    assert p2 == p1
    assert spark.read.parquet(idx.arrays_path).count() == arrays_1
    assert spark.read.parquet(idx.postings_path).count() == postings_1


def test_compact_preserves_concurrent_insert(spark, tmp_path):
    """The round-8 fold rework's whole point: an insert landing AFTER
    the fold set is pinned but BEFORE the fold rewrites/deletes is
    untouched — the fold lands the generation BESIDE live partitions
    and deletes exactly the sources it read, never the relation root.
    (The previous whole-relation rename-swap erased such an insert —
    the ADVICE r8 accepted risk this closes.)"""
    docs = _docs(spark)
    path = str(tmp_path / "idx")
    idx = MinHashIndex(spark, path)
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    idx.insert(docs.filter(F.col("doc_id") % 8 == 0), "settled")
    racer = docs.filter(F.col("doc_id") % 8 == 4)
    real = idx._fold_write

    def hooked(plan, target_bytes):
        # a second writer lands a fresh delta mid-fold
        MinHashIndex(spark, path).insert(racer, "racer")
        return real(plan, target_bytes)

    idx._fold_write = hooked
    receipt = idx.compact()
    idx._fold_write = real
    assert receipt["postings"]["compacted"] is True
    assert "racer" in idx._partition_ids("arrays")
    assert "racer" in idx._partition_ids("postings")
    # every doc's row SERVES exactly once: nothing lost, nothing
    # doubled. The serving view is the fold-consistent read — the raw
    # glob additionally holds the vacuum-retired sources parked in
    # place for reader grace until a later maintenance call sweeps
    # them (round 15)
    n_total = docs.filter(F.size(F.split("text", " ", -1)) >= 3).count()
    arrs = idx._read_relation("arrays")
    assert arrs.count() == n_total
    assert arrs.select("doc_id").distinct().count() == n_total
    # the racer is marker-landed, so the NEXT fold consolidates it
    # (merge_ratio=0: the fold-everything mode — this test pins the
    # fold-set gating, not the round-14 size-tier policy)
    receipt2 = idx.compact(merge_ratio=0)
    assert receipt2["postings"]["compacted"] is True
    assert idx._partition_ids("postings") == {receipt2["generation"]}


def test_compact_skips_unlanded_delta(spark, tmp_path):
    """A delta whose insert died before its `_landed/` marker is
    invisible to the fold: its partitions are neither read nor deleted
    (they stay probe-visible), and the standard same-delta_id retry
    re-marks it for the next fold."""
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    idx.insert(docs.filter(F.col("doc_id") % 8 == 0), "ok")
    delta = docs.filter(F.col("doc_id") % 8 == 4)
    idx.insert(delta, "halfway")
    # simulate the insert having died between its writes and its marker
    idx._unmark_landed(idx.landed_path, "halfway")
    receipt = idx.compact()
    assert receipt["postings"]["compacted"] is True  # bootstrap+ok fold
    assert "halfway" in idx._partition_ids("arrays")
    assert "halfway" in idx._partition_ids("postings")
    n_half = delta.filter(F.size(F.split("text", " ", -1)) >= 3).count()
    landed_rows = (
        spark.read.parquet(idx.arrays_path)
        .filter(F.col("delta_id") == "halfway")
        .count()
    )
    assert landed_rows == n_half
    idx.insert(delta, "halfway")  # the retry re-lands marker + rows
    receipt2 = idx.compact(merge_ratio=0)
    assert receipt2["postings"]["compacted"] is True
    assert idx._partition_ids("postings") == {receipt2["generation"]}


def test_fold_crash_before_commit_rolls_back(spark, tmp_path):
    """A fold that dies before the commit manifest is rolled BACK by
    the next compact(): the gen partitions vanish, the sources were
    never touched, and the retried fold then succeeds — probe results
    identical throughout."""
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    before = _pairs(
        idx.probe_and_insert(docs.filter(F.col("doc_id") % 4 == 0), delta_id="p")
    )
    rows_before = spark.read.parquet(idx.postings_path).count()
    real_write, real_rb = idx._fold_write, idx._rollback_fold

    def boom(plan, target_bytes):
        real_write(plan, target_bytes)  # gen fully written...
        raise RuntimeError("simulated crash before commit manifest")

    idx._fold_write = boom
    idx._rollback_fold = lambda plan: None  # process death: no except path
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.compact()
    idx._fold_write, idx._rollback_fold = real_write, real_rb
    # crashed state on disk: intent manifest + gen partitions + sources
    assert idx._read_json(idx.fold_intent_path) is not None
    assert any(d.startswith("gen-") for d in idx._partition_ids("postings"))
    receipt = idx.compact()  # recovery rolls back, then folds cleanly
    assert receipt["postings"]["compacted"] is True
    # serving view: rolled back then folded — exactly the same rows
    # (the raw glob additionally parks the retired sources until a
    # later sweep, round 15)
    assert idx._read_relation("postings").count() == rows_before
    assert idx._partition_ids("postings") == {receipt["generation"]}
    after = _pairs(
        idx.probe_and_insert(docs.filter(F.col("doc_id") % 4 == 0), delta_id="p2")
    )
    assert after == before


def test_fold_crash_after_commit_rolls_forward(spark, tmp_path):
    """A fold that dies after the commit manifest (gen verified, source
    deletions unfinished — rows transiently duplicated) is rolled
    FORWARD by the next compact(): sources and markers are cleaned up,
    and every row is stored exactly once again."""
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    idx.probe_and_insert(docs.filter(F.col("doc_id") % 4 == 0), delta_id="p")
    rows_before = spark.read.parquet(idx.postings_path).count()
    real_finish = idx._fold_finish

    def dies(plan):
        raise RuntimeError("simulated crash after commit manifest")

    idx._fold_finish = dies
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.compact()
    idx._fold_finish = real_finish
    assert idx._read_json(idx.fold_commit_path) is not None
    # duplicated on disk right now: gen + unfinished sources
    assert spark.read.parquet(idx.postings_path).count() > rows_before
    receipt = idx.compact()  # recovery finishes the committed fold
    assert idx._read_relation("postings").count() == rows_before
    assert idx._read_json(idx.fold_commit_path) is None
    assert idx._read_json(idx.fold_intent_path) is None
    only = idx._partition_ids("postings")
    assert len(only) == 1 and next(iter(only)).startswith("gen-")
    assert receipt["postings"]["compacted"] is False  # nothing left to fold


def test_probe_fold_safe_after_precommit_crash_no_recovery(spark, tmp_path):
    """Round-9 contract: a probe landing AFTER a fold crashed before its
    commit manifest — and WITHOUT compact() running recovery first —
    returns exactly the pre-fold pairs. The unverified gen partition
    coexists with the intact sources on disk, but the manifest-resolved
    read view excludes the gen, so the probe never sees a duplicated
    row (previously: inflated buckets + duplicate pair rows until a
    manual compact())."""
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    idx.insert(docs.filter(F.col("doc_id") % 8 == 0), "crawl-0")
    delta = docs.filter(F.col("doc_id") % 8 == 4)
    before = _pairs(idx.probe_and_insert(delta, delta_id="pre"))
    idx.prune_pairs(["pre"])  # consume the snapshot so the fold may eat it

    real_write, real_rb = idx._fold_write, idx._rollback_fold

    def boom(plan, target_bytes):
        real_write(plan, target_bytes)  # gen fully written and verified
        raise RuntimeError("simulated crash before commit manifest")

    idx._fold_write = boom
    idx._rollback_fold = lambda plan: None  # process death: no except path
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.compact()
    idx._fold_write, idx._rollback_fold = real_write, real_rb
    # crashed state: intent manifest + gen partitions + intact sources
    assert idx._read_json(idx.fold_intent_path) is not None
    assert any(d.startswith("gen-") for d in idx._partition_ids("postings"))

    again = _pairs(idx.probe_and_insert(delta, delta_id="post-crash"))
    assert again == before, "probe saw the unverified gen's duplicate rows"


def test_probe_fold_safe_after_postcommit_crash_no_recovery(spark, tmp_path):
    """The other crash branch: the fold COMMITTED (gen verified) but
    died before deleting its sources — every folded row exists twice on
    disk. A probe without recovery reads the generation and excludes
    the dead sources via the commit manifest: pairs identical to
    pre-fold, no duplicates."""
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    idx.insert(docs.filter(F.col("doc_id") % 8 == 0), "crawl-0")
    delta = docs.filter(F.col("doc_id") % 8 == 4)
    before = _pairs(idx.probe_and_insert(delta, delta_id="pre"))
    idx.prune_pairs(["pre"])

    real_finish = idx._fold_finish

    def dies(plan):
        raise RuntimeError("simulated crash after commit manifest")

    idx._fold_finish = dies
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.compact()
    idx._fold_finish = real_finish
    assert idx._read_json(idx.fold_commit_path) is not None
    # duplicated on disk right now: verified gen + undeleted sources
    glob_rows = spark.read.parquet(idx.postings_path).count()
    view_rows = idx._read_relation("postings").count()
    assert glob_rows > view_rows, "fixture should hold duplicates on disk"

    again = _pairs(idx.probe_and_insert(delta, delta_id="post-crash"))
    assert again == before, "probe double-read folded source rows"


def test_reinsert_of_folded_delta_id_fails_fast(spark, tmp_path):
    """Once compact() folds a delta into a generation, re-landing the
    same delta_id must raise — the delta's own partitions are gone, so
    the dynamic-overwrite replace guarantee no longer holds and a retry
    would land a silent second copy beside the folded rows (round-8
    ADVICE, medium)."""
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    crawl = docs.filter(F.col("doc_id") % 8 == 0)
    idx.insert(crawl, "crawl-0")
    arrays_before = idx._read_relation("arrays").count()
    assert idx.compact()["postings"]["compacted"] is True
    with pytest.raises(RuntimeError, match="already compacted"):
        idx.insert(crawl, "crawl-0")
    with pytest.raises(RuntimeError, match="already compacted"):
        idx.probe_and_insert(crawl, delta_id="crawl-0")
    # nothing SERVES twice (the retired sources park in place for
    # reader grace until swept)
    assert idx._read_relation("arrays").count() == arrays_before
    # a FRESH id still works, and rebootstrap clears the tombstones
    idx.insert(crawl, "crawl-0-retry2")
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    idx.insert(crawl, "crawl-0")


def test_lazy_probe_delta_unfoldable_until_finalized(spark, tmp_path):
    """materialize=False defers the fold-landed marker, so a compact()
    overlapping the plan's lifetime can never EAT the unconsumed
    delta: its partitions survive the fold intact, and — since round
    15's reader grace — the overlapped plan COMPLETES with the full
    expected pairs: the fold retires its sources into the vacuum set
    instead of deleting them, so the plan's pinned file listing stays
    readable until a later maintenance call sweeps past the grace
    horizon (round-14 verdict, wrong #2; pre-grace this plan failed
    loudly on missing files). finalize_delta() remains the
    consume-side handshake that makes the delta foldable."""
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    idx.insert(docs.filter(F.col("doc_id") % 8 == 0), "crawl-0")
    delta = docs.filter(F.col("doc_id") % 8 == 4)
    expected = _pairs(idx.probe_and_insert(delta, delta_id="ref"))
    idx.prune_pairs(["ref"])

    # rebuild to the same pre-probe state, then take the lazy path
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    idx.insert(docs.filter(F.col("doc_id") % 8 == 0), "crawl-0")
    plan = idx.probe_and_insert(delta, delta_id="lazy", materialize=False)
    receipt = idx.compact()  # folds bootstrap+crawl-0, must skip "lazy"
    assert receipt["postings"]["compacted"] is True
    assert "lazy" in idx._partition_ids("postings"), "fold ate the lazy delta"
    # the in-flight plan survives the fold (reader grace): its pinned
    # listing reads the retired sources in place and the result is
    # exactly what a pre-fold materialization would have returned
    assert _pairs(plan) == expected, "overlapped plan broke mid-grace"
    assert idx._vacuum_state()["retired"], "fold did not retire sources"

    idx.finalize_delta("lazy")
    receipt2 = idx.compact(merge_ratio=0)
    assert receipt2["postings"]["compacted"] is True
    assert idx._partition_ids("postings") == {receipt2["generation"]}


def test_forget_equals_reduced_corpus_bootstrap(spark, tmp_path):
    """forget() must be RESULT-equivalent to never having indexed the
    forgotten docs: tombstone-then-probe == bootstrap-without-them-
    then-probe, exact jaccard and all (bucket caps included — the
    tombstoned docs may not keep inflating buckets toward the cap)."""
    docs = _docs(spark)
    landed = docs.filter(F.col("doc_id") % 4 != 0)
    gone = F.col("doc_id") % 16 == 1
    delta = docs.filter(F.col("doc_id") % 4 == 0)

    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(landed)
    idx.forget(docs.filter(gone).select("doc_id"), forget_id="t1")
    got = _pairs(idx.probe_and_insert(delta, delta_id="d1"))

    ref = MinHashIndex(spark, str(tmp_path / "ref"))
    ref.bootstrap(landed.filter(~gone))
    want = _pairs(ref.probe_and_insert(delta, delta_id="d1"))

    assert got == want
    assert all(
        da % 16 != 1 and db % 16 != 1 for da, db, _ in got
    ), "a forgotten doc appeared in a verified pair"


def test_forget_retry_idempotent_and_rearrival_stays_hidden(spark, tmp_path):
    """Re-landing the same forget_id replaces its tombstone partition
    (no duplicate-row side effects), and a forgotten doc that
    RE-ARRIVES in a later delta stays result-invisible — takedown
    outlives re-crawls until the store is re-bootstrapped."""
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    takedown = docs.filter(F.col("doc_id") % 16 == 1).select("doc_id")
    idx.forget(takedown, forget_id="t1")
    idx.forget(takedown, forget_id="t1")  # retry replaces, not appends
    p1 = _pairs(idx.probe_and_insert(docs.filter(F.col("doc_id") % 4 == 0), delta_id="d1"))
    # the takedown docs re-arrive as their own delta: every pair they
    # would form must stay suppressed (empty probe result)
    p2 = _pairs(idx.probe_and_insert(docs.filter(F.col("doc_id") % 16 == 1), delta_id="d2"))
    assert not p2, "re-arrived forgotten docs produced pairs"
    assert all(da % 16 != 1 and db % 16 != 1 for da, db, _ in p1)
    # bootstrap clears tombstones: a fresh store on the same base path
    # serves the full corpus again
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    p3 = _pairs(idx.probe_and_insert(docs.filter(F.col("doc_id") % 4 == 0), delta_id="d3"))
    inc = _pairs(dedup_minhash_incremental(spark, SF_DIR))
    assert p3 == inc


def test_compact_purge_forgotten_erases_bytes(spark, tmp_path):
    """compact(purge_forgotten=True) upgrades result-level erasure to
    BYTE-level: after the purge fold, no tombstoned doc_id remains in
    any relation's files (pairs rows touching one on either side
    included), the tombstone partitions are cleared, and a fresh probe
    still returns exactly the reduced-corpus result."""
    docs = _docs(spark)
    landed = docs.filter(F.col("doc_id") % 4 != 0)
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    gone = F.col("doc_id") % 16 == 1

    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(landed)
    # a pre-forget probe lands pairs/ rows that may TOUCH the takedown
    # docs — the purge must scrub those snapshots too
    idx.probe_and_insert(delta, delta_id="d1")
    idx.forget(docs.filter(gone).select("doc_id"), forget_id="t1")
    want = _pairs(idx.probe_and_insert(delta, delta_id="d2"))

    receipt = idx.compact(purge_forgotten=True)
    assert receipt["postings"]["compacted"]

    assert idx._deleted_docs()[0] is None, "tombstones not cleared"
    arrs = spark.read.parquet(idx.arrays_path)
    assert arrs.filter(F.col("doc_id") % 16 == 1).count() == 0
    posts = spark.read.parquet(idx.postings_path)
    assert posts.filter(F.col("doc_id") % 16 == 1).count() == 0
    pairs = spark.read.parquet(idx.pairs_path)
    assert (
        pairs.filter((F.col("da") % 16 == 1) | (F.col("db") % 16 == 1)).count()
        == 0
    )
    # the read view is unchanged by the purge: same reduced-corpus
    # pairs from a fresh probe of the same delta content
    got = _pairs(idx.probe_and_insert(delta, delta_id="d3"))
    assert got == want

def test_purge_deferred_while_unmarked_partition_exists(spark, tmp_path):
    """Round-10 ADVICE (high), sequential repro: a materialize=False
    probe's delta is probe-visible but unmarked (finalize_delta not yet
    called). A purge fold cannot rewrite it, so clearing the tombstones
    would let the forgotten docs' surviving rows re-enter results.
    Contract: the purge DEFERS — tombstones stay active (receipt says
    so), the next probe still excludes the docs — and once the delta is
    finalized, a second purge clears them for real."""
    docs = _docs(spark)
    landed = docs.filter(F.col("doc_id") % 4 != 0)
    gone = F.col("doc_id") % 16 == 1
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(landed)
    # lazy probe over a delta CONTAINING takedown docs; consumed, but
    # deliberately not finalized yet
    lazy = idx.probe_and_insert(
        docs.filter(F.col("doc_id") % 8 == 1), delta_id="lazy", materialize=False
    )
    lazy.count()
    idx.forget(docs.filter(gone).select("doc_id"), forget_id="t1")

    receipt = idx.compact(purge_forgotten=True)
    assert "lazy" in receipt["purge_deferred"], receipt
    assert idx._deleted_docs()[0] is not None, (
        "tombstones were cleared while an unmarked partition held "
        "forgotten docs' rows"
    )
    # the unfoldable delta's bytes still hold the docs — result level
    # must keep masking them
    p = _pairs(idx.probe_and_insert(docs.filter(F.col("doc_id") % 4 == 0), "d1"))
    assert all(da % 16 != 1 and db % 16 != 1 for da, db, _ in p)

    idx.finalize_delta("lazy")
    receipt2 = idx.compact(purge_forgotten=True)
    assert receipt2["purge_deferred"] == []
    assert idx._deleted_docs()[0] is None, "clean purge did not clear"
    for rel, path in (("arrays", idx.arrays_path), ("postings", idx.postings_path)):
        left = spark.read.parquet(path).filter(F.col("doc_id") % 16 == 1).count()
        assert left == 0, f"{rel} kept {left} forgotten rows after clean purge"


def test_late_forget_survives_purge_fold(spark, tmp_path):
    """Round-10 verdict item 6: a forget() re-landing (extending) a
    PLANNED forget_id between the fold's tombstone snapshot and its
    finish step keeps its partition (content fingerprint changed), so
    the late takedown still masks reads and is byte-erased by the NEXT
    purge — no silent un-forgetting under the forget/compact race."""
    docs = _docs(spark)
    landed = docs.filter(F.col("doc_id") % 4 != 0)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(landed)
    idx.forget(docs.filter(F.col("doc_id") % 16 == 1).select("doc_id"), "t1")

    other = MinHashIndex(spark, str(tmp_path / "idx"))
    real_write = idx._fold_write

    def write_then_late_forget(plan, target_bytes):
        out = real_write(plan, target_bytes)
        # mid-fold, after the purge filter snapshot: the takedown for
        # t1 is EXTENDED to a second slice via another writer
        other.forget(
            docs.filter(
                (F.col("doc_id") % 16 == 1) | (F.col("doc_id") % 16 == 3)
            ).select("doc_id"),
            "t1",
        )
        return out

    idx._fold_write = write_then_late_forget
    receipt = idx.compact(purge_forgotten=True)
    idx._fold_write = real_write
    assert receipt["purge_deferred"] == []

    # the re-landed tombstones survived the fold's clearing step
    deleted = idx._deleted_docs()[0]
    assert deleted is not None, "late forget was silently un-forgotten"
    got = {r.doc_id for r in deleted.collect()}
    assert got == {
        r.doc_id
        for r in docs.filter(
            (F.col("doc_id") % 16 == 1) | (F.col("doc_id") % 16 == 3)
        ).select("doc_id").distinct().collect()
    }
    # and they mask reads: no pair touches either slice
    p = _pairs(idx.probe_and_insert(docs.filter(F.col("doc_id") % 4 == 0), "d1"))
    assert all(
        da % 16 not in (1, 3) and db % 16 not in (1, 3) for da, db, _ in p
    )
    # the NEXT purge erases both slices' bytes and clears the tombstones
    receipt2 = idx.compact(purge_forgotten=True)
    assert receipt2["purge_deferred"] == []
    assert idx._deleted_docs()[0] is None
    left = (
        spark.read.parquet(idx.arrays_path)
        .filter((F.col("doc_id") % 16 == 1) | (F.col("doc_id") % 16 == 3))
        .count()
    )
    assert left == 0


def test_late_forget_survives_purge_fold_crash_branches(spark, tmp_path):
    """The same race pinned through BOTH crash branches: the fold dies
    (a) before its commit manifest and (b) after it, a forget re-lands
    the planned forget_id in the window, and after recovery the late
    tombstones are still active in both worlds."""
    docs = _docs(spark)
    extended = docs.filter(
        (F.col("doc_id") % 16 == 1) | (F.col("doc_id") % 16 == 3)
    ).select("doc_id")
    want = {r.doc_id for r in extended.distinct().collect()}

    for branch in ("precommit", "postcommit"):
        base = str(tmp_path / branch)
        idx = MinHashIndex(spark, base)
        idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
        idx.forget(
            docs.filter(F.col("doc_id") % 16 == 1).select("doc_id"), "t1"
        )
        other = MinHashIndex(spark, base)
        real_write, real_finish = idx._fold_write, idx._fold_finish
        real_rb = idx._rollback_fold

        if branch == "precommit":

            def boom(plan, target_bytes, _rw=real_write, _o=other):
                _rw(plan, target_bytes)
                _o.forget(extended, "t1")  # lands inside the window
                raise RuntimeError("simulated crash before commit")

            idx._fold_write = boom
            idx._rollback_fold = lambda plan: None  # process death
        else:

            def dies(plan, _o=other):
                _o.forget(extended, "t1")  # lands inside the window
                raise RuntimeError("simulated crash after commit")

            idx._fold_finish = dies
        with pytest.raises(RuntimeError, match="simulated crash"):
            idx.compact(purge_forgotten=True)
        idx._fold_write, idx._fold_finish = real_write, real_finish
        idx._rollback_fold = real_rb

        # recovery (rollback or roll-forward) runs inside this compact;
        # the late tombstones must survive it in both branches
        idx.compact()
        survivor = MinHashIndex(spark, base)
        deleted = survivor._deleted_docs()[0]
        assert deleted is not None, f"{branch}: late forget lost in recovery"
        assert {r.doc_id for r in deleted.collect()} == want, branch
        p = _pairs(
            survivor.probe_and_insert(
                docs.filter(F.col("doc_id") % 4 == 0), "d1"
            )
        )
        assert all(
            da % 16 not in (1, 3) and db % 16 not in (1, 3) for da, db, _ in p
        ), branch


def test_tombstone_listing_cached_per_instance(spark, tmp_path):
    """The tombstone-presence listing runs ONCE per index instance and
    is reused across probes (on an object store it is a hot-path LIST
    round-trip); forget() invalidates it so new takedowns are seen
    immediately (round-10 verdict, wrong #2)."""
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    idx.forget(docs.filter(F.col("doc_id") % 16 == 1).select("doc_id"), "t1")
    assert idx._deleted_listings == 0
    for i in range(3):
        idx.probe_and_insert(
            docs.filter(F.col("doc_id") % 8 == 0), delta_id="p"
        ).count()
    assert idx._deleted_listings == 1, "probe re-listed cached tombstones"
    idx.forget(docs.filter(F.col("doc_id") % 16 == 3).select("doc_id"), "t2")
    p = _pairs(idx.probe_and_insert(docs.filter(F.col("doc_id") % 8 == 4), "p2"))
    assert idx._deleted_listings == 2, "forget() did not invalidate the cache"
    assert all(da % 16 not in (1, 3) and db % 16 not in (1, 3) for da, db, _ in p)


def test_forget_casts_doc_id_type_and_rejects_lossy(spark, tmp_path):
    """forget() casts the takedown list to the index's pinned doc_id
    type (a numeric-string list against a long-keyed store works) and
    fails LOUDLY when the cast nulls an id — the alternative is a
    tombstone partition every later probe read chokes on (round-10
    ADVICE, low #1)."""
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    str_ids = (
        docs.filter(F.col("doc_id") % 16 == 1)
        .select(F.col("doc_id").cast("string").alias("doc_id"))
    )
    idx.forget(str_ids, forget_id="t1")  # faithful cast: accepted
    p = _pairs(idx.probe_and_insert(docs.filter(F.col("doc_id") % 4 == 0), "d1"))
    assert all(da % 16 != 1 and db % 16 != 1 for da, db, _ in p)
    bad = spark.createDataFrame([("not-a-number",)], ["doc_id"])
    with pytest.raises(TypeError, match="cast losslessly"):
        idx.forget(bad, forget_id="t2")


def test_full_purge_empties_store_and_serves_new_deltas(spark, tmp_path):
    """Forgetting EVERY landed doc and purging leaves a store whose
    relations read back EMPTY (pinned-schema reads — previously an
    unable-to-infer-schema error) with no phantom gen marker, and the
    store keeps working: a new delta lands and probes cleanly against
    the emptied index (round-10 ADVICE, low #2)."""
    docs = _docs(spark)
    landed = docs.filter(F.col("doc_id") % 4 != 0)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(landed)
    idx.forget(landed.select("doc_id"), forget_id="all")
    receipt = idx.compact(purge_forgotten=True)
    assert receipt["purge_deferred"] == []
    assert receipt["arrays"]["rows"] == 0
    assert idx._read_relation("arrays").count() == 0
    assert idx._read_relation("postings").count() == 0
    assert not any(
        d.startswith("gen-") for d in idx._landed_ids(idx.landed_path)
    ), "an empty (never-written) generation was marked landed"
    # the emptied store still serves: the delta pairs equal a
    # fresh-store run over the delta alone
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    got = _pairs(idx.probe_and_insert(delta, delta_id="d1"))
    ref = MinHashIndex(spark, str(tmp_path / "ref"))
    ref.bootstrap(docs.filter(F.lit(False)))
    want = _pairs(ref.probe_and_insert(delta, delta_id="d1"))
    assert got == want


def test_cross_instance_forget_lands_in_compact_purge(spark, tmp_path):
    """A forget() landed by ANOTHER instance after this instance's
    tombstone cache was populated (any probe populates it) must still
    be byte-erased by this instance's compact(purge_forgotten=True) —
    the cache is re-listed under the WriterLease (round-11 ADVICE,
    high). Pre-fix, _fold_write filtered rows through the stale cached
    set while _fold_plan fingerprinted tombstones from a FRESH listing,
    so the forgotten docs' rows survived the rewrite AND their
    tombstones were cleared: they fully served again, with a receipt
    claiming a completed purge."""
    docs = _docs(spark)
    landed = docs.filter(F.col("doc_id") % 4 != 0)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(landed)
    # populate THIS instance's cache (a probe does this in production)
    idx.probe_and_insert(docs.filter(F.col("doc_id") % 4 == 0), "d1")
    assert idx._deleted_listings == 1, "probe did not populate the cache"
    # the takedown arrives through a different process/instance
    other = MinHashIndex(spark, idx.base_path)
    other.forget(docs.filter(F.col("doc_id") % 16 == 1).select("doc_id"), "t1")

    idx.compact(purge_forgotten=True)

    arrs = spark.read.schema(idx._rel_schema("arrays")).parquet(idx.arrays_path)
    assert arrs.filter(F.col("doc_id") % 16 == 1).count() == 0, (
        "stale tombstone cache: cross-instance forget's rows survived"
    )
    posts = spark.read.schema(idx._rel_schema("postings")).parquet(
        idx.postings_path
    )
    assert posts.filter(F.col("doc_id") % 16 == 1).count() == 0
    assert idx._deleted_docs()[0] is None, "tombstones not cleared"
    # and the docs stay gone from a fresh probe
    p = idx.probe_and_insert(docs.filter(F.col("doc_id") % 4 == 0), "d2")
    assert p.filter((F.col("da") % 16 == 1) | (F.col("db") % 16 == 1)).count() == 0


def test_pairs_time_travel_history_and_tombstones(spark, tmp_path):
    """The pairs write log (round-11 next #3): history() orders
    committed snapshots; pairs_as_of(seq) reproduces the probe output
    as of that delivery; CURRENT tombstones mask historical reads; an
    as_of before the log raises; compact() collapses history into the
    generation (VACUUM — the pre-fold seq fails loudly, the gen's seq
    serves the union)."""
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    p1 = _pairs(idx.probe_and_insert(docs.filter(F.col("doc_id") % 8 == 0), "d1"))
    p2 = _pairs(idx.probe_and_insert(docs.filter(F.col("doc_id") % 8 == 4), "d2"))
    assert p1 and p2
    hist = idx.history()
    assert [d for _, d in hist] == ["d1", "d2"]
    s1, s2 = hist[0][0], hist[1][0]
    assert _pairs(idx.pairs_as_of(s1)) == p1
    assert _pairs(idx.pairs_as_of(s2)) == p1 | p2

    # a takedown lands NOW: no historical read may resurface its pairs
    idx.forget(docs.filter(F.col("doc_id") % 16 == 8).select("doc_id"), "t1")
    want1 = {
        (da, db, j) for da, db, j in p1 if da % 16 != 8 and db % 16 != 8
    }
    assert want1 != p1, "fixture: the takedown slice must touch d1 pairs"
    assert _pairs(idx.pairs_as_of(s1)) == want1

    with pytest.raises(ValueError, match="predates"):
        idx.pairs_as_of(s1 - 1)

    # retried probe replaces its snapshot under a FRESH (later) seq
    idx.probe_and_insert(docs.filter(F.col("doc_id") % 8 == 0), "d1")
    assert [d for _, d in idx.history()] == ["d2", "d1"]

    # compact folds both snapshots into one generation
    idx.compact()
    hist = idx.history()
    assert len(hist) == 1 and hist[0][1].startswith("gen-")
    with pytest.raises(ValueError, match="folded"):
        idx.pairs_as_of(s1)
    masked_union = {
        (da, db, j)
        for da, db, j in p1 | p2
        if da % 16 != 8 and db % 16 != 8
    }
    assert _pairs(idx.pairs_as_of(hist[0][0])) == masked_union


def test_pairs_as_of_refuses_pending_fold(spark, tmp_path):
    """Round-12 self-review (medium): with a fold manifest pending (a
    crashed compact() not yet recovered) the pairs glob may see
    partially deleted sources — the audit read must refuse and point
    at recovery instead of silently returning a partial history."""
    docs = _docs(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    idx.probe_and_insert(docs.filter(F.col("doc_id") % 8 == 0), "d1")
    s1 = idx.history()[-1][0]
    assert idx.pairs_as_of(s1).count() >= 0  # clean state reads fine

    idx._write_json(
        idx.fold_intent_path,
        {"gen": "gen-dead", "folded": {"postings": [], "arrays": [], "pairs": []}},
    )
    with pytest.raises(RuntimeError, match="fold manifest is pending"):
        idx.pairs_as_of(s1)
    # recovery (the next compact rolls the intent back) restores reads
    idx.compact()
    assert idx.pairs_as_of(idx.history()[-1][0]).count() >= 0
