"""Physical-plan regression tests: pin the plan properties each
headline query depends on at scale (pushdown, pruning, broadcast,
shuffle budget). A change that breaks one of these would still be
*correct* at test scale — and unusable at 100 TB."""

from __future__ import annotations

import pytest

from chchfr_data_collection_spark.plans.audit import (
    assert_broadcast_not_shuffle_join,
    assert_max_shuffles,
    assert_pushed_filter,
    assert_read_columns,
    count_nodes,
)
from chchfr_data_collection_spark.queries import catalog


@pytest.fixture(scope="module")
def cat():
    return catalog()


def test_q6_pushdown_and_pruning(spark, sf_small, cat):
    df = cat["q6_forecast_revenue"].fn(spark, sf_small)
    assert_pushed_filter(df, "lineitem", "l_shipdate")
    assert_pushed_filter(df, "lineitem", "l_discount")
    assert_read_columns(
        df,
        "lineitem",
        {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"},
    )


def test_q5_all_dimension_joins_broadcast(spark, sf_small, cat):
    df = cat["q5_region_revenue"].fn(spark, sf_small)
    assert_broadcast_not_shuffle_join(df)
    assert_pushed_filter(df, "region", "r_name")
    # fact scan prunes to join keys + measures
    assert_read_columns(
        df, "lineitem", {"l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"}
    )
    # one shuffle for the final aggregation, one AQE/sort output exchange max
    assert_max_shuffles(df, 2)


def test_ingest_antijoin_is_broadcast(spark, sf_small, cat):
    df = cat["stations_ingest_antijoin"].fn(spark, sf_small)
    assert count_nodes(df, "BroadcastHashJoin") >= 1
    assert count_nodes(df, "SortMergeJoin") == 0


def test_fuel_price_crossjoin_broadcasts_four_rows(spark, sf_small, cat):
    df = cat["fuel_price_crossjoin"].fn(spark, sf_small)
    assert count_nodes(df, "BroadcastNestedLoopJoin") == 1
    assert count_nodes(df, "CartesianProduct") == 0
    # map-only: no shuffle exchange at all
    assert_max_shuffles(df, 0)


def test_q9_single_fact_shuffle(spark, sf_small, cat):
    df = cat["q9_profit_by_nation_year"].fn(spark, sf_small)
    # dims broadcast; shuffles: orders⋈lineitem + final agg (+ AQE slack)
    assert count_nodes(df, "SortMergeJoin") + count_nodes(df, "ShuffledHashJoin") <= 1
    assert_read_columns(df, "supplier", {"s_suppkey", "s_nationkey"})
    assert_read_columns(df, "orders", {"o_orderkey", "o_orderdate"})


def test_point_lookup_pushes_key(spark, sf_small, cat):
    df = cat["point_lookup_order"].fn(spark, sf_small)
    assert_pushed_filter(df, "orders", "o_orderkey")


def test_scan_filter_project_pruned(spark, sf_small, cat):
    df = cat["scan_filter_project"].fn(spark, sf_small)
    scans_cols = {
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    }
    # must NOT read the full lineitem schema
    df_cols = set(df.columns)
    assert df_cols < scans_cols
    assert_read_columns(df, "lineitem", df_cols | {"l_shipdate", "l_quantity"})

def test_q13_outer_join_keeps_residual_condition(spark, sf_small, cat):
    df = cat["q13_customer_order_distribution"].fn(spark, sf_small)
    # customer side scans only the key; orders prunes to 3 columns
    assert_read_columns(df, "customer", {"c_custkey"})
    assert_read_columns(df, "orders", {"o_custkey", "o_orderkey", "o_orderpriority"})


def test_q22_anti_join_broadcasts(spark, sf_small, cat):
    df = cat["q22_dormant_customers"].fn(spark, sf_small)
    assert count_nodes(df, "SortMergeJoin") == 0
    assert_pushed_filter(df, "orders", "o_orderpriority")
    assert_read_columns(df, "orders", {"o_custkey", "o_orderpriority"})


def test_q14_month_filter_pushed(spark, sf_small, cat):
    df = cat["q14_promo_revenue"].fn(spark, sf_small)
    assert_pushed_filter(df, "lineitem", "l_shipdate")
    assert_read_columns(
        df, "lineitem", {"l_partkey", "l_extendedprice", "l_discount", "l_shipdate"}
    )
    assert_broadcast_not_shuffle_join(df)


def test_salted_join_no_straggler_shape(spark, sf_small, cat):
    """Salted join: lineitem scans only the join key + measure, and the
    plan contains no cartesian product (the replicate side is a proper
    explode, not a cross join)."""
    df = cat["salted_join_lineitem"].fn(spark, sf_small)
    assert_read_columns(df, "lineitem", {"l_orderkey", "l_extendedprice"})
    assert count_nodes(df, "CartesianProduct") == 0


def test_ngram_jaccard_single_fullrow_shuffle(spark, sf_small, cat):
    """The exploded token set crosses the wire ONCE (the s-window whose
    cached partitioning the bucket groupBy reuses); every other exchange
    carries candidate-pair- or per-doc-aggregate-sized data, never the
    full token relation. Contract: ≤6 exchanges total (scan-repartition,
    s-window, pair agg, ns agg, 2 candidate joins), no cartesian."""
    df = cat["dedup_ngram_jaccard"].fn(spark, sf_small)
    assert_max_shuffles(df, 6)
    assert count_nodes(df, "CartesianProduct") == 0


def test_lsh_ann_no_cartesian(spark, sf_small, cat):
    """Sign-LSH: the candidate stage is an equi-join on (table, bucket),
    never a cartesian product, and embeddings scans prune to id+vector."""
    df = cat["similarity_lsh_ann"].fn(spark, sf_small)
    assert count_nodes(df, "CartesianProduct") == 0
    assert_read_columns(df, "embeddings", {"vec_id", "embedding"})


def test_lsh_multiprobe_no_cartesian(spark, sf_small, cat):
    """Multiprobe keeps the equi-join candidate shape: (H+1)× probe rows,
    never a cartesian, and the embeddings scan still prunes columns."""
    df = cat["similarity_lsh_multiprobe"].fn(spark, sf_small)
    assert count_nodes(df, "CartesianProduct") == 0
    assert_read_columns(df, "embeddings", {"vec_id", "embedding"})


def test_ivf_pruned_probe_dynamic_partition_pruning(spark, sf_small, cat):
    """The serving probe must read the cent_id-partitioned index with a
    DYNAMIC partition-pruning filter derived from the broadcast probe
    side — the scan shrinks by directory, which is the whole point of
    the landed IVF layout at scale."""
    df = cat["similarity_ivf_pruned_probe"].fn(spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert count_nodes(df, "CartesianProduct") == 0


def test_scd2_fold_broadcasts_batch(spark, sf_small, cat):
    """SCD2: the change batch is dimension-sized; every join in the fold
    must broadcast it rather than shuffle the dimension."""
    df = cat["scd2_dimension_fold"].fn(spark, sf_small)
    assert count_nodes(df, "SortMergeJoin") == 0
    assert count_nodes(df, "CartesianProduct") == 0


def test_oracle_twins_bounded_by_construction(spark, sf_small, cat):
    """The two deliberately-quadratic oracle twins must carry their
    vec_id sample bound INTO the parquet scan (pushed filter on both
    sides), so a corpus-wide all-pairs run is not expressible through
    the catalog (VERDICT r2 item 3)."""
    from chchfr_data_collection_spark.queries.llm import (
        dedup_embedding_cosine,
        similarity_threshold_pairs,
    )

    for name in ("similarity_threshold_pairs", "dedup_embedding_cosine"):
        df = cat[name].fn(spark, sf_small)
        assert_pushed_filter(df, "embeddings", "vec_id")
    # and an unbounded invocation must be impossible to express
    for fn in (similarity_threshold_pairs, dedup_embedding_cosine):
        with pytest.raises(ValueError):
            fn(spark, sf_small, sample_n=None)
        with pytest.raises(ValueError):
            fn(spark, sf_small, sample_n=0)


def test_bpe_pairs_single_shuffle_pruned(spark, sf_small, cat):
    """BPE pair counting: documents scan prunes to the text column, the
    pair groupBy is the only aggregation shuffle (plus the global top-50
    sort exchange), and the symbol kernel stays JVM-side (no Python)."""
    df = cat["bpe_pair_merge_candidates"].fn(spark, sf_small)
    assert_read_columns(df, "documents", {"text"})
    # repartition (parallelize_scan) + groupBy + global sort = 3 max
    assert_max_shuffles(df, 3)
    assert count_nodes(df, "BatchEvalPython") == 0
    assert count_nodes(df, "ArrowEvalPython") == 0


def test_multimodal_real_kernels_scan_shape(spark, sf_small, cat):
    """Real-codec kernels: documents scan prunes to doc_id only, and the
    whole decode stage is one Arrow python stage over the scan — no
    joins, no aggregation shuffle (map-only at any scale)."""
    for name in ("multimodal_decode_real", "multimodal_audio_real"):
        df = cat[name].fn(spark, sf_small)
        assert_read_columns(df, "documents", {"doc_id"})
        assert count_nodes(df, "SortMergeJoin") == 0
        assert count_nodes(df, "BroadcastHashJoin") == 0
        # parallelize_scan's repartition is the only allowed exchange
        assert_max_shuffles(df, 1)


def test_quality_gate_no_global_sort_no_smj(spark, sf_small, cat):
    """The exact-quantile gate must not global-sort the corpus: the
    threshold rides a tiny histogram and broadcasts back — no
    sort-merge join, no cartesian (the 1-row threshold joins as a
    broadcast nested loop)."""
    df = cat["quality_percentile_gate"].fn(spark, sf_small)
    assert count_nodes(df, "SortMergeJoin") == 0
    assert count_nodes(df, "CartesianProduct") == 0


def test_rfm_thresholds_broadcast(spark, sf_small, cat):
    """All three RFM threshold relations broadcast back onto the
    customer aggregates — no sort-merge join, no cartesian."""
    df = cat["customer_rfm_segmentation"].fn(spark, sf_small)
    assert count_nodes(df, "SortMergeJoin") == 0
    assert count_nodes(df, "CartesianProduct") == 0


def test_r6_incremental_and_sketch_plans_bounded(spark, sf_small, cat):
    """Round-6 entries must keep their pair joins bucketed — no
    cartesian anywhere, and the sketch/projection stays map-only."""
    # multiprobe SemDeDup + its delta restriction: cell equi-joins only
    for name in ("dedup_semantic_multiprobe", "dedup_semantic_incremental"):
        df = cat[name].fn(spark, sf_small)
        assert count_nodes(df, "CartesianProduct") == 0, name
    # JL sketch: one scan, zero joins, and no shuffle DEMANDED by the
    # computation (the only allowed Exchange is parallelize_scan's
    # round-robin — a local-mode fan-out that is a structural no-op on
    # a real cluster scan)
    df = cat["embedding_random_projection"].fn(spark, sf_small)
    assert count_nodes(df, "CartesianProduct") == 0
    assert count_nodes(df, "SortMergeJoin") == 0
    from chchfr_data_collection_spark.plans.audit import formatted_plan

    assert "ENSURE_REQUIREMENTS" not in formatted_plan(df), (
        "JL sketch must not demand a shuffle"
    )
    # containment shares the capped posting-list plan: no cartesian
    df = cat["dedup_containment_pairs"].fn(spark, sf_small)
    assert count_nodes(df, "CartesianProduct") == 0
    # scaled LSH: bucket equi-join + broadcast 1-row mask, no cartesian
    # beyond the 1-row broadcast nested loop for the mask
    df = cat["similarity_lsh_scaled"].fn(spark, sf_small)
    assert count_nodes(df, "CartesianProduct") == 0
    assert count_nodes(df, "SortMergeJoin") == 0


def test_minhash_incremental_probe_shape(spark, sf_small, tmp_path):
    """The persisted-index probe must be delta-bounded: touched band
    keys BROADCAST into the postings join (never a corpus-wide
    shuffle of the index), and no cartesian appears anywhere."""
    from pyspark.sql import functions as F

    from chchfr_data_collection_spark.operators.minhash_index import MinHashIndex

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.bootstrap(docs.filter(F.col("doc_id") % 4 != 0))
    probe = idx.probe_and_insert(
        docs.filter(F.col("doc_id") % 4 == 0), materialize=False
    )
    assert count_nodes(probe, "CartesianProduct") == 0
    assert count_nodes(probe, "BroadcastHashJoin") >= 1


def test_r8_perf_fix_plan_shapes(spark, sf_small, cat):
    """Pin the two round-8 perf fixes so they can't silently revert
    (each was a 30-100x sf0.1 regression found by the first
    full-catalog sweep):

    - dedup_simhash_levenshtein: the BANDED threshold form of
      levenshtein (`Some(40)` in the expression — O(len x 40), not
      O(len^2)), the length-band prefilter, a broadcast for the
      bucket-cap keep-list, and no cartesian.
    - agg_approx_distinct: the exact-distinct aggregation must NOT
      plan through Expand in the same subtree as the percentile —
      with the split-and-join shape there is no Expand node at all,
      and the percentile lives in its own ObjectHashAggregate."""
    from chchfr_data_collection_spark.plans.audit import formatted_plan

    df = cat["dedup_simhash_levenshtein"].fn(spark, sf_small)
    plan = formatted_plan(df)
    assert "levenshtein" in plan and "Some(40)" in plan, (
        "banded threshold levenshtein regressed to the full DP"
    )
    assert "abs((length(" in plan, "length-band prefilter missing"
    assert count_nodes(df, "CartesianProduct") == 0
    assert count_nodes(df, "BroadcastHashJoin") >= 1

    df = cat["agg_approx_distinct"].fn(spark, sf_small)
    plan = formatted_plan(df)
    assert count_nodes(df, "Expand") == 0, (
        "distinct agg re-joined percentile partials through Expand"
    )
    assert "percentile" in plan


def test_filtered_search_pushdown_shapes(spark, sf_small, cat):
    """Filtered vector search: the metadata predicate is applied
    DIRECTLY ABOVE the allowed side's parquet scan — before any
    bucket/pair work — in both the exact top-k and the LSH path, and
    the LSH path's candidate stage stays an equi-join, never a
    cartesian. `label % 3 = 0` is not a footer-pushable comparison, so
    the scan's PushedFilters carries only the derived IsNotNull(label)
    (pinned exactly, so this test can't be satisfied by an unrelated
    label filter); the modulo itself is pinned as a Filter node in the
    plan. At 100 TB the filter-before-pair-work placement is what
    shrinks bucket work and pair volume by the selectivity."""
    from chchfr_data_collection_spark.plans.audit import formatted_plan

    for name in ("similarity_filtered_topk", "similarity_filtered_ann"):
        df = cat[name].fn(spark, sf_small)
        assert_pushed_filter(df, "embeddings", "label")
        plan = formatted_plan(df)
        assert "% 3) = 0" in plan, (
            f"{name}: modulo predicate not in any Filter node\n{plan}"
        )
        assert count_nodes(df, "CartesianProduct") == 0


def test_filtered_ivf_shapes(spark, sf_small, cat):
    """Filtered IVF: allowed-side predicate applied before cell
    assignment (modulo Filter above the scan, IsNotNull pushed into
    it), probe metadata broadcast, inverted-list probe an equi-join —
    never a cartesian (the 8-row centroid cross joins broadcast as
    BNLJ, which is the designed shape)."""
    from chchfr_data_collection_spark.plans.audit import formatted_plan

    df = cat["similarity_filtered_ivf"].fn(spark, sf_small)
    assert_pushed_filter(df, "embeddings", "label")
    plan = formatted_plan(df)
    assert "% 3) = 0" in plan
    assert count_nodes(df, "CartesianProduct") == 0
    assert count_nodes(df, "BroadcastHashJoin") >= 1  # probe ⋈ lists


def test_cc_incremental_contraction_plan_shape(spark, sf_small, cat):
    """Incremental CC's contraction joins (delta pairs through the
    cached landed labels, then the relabel/fresh split) must stay
    hash/broadcast equi-joins — a cartesian anywhere in the maintenance
    path would scale with corpus × delta instead of delta."""
    df = cat["dedup_cc_incremental"].fn(spark, sf_small)
    assert count_nodes(df, "CartesianProduct") == 0
    assert count_nodes(df, "BroadcastNestedLoopJoin") == 0


def test_twin_cache_does_not_contaminate_entry_plans(spark, sf_small, cat):
    """The session-shared recall-audit twin (_twin_pairs_cached) is
    persisted; Spark's CacheManager substitutes cached relations into
    ANY query whose plan contains a canonically-equal subtree. The
    cached twin carries a no-op guard filter precisely so the catalog
    twins' own pinned plans (pushed vec_id bound on a real parquet
    scan) stay intact while the cache is hot — pin that, with the
    cache deliberately hot and materialized."""
    from chchfr_data_collection_spark.queries.llm import _twin_pairs_cached

    _twin_pairs_cached(spark, sf_small).count()
    for name in ("similarity_threshold_pairs", "dedup_embedding_cosine"):
        df = cat[name].fn(spark, sf_small)
        assert_pushed_filter(df, "embeddings", "vec_id")


def test_r11_store_plan_shapes(spark, sf_small, cat, tmp_path):
    """Round-11 persisted-store shapes:

    - similarity_ivf_forget_probe: the probe is broadcast-driven end to
      end — the tombstone anti-join, the query-cell join, and the query
      vector fetch all broadcast; no cartesian anywhere.
    - ComponentStore.apply_pairs: the landed PATCH plan (captured just
      before the write) is map-only — exactly one join, the
      BroadcastHashJoin that relabels touched components over the
      assignment scan, beside the driver-built first-seen rows; no
      shuffle Exchange and no cartesian. The corpus assignment is never
      re-resolved corpus-wide inside apply: the only groupBy over it is
      the endpoint-restricted (semi-joined) resolve, which runs before
      the patch is built."""
    from pyspark.sql import functions as F

    from chchfr_data_collection_spark.operators.component_store import (
        ComponentStore,
    )

    df = cat["similarity_ivf_forget_probe"].fn(spark, sf_small)
    assert count_nodes(df, "CartesianProduct") == 0
    assert count_nodes(df, "BroadcastHashJoin") >= 3

    store = ComponentStore(spark, str(tmp_path / "cs"))
    store.bootstrap(
        spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6), (10, 11)], "da: bigint, db: bigint"
        )
    )
    captured = {}
    real_land = store._land_patch

    def capture(patch, delta_id):
        captured["patch"] = patch
        return real_land(patch, delta_id)

    store._land_patch = capture
    store.apply_pairs(
        spark.createDataFrame([(3, 4), (6, 10)], "da: bigint, db: bigint"),
        "d1",
    )
    patch = captured["patch"]
    assert count_nodes(patch, "CartesianProduct") == 0
    joins = sum(
        count_nodes(patch, j)
        for j in (
            "BroadcastHashJoin",
            "BroadcastNestedLoopJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
        )
    )
    assert joins == 1 and count_nodes(patch, "BroadcastHashJoin") == 1, (
        "the patch's only join must be the broadcast relabel"
    )
    assert count_nodes(patch, "Exchange") == 0, "the patch plan shuffles"


def _written_patch(spark, tmp_path, name, delta):
    """Bootstrap a small store, apply `delta`, and return the frame
    `_land_patch` handed to the parquet writer."""
    from chchfr_data_collection_spark.operators.component_store import (
        ComponentStore,
    )

    store = ComponentStore(spark, str(tmp_path / name))
    store.bootstrap(
        spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6), (10, 11)], "da: bigint, db: bigint"
        )
    )
    written = []
    real_land = store._land_patch

    def capture(patch, delta_id):
        cls = type(patch)
        real_write = cls.write
        cls.write = property(lambda df: written.append(df) or real_write.fget(df))
        try:
            return real_land(patch, delta_id)
        finally:
            cls.write = real_write

    store._land_patch = capture
    store.apply_pairs(
        spark.createDataFrame(delta, "da: bigint, db: bigint"), "d1"
    )
    assert len(written) == 1
    return written[0]


def test_patch_rebalance_gate_fires_on_wide_scan(spark, tmp_path):
    """The keyless rebalance on the patch write is gated on how many
    file splits the relabel scan spans, read from plan statistics: a
    store whose assignment scan spans more splits than
    defaultParallelism rebalances; a store that fits in one split
    writes as-is."""

    def rebalanced(df):
        return "RebalancePartitions" in df._jdf.queryExecution().analyzed().toString()

    delta = [(3, 4), (6, 10)]
    assert not rebalanced(_written_patch(spark, tmp_path, "narrow", delta))

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    # about 4 splits per core over the ~1 KB bootstrap files
    split = max(1, 1024 // (4 * spark.sparkContext.defaultParallelism))
    try:
        spark.conf.set(key, str(split))
        assert rebalanced(_written_patch(spark, tmp_path, "wide", delta))
    finally:
        spark.conf.set(key, old)
