"""Regenerate PLANS.md: the formatted physical plan of each showcase
query at sf0.01, so the pushdown/broadcast/shuffle claims in SCALE.md
are inspectable without running Spark.

Usage:
  python scripts/dump_plans.py
      writes PLANS.md at the repo root
  python scripts/dump_plans.py --entries NAME [NAME ...] --out DIR
          --suffix SUFFIX [--sf-dir DIR]
      writes DIR/<NAME>_<SUFFIX>.txt, the `.explain("formatted")` of
      each named entry (fixtures default to $SPARK_GRAFT_SF_DIR). Run
      it once in a before tree (SUFFIX=before) and once in an after
      tree (SUFFIX=after), then diff the pairs against an
      optimization's plan claims.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chchfr_data_collection_spark.queries import catalog
from chchfr_data_collection_spark.session import DEFAULT_SF_DIR, get_spark

SHOWCASE = [
    # query name -> the property the plan must show
    ("q5_region_revenue", "all dims broadcast, ≤2 exchanges, pruned fact scan"),
    ("q18_large_orders", "single orders⋈lineitem shuffle, customer broadcast"),
    ("q21_waiting_suppliers", "one window pass for 3 per-order stats"),
    ("sample_stratified", "map-only: zero exchanges, filter inside scan stage"),
    ("decontaminate_overlap", "training side never shuffled; eval broadcast"),
    ("dedup_ngram_jaccard", "one full-row shuffle (s-window), cached reuse"),
    ("bucketed_join_colocated", "SMJ over pre-bucketed tables, no join exchange"),
    ("events_anomaly_3sigma", "stats broadcast; filter evaluates at the scan"),
    ("bpe_pair_merge_candidates", "JVM substring kernel; pair-key agg, no Python"),
    ("multimodal_decode_real", "map-only Arrow python stage over doc_id-pruned scan"),
    ("ann_recall_audit", "slice-bounded twin; counts join, one audit row"),
    ("similarity_lsh_multiprobe", "(H+1)x probe rows, ids-only equi-join, no cartesian"),
    ("embedding_kmeans_iter", "per-iteration broadcast-k assign + k*64-row update agg"),
    ("shard_packing_substratified", "window exchange hashes on (lang, sub)"),
    ("multimodal_decode_jpeg", "same map-only Arrow slot as the PNG/BMP kernel"),
    ("dedup_duplicate_spans", "one window-hash shuffle; dup set joins back; no pairs"),
    ("dedup_bloom_gate", "bloom relation broadcast (bounded at M rows); probe unshuffled"),
    ("similarity_pq_rerank", "codes scan + broadcast distance table; exact math only on shortlist"),
    ("similarity_tfidf_pairs", "posting-list equi-join; df-capped term fan-out"),
    ("doc_chunk_overlap", "map-only explode+slice, zero exchanges"),
    ("text_token_ids", "bounded-reduce vocab shuffle + V-row broadcast encode"),
    ("sketch_countmin_words", "partials collapse to D*W cells; sketch broadcast for probe"),
    ("dedup_semantic_clusters", "cent_id equi-join pair stage; centroids broadcast; no cartesian beyond the 8-row assign"),
    ("decontaminate_minhash", "one signature pass; eval bands+arrays broadcast; train never shuffled on the shingle"),
    ("quality_percentile_gate", "histogram-bounded quantile; 1-row threshold broadcast back"),
    ("bpe_train_merges", "vocab-relation rounds; 1-row best-pair broadcast; flat plan via localCheckpoint"),
    ("events_exact_quantiles", "(type, cents) partials; tiny-relation window readout"),
    ("similarity_ivf_trained", "trained centroids broadcast; cent_id equi-join probe"),
    ("curation_pipeline_v2", "cheap gates pushed below shuffles; eval side broadcast; one routing plan"),
    ("pack_sequences_emit", "one stratum window; per-doc sequence-id explode; no extra shuffle"),
    # round 6
    ("dedup_minhash_incremental", "delta-bounded probe: touched band keys broadcast into the band-partitioned postings; no corpus-wide shuffle"),
    ("dedup_semantic_multiprobe", "top-p cell rank via broadcast centroids; cent_id equi-join pairs — no cartesian"),
    ("dedup_semantic_incremental", "dominated side delta-filtered before the pair join; membership corpus-wide"),
    ("runtime_bloom_filter_join", "selective dim join; bloom injects under shuffle-join conditions (see tests)"),
    ("skew_join_aqe", "hot-keyed SMJ left to AQE skew split; plan-shape preconditions in docstring"),
    ("dedup_containment_pairs", "shared df-capped posting-list overlap; asymmetric gate is a projection"),
    ("embedding_random_projection", "map-only JL sketch: no ENSURE_REQUIREMENTS exchange"),
    ("curation_pipeline_incremental", "delta-only quality+hash gates; landed touched only via pruned postings scan"),
    ("similarity_lsh_scaled", "static 8-bit buckets; 1-row mask broadcast; bucket equi-join"),
    # round 8
    ("similarity_filtered_topk", "label predicate pushed into the candidate scan; 16-row query side broadcast"),
    ("similarity_filtered_ann", "allowed side filtered BEFORE bucketing; equi-join candidates, no cartesian"),
    ("parquet_footer_audit", "metadata-only: a parallelize job of footer reads, zero table scans"),
    # round 10
    ("similarity_filtered_ivf", "allowed-only inverted lists; adaptive probe metadata broadcast; one cent_id equi-join"),
    ("dedup_connected_components", "star-contraction round: sym-edge groupBy mins + hook join, flat lineage via localCheckpoint"),
    # round 11
    ("similarity_ivf_forget_probe", "tombstone anti-join + query cells + query vectors all broadcast; cell equi-join candidates, no cartesian"),
    ("dedup_cc_incremental_persisted", "store read: marked-partition scan, per-node max_by resolve, tombstone anti-join"),
    # round 13
    ("similarity_ivf_store_compacted_probe", "probe over the folded generation: one (cent_id, batch_id) scan, cell equi-join, no extra exchanges vs the unfolded store"),
    ("ivf_store_schema_evolution_probe", "evolved-schema read: pre-evolution batches null-fill in the scan, no rewrite job anywhere in the plan"),
]


def dump_entries(entries, outdir: str, suffix: str, sf_dir: str) -> None:
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("plans_entries")
    cat = catalog()
    for name in entries:
        df = cat[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(buf.getvalue())
        print("dumped", name)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--entries", nargs="+", help="dump these entries instead of PLANS.md"
    )
    ap.add_argument("--out", help="output dir for --entries")
    ap.add_argument("--suffix", help="file-name suffix for --entries")
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR, help="fixture dir for --entries")
    args = ap.parse_args()
    if args.entries:
        if not (args.out and args.suffix):
            ap.error("--entries needs --out and --suffix")
        dump_entries(args.entries, args.out, args.suffix, args.sf_dir)
        return
    spark = get_spark("plans", shuffle_partitions=8)
    cat = catalog()
    out = [
        "# PLANS — formatted physical plans of the showcase queries",
        "",
        "Generated by `scripts/dump_plans.py` at sf0.01 (local mode, AQE on;",
        "an AdaptiveSparkPlan's final shape can further coalesce/broadcast at",
        "runtime). Each plan is the evidence for the corresponding SCALE.md",
        "row; the same properties are asserted in tests/test_plans*.py.",
        "",
    ]
    for name, claim in SHOWCASE:
        df = cat[name].fn(spark, "/root/testdata/sf0.01")
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
            df._jdf.queryExecution(), "formatted"
        )
        # strip volatile bits: in-memory locations, plan ids drift
        plan = re.sub(r"file:[^\],\s]*", "file:<fixture>", plan)
        out += [f"## {name}", "", f"**Claim:** {claim}", "", "```", plan.rstrip(), "```", ""]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w", encoding="utf-8") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
