"""Catalog contract tests: driver-interface invariants that must hold for
every registered query (the CORRECTNESS gate's preconditions)."""

from __future__ import annotations

import pytest

from chchfr_data_collection_spark.queries import catalog


@pytest.fixture(scope="module")
def cat():
    return catalog()


def test_catalog_size_and_shape(cat):
    assert len(cat) >= 60
    for name, q in cat.items():
        assert q.name == name
        assert callable(q.fn)


def test_oracle_coverage(cat):
    """Only genuinely non-SQL-expressible ops may omit the oracle."""
    no_sql = {n for n, q in cat.items() if q.sql is None}
    # approx (HLL cross-engine drift), mllib LSH (hash-family specific),
    # pipeline (seeded rand), streaming/multimodal (non-SQL surface)
    # minhash: hash-seeded banding (probabilistic recall, verified precision)
    # iterative: driver-loop algorithms (connected components)
    allowed_tags = {"streaming", "multimodal", "pandas-udf", "ann", "approx", "mllib", "pipeline", "minhash", "iterative"}
    for name in no_sql:
        assert set(cat[name].tags) & allowed_tags, (
            f"{name} has no oracle SQL but is not tagged as a "
            "rows-only-exempt operator family"
        )


def test_entry_module_contract(spark):
    import importlib.util as iu
    import os

    spec = iu.spec_from_file_location(
        "__spark_entry__", os.path.join(os.path.dirname(os.path.dirname(__file__)), "__spark_entry__.py")
    )
    mod = iu.module_from_spec(spec)
    spec.loader.exec_module(mod)
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert set(oracles) <= set(qs)
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and len(df.columns) > 0


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "window_topk_per_group",
        "dedup_exact_hash",
        "similarity_topk_cosine",
        "fuel_price_crossjoin",
        "stations_ingest_antijoin",
    ],
)
def test_headline_queries_run_small(spark, sf_small, name, cat):
    df = cat[name].fn(spark, sf_small)
    assert df.count() >= 0


def test_minhash_banded_recall_vs_exact(spark, cat):
    """Banded MinHash (b=8, r=4) must recover >=95% of the exact
    Jaccard>=0.8 pairs (P[candidate] ~ 0.985 at the threshold), with
    perfect precision (candidates are verified exactly)."""
    sf = "/root/testdata/sf0.01"
    exact = {(r.da, r.db) for r in cat["dedup_ngram_jaccard"].fn(spark, sf).collect()}
    banded = {(r.da, r.db) for r in cat["dedup_minhash_banded"].fn(spark, sf).collect()}
    assert banded <= exact  # verified candidates: no false positives
    if exact:
        assert len(banded & exact) / len(exact) >= 0.95


def test_lsh_ann_recall_vs_exact(spark, cat):
    """Sign-LSH (8 tables × 3 bits) must recover >=80% of the exact
    cos>=0.45 pairs with perfect precision (candidates verified exactly,
    so every emitted pair is a true pair)."""
    sf = "/root/testdata/sf0.01"
    exact = {(r.va, r.vb) for r in cat["similarity_threshold_pairs"].fn(spark, sf).collect()}
    lsh = {(r.va, r.vb) for r in cat["similarity_lsh_ann"].fn(spark, sf).collect()}
    assert lsh <= exact
    if exact:
        assert len(lsh & exact) / len(exact) >= 0.80


def test_lsh_multiprobe_recall_dominates_single_probe(spark, cat):
    """Multiprobe probes the home bucket plus every 1-bit flip, so its
    verified result must be a SUPERSET of single-probe's, a subset of
    the exact pairs (perfect precision), and strictly-or-equally higher
    recall."""
    sf = "/root/testdata/sf0.01"
    exact = {(r.va, r.vb) for r in cat["similarity_threshold_pairs"].fn(spark, sf).collect()}
    lsh = {(r.va, r.vb) for r in cat["similarity_lsh_ann"].fn(spark, sf).collect()}
    mp = {(r.va, r.vb) for r in cat["similarity_lsh_multiprobe"].fn(spark, sf).collect()}
    assert lsh <= mp <= exact
    if exact:
        assert len(mp & exact) / len(exact) >= len(lsh & exact) / len(exact)


def test_semantic_probe_only_equals_incremental(spark, cat):
    """The steady-state semantic entry (session-cached serving state)
    must emit EXACTLY the bootstrap-inclusive incremental entry's rows
    — the cache changes what is paid for, never what is returned. Run
    at sf0.01 where the delta actually produces dup rows, twice, so
    the second (cache-hit) invocation is pinned too."""
    sf = "/root/testdata/sf0.01"
    inc = {tuple(r) for r in cat["dedup_semantic_incremental"].fn(spark, sf).collect()}
    po1 = {tuple(r) for r in cat["dedup_semantic_probe_only"].fn(spark, sf).collect()}
    po2 = {tuple(r) for r in cat["dedup_semantic_probe_only"].fn(spark, sf).collect()}
    assert inc, "fixture produced no semantic dups — test is vacuous"
    assert po1 == inc and po2 == inc


def test_cc_incremental_equals_batch(spark, cat):
    """Incremental CC (delta pairs folded into the session-cached
    landed assignment through graph contraction) must emit EXACTLY the
    batch CC over all pairs — same nodes, same min-id component labels.
    Run twice so the cache-hit path is pinned too."""
    sf = "/root/testdata/sf0.01"
    batch = {
        (r.node, r.component)
        for r in cat["dedup_connected_components"].fn(spark, sf).collect()
    }
    inc1 = {(r.node, r.component) for r in cat["dedup_cc_incremental"].fn(spark, sf).collect()}
    inc2 = {(r.node, r.component) for r in cat["dedup_cc_incremental"].fn(spark, sf).collect()}
    assert batch, "fixture produced no near-dup pairs — test is vacuous"
    # the split must actually exercise a landed-component MERGE through
    # a delta edge, or the contraction path is untested
    assert any(n % 4 == 0 for n, _ in batch), "no delta nodes in any pair"
    assert inc1 == batch and inc2 == batch


def test_filtered_ivf_adaptive_probe_keeps_k(spark, cat):
    """Every filtered-IVF query must return its FULL k results (the
    adaptive probe rule's whole point: a fixed shallow nprobe starves
    selective filters), and every result must satisfy the predicate."""
    sf = "/root/testdata/sf0.01"
    rows = cat["similarity_filtered_ivf"].fn(spark, sf).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.qid, []).append(r)
    assert len(per_q) == 16
    assert all(len(v) == 5 for v in per_q.values())
    import pyspark.sql.functions as _F

    allowed = {
        r.vec_id
        for r in spark.read.parquet(f"{sf}/embeddings.parquet")
        .filter(_F.col("label") % 3 == 0)
        .select("vec_id")
        .collect()
    }
    assert all(r.cid in allowed for r in rows)


def test_kmeans_iter_partition_and_determinism(spark, cat):
    """Lloyd loop invariants: 8x64 centroid rows, every vector assigned
    to exactly one cluster (n_assigned sums to the corpus size on every
    dimension row), empty clusters carry forward with n=0, and the whole
    iterative computation is deterministic across runs."""
    sf = "/root/testdata/sf0.001"
    rows = cat["embedding_kmeans_iter"].fn(spark, sf).collect()
    assert len(rows) == 8 * 64
    n_vecs = cat["embedding_stats"].fn(spark, sf).count()
    per_pos: dict = {}
    for r in rows:
        per_pos.setdefault(r.pos, 0)
        per_pos[r.pos] += r.n_assigned
    assert set(per_pos.values()) == {n_vecs}
    again = cat["embedding_kmeans_iter"].fn(spark, sf).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_gemm_equals_jvm_brute_force(spark, cat):
    """The blocked-GEMM kernel must produce BIT-IDENTICAL pairs and
    cosines to the JVM zip_with/aggregate brute force — same quantized
    integer arithmetic, different execution engine."""
    sf = "/root/testdata/sf0.01"
    jvm = {(r.va, r.vb): r.cos_sim for r in cat["similarity_threshold_pairs"].fn(spark, sf).collect()}
    gemm = {(r.va, r.vb): r.cos_sim for r in cat["similarity_pairs_gemm"].fn(spark, sf).collect()}
    assert gemm == jvm  # exact float equality, not approx


def test_connected_components_vs_union_find(spark, cat):
    """Label propagation must produce exactly the union-find components
    of the near-dup pair graph (component = min doc_id)."""
    sf = "/root/testdata/sf0.01"
    pairs = [(r.da, r.db) for r in cat["dedup_ngram_jaccard"].fn(spark, sf).collect()]
    got = {r.node: r.component for r in cat["dedup_connected_components"].fn(spark, sf).collect()}

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in pairs:
        union(a, b)
    want = {n: find(n) for n in parent}
    assert got == want


def test_approx_quantiles_bounds(spark, sf_small, cat):
    """Sketch sanity: p50 <= p95 <= p99, all within [min, max]."""
    from pyspark.sql import functions as F

    from chchfr_data_collection_spark.session import load_table

    rows = cat["agg_approx_quantiles"].fn(spark, sf_small).collect()
    orders = load_table(spark, sf_small, "orders")
    lims = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    ).collect()[0]
    for r in rows:
        assert lims.lo <= r.p50 <= r.p95 <= r.p99 <= lims.hi


def test_column_parity_with_oracle(spark, sf_small, cat):
    """Driver-gate precondition, checked statically for EVERY entry: the
    Spark result's column names equal the oracle SQL's column names
    (the driver sorts columns by name before value-hashing, so a name
    mismatch red-rows a query even with identical values). DuckDB
    DESCRIBE binds the SQL without executing it; the Spark side needs
    only plan analysis — the whole catalog checks in seconds."""
    import duckdb

    from chchfr_data_collection_spark.session import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_small}/{t}.parquet'")
    entries = [(name, q) for name, q in sorted(cat.items()) if q.sql is not None]
    # The Spark side of a STORE entry bootstraps its fixture store on
    # invocation, so "plan analysis only" is ~0.5-2 s × ~40 store
    # entries sequentially — this one test was 327 s of the suite's
    # 38 min (round-16 measurement) and the driver's pytest window
    # couldn't fit the suite (round-15 verdict #3). The per-entry work
    # is independent Spark jobs against disjoint temp stores: overlap
    # it from driver threads (guide §2.6). DuckDB DESCRIBE stays on
    # one thread (a DuckDB connection is not thread-safe).
    from concurrent.futures import ThreadPoolExecutor

    def _spark_cols(item):
        name, q = item
        return name, sorted(q.fn(spark, sf_small).columns)

    # entries tagged "fixture-write" mutate a shared fixture store (a
    # takedown on the memoized IVF/PQ store, a delta on the memoized
    # component store), so they run on this thread after the pool
    # drains, never beside that store's other users
    mutating = [e for e in entries if "fixture-write" in e[1].tags]
    with ThreadPoolExecutor(max_workers=8) as pool:
        spark_cols = dict(
            pool.map(_spark_cols, [e for e in entries if e not in mutating])
        )
    spark_cols.update(map(_spark_cols, mutating))
    bad = []
    for name, q in entries:
        scols = spark_cols[name]
        dcols = sorted(r[0] for r in con.execute(f"DESCRIBE {q.sql}").fetchall())
        if scols != dcols:
            bad.append((name, scols, dcols))
    assert not bad, f"column-name drift vs oracle: {bad}"


def test_bench_headline_names_resolve(cat):
    """Every bench.py HEADLINE entry must be a registered catalog query —
    a rename that misses bench.py would otherwise only surface as a
    per-query err in the round's official bench record."""
    import importlib.util as iu
    import os

    spec = iu.spec_from_file_location(
        "bench",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py"),
    )
    mod = iu.module_from_spec(spec)
    spec.loader.exec_module(mod)
    missing = [n for n in mod.HEADLINE if n not in cat]
    assert not missing, f"bench HEADLINE names not in catalog: {missing}"


def test_duplicate_spans_vs_pure_python(spark, cat):
    """Independent verification: recompute the word-5-gram window hashes,
    the cross-doc duplicate set, and the longest-run scan in pure Python
    over the sf0.001 corpus, and require exact agreement per document."""
    import collections
    import hashlib

    sf = "/root/testdata/sf0.001"
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(sf + "/documents.parquet").collect()
    }
    MOD, BASE, W = 1_000_000_007, 131, 5

    def wh(words):
        out = []
        for i in range(len(words) - W + 1):
            acc = 0
            for w in words[i : i + W]:
                v = int(hashlib.md5(w.encode()).hexdigest()[:8], 16)
                acc = (acc * BASE + v) % MOD
            out.append(acc)
        return out

    hashes = {d: wh(t.split(" ")) for d, t in docs.items()}
    owners = collections.defaultdict(set)
    for d, hs in hashes.items():
        for h in hs:
            owners[h].add(d)
    expected = {}
    for d, hs in hashes.items():
        flags = [len(owners[h]) > 1 for h in hs]
        best = cur = 0
        for f in flags:
            cur = cur + 1 if f else 0
            best = max(best, cur)
        expected[d] = (len(flags), sum(flags), best)
    got = {
        r.doc_id: (r.n_windows, r.n_dup_windows, r.max_dup_run)
        for r in cat["dedup_duplicate_spans"].fn(spark, sf).collect()
    }
    assert got == expected


def test_bloom_gate_no_false_negatives(spark, cat):
    """Defining Bloom property: every true member must hit the filter
    (hits decompose exactly into members + false positives), and the
    measured FP rate stays under the design bound for this fill level."""
    sf = "/root/testdata/sf0.01"
    r = cat["dedup_bloom_gate"].fn(spark, sf).collect()[0]
    assert r.n_probe > 0 and r.n_member > 0
    assert r.n_bloom_hit == r.n_member + r.n_false_pos
    assert r.fp_rate < 0.05


def test_token_ids_vs_pure_python(spark, cat):
    """Recompute the top-V vocab, the per-doc id sequence, and its md5
    in pure Python and require exact agreement."""
    import collections
    import hashlib

    sf = "/root/testdata/sf0.001"
    from chchfr_data_collection_spark.queries.llm import _VOCAB_V

    docs = {
        r.doc_id: r.text.split(" ")
        for r in spark.read.parquet(sf + "/documents.parquet").collect()
    }
    counts = collections.Counter(w for ws in docs.values() for w in ws)
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_VOCAB_V]
    vocab = {w: i for i, (w, _) in enumerate(ranked)}
    expected = {}
    for d, ws in docs.items():
        ids = [vocab.get(w, _VOCAB_V) for w in ws]
        expected[d] = (
            len(ids),
            sum(1 for w in ws if w not in vocab),
            hashlib.md5(",".join(map(str, ids)).encode()).hexdigest(),
        )
    got = {
        r.doc_id: (r.n_tokens, r.n_oov, r.ids_hash)
        for r in cat["text_token_ids"].fn(spark, sf).collect()
    }
    assert got == expected


def test_pq_rerank_dominates_pure_adc(spark, cat):
    """The two-stage PQ path (ADC shortlist -> exact re-rank) must
    dominate pure ADC recall and reach full recall@3 on this corpus;
    re-ranked results must be a subset of the shortlist's queries with
    exact cosine ordering (rank 1..3 per query)."""
    sf = "/root/testdata/sf0.01"
    r = cat["pq_recall_audit"].fn(spark, sf).collect()[0]
    assert r.n_exact == 15
    assert r.n_hit_rerank >= r.n_hit_adc
    assert r.recall_rerank == 1.0
    rr = cat["similarity_pq_rerank"].fn(spark, sf).collect()
    by_q = {}
    for row in rr:
        by_q.setdefault(row.qid, []).append(row)
    for q, rows in by_q.items():
        rows.sort(key=lambda x: x.rank)
        assert [x.rank for x in rows] == [1, 2, 3]
        sims = [x.cos_sim for x in rows]
        assert sims == sorted(sims, reverse=True)


def test_tfidf_pairs_vs_pure_python(spark, cat):
    """Recompute tf, relative-df cap, integer idf weights, and cosine
    in pure Python at sf0.001 and require the exact same pair set and
    bit-identical cosines."""
    import collections
    import math

    sf = "/root/testdata/sf0.001"
    from chchfr_data_collection_spark.queries.llm import (
        _TFIDF_DF_FRAC,
        _TFIDF_THRESH,
    )

    docs = {
        r.doc_id: r.text.split(" ")
        for r in spark.read.parquet(sf + "/documents.parquet").collect()
    }
    n = len(docs)
    tf = {d: collections.Counter(ws) for d, ws in docs.items()}
    df = collections.Counter(w for c in tf.values() for w in c)
    kept = {w for w, k in df.items() if k * _TFIDF_DF_FRAC <= n}
    wt = {
        d: {w: c * ((n * 1000) // df[w]) for w, c in cnt.items() if w in kept}
        for d, cnt in tf.items()
    }
    n2 = {d: sum(v * v for v in ws.values()) for d, ws in wt.items()}
    postings = collections.defaultdict(list)
    for d, ws in wt.items():
        for w in ws:
            postings[w].append(d)
    cand = set()
    for w, ds in postings.items():
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                cand.add((min(a, b), max(a, b)))
    expected = {}
    for a, b in cand:
        dot = sum(v * wt[b].get(w, 0) for w, v in wt[a].items())
        cos = float(dot) / (math.sqrt(float(n2[a])) * math.sqrt(float(n2[b])))
        if cos >= _TFIDF_THRESH:
            expected[(a, b)] = cos
    got = {
        (r.da, r.db): r.cos_sim
        for r in cat["similarity_tfidf_pairs"].fn(spark, sf).collect()
    }
    assert got == expected


def test_power_iteration_improves_rayleigh_quotient(spark, cat):
    """K=8 power steps must not decrease the Rayleigh quotient
    v'Cv/v'v of the uncentered second-moment matrix, and the returned
    direction must beat the seed vector and every coordinate axis."""
    import numpy as np

    sf = "/root/testdata/sf0.01"
    X = np.array(
        [
            r.embedding
            for r in spark.read.parquet(sf + "/embeddings.parquet").collect()
        ],
        dtype=np.float64,
    )
    C = X.T @ X
    rows = sorted(
        cat["embedding_power_iteration"].fn(spark, sf).collect(),
        key=lambda r: r.pos,
    )
    v = np.array([r.loading for r in rows])
    assert len(v) == 64 and np.abs(v).max() == 1.0

    def rq(u):
        return float(u @ C @ u) / float(u @ u)

    v0 = X[0]
    assert rq(v) >= rq(v0) * 0.999  # power steps don't lose ground
    axes = max(rq(np.eye(64)[i]) for i in range(64))
    assert rq(v) >= axes  # beats every coordinate direction
    top = float(np.linalg.eigvalsh(C)[-1])
    assert rq(v) >= 0.85 * top  # K=8 reaches ~0.91 on this flat spectrum


def test_countmin_contract_vs_pure_python(spark, cat):
    """Rebuild the Count-Min sketch in pure Python (same md5-slice
    hashing) and require exact cell agreement for the probed words; the
    never-underestimate contract must hold for EVERY word, not just the
    probed top-10."""
    import collections
    import hashlib

    sf = "/root/testdata/sf0.001"
    from chchfr_data_collection_spark.queries.llm import _CMS_D, _CMS_W

    words = [
        w
        for r in spark.read.parquet(sf + "/documents.parquet").collect()
        for w in r.text.split(" ")
    ]
    def cells(w):
        h = hashlib.md5(w.encode()).hexdigest()
        return [int(h[8 * j : 8 * j + 8], 16) % _CMS_W for j in range(_CMS_D)]

    cms = collections.Counter()
    for w in words:
        for j, c in enumerate(cells(w)):
            cms[(j, c)] += 1
    exact = collections.Counter(words)
    for w, n in exact.items():
        est = min(cms[(j, c)] for j, c in enumerate(cells(w)))
        assert est >= n
    got = {r.w: (r.exact_n, r.cms_est) for r in cat["sketch_countmin_words"].fn(spark, sf).collect()}
    top10 = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert got == {
        w: (n, min(cms[(j, c)] for j, c in enumerate(cells(w)))) for w, n in top10
    }


def test_span_pairs_vs_pure_python(spark, cat):
    """Recompute the capped posting lists, pair evidence counts, and
    best aligned-offset blocks in pure Python and require exact
    agreement; best_aligned can never exceed n_shared."""
    import collections
    import hashlib

    sf = "/root/testdata/sf0.001"
    from chchfr_data_collection_spark.queries.llm import (
        _SPAN_PAIR_DFCAP,
        _SPAN_PAIR_MIN,
    )

    MOD, BASE, W = 1_000_000_007, 131, 5
    docs = {
        r.doc_id: r.text.split(" ")
        for r in spark.read.parquet(sf + "/documents.parquet").collect()
    }

    def wh(words):
        out = []
        for i in range(len(words) - W + 1):
            acc = 0
            for w in words[i : i + W]:
                acc = (acc * BASE + int(hashlib.md5(w.encode()).hexdigest()[:8], 16)) % MOD
            out.append(acc)
        return out

    occ = collections.defaultdict(list)  # h -> [(doc, pos)]
    for d, ws in docs.items():
        for p, h in enumerate(wh(ws), start=1):
            occ[h].append((d, p))
    pair_evidence = collections.defaultdict(set)  # (da,db) -> {(h, off)}
    for h, lst in occ.items():
        if not (2 <= len(lst) <= _SPAN_PAIR_DFCAP):
            continue
        if len({d for d, _ in lst}) < 2:
            continue
        for da, pa in lst:
            for db, pb in lst:
                if da < db:
                    pair_evidence[(da, db)].add((h, pb - pa))
    expected = {}
    for (da, db), ev in pair_evidence.items():
        n_shared = len({h for h, _ in ev})
        by_off = collections.Counter(off for _, off in ev)
        if n_shared >= _SPAN_PAIR_MIN:
            expected[(da, db)] = (n_shared, max(by_off.values()))
    got = {
        (r.da, r.db): (r.n_shared, r.best_aligned)
        for r in cat["dedup_span_pairs"].fn(spark, sf).collect()
    }
    assert got == expected
    for n_shared, best in got.values():
        assert best <= n_shared
