"""Training-data curation operators: the end-to-end passes a 100 TB
pretraining pipeline runs between "raw crawl" and "tokenizer input" —
stratified sampling, shard packing, benchmark decontamination, and the
composed keep/drop pipeline. All oracle-exact: sampling uses a portable
md5-derived hash (never rand()), packing uses deterministic window
arithmetic, decontamination reuses the shingle machinery.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import text as TX
from ..session_cache import replace
from . import register
from .common import T

# portable per-row hash in [0, 100): first 8 md5 hex chars of the doc id
# rendered as text -> int64 -> mod 100. Identical in Spark and DuckDB;
# a rand()-based sample could never be oracle-checked, and at scale a
# hash sample is also reproducible across reruns/retries (no RNG state).
_HASH_MOD_SPARK = (
    lambda col: F.conv(
        F.substring(F.md5(F.col(col).cast("string").cast("binary")), 1, 8), 16, 10
    ).cast("bigint")
    % 100
)
_HASH_MOD_DUCK = "CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8) AS BIGINT) % 100"

# per-language sampling rates (percent kept)
_RATES = {"en": 60, "fr": 40, "de": 40, "es": 40, "zh": 20}
_RATE_CASE_DUCK = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _RATES.items())
    + " ELSE 30 END"
)


@register(
    "sample_stratified",
    sql=f"""
    SELECT doc_id, lang FROM documents
    WHERE {_HASH_MOD_DUCK.format(col='doc_id')} < {_RATE_CASE_DUCK}
    """,
    tags=("llm", "curation", "sampling"),
)
def sample_stratified(spark, sf_dir):
    """Stratified downsampling by language: keep a per-stratum fraction
    chosen by a content-independent hash of the key. Hash sampling (vs
    F.rand) is reproducible across reruns, retries, and engines — the
    property that makes a 100 TB sample auditable. Map-only: no shuffle,
    the predicate evaluates inside the scan stage."""
    d = T(spark, sf_dir, "documents")
    rate = F.lit(30)
    for k, v in _RATES.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    return d.filter(_HASH_MOD_SPARK("doc_id") < rate).select("doc_id", "lang")


@register(
    "shard_packing",
    sql=f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(regexp_extract_all(text, '{TX.TOKEN_RE}')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
    SELECT doc_id, lang, n_tokens,
           CAST(FLOOR((cum - n_tokens) / 20000.0) AS BIGINT) AS shard_id
    FROM c
    """,
    tags=("llm", "curation", "packing"),
)
def shard_packing(spark, sf_dir):
    """Pack documents into fixed token-budget training shards (20k
    tokens) per language: running token total over a deterministic doc
    order, shard = floor(tokens-before / budget). One shuffle on the
    stratum key; within a stratum the window is a single ordered pass —
    the streaming-friendly shape of sequence packing. (Real packers add
    sequence breaking/padding; the shard assignment is this exact
    computation.)"""
    d = T(spark, sf_dir, "documents", parallel=True)
    toks = TX.token_count("text").cast("bigint")
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    t = d.select("doc_id", "lang", toks.alias("n_tokens"))
    return t.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 20000.0)
        .cast("bigint")
        .alias("shard_id"),
    )


@register(
    "shard_packing_substratified",
    sql=f"""
    WITH t AS (
      SELECT doc_id, lang,
             ({_HASH_MOD_DUCK.format(col='doc_id')}) % 4 AS sub,
             CAST(len(regexp_extract_all(text, '{TX.TOKEN_RE}')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, lang, sub, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang, sub ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
    SELECT doc_id, lang, sub, n_tokens,
           CAST(FLOOR((cum - n_tokens) / 20000.0) AS BIGINT) AS shard_id
    FROM c
    """,
    tags=("llm", "curation", "packing", "skew"),
)
def shard_packing_substratified(spark, sf_dir):
    """shard_packing with the stratum-skew mitigation SCALE.md names:
    each language stratum is SUB-STRATIFIED by a hash prefix of the doc
    id into fixed-width substrata, and the running-token window runs per
    (lang, sub) — so the single ordered pass that packs a stratum is
    bounded at stratum_size / n_sub regardless of how lopsided the
    language mix is (en ≫ zh). The en stratum stops being one giant
    window partition walked by one task; production sizes n_sub so the
    widest substratum fits one task's memory, keeping the packing pass
    embarrassingly parallel at 100 TB.

    The substratum id is the same portable md5 hash as the samplers
    (never rand()) so the assignment — and every shard id — is
    reproducible across engines, reruns, and retries. Shards are
    addressed (lang, sub, shard_id); the budget invariant holds per
    substratum exactly as in shard_packing."""
    d = T(spark, sf_dir, "documents", parallel=True)
    toks = TX.token_count("text").cast("bigint")
    sub = (_HASH_MOD_SPARK("doc_id") % 4).alias("sub")
    t = d.select("doc_id", "lang", sub, toks.alias("n_tokens"))
    w = (
        W.partitionBy("lang", "sub")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return t.select(
        "doc_id",
        "lang",
        "sub",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 20000.0)
        .cast("bigint")
        .alias("shard_id"),
    )


@register(
    "decontaminate_overlap",
    sql="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct([ws[i] || '_' || ws[i+1] || '_' || ws[i+2]
             || '_' || ws[i+3] || '_' || ws[i+4] || '_' || ws[i+5] || '_' || ws[i+6]
             || '_' || ws[i+7] for i in range(1, len(ws)-6)])) AS s
      FROM w WHERE len(ws) >= 8),
    ev AS (SELECT doc_id, s FROM sh WHERE doc_id < 50),
    tr AS (SELECT doc_id, s FROM sh WHERE doc_id >= 50)
    SELECT tr.doc_id AS train_doc_id, ev.doc_id AS eval_doc_id,
           COUNT(*) AS n_shared_8grams
    FROM tr JOIN ev ON tr.s = ev.s
    GROUP BY tr.doc_id, ev.doc_id
    """,
    tags=("llm", "curation", "decontamination"),
)
def decontaminate_overlap(spark, sf_dir):
    """Benchmark decontamination: 8-gram overlap between the training
    corpus and a held-out eval set (fixture convention: doc_id < 50
    plays the benchmark). The standard n-gram collision check (as used
    for public-benchmark leakage scans): shingle both sides, equi-join
    on the shingle, count collisions per (train, eval) pair. At 100 TB
    the eval side is tiny -> broadcast, so the scan of the training
    corpus is the whole cost, with no shuffle of the big side."""
    d = T(spark, sf_dir, "documents", parallel=True)
    sh = d.filter(TX.word_count("text") >= 8).select(
        "doc_id", F.explode(TX.word_shingles("text", n=8)).alias("s")
    )
    ev = sh.filter(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("eval_doc_id"), "s"
    )
    tr = sh.filter(F.col("doc_id") >= 50).select(
        F.col("doc_id").alias("train_doc_id"), "s"
    )
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count("*").alias("n_shared_8grams"))
    )


@register(
    "streaming_doc_dedup_replay",
    sql="SELECT DISTINCT md5(text) AS content_hash FROM documents",
    tags=("streaming", "llm", "curation", "dedup"),
)
def streaming_doc_dedup_replay(spark, sf_dir):
    """Streaming exact-dedup ingest of the document feed through a REAL
    Structured Streaming replay (Trigger.AvailableNow): content-hash
    dedup state across micro-batches. The surviving HASH SET is
    deterministic (exactly one row per distinct text) and is what the
    oracle checks; which physical row survives depends on arrival order
    (first-seen-wins by design), so non-key columns stay internal —
    same checkability contract as streaming_dedup_replay."""
    import uuid

    from ..streaming.documents import dedup_by_content, read_documents_stream
    from ..streaming.events import run_available_now

    stream = dedup_by_content(read_documents_stream(spark, sf_dir))
    name = "docdedup_" + uuid.uuid4().hex[:8]
    out = run_available_now(stream.select("content_hash"), name, mode="append")
    return out.select("content_hash")


@register(
    "streaming_doc_dedup_watermarked",
    sql="SELECT DISTINCT md5(text) AS content_hash FROM documents",
    tags=("streaming", "llm", "curation", "dedup", "watermark"),
)
def streaming_doc_dedup_watermarked(spark, sf_dir):
    """Streaming exact dedup with BOUNDED state: the
    dropDuplicatesWithinWatermark variant of streaming_doc_dedup_replay
    — the state-eviction production path for a continuous 100 TB crawl
    ingest (seen-set size is O(distinct content within the watermark
    window), not O(all distinct content ever). On the bounded replay the
    watermark delay spans the synthetic ingest times, so the surviving
    hash set equals the exact distinct and the oracle is the same
    DISTINCT md5 — the catalog row pins that the bounded operator loses
    nothing when the window covers the feed."""
    import uuid

    from ..streaming.documents import (
        dedup_by_content_within_watermark,
        read_documents_stream,
    )
    from ..streaming.events import run_available_now

    stream = dedup_by_content_within_watermark(read_documents_stream(spark, sf_dir))
    name = "docdedup_wm_" + uuid.uuid4().hex[:8]
    out = run_available_now(stream.select("content_hash"), name, mode="append")
    return out.select("content_hash")


@register(
    "text_repetition_filter",
    sql="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    bg AS (
      SELECT doc_id, unnest([ws[i] || '_' || ws[i+1] for i in range(1, len(ws))]) AS s
      FROM w WHERE len(ws) >= 2),
    c AS (SELECT doc_id, s, COUNT(*) AS n FROM bg GROUP BY doc_id, s),
    per_doc AS (
      SELECT doc_id, MAX(n) AS top_n, SUM(n) AS total, COUNT(*) AS n_distinct
      FROM c GROUP BY doc_id)
    SELECT doc_id,
           CAST(top_n AS DOUBLE) / total AS top_bigram_frac,
           1.0 - CAST(n_distinct AS DOUBLE) / total AS dup_bigram_frac,
           (CAST(top_n AS DOUBLE) / total <= 0.18
            AND 1.0 - CAST(n_distinct AS DOUBLE) / total <= 0.5) AS keep
    FROM per_doc
    """,
    tags=("llm", "curation", "quality", "repetition"),
)
def text_repetition_filter(spark, sf_dir):
    """Gopher-style repetition filters: fraction of the document covered
    by its single most frequent bigram, and the duplicate-bigram
    fraction (1 - distinct/total). Boilerplate and degenerate repeated
    text blow past these long before any Jaccard pass sees them, so this
    runs FIRST in a curation cascade — it's one explode + two partial
    aggregations (both map-side combinable on doc_id), no joins, no
    candidate pairs. Ratios are int/int doubles — bit-identical across
    engines."""
    d = T(spark, sf_dir, "documents", parallel=True)
    ws = TX.words("text")
    idx = F.sequence(F.lit(0), F.size(ws) - 2)
    bigrams = F.transform(
        idx,
        lambda i: F.concat_ws(
            "_", F.element_at(ws, (i + 1).cast("int")), F.element_at(ws, (i + 2).cast("int"))
        ),
    )
    c = (
        d.filter(F.size(ws) >= 2)
        .select("doc_id", F.explode(bigrams).alias("s"))
        .groupBy("doc_id", "s")
        .agg(F.count("*").alias("n"))
    )
    per_doc = c.groupBy("doc_id").agg(
        F.max("n").alias("top_n"),
        F.sum("n").alias("total"),
        F.count("*").alias("n_distinct"),
    )
    top_frac = F.col("top_n").cast("double") / F.col("total")
    dup_frac = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("total")
    return per_doc.select(
        "doc_id",
        top_frac.alias("top_bigram_frac"),
        dup_frac.alias("dup_bigram_frac"),
        ((top_frac <= 0.18) & (dup_frac <= 0.5)).alias("keep"),
    )


@register(
    "train_split_assign",
    sql=f"""
    WITH h AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % 100 AS hmod,
             substr(md5('order:' || CAST(doc_id AS VARCHAR)), 1, 16) AS shuffle_key
      FROM documents),
    s AS (
      SELECT doc_id, lang, shuffle_key,
             CASE WHEN hmod < 96 THEN 'train'
                  WHEN hmod < 98 THEN 'val' ELSE 'test' END AS split
      FROM h)
    SELECT doc_id, lang, split, shuffle_key,
           ROW_NUMBER() OVER (PARTITION BY split ORDER BY shuffle_key, doc_id)
             AS position
    FROM s
    """,
    tags=("llm", "curation", "split", "shuffle"),
)
def train_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment plus a reproducible
    global training order: split by a salted content-independent hash
    (96/2/2), position by rank of a second, independent hash. Every
    retry, engine, and rerun produces the identical split and order —
    the auditability property RNG shuffles lose. One shuffle (the
    per-split rank window); the hash itself is map-only. The two hashes
    use distinct salts so split membership and training order are
    statistically independent."""
    d = T(spark, sf_dir, "documents")
    hmod = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string")).cast("binary")),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    shuffle_key = F.substring(
        F.md5(F.concat(F.lit("order:"), F.col("doc_id").cast("string")).cast("binary")), 1, 16
    )
    split = (
        F.when(hmod < 96, "train").when(hmod < 98, "val").otherwise("test")
    )
    w = W.partitionBy("split").orderBy("shuffle_key", "doc_id")
    return (
        d.select(
            "doc_id",
            "lang",
            split.alias("split"),
            shuffle_key.alias("shuffle_key"),
        )
        .withColumn("position", F.row_number().over(w))
    )


def _curation_duck() -> str:
    from .llm import _JACCARD_CAPPED_DUCK

    return f"""
    WITH jp AS ({_JACCARD_CAPPED_DUCK}),
    quality AS (
      SELECT d.doc_id, d.lang,
        0.3 * LEAST(d.n_chars / 200.0, 1.0)
        + 0.4 * (SELECT CAST(SUM(CASE WHEN w IN {TX.STOPWORDS!r} THEN 1 ELSE 0 END) AS DOUBLE)
                        / COUNT(*)
                 FROM (SELECT unnest(string_split(d.text, ' ')) AS w) t)
        + 0.3 * (CAST(length(regexp_replace(d.text, '[^a-z ]', '', 'g')) AS DOUBLE)
                 / length(d.text)) AS q,
        ROW_NUMBER() OVER (PARTITION BY md5(d.text) ORDER BY d.doc_id) AS rn
      FROM documents d)
    SELECT doc_id, lang, q AS quality FROM quality
    WHERE rn = 1 AND q > 0.5
      AND doc_id NOT IN (SELECT db FROM jp)
    """


@register("curation_pipeline", sql=_curation_duck(), tags=("llm", "curation", "pipeline"))
def curation_pipeline(spark, sf_dir):
    """The composed curation pass a pretraining pipeline runs end-to-end:
    quality scoring -> threshold filter -> exact dedup (keep first by
    content hash) -> near-dup survivorship (drop the higher doc_id of
    every Jaccard>=0.8 pair) -> kept documents with their scores.

    One declarative plan: Catalyst sees all four stages at once, so the
    quality filter prunes rows BEFORE the dedup shuffles, and the
    near-dup drop list anti-joins (AQE broadcasts it when small). This is the
    operator the single-purpose entries exist to compose."""
    from .llm import dedup_ngram_jaccard

    d = T(spark, sf_dir, "documents", parallel=True)
    wl = (
        d.select("doc_id", F.explode(TX.words("text")).alias("w"))
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.when(F.col("w").isin(*TX.STOPWORDS), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*")
            ).alias("stop_ratio")
        )
    )
    quality = (
        F.lit(0.3) * F.least(F.col("n_chars") / 200.0, F.lit(1.0))
        + F.lit(0.4) * F.col("stop_ratio")
        + F.lit(0.3) * TX.alpha_ratio("text")
    )
    rn = F.row_number().over(
        W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    )
    scored = (
        d.join(wl, "doc_id")
        .withColumn("rn", rn)
        .withColumn("quality", quality)
        .filter((F.col("rn") == 1) & (F.col("quality") > 0.5))
    )
    drops = dedup_ngram_jaccard(spark, sf_dir).select(F.col("db").alias("doc_id"))
    # no broadcast hint: the drop list scales with the corpus's near-dup
    # count (same policy as the minhash candidate join) — AQE promotes it
    # to a broadcast at runtime when the measured size allows
    return scored.join(drops, "doc_id", "left_anti").select(
        "doc_id", "lang", "quality"
    )


@register(
    "text_pmi_collocations",
    sql="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    bgs AS (
      SELECT unnest([{'w1': ws[i], 'w2': ws[i+1]} for i in range(1, len(ws))]) AS s
      FROM w WHERE len(ws) >= 2),
    bg AS (SELECT s.w1 AS w1, s.w2 AS w2 FROM bgs),
    c12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM bg GROUP BY w1, w2),
    u AS (SELECT w, COUNT(*) AS nu
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
          GROUP BY w),
    tot AS (SELECT COUNT(*) AS nb FROM bg)
    SELECT w1, w2, n12,
           (CAST(nb AS DOUBLE) * CAST(n12 AS DOUBLE))
             / (CAST(u1.nu AS DOUBLE) * CAST(u2.nu AS DOUBLE)) AS lift
    FROM c12
    JOIN u u1 ON u1.w = w1 JOIN u u2 ON u2.w = w2 CROSS JOIN tot
    WHERE n12 >= 5
    ORDER BY lift DESC, w1, w2 LIMIT 50
    """,
    tags=("llm", "text", "collocation", "pmi"),
)
def text_pmi_collocations(spark, sf_dir):
    """Corpus collocations by PMI-lift: P(w1,w2)/(P(w1)P(w2)) as
    N·c(w1,w2)/(c(w1)·c(w2)) — the exponentiated PMI, rank-equivalent
    and free of the log() that would break cross-engine bit-exactness.
    Two counting aggregations (bigrams, unigrams) + two broadcast-ish
    joins on the vocabulary + a 1-row total. The multiplication runs in
    DOUBLE on both engines (int64 would overflow N·c12 at corpus scale);
    min-support n12>=5 keeps the rare-pair noise floor out. Vocabulary
    tables grow sublinearly with the corpus — the joins stay
    broadcastable when the fact side doesn't."""
    d = T(spark, sf_dir, "documents", parallel=True)
    ws = TX.words("text")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(ws) - 2),
        lambda i: F.struct(
            F.element_at(ws, (i + 1).cast("int")).alias("w1"),
            F.element_at(ws, (i + 2).cast("int")).alias("w2"),
        ),
    )
    bg = (
        d.filter(F.size(ws) >= 2)
        .select(F.explode(bigrams).alias("p"))
        .select("p.w1", "p.w2")
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    uni = (
        d.select(F.explode(ws).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("nu"))
    )
    tot = bg.agg(F.count("*").alias("nb"))
    lift = (F.col("nb").cast("double") * F.col("n12").cast("double")) / (
        F.col("nu1").cast("double") * F.col("nu2").cast("double")
    )
    return (
        c12.join(
            F.broadcast(uni.select(F.col("w").alias("w1"), F.col("nu").alias("nu1"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"), F.col("nu").alias("nu2"))),
            "w2",
        )
        .join(F.broadcast(tot))
        .filter(F.col("n12") >= 5)
        .select("w1", "w2", "n12", lift.alias("lift"))
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(50)
    )


@register(
    "sample_per_group_topk",
    sql="""
    WITH h AS (
      SELECT doc_id, lang, source,
             substr(md5('pg:' || CAST(doc_id AS VARCHAR)), 1, 16) AS hk
      FROM documents)
    SELECT doc_id, lang, source FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
                                   ORDER BY hk, doc_id) AS rn
      FROM h) t
    WHERE rn <= 20
    """,
    tags=("llm", "curation", "sampling", "per-group"),
)
def sample_per_group_topk(spark, sf_dir):
    """Fixed-size per-stratum sample (20 docs per (lang, source)): rank
    by a salted content-independent hash inside each stratum and keep
    the first k — the distributed, deterministic replacement for
    reservoir sampling (same k-uniform-without-replacement property,
    but reproducible across engines, reruns, and stragglers, and
    embarrassingly parallel: one rank window per stratum, no sequential
    reservoir state). The eval-set builder's workhorse: equal-size
    per-slice samples regardless of slice skew."""
    d = T(spark, sf_dir, "documents")
    hk = F.substring(
        F.md5(F.concat(F.lit("pg:"), F.col("doc_id").cast("string")).cast("binary")),
        1,
        16,
    )
    w = W.partitionBy("lang", "source").orderBy("hk", "doc_id")
    return (
        d.select("doc_id", "lang", "source", hk.alias("hk"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang", "source")
    )


@register(
    "pack_sequence_boundaries",
    sql=f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(regexp_extract_all(text, '{TX.TOKEN_RE}')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_before
      FROM t)
    SELECT doc_id, lang, n_tokens,
           CAST(tok_before // 2048 AS BIGINT) AS first_seq,
           CAST(CASE WHEN n_tokens = 0 THEN tok_before // 2048
                ELSE (tok_before + n_tokens - 1) // 2048 END AS BIGINT) AS last_seq,
           CAST(tok_before % 2048 AS BIGINT) AS offset_in_first
    FROM c
    """,
    tags=("llm", "curation", "packing", "sequences"),
)
def pack_sequence_boundaries(spark, sf_dir):
    """Token-level sequence packing: concatenate each language stream and
    cut it into fixed 2048-token training sequences, letting documents
    SPAN sequence boundaries (the standard pretraining packer — no
    padding waste). Emits each doc's first/last sequence id and its
    offset within the first — exactly what a tokenizer shard-writer
    needs to place the doc's tokens. Same one-window shape as
    shard_packing (a running total per stratum), plus three integer
    derivations; everything stays engine-exact integer arithmetic."""
    d = T(spark, sf_dir, "documents", parallel=True)
    toks = TX.token_count("text").cast("bigint")
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    t = d.select("doc_id", "lang", toks.alias("n_tokens"))
    before = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("tok_before")
    c = t.select("doc_id", "lang", "n_tokens", before)
    last_seq = F.when(
        F.col("n_tokens") == 0, F.floor(F.col("tok_before") / 2048)
    ).otherwise(F.floor((F.col("tok_before") + F.col("n_tokens") - 1) / 2048))
    return c.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(F.col("tok_before") / 2048).cast("bigint").alias("first_seq"),
        last_seq.cast("bigint").alias("last_seq"),
        (F.col("tok_before") % 2048).cast("bigint").alias("offset_in_first"),
    )


# ------------------------------------------------- context-window chunks

# Overlapping context-window chunking: SIZE-word chunks every STRIDE
# words (overlap = SIZE-STRIDE words preserves cross-boundary context,
# the standard prep for fixed-context-length training/embedding). The
# whole operator is map-only array arithmetic over the scan — no
# shuffle at any scale; chunk identity is (doc_id, chunk_id) and the
# chunk content is pinned by an md5 the oracle reproduces.
_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24

_CHUNK_DUCK = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         len(string_split(text, ' ')) AS n
  FROM documents),
c AS (
  SELECT doc_id, ws,
    1 + GREATEST(0, (n - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1) // {_CHUNK_STRIDE})
      AS n_chunks
  FROM d),
e AS (
  SELECT doc_id, unnest(range(0, n_chunks)) AS chunk_id, ws FROM c)
SELECT doc_id, chunk_id,
  CAST(1 + chunk_id * {_CHUNK_STRIDE} AS BIGINT) AS start_word,
  CAST(len(ws[1 + chunk_id * {_CHUNK_STRIDE} :
              chunk_id * {_CHUNK_STRIDE} + {_CHUNK_SIZE}]) AS BIGINT) AS n_words,
  md5(array_to_string(ws[1 + chunk_id * {_CHUNK_STRIDE} :
                         chunk_id * {_CHUNK_STRIDE} + {_CHUNK_SIZE}], ' '))
    AS chunk_hash
FROM e
"""


@register(
    "doc_chunk_overlap",
    sql=_CHUNK_DUCK,
    tags=("llm", "curation", "chunking"),
)
def doc_chunk_overlap(spark, sf_dir):
    """Split documents into overlapping fixed-size word windows.

    chunk k covers words [1+k*STRIDE, 1+k*STRIDE+SIZE), the final chunk
    is allowed to be short, and every word is covered (the chunk count
    is ceil((n-SIZE)/STRIDE)+1 clamped at >=1). Map-only: explode +
    slice run inside the scan stage, so the operator costs one pass
    over the corpus at any scale and parallelism follows the input
    partitioning."""
    d = T(spark, sf_dir, "documents", parallel=True)
    ws = F.split("text", " ", -1)
    n = F.size(ws)
    n_chunks = 1 + F.greatest(
        F.lit(0),
        F.floor((n - _CHUNK_SIZE + _CHUNK_STRIDE - 1) / _CHUNK_STRIDE).cast("int"),
    )
    e = d.select(
        "doc_id",
        ws.alias("ws"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    start = 1 + F.col("chunk_id") * _CHUNK_STRIDE
    chunk = F.slice(F.col("ws"), start, _CHUNK_SIZE)
    return e.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        start.cast("bigint").alias("start_word"),
        F.size(chunk).cast("bigint").alias("n_words"),
        F.md5(F.array_join(chunk, " ").cast("binary")).alias("chunk_hash"),
    )


# ----------------------------------------------- fuzzy decontamination

def _decontaminate_minhash_duck() -> str:
    from .llm import _MH_A, _MH_B, _MH_BANDS, _MH_BUCKET_CAP, _MH_K, _MH_P, _MH_ROWS

    mins = ",\n      ".join(
        f"MIN(({_MH_A[i]} * x + {_MH_B[i]}) % {_MH_P}) AS h{i}" for i in range(_MH_K)
    )
    bands = "\n      UNION ALL ".join(
        "SELECT doc_id, {j} AS band, {sig} AS sig FROM sigs".format(
            j=j,
            sig=" || ',' || ".join(
                f"CAST(h{j * _MH_ROWS + t} AS VARCHAR)" for t in range(_MH_ROWS)
            ),
        )
        for j in range(_MH_BANDS)
    )
    return f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct([ws[i] || '_' || ws[i+1] || '_' || ws[i+2]
             for i in range(1, len(ws)-1)])) AS s
      FROM w WHERE len(ws) >= 3),
    shx AS (SELECT doc_id, s, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS x FROM sh),
    sigs AS (
      SELECT doc_id, COUNT(*) AS nw,
      {mins}
      FROM shx GROUP BY doc_id),
    bsig AS ({bands}),
    tsz AS (SELECT band, sig, COUNT(*) AS c FROM bsig WHERE doc_id >= 50
            GROUP BY band, sig),
    cand AS (
      SELECT DISTINCT t.doc_id AS train_doc_id, e.doc_id AS eval_doc_id
      FROM bsig t
      JOIN bsig e ON t.band = e.band AND t.sig = e.sig
       AND t.doc_id >= 50 AND e.doc_id < 50
      JOIN tsz z ON z.band = t.band AND z.sig = t.sig
      WHERE z.c <= {_MH_BUCKET_CAP}),
    inter AS (
      SELECT c.train_doc_id, c.eval_doc_id, COUNT(*) AS i
      FROM cand c
      JOIN sh a ON a.doc_id = c.train_doc_id
      JOIN sh b ON b.doc_id = c.eval_doc_id AND b.s = a.s
      GROUP BY c.train_doc_id, c.eval_doc_id)
    SELECT train_doc_id, eval_doc_id,
      CAST(i AS DOUBLE) / (nt.nw + ne.nw - i) AS jaccard
    FROM inter JOIN sigs nt ON nt.doc_id = train_doc_id
    JOIN sigs ne ON ne.doc_id = eval_doc_id
    WHERE CAST(i AS DOUBLE) / (nt.nw + ne.nw - i) >= 0.8
    """


@register(
    "decontaminate_minhash",
    sql=_decontaminate_minhash_duck(),
    tags=("llm", "curation", "decontaminate", "minhash", "fuzzy"),
)
def decontaminate_minhash(spark, sf_dir):
    """FUZZY benchmark decontamination: banded-MinHash collision scan
    between the training corpus (doc_id >= 50) and the held-out eval
    set (doc_id < 50, the fixture's benchmark convention shared with
    decontaminate_overlap), verified with exact shingle Jaccard >= 0.8.

    Rationale: exact 8-gram overlap (decontaminate_overlap) misses
    lightly-paraphrased leakage; GPT-3/PaLM-style decontamination runs
    a fuzzy pass for exactly this reason. Same AND-OR banding as
    dedup_minhash_banded (b=8, r=4: P(candidate | J=0.8) ~ 0.985, and
    deterministic here — fixed portable permutations, replicated in the
    oracle, so both engines agree on every collision).

    Scale shape: signatures are ONE pass over the corpus (the same
    aggregate carries the 32 min-hashes and the verification shingle
    array); the eval side is tiny at any scale, so its band table and
    shingle arrays broadcast — the training corpus is never shuffled
    for the candidate join. Train-side buckets wider than the cap are
    skipped (boilerplate territory — the exact-hash and 8-gram passes
    catch those), cap replicated in the oracle."""
    from .llm import _MH_BANDS, _MH_BUCKET_CAP, _MH_ROWS

    ws = F.split("text", " ", -1)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - 3),
            lambda i: F.concat_ws(
                "_",
                F.element_at(ws, i + 1),
                F.element_at(ws, i + 2),
                F.element_at(ws, i + 3),
            ),
        )
    )
    tok = (
        T(spark, sf_dir, "documents", parallel=True)
        .filter(F.size(ws) >= 3)
        .select("doc_id", F.explode(shingles).alias("w"))
    )
    x = F.conv(F.substring(F.md5(F.col("w").cast("binary")), 1, 8), 16, 10).cast(
        "bigint"
    )
    # SQL-text construction (round 16): the shared min-hash/band
    # strings parse in one JVM call per list instead of ~300 py4j
    # round-trips — see operators/minhash_index.py's note. Same
    # expressions, same literals.
    from ..operators.minhash_index import _BAND_STRUCTS_SQL, _min_hash_agg_sql

    sigs = tok.withColumn("x", x).groupBy("doc_id").agg(
        F.count("*").alias("nw"),
        F.collect_list("w").alias("shs"),
        *[F.expr(s) for s in _min_hash_agg_sql(_MH_BANDS, _MH_ROWS)],
    )
    sigs = replace(spark, "decontaminate_minhash_sigs", sigs)
    buckets = sigs.selectExpr(
        "doc_id", f"explode(array({_BAND_STRUCTS_SQL})) AS bs"
    ).select("doc_id", "bs.band", "bs.sig")
    tb = buckets.filter(F.col("doc_id") >= 50)
    # train-side bucket-width cap: window over the SAME (band, sig)
    # partitioning the join shuffles on — no extra exchange
    cw = W.partitionBy("band", "sig")
    tb = (
        tb.withColumn("c", F.count("*").over(cw))
        .filter(F.col("c") <= _MH_BUCKET_CAP)
        .select(F.col("doc_id").alias("train_doc_id"), "band", "sig")
    )
    eb = buckets.filter(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("eval_doc_id"), "band", "sig"
    )
    cand = (
        tb.join(F.broadcast(eb), ["band", "sig"])
        .select("train_doc_id", "eval_doc_id")
        .distinct()
    )
    ta = sigs.select(F.col("doc_id").alias("train_doc_id"), F.col("shs").alias("ta"), F.col("nw").alias("nt"))
    ea = sigs.select(F.col("doc_id").alias("eval_doc_id"), F.col("shs").alias("ea"), F.col("nw").alias("ne"))
    inter = F.size(F.array_intersect("ta", "ea"))
    jac = inter.cast("double") / (F.col("nt") + F.col("ne") - inter)
    return (
        cand.join(ta, "train_doc_id")
        .join(F.broadcast(ea.filter(F.col("eval_doc_id") < 50)), "eval_doc_id")
        .select("train_doc_id", "eval_doc_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.8)
        .select("train_doc_id", "eval_doc_id", "jaccard")
    )


# --------------------------------------------- global-quantile quality gate

def _quality_gate_duck() -> str:
    quality = """(0.3 * LEAST(d.n_chars / 200.0, 1.0) + 0.4 * wl.stop_ratio
        + 0.3 * (CAST(length(regexp_replace(d.text, '[^a-z ]', '', 'g')) AS DOUBLE)
                 / length(d.text)))"""
    return f"""
    WITH wl AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN w IN {TX.STOPWORDS!r} THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*) AS stop_ratio
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
      GROUP BY doc_id),
    scores AS (
      SELECT d.doc_id, d.lang,
        CAST(ROUND({quality} * 1000000.0) AS BIGINT) AS quality_ppm
      FROM documents d JOIN wl ON d.doc_id = wl.doc_id),
    k AS (SELECT CAST(CEIL(COUNT(*) / 10.0) AS BIGINT) AS k FROM scores),
    ranked AS (
      SELECT quality_ppm, ROW_NUMBER() OVER (ORDER BY quality_ppm, 1) AS rn
      FROM scores),
    thr AS (SELECT r.quality_ppm AS p10_ppm FROM ranked r, k WHERE r.rn = k.k)
    SELECT s.doc_id, s.lang, s.quality_ppm, t.p10_ppm
    FROM scores s, thr t
    WHERE s.quality_ppm >= t.p10_ppm
    """


@register(
    "quality_percentile_gate",
    sql=_quality_gate_duck(),
    tags=("llm", "curation", "quality", "quantile"),
)
def quality_percentile_gate(spark, sf_dir):
    """Corpus-RELATIVE quality gate: keep documents at or above the
    corpus's 10th-percentile quality score — the 'drop the worst decile'
    curation step (fixed thresholds like text_quality_score's 0.5 drift
    as the crawl mix shifts; a percentile gate self-calibrates).

    Exact global quantile WITHOUT a global sort: scores are quantized to
    integer ppm, aggregated into a per-score histogram (bounded at 1e6
    cells regardless of corpus size), the threshold is read off the
    histogram's running sum (a window over the TINY histogram relation,
    never the corpus), and the 1-row threshold broadcasts back to the
    gating filter. At 100 TB: two corpus passes (score+histogram, then
    gate), both map-shaped; everything between them is O(distinct
    scores). The oracle reproduces the same value via the rank-k order
    statistic — value-identical because the k-th smallest is tie-order
    independent."""
    d = T(spark, sf_dir, "documents", parallel=True)
    wl = (
        d.select("doc_id", F.explode(TX.words("text")).alias("w"))
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.when(F.col("w").isin(*TX.STOPWORDS), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*")
            ).alias("stop_ratio")
        )
    )
    quality = (
        F.lit(0.3) * F.least(F.col("n_chars") / 200.0, F.lit(1.0))
        + F.lit(0.4) * F.col("stop_ratio")
        + F.lit(0.3) * TX.alpha_ratio("text")
    )
    scores = d.join(wl, "doc_id").select(
        "doc_id",
        "lang",
        F.round(quality * F.lit(1000000.0)).cast("bigint").alias("quality_ppm"),
    )
    hist = scores.groupBy("quality_ppm").agg(F.count("*").alias("c"))
    cw = W.orderBy("quality_ppm").rowsBetween(W.unboundedPreceding, W.currentRow)
    tw = W.orderBy("quality_ppm").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    thr = (
        hist.withColumn("cum", F.sum("c").over(cw))
        .withColumn("n", F.sum("c").over(tw))
        .filter(F.col("cum") >= F.ceil(F.col("n") / F.lit(10.0)))
        .agg(F.min("quality_ppm").alias("p10_ppm"))
    )
    return (
        scores.crossJoin(F.broadcast(thr))
        .filter(F.col("quality_ppm") >= F.col("p10_ppm"))
        .select("doc_id", "lang", "quality_ppm", "p10_ppm")
    )


# ------------------------------------------- streaming trending terms

@register(
    "streaming_topk_trending_replay",
    sql="""
    WITH wc AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      GROUP BY w)
    SELECT word, c, rnk FROM (
      SELECT word, c, ROW_NUMBER() OVER (ORDER BY c DESC, word) AS rnk
      FROM wc) r
    WHERE rnk <= 25
    """,
    tags=("streaming", "llm", "text", "topk"),
)
def streaming_topk_trending_replay(spark, sf_dir):
    """Live top-25 trending terms, maintained STREAMING-side and
    replayed end-to-end: the document feed runs through foreachBatch,
    each micro-batch map-side-combines to per-word count partials that
    append to a stats store; the report is the merged store's top-k.
    Counts are mergeable partials, so the replayed result equals the
    batch word count bit-for-bit regardless of batch boundaries —
    pinned by the oracle and the equivalence test.

    100 TB plan: the per-batch reduce is vocabulary-sized (not
    corpus-sized) and map-side-combined; the merge re-aggregates the
    bounded store; top-k is a TakeOrdered over the vocabulary relation.
    Nothing in the loop grows with history except the partials file,
    compacted by the same re-aggregation."""
    import tempfile
    import uuid

    from ..streaming.documents import (
        foreach_batch_word_count_partials,
        read_documents_stream,
    )

    base = tempfile.mkdtemp(prefix=f"trending_{uuid.uuid4().hex[:8]}_")
    target, ck = f"{base}/partials", f"{base}/ck"
    q = foreach_batch_word_count_partials(
        read_documents_stream(spark, sf_dir), target, ck
    )
    q.awaitTermination()
    merged = (
        spark.read.parquet(target)
        .groupBy("word")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    rw = W.orderBy(F.desc("c"), F.asc("word"))
    return (
        merged.withColumn("rnk", F.row_number().over(rw))
        .filter(F.col("rnk") <= 25)
        .select("word", "c", "rnk")
    )


# ---------------------------------------------- blocklist redaction

_BLOCKLIST = ("dup", "crash", "spam")
_BL_DUCK = "('" + "', '".join(_BLOCKLIST) + "')"


@register(
    "text_blocklist_redaction",
    sql=f"""
    WITH t AS (
      SELECT doc_id,
        len(list_filter(string_split(text, ' '), x -> x IN {_BL_DUCK}))
          AS n_bad,
        array_to_string(
          list_transform(string_split(text, ' '),
                         x -> CASE WHEN x IN {_BL_DUCK}
                                   THEN '<removed>' ELSE x END), ' ')
          AS cleaned
      FROM documents)
    SELECT doc_id, CAST(n_bad AS BIGINT) AS n_bad, n_bad = 0 AS keep,
           md5(cleaned) AS clean_hash
    FROM t
    """,
    tags=("llm", "curation", "quality", "blocklist"),
)
def text_blocklist_redaction(spark, sf_dir):
    """C4-style blocklist pass, in both of its production modes at once:
    FLAG (keep = no blocklisted token, the drop-the-document policy) and
    REDACT (the cleaned text with blocklisted tokens replaced, for
    pipelines that keep the document — same shape as PII scrubbing,
    where the patterns are emails/phones instead of tokens).

    Token-level replacement (transform over the split array), not a
    regex, so word boundaries are exact and the pass stays a pure map:
    no shuffle, no join — the blocklist is a literal in the plan (a
    production list of ~1e4 terms would broadcast a set instead; the
    shape is unchanged). Cleaned text is pinned by md5 so the oracle
    verifies the full reconstruction without hauling text through the
    compare."""
    d = T(spark, sf_dir, "documents", parallel=True)
    ws = F.split("text", " ", -1)
    n_bad = F.size(F.filter(ws, lambda w: w.isin(*_BLOCKLIST)))
    cleaned = F.array_join(
        F.transform(
            ws,
            lambda w: F.when(w.isin(*_BLOCKLIST), F.lit("<removed>")).otherwise(w),
        ),
        " ",
    )
    return d.select(
        "doc_id",
        n_bad.cast("bigint").alias("n_bad"),
        (n_bad == 0).alias("keep"),
        F.md5(cleaned.cast("binary")).alias("clean_hash"),
    )


# ------------------------------------------- quality-curriculum buckets

def _curriculum_duck() -> str:
    quality = """(0.3 * LEAST(d.n_chars / 200.0, 1.0) + 0.4 * wl.stop_ratio
        + 0.3 * (CAST(length(regexp_replace(d.text, '[^a-z ]', '', 'g')) AS DOUBLE)
                 / length(d.text)))"""
    return f"""
    WITH wl AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN w IN {TX.STOPWORDS!r} THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*) AS stop_ratio
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
      GROUP BY doc_id),
    scores AS (
      SELECT d.doc_id,
        CAST(ROUND({quality} * 1000000.0) AS BIGINT) AS quality_ppm
      FROM documents d JOIN wl ON d.doc_id = wl.doc_id),
    k AS (SELECT COUNT(*) AS n FROM scores),
    ranked AS (
      SELECT quality_ppm, ROW_NUMBER() OVER (ORDER BY quality_ppm, 1) AS rn
      FROM scores),
    thr AS (
      SELECT
        MAX(CASE WHEN rn = (n * 25 + 99) // 100 THEN quality_ppm END) AS t25,
        MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN quality_ppm END) AS t50,
        MAX(CASE WHEN rn = (n * 75 + 99) // 100 THEN quality_ppm END) AS t75
      FROM ranked, k)
    SELECT s.doc_id, s.quality_ppm,
      CAST(1 + CASE WHEN s.quality_ppm >= t.t25 THEN 1 ELSE 0 END
             + CASE WHEN s.quality_ppm >= t.t50 THEN 1 ELSE 0 END
             + CASE WHEN s.quality_ppm >= t.t75 THEN 1 ELSE 0 END AS BIGINT)
        AS bucket
    FROM scores s, thr t
    """


@register(
    "curriculum_quality_buckets",
    sql=_curriculum_duck(),
    tags=("llm", "curation", "quality", "quantile", "curriculum"),
)
def curriculum_quality_buckets(spark, sf_dir):
    """Quality-curriculum assignment: every document labeled with its
    corpus-quality QUARTILE (1 = worst .. 4 = best) — the bucketing a
    curriculum-ordered training run feeds its sampler (low-quality
    early / high-quality late, or quality-mixture schedules).

    Same exact-global-quantile machinery as quality_percentile_gate —
    integer-ppm score histogram (bounded cells, no global sort), three
    rank-k thresholds read off the running sum, 1-row broadcast back —
    but emitting an ASSIGNMENT for every doc instead of a filter. Ties
    bucket upward (>= threshold) identically in both engines."""
    d = T(spark, sf_dir, "documents", parallel=True)
    wl = (
        d.select("doc_id", F.explode(TX.words("text")).alias("w"))
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.when(F.col("w").isin(*TX.STOPWORDS), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*")
            ).alias("stop_ratio")
        )
    )
    quality = (
        F.lit(0.3) * F.least(F.col("n_chars") / 200.0, F.lit(1.0))
        + F.lit(0.4) * F.col("stop_ratio")
        + F.lit(0.3) * TX.alpha_ratio("text")
    )
    scores = d.join(wl, "doc_id").select(
        "doc_id",
        F.round(quality * F.lit(1000000.0)).cast("bigint").alias("quality_ppm"),
    )
    hist = scores.groupBy("quality_ppm").agg(F.count("*").alias("c"))
    cw = W.orderBy("quality_ppm").rowsBetween(W.unboundedPreceding, W.currentRow)
    tw = W.orderBy("quality_ppm").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = hist.select(
        "quality_ppm",
        F.sum("c").over(cw).alias("cum"),
        F.sum("c").over(tw).alias("n"),
    )

    # threshold = value at rank k: smallest score whose running count
    # reaches k (same argmin-readout as quality_percentile_gate)
    thr = (
        cum.agg(
            F.min(
                F.when(F.col("cum") >= F.expr("(n * 25 + 99) div 100"), F.col("quality_ppm"))
            ).alias("t25"),
            F.min(
                F.when(F.col("cum") >= F.expr("(n * 50 + 99) div 100"), F.col("quality_ppm"))
            ).alias("t50"),
            F.min(
                F.when(F.col("cum") >= F.expr("(n * 75 + 99) div 100"), F.col("quality_ppm"))
            ).alias("t75"),
        )
    )
    bucket = (
        F.lit(1)
        + (F.col("quality_ppm") >= F.col("t25")).cast("int")
        + (F.col("quality_ppm") >= F.col("t50")).cast("int")
        + (F.col("quality_ppm") >= F.col("t75")).cast("int")
    )
    return (
        scores.crossJoin(F.broadcast(thr))
        .select("doc_id", "quality_ppm", bucket.cast("bigint").alias("bucket"))
    )


# ------------------------------------------- composed pipeline v2 (routing)

def _pipeline_v2_duck() -> str:
    quality = """(0.3 * LEAST(d.n_chars / 200.0, 1.0) + 0.4 * wl.stop_ratio
        + 0.3 * (CAST(length(regexp_replace(d.text, '[^a-z ]', '', 'g')) AS DOUBLE)
                 / length(d.text)))"""
    return f"""
    WITH wl AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN w IN {TX.STOPWORDS!r} THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*) AS stop_ratio
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
      GROUP BY doc_id),
    base AS (
      SELECT d.doc_id, d.text,
        len(list_filter(string_split(d.text, ' '), x -> x IN {_BL_DUCK}))
          AS n_bad,
        CAST(ROUND({quality} * 1000000.0) AS BIGINT) AS quality_ppm
      FROM documents d JOIN wl ON d.doc_id = wl.doc_id),
    -- stage 0: the held-out benchmark never trains
    train AS (SELECT * FROM base WHERE doc_id >= 50),
    -- stage 1: blocklist
    s1 AS (SELECT * FROM train WHERE n_bad = 0),
    -- stage 2: corpus-relative quality gate (P10 over stage-1 survivors)
    k AS (SELECT CAST(CEIL(COUNT(*) / 10.0) AS BIGINT) AS k FROM s1),
    ranked AS (
      SELECT quality_ppm, ROW_NUMBER() OVER (ORDER BY quality_ppm, 1) AS rn
      FROM s1),
    thr AS (SELECT r.quality_ppm AS p10 FROM ranked r, k WHERE r.rn = k.k),
    s2 AS (SELECT s1.* FROM s1, thr WHERE s1.quality_ppm >= thr.p10),
    -- stage 3: exact dedup, keep smallest doc_id per content hash
    s3 AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rz
        FROM s2) t WHERE rz = 1),
    -- stage 4: decontamination vs the held-out docs (exact 3-shingle
    -- Jaccard >= 0.8; eval side tiny at any scale)
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        [ws[i] || '_' || ws[i+1] || '_' || ws[i+2]
         for i in range(1, len(ws)-1)])) AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) w
      WHERE len(ws) >= 3),
    n AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id),
    contaminated AS (
      SELECT DISTINCT a.doc_id
      FROM sh a JOIN sh b ON a.s = b.s AND b.doc_id < 50 AND a.doc_id >= 50
      JOIN n na ON na.doc_id = a.doc_id JOIN n nb ON nb.doc_id = b.doc_id
      GROUP BY a.doc_id, b.doc_id, na.ns, nb.ns
      HAVING CAST(COUNT(*) AS DOUBLE) / (na.ns + nb.ns - COUNT(*)) >= 0.8)
    SELECT b.doc_id,
      CASE WHEN b.doc_id < 50 THEN 'eval_heldout'
           WHEN b.n_bad > 0 THEN 'blocklisted'
           WHEN s2.doc_id IS NULL THEN 'low_quality'
           WHEN s3.doc_id IS NULL THEN 'exact_dup'
           WHEN c.doc_id IS NOT NULL THEN 'contaminated'
           ELSE 'kept' END AS disposition
    FROM base b
    LEFT JOIN s2 ON s2.doc_id = b.doc_id
    LEFT JOIN s3 ON s3.doc_id = b.doc_id
    LEFT JOIN contaminated c ON c.doc_id = b.doc_id
    """


@register(
    "curation_pipeline_v2",
    sql=_pipeline_v2_duck(),
    tags=("llm", "curation", "pipeline", "routing"),
)
def curation_pipeline_v2(spark, sf_dir):
    """The round-5 curation pass composed end-to-end, emitting the FULL
    ROUTING TABLE — every document with the first stage that claimed
    it: eval_heldout (benchmark split), blocklisted (C4 blocklist),
    low_quality (below the corpus-relative P10, computed over
    blocklist survivors — each stage's statistics see only what
    reached it), exact_dup (content-hash, keep smallest id),
    contaminated (3-shingle Jaccard >= 0.8 against the held-out set),
    or kept. A routing table rather than a filtered corpus is what a
    production pipeline actually lands: the drops are auditable and
    every stage's yield is one GROUP BY away.

    One declarative plan; the stage predicates compose as left joins
    against progressively-filtered relations, so Catalyst pushes the
    cheap gates (blocklist, split) below the shuffling stages and the
    eval side of decontamination broadcasts. Stage semantics are
    EXACTLY the standalone operators' (text_blocklist_redaction,
    quality_percentile_gate, dedup_exact_keep_first,
    decontaminate_overlap/minhash at the verified threshold), pinned
    bit-exact by the oracle."""
    d = T(spark, sf_dir, "documents", parallel=True)
    wl = (
        d.select("doc_id", F.explode(TX.words("text")).alias("w"))
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.when(F.col("w").isin(*TX.STOPWORDS), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*")
            ).alias("stop_ratio")
        )
    )
    quality = (
        F.lit(0.3) * F.least(F.col("n_chars") / 200.0, F.lit(1.0))
        + F.lit(0.4) * F.col("stop_ratio")
        + F.lit(0.3) * TX.alpha_ratio("text")
    )
    ws = F.split("text", " ", -1)
    base = d.join(wl, "doc_id").select(
        "doc_id",
        "text",
        F.size(F.filter(ws, lambda w: w.isin(*_BLOCKLIST))).alias("n_bad"),
        F.round(quality * F.lit(1000000.0)).cast("bigint").alias("quality_ppm"),
    )
    base = replace(spark, "curation_pipeline_v2_base", base)
    train = base.filter(F.col("doc_id") >= 50)
    s1 = train.filter(F.col("n_bad") == 0)
    hist = s1.groupBy("quality_ppm").agg(F.count("*").alias("c"))
    cw = W.orderBy("quality_ppm").rowsBetween(W.unboundedPreceding, W.currentRow)
    tw = W.orderBy("quality_ppm").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    thr = (
        hist.withColumn("cum", F.sum("c").over(cw))
        .withColumn("n", F.sum("c").over(tw))
        .filter(F.col("cum") >= F.ceil(F.col("n") / F.lit(10.0)))
        .agg(F.min("quality_ppm").alias("p10"))
    )
    s2 = (
        s1.crossJoin(F.broadcast(thr))
        .filter(F.col("quality_ppm") >= F.col("p10"))
        .select("doc_id", "text")
    )
    rz = F.row_number().over(
        W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    )
    s3 = s2.withColumn("rz", rz).filter(F.col("rz") == 1).select("doc_id")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - 3),
            lambda i: F.concat_ws(
                "_",
                F.element_at(ws, i + 1),
                F.element_at(ws, i + 2),
                F.element_at(ws, i + 3),
            ),
        )
    )
    sh = (
        d.filter(F.size(ws) >= 3)
        .select("doc_id", F.explode(shingles).alias("s"))
    )
    ns = sh.groupBy("doc_id").agg(F.count("*").alias("ns"))
    ev = sh.filter(F.col("doc_id") < 50).select(F.col("doc_id").alias("ed"), "s")
    tr = sh.filter(F.col("doc_id") >= 50)
    inter = (
        tr.join(F.broadcast(ev), "s")
        .groupBy("doc_id", "ed")
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    contaminated = (
        inter.join(ns.select(F.col("doc_id"), F.col("ns").alias("na")), "doc_id")
        .join(
            F.broadcast(ns.select(F.col("doc_id").alias("ed"), F.col("ns").alias("nb"))),
            "ed",
        )
        .filter(jac >= 0.8)
        .select("doc_id")
        .distinct()
    )
    disp = (
        F.when(F.col("doc_id") < 50, F.lit("eval_heldout"))
        .when(F.col("n_bad") > 0, F.lit("blocklisted"))
        .when(F.col("m2").isNull(), F.lit("low_quality"))
        .when(F.col("m3").isNull(), F.lit("exact_dup"))
        .when(F.col("mc").isNotNull(), F.lit("contaminated"))
        .otherwise(F.lit("kept"))
    )
    return (
        base.join(s2.select("doc_id").withColumn("m2", F.lit(1)), "doc_id", "left")
        .join(s3.withColumn("m3", F.lit(1)), "doc_id", "left")
        .join(contaminated.withColumn("mc", F.lit(1)), "doc_id", "left")
        .select("doc_id", disp.alias("disposition"))
    )


@register(
    "pack_sequences_emit",
    sql=f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(regexp_extract_all(text, '{TX.TOKEN_RE}')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_before
      FROM t WHERE n_tokens > 0),
    spans AS (
      SELECT doc_id, lang, n_tokens, tok_before,
             CAST(tok_before // 2048 AS BIGINT) AS first_seq,
             CAST((tok_before + n_tokens - 1) // 2048 AS BIGINT) AS last_seq
      FROM c)
    SELECT s.lang, CAST(g.seq_id AS BIGINT) AS seq_id, s.doc_id,
      CAST(GREATEST(g.seq_id * 2048, s.tok_before) - s.tok_before AS BIGINT)
        AS doc_start_tok,
      CAST(LEAST((g.seq_id + 1) * 2048, s.tok_before + s.n_tokens)
           - GREATEST(g.seq_id * 2048, s.tok_before) AS BIGINT) AS n_tok,
      CAST(GREATEST(g.seq_id * 2048, s.tok_before) - g.seq_id * 2048 AS BIGINT)
        AS seq_offset
    FROM spans s CROSS JOIN LATERAL
      unnest(generate_series(s.first_seq, s.last_seq)) AS g(seq_id)
    """,
    tags=("llm", "curation", "packing", "sequences"),
)
def pack_sequences_emit(spark, sf_dir):
    """The packed-sequence SEGMENT MAP — the artifact a tokenizer
    shard-writer actually lands: one row per (sequence, document
    segment), saying which token range of which doc fills which offset
    of which fixed 2048-token training sequence. Docs spanning
    boundaries appear once per overlapped sequence with split ranges;
    SUM(n_tok) per sequence is 2048 for every full sequence by
    construction (pinned by test). pack_sequence_boundaries reports
    each doc's span; this materializes the placement.

    Shape: the same per-stratum running-token window, then a per-doc
    explode of ceil(n_tokens/2048)-ish sequence ids — output grows only
    with boundary crossings (≈ corpus_tokens / 2048 extra rows), all
    integer min/max arithmetic, no extra shuffle beyond the window's."""
    d = T(spark, sf_dir, "documents", parallel=True)
    toks = TX.token_count("text").cast("bigint")
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    t = d.select("doc_id", "lang", toks.alias("n_tokens")).filter(
        F.col("n_tokens") > 0
    )
    spans = t.select(
        "doc_id",
        "lang",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("tok_before"),
    ).select(
        "doc_id",
        "lang",
        "n_tokens",
        "tok_before",
        F.floor(F.col("tok_before") / 2048).cast("bigint").alias("first_seq"),
        F.floor((F.col("tok_before") + F.col("n_tokens") - 1) / 2048)
        .cast("bigint")
        .alias("last_seq"),
    )
    e = spans.select(
        "lang",
        "doc_id",
        "n_tokens",
        "tok_before",
        F.explode(F.sequence("first_seq", "last_seq")).alias("seq_id"),
    )
    seg_lo = F.greatest(F.col("seq_id") * 2048, F.col("tok_before"))
    seg_hi = F.least(
        (F.col("seq_id") + 1) * 2048, F.col("tok_before") + F.col("n_tokens")
    )
    return e.select(
        "lang",
        F.col("seq_id").cast("bigint").alias("seq_id"),
        "doc_id",
        (seg_lo - F.col("tok_before")).cast("bigint").alias("doc_start_tok"),
        (seg_hi - seg_lo).cast("bigint").alias("n_tok"),
        (seg_lo - F.col("seq_id") * 2048).cast("bigint").alias("seq_offset"),
    )


# ------------------------------------------- incremental curation (delta)


def _curation_incremental_duck() -> str:
    from .llm import _minhash_banded_duck

    return f"""
    WITH mh AS ({_minhash_banded_duck()}),
    drops AS (
      SELECT DISTINCT CASE WHEN db % 4 = 0 THEN db ELSE da END AS doc_id
      FROM mh WHERE da % 4 = 0 OR db % 4 = 0),
    landed AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 4 != 0),
    quality AS (
      SELECT d.doc_id, d.lang, md5(d.text) AS h,
        0.3 * LEAST(d.n_chars / 200.0, 1.0)
        + 0.4 * (SELECT CAST(SUM(CASE WHEN w IN {TX.STOPWORDS!r} THEN 1 ELSE 0 END) AS DOUBLE)
                        / COUNT(*)
                 FROM (SELECT unnest(string_split(d.text, ' ')) AS w) t)
        + 0.3 * (CAST(length(regexp_replace(d.text, '[^a-z ]', '', 'g')) AS DOUBLE)
                 / length(d.text)) AS q,
        ROW_NUMBER() OVER (PARTITION BY md5(d.text) ORDER BY d.doc_id) AS rn
      FROM documents d WHERE d.doc_id % 4 = 0)
    SELECT doc_id, lang, q AS quality FROM quality
    WHERE rn = 1 AND q > 0.5
      AND h NOT IN (SELECT h FROM landed)
      AND doc_id NOT IN (SELECT doc_id FROM drops)
    """


@register(
    "curation_pipeline_incremental",
    sql=_curation_incremental_duck(),
    tags=("llm", "curation", "pipeline", "incremental"),
)
def curation_pipeline_incremental(spark, sf_dir):
    """curation_pipeline's PRODUCTION steady state: a DELTA batch
    (doc_id % 4 == 0) curated against the immutable landed corpus, with
    every stage delta-bounded — the full loop a 100 TB pipeline runs
    per arriving crawl batch, where re-running the batch pipeline
    corpus-wide would be a 1000x overspend.

    Stages: (1) quality scoring + threshold on the DELTA only
    (map-only); (2) exact dedup — keep-first within the delta, then
    anti-join the delta's content hashes against the landed hash set
    (at 100 TB the landed side is the Bloom-gated seen-set of
    dedup_bloom_gate / operators/ingest; only delta hashes shuffle);
    (3) near-dup — the persisted-MinHash-index probe
    (dedup_minhash_incremental): an arriving doc that near-dups
    anything landed is dropped, and of a delta-delta pair the higher
    doc_id drops (keep-first) — only the delta is shingled; (4) kept
    delta docs with their scores.

    Oracle states the same contract: delta quality/exact gates plus the
    batch banded-MinHash run restricted to delta-touching pairs with
    the delta endpoint dropped."""
    from .llm import dedup_minhash_incremental

    docs = T(spark, sf_dir, "documents", parallel=True)
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    landed_h = (
        docs.filter(F.col("doc_id") % 4 != 0)
        .select(F.md5(F.col("text").cast("binary")).alias("h"))
        .distinct()
    )
    wl = (
        delta.select("doc_id", F.explode(TX.words("text")).alias("w"))
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.when(F.col("w").isin(*TX.STOPWORDS), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*")
            ).alias("stop_ratio")
        )
    )
    quality = (
        F.lit(0.3) * F.least(F.col("n_chars") / 200.0, F.lit(1.0))
        + F.lit(0.4) * F.col("stop_ratio")
        + F.lit(0.3) * TX.alpha_ratio("text")
    )
    rn = F.row_number().over(
        W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    )
    scored = (
        delta.join(wl, "doc_id")
        .withColumn("h", F.md5(F.col("text").cast("binary")))
        .withColumn("rn", rn)
        .withColumn("quality", quality)
        .filter((F.col("rn") == 1) & (F.col("quality") > 0.5))
    )
    after_exact = scored.join(landed_h, "h", "left_anti")
    pairs = dedup_minhash_incremental(spark, sf_dir)
    drops = pairs.select(
        F.when(F.col("db") % 4 == 0, F.col("db"))
        .otherwise(F.col("da"))
        .alias("doc_id")
    ).distinct()
    # drop list scales with the delta's near-dup count: AQE decides the
    # broadcast, same policy as curation_pipeline
    return after_exact.join(drops, "doc_id", "left_anti").select(
        "doc_id", "lang", "quality"
    )
