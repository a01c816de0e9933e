"""Persisted banded-MinHash near-dup index: the INCREMENTAL dedup path.

`queries.llm.dedup_minhash_banded` recomputes signatures corpus-wide per
run — right for a one-shot dedup, wrong for production's steady state:
"a new crawl batch lands against an already-deduped 100 TB corpus".
Re-signing 100 TB to admit 100 GB is a 1000× overspend. This module is
the missing piece (round-5 review item 2): the signature/banding state
is PERSISTED as the index, and a delta batch is probed against it —
only the delta is shingled, signed, and shuffled.

Index layout (two parquet relations under one base path):

- `postings/` — (band, sig, doc_id), partitioned by (band, delta_id):
  the banded LSH buckets. A probe for the delta's (band, sig) keys is
  an equi-join; partition pruning cuts it 8× before the sig filter.
  Landing a delta's posting rows IS the index update — no rewrite, no
  merge of existing files.
- `arrays/` — (doc_id, shs, nw), partitioned by delta_id: the
  verification store (per-doc distinct shingle-HASH array + its size),
  used to confirm candidates with EXACT Jaccard over the md5-derived
  int64 shingle values so the incremental path emits the same contract
  as the batch path (verified pairs, J >= 0.8). Storing the int64
  hashes instead of the shingle strings (round-6 verdict item 1b) cuts
  the store ~3× in bytes — a 3-word shingle averages ~20 chars where
  the hash is 8 bytes — and the hashes are ALREADY computed for the
  MinHash permutations, so verification arithmetic is identical in
  both engines (the DuckDB oracle intersects the same hash sets).
  At 100 TB this relation is stored bucketed by doc_id so the candidate
  fetch co-locates; on plain parquet AQE broadcasts the (delta-bounded)
  candidate side instead.
- `pairs/` — (da, db, jaccard), partitioned by delta_id: each probe's
  verified output, landed BEFORE probe_and_insert returns so the
  result is a stable snapshot (see that method's docstring).
- `_deleted/` — (doc_id), partitioned by forget_id: the
  right-to-be-forgotten tombstones (see forget()); probes exclude
  these docs before bucket sizing, so results equal a from-scratch run
  on the reduced corpus. The tombstone listing is cached per index
  instance (invalidated by forget/compact/bootstrap) and the anti-join
  broadcast is byte-bounded (MH_TOMBSTONE_BROADCAST_BYTES).

Lifecycle (round-7 verdict asks 1a/6 + ADVICE):

- A `_FORMAT` marker under the base path records the on-disk format
  version, written LAST at bootstrap. insert/probe fail fast with a
  "rebootstrap required" message when it is missing or older — an
  index bootstrapped by a previous revision (v1 stored shingle STRINGS
  in arrays/) must not receive v2 int64 partitions in the same store,
  where the mixed-schema parquet read would surface as a confusing
  type-conversion error long after the damaging write.
- `compact()` folds the per-delta partition sprawl (one `(band,
  delta_id)` pair per crawl batch, forever) into a single consolidated
  generation per relation: after N inserts + compact, postings/ holds
  O(bands) leaf partitions, not O(N*bands). Probe results are
  IDENTICAL before and after (pinned by test) — folding changes file
  layout, never rows.

  The fold is IN PLACE, not a whole-relation swap (round-8 rework —
  closes the "insert racing compact() could be erased" accepted risk):
  only delta partitions whose insert has COMMITTED — advertised by a
  per-delta marker under `_landed/` (`_landed_pairs/` for snapshots),
  written after the insert's last relation write — are read, rewritten
  as ONE fresh `delta_id=gen-<id>` partition landed BESIDE the live
  data (dynamic overwrite touches only the gen partition), verified
  row-exact from parquet footers, and only then deleted. A concurrent
  insert's new delta is untouched by construction: its partitions are
  not in the fold set (no marker at plan time), and the fold never
  replaces the relation directory. Crash safety is a two-phase
  manifest (`_fold_intent.json` → `_fold_commit.json`): recovery rolls
  an unverified fold back (delete the gen partition) and rolls a
  committed one forward (finish the source deletions) — either way the
  store holds each row exactly once.

  Probes are FOLD-SAFE (round-9): index reads resolve through the fold
  manifests, not a bare directory glob (`_fold_read_exclusions`). An
  intent-only fold's generation partition is invisible (unverified —
  probes read the intact sources); once the commit manifest lands, the
  folded SOURCES are invisible (probes read the verified generation,
  whether or not the source deletions finished). A probe landing
  between a compactor CRASH and the next compact() therefore sees each
  row exactly once in BOTH crash branches — no inflated bucket sizes,
  no duplicate pair rows, and no "re-run compact() before probing"
  manual step (the round-8 accepted risk this closes). Still out of
  scope: re-inserting a delta_id that is already in a RUNNING fold's
  set (coordinate retries of pre-compaction batches externally), and a
  lazy probe plan (`materialize=False`) held across a fold — its
  pinned file listing goes stale and the read fails LOUDLY with
  missing files, never silently wrong; consume it in-window.
- Folded delta_ids are TOMBSTONED (`_folded/<id>`, written by the
  fold's finish step before it deletes the sources): insert() promises
  that re-landing the same delta_id REPLACES its rows, but once a fold
  has re-keyed those rows into a generation a late retry would land a
  silent second copy beside them. insert/probe fail fast on a
  tombstoned delta_id instead (round-8 ADVICE, medium). Tombstones are
  one empty file per folded delta, cleared by bootstrap().
- `pairs/` retention: every probe with `materialize=True` lands a
  permanent snapshot partition. Consumed snapshots are reclaimed by
  `prune_pairs(delta_ids)` (or wholesale by `compact()`, which folds
  surviving rows into the new generation and thereby invalidates
  old-delta_id read-back — compact only after outstanding snapshot
  handles are consumed). Retries MUST pass a stable `delta_id`: a
  fresh random id per attempt strands the failed attempt's partition
  forever (nothing else references it).


Deltas land with DYNAMIC PARTITION OVERWRITE keyed by a caller-supplied
`delta_id`: a RETRY of the same delta (task/driver failure mid-insert)
replaces its own partitions instead of appending a second copy — the
same at-least-once discipline as the foreachBatch partial sinks
(streaming/documents.py). Duplicate index rows would otherwise inflate
bucket sizes toward the cap and duplicate verified pair rows.
Concurrent WRITERS on one index still need the WriterLease fence
(operators/lease.py) — partition overwrite serializes retries of the
same delta, not two different writers.

Probe = insert-then-probe: the delta's postings/arrays are appended
FIRST, then the delta's band keys join the (now-updated) postings. That
ordering makes the touched-bucket sizes equal the full-corpus bucket
sizes, so the bucket-cap semantics (skip buckets wider than
MH_BUCKET_CAP — boilerplate clusters, handled by exact-hash dedup) are
IDENTICAL to a from-scratch banded run: the incremental result is
exactly the batch result restricted to pairs with >= 1 delta endpoint.
That restriction is the oracle (`dedup_minhash_incremental`).

Everything delta-side is delta-bounded: the only full-index work is the
posting equi-join (broadcast of the delta's distinct band keys => a
map-side semi-join over a partition-pruned scan) and the candidate
fetch from the verification store. No corpus-wide shuffle anywhere.

The hash family (same seed as the batch operator — one family, one
index) lives here so the batch operator, the incremental index, and the
DuckDB oracle share it from a single definition.
"""

from __future__ import annotations

import math
import random
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store_base import (
    TOMBSTONE_BROADCAST_BYTES,
    StoreKernel,
    _UNSET,
    _iter_files,
)

MH_P = (1 << 61) - 1
MH_BANDS, MH_ROWS = 8, 4
MH_K = MH_BANDS * MH_ROWS
MH_BUCKET_CAP = 64  # max docs per (band, sig) bucket used for pair-gen
# On-disk format of the persisted store. v1: shingle STRINGS in
# arrays/ (rounds 5-6). v2: int64 shingle hashes (shs: array<bigint>,
# nw: int) — ~3x fewer bytes (round 7). v3: per-delta `_landed/`
# markers gate compaction folds (round 8) — a v2 store's partitions
# carry no markers, so compact() would silently never fold them;
# refusing the store is the honest failure. v4: `_schema_postings/
# _schema_arrays.json` sidecars written at bootstrap pin the read
# schema (round 11) — reads of a fully-purged (empty) relation return
# empty instead of failing schema inference, and every probe skips the
# footer-based inference pass; a v3 store has no sidecars, so probes
# would fail on the sidecar read. Bumped on any layout change;
# insert/probe refuse a store whose marker doesn't match.
MH_FORMAT_VERSION = 4
# Past this many bytes of tombstone parquet the probe-side anti-join
# drops its broadcast hint and lets Spark pick the strategy (AQE may
# still broadcast): a takedown list that accumulated for years without
# a purge must not be forced driver-side (round-10 verdict, wrong #3).
MH_TOMBSTONE_BROADCAST_BYTES = TOMBSTONE_BROADCAST_BYTES

_rng = random.Random(20260813)
MH_A = [_rng.randrange(1, 1 << 29) | 1 for _ in range(MH_K)]
MH_B = [_rng.randrange(0, MH_P) for _ in range(MH_K)]


# Plan-construction note (round 16, profiled): building the K min-hash
# aggregates and the band structs through the column API cost ~500 py4j
# round-trips per shingle_signatures/band_rows call (~0.5 s + ~0.25 s
# of pure driver time each at any scale) — the round-15 LSH pathology,
# still standing here. The SAME expressions rendered as SQL text parse
# in one JVM call per list; the executed trees are arithmetic-identical
# (same literal types, same operator order — pinned by the oracle).

_SHINGLE_TOK_SQL = (
    "explode(array_distinct(transform("
    "sequence(0, size(split(text, ' ', -1)) - 3),"
    " i -> concat_ws('_',"
    " element_at(split(text, ' ', -1), i + 1),"
    " element_at(split(text, ' ', -1), i + 2),"
    " element_at(split(text, ' ', -1), i + 3))))) AS w"
)
_SHINGLE_X_SQL = (
    "CAST(conv(substring(md5(CAST(w AS BINARY)), 1, 8), 16, 10)"
    " AS BIGINT) AS x"
)
_MIN_HASH_AGG_SQL = [
    f"min(({MH_A[i]} * x + {MH_B[i]}) % {MH_P}) AS h{i}" for i in range(MH_K)
]


def _min_hash_agg_sql(n_bands: int, band_rows: int) -> list[str]:
    """The first n_bands*band_rows min-hash aggregates. The hash family
    has MH_K permutations; a wider banding must fail here, not slice
    short and leave band structs naming columns that were never
    computed."""
    k = n_bands * band_rows
    if k > MH_K:
        raise ValueError(
            f"n_bands * band_rows = {n_bands} * {band_rows} = {k} exceeds "
            f"MH_K = {MH_K} min-hash permutations"
        )
    return _MIN_HASH_AGG_SQL[:k]


_BAND_STRUCTS_SQL = ", ".join(
    "struct({j} AS band, concat_ws(',', {hs}) AS sig)".format(
        j=j,
        hs=", ".join(
            f"CAST(h{j * MH_ROWS + t} AS STRING)" for t in range(MH_ROWS)
        ),
    )
    for j in range(MH_BANDS)
)


def shingle_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, shs, nw, h0..h{K-1}) in ONE shuffle: the groupBy that
    computes the K codegen'd min() MinHash aggregates also reassembles
    the per-doc distinct shingle-HASH array (int64) for exact
    verification — identical arithmetic to dedup_minhash_banded's
    signature stage (md5-derived shingle ints, (a·x+b) mod 2^61-1), so
    index entries and batch signatures are bit-interchangeable. nw is
    the DISTINCT-hash count (= |set| under the hashed-shingle Jaccard
    definition both engines share)."""
    tokx = (
        docs.filter(F.expr("size(split(text, ' ', -1)) >= 3"))
        .selectExpr("doc_id", _SHINGLE_TOK_SQL)
        .selectExpr("doc_id", _SHINGLE_X_SQL)
    )
    return (
        tokx.groupBy("doc_id")
        .agg(
            F.expr("collect_list(x)").alias("xs"),
            *[F.expr(s) for s in _MIN_HASH_AGG_SQL],
        )
        # distinct + size as post-agg expressions: no second distinct
        # aggregate (which would force an Expand), one shuffle total
        .selectExpr(
            "doc_id",
            "array_distinct(xs) AS shs",
            *[f"h{i}" for i in range(MH_K)],
        )
        .selectExpr("*", "size(shs) AS nw")
    )


def band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, sig) posting rows: r=MH_ROWS hashes concatenated
    per band — the AND step of the AND-OR amplification."""
    return sigs.selectExpr(
        "doc_id", f"explode(array({_BAND_STRUCTS_SQL})) AS bs"
    ).select("doc_id", "bs.band", "bs.sig")


class MinHashIndex(StoreKernel):
    """A persisted banded-MinHash index with bootstrap / probe+insert.

    Usage (the production loop)::

        idx = MinHashIndex(spark, index_path)
        idx.bootstrap(landed_corpus)          # once
        pairs = idx.probe_and_insert(delta)   # per arriving batch

    Filesystem plumbing, tombstone cache, and fingerprint guards come
    from StoreKernel (operators/store_base.py, round-11 next #6).
    """

    TOMBSTONE_KEY = "doc_id"

    def __init__(self, spark: SparkSession, base_path: str) -> None:
        self._init_kernel(spark, base_path)
        self.postings_path = f"{self.base_path}/postings"
        self.arrays_path = f"{self.base_path}/arrays"
        self.pairs_path = f"{self.base_path}/pairs"
        # `_`-prefixed: hidden from any listing that globs the base path
        self.format_path = f"{self.base_path}/_FORMAT"
        # landed markers: delta_id X gets `_landed/X` AFTER its index
        # writes commit (`_landed_pairs/X` after its pairs/ snapshot
        # lands). compact() folds ONLY marked deltas — a mid-flight
        # insert's partitions are invisible to the fold by construction.
        self.landed_path = f"{self.base_path}/_landed"
        self.landed_pairs_path = f"{self.base_path}/_landed_pairs"
        # pairs write log: `_log/<seq8>.<delta_id>` appended when a
        # pairs snapshot commits — the ordered delivery history behind
        # history() / pairs_as_of() (round-11 verdict, next #3). The
        # high-water mark persists the largest seq ever ISSUED: folds
        # and prunes delete entries, and a fresh max()+1 over the
        # survivors would re-issue old seqs, silently reordering
        # history.
        self.log_path = f"{self.base_path}/_log"
        self.log_hwm_path = f"{self.base_path}/_log_hwm.json"
        # tombstones: delta_ids whose rows a fold re-keyed into a
        # generation — a late same-id retry must fail fast, not land a
        # second copy beside the folded one
        self.folded_path = f"{self.base_path}/_folded"
        # retention (round-14 verdict parity): delta_ids retired by
        # expire() — one marker each, written FIRST so the retired
        # delta drops out of every read atomically and a same-id
        # re-insert refuses (resurrecting retired data under a retired
        # id is the failure mode; genuinely re-crawled docs arrive
        # under fresh delta_ids)
        self.expired_path = f"{self.base_path}/_expired"
        # two-phase fold manifest (see compact())
        self.fold_intent_path = f"{self.base_path}/_fold_intent.json"
        self.fold_commit_path = f"{self.base_path}/_fold_commit.json"
        # forgotten doc_ids (right-to-be-forgotten, see forget()):
        # parquet (doc_id) partitioned by forget_id at the kernel's
        # `_deleted/`; probes exclude these docs everywhere via an
        # anti-join (broadcast while small)
        # read-schema sidecars (v4): written at bootstrap, pin every
        # relation read so schema inference is never paid per probe and
        # an emptied (fully-purged) relation reads as empty
        self.schema_paths = {
            rel: f"{self.base_path}/_schema_{rel}.json"
            for rel in ("postings", "arrays")
        }
        self._schemas: dict = {}

    # -- format marker ---------------------------------------------------------

    def _write_format_marker(self) -> None:
        fs, HPath = self._fs()
        out = fs.create(HPath(self.format_path), True)
        try:
            out.write(bytearray(str(MH_FORMAT_VERSION).encode("ascii")))
        finally:
            out.close()

    def _read_format_version(self) -> int | None:
        """The store's recorded format version; None when the marker is
        missing (pre-v2 index, or a bootstrap that crashed before the
        marker landed — both mean: rebootstrap)."""
        fs, HPath = self._fs()
        p = HPath(self.format_path)
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            txt = self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        try:
            return int(str(txt).strip())
        except ValueError:
            return -1

    def _require_format(self) -> None:
        """Fail fast BEFORE any write lands: inserting v2 partitions
        into a v1 store (or one with no marker) produces mixed-schema
        parquet under one relation, and the damage surfaces much later
        as a parquet type-conversion error in an unrelated probe."""
        ver = self._read_format_version()
        if ver != MH_FORMAT_VERSION:
            raise RuntimeError(
                f"MinHash index at {self.base_path} has on-disk format "
                f"{'<no marker>' if ver is None else ver}; this build "
                f"writes format {MH_FORMAT_VERSION} (v2 = int64 shingle "
                "hashes in arrays/). Rebootstrap required: call "
                "bootstrap() on the landed corpus before inserting or "
                "probing — mixing formats in one store corrupts it."
            )

    # -- landed markers / manifests ---------------------------------------------

    # _mark_landed / _unmark_landed / _landed_ids: StoreKernel

    def _require_not_folded(self, delta_id: str) -> None:
        """Fail fast when `delta_id` was already folded into a
        generation: insert()'s replace-on-retry promise is keyed on the
        delta's OWN partitions, which the fold deleted — a retry would
        silently land a second copy of rows the generation already
        holds (duplicate arrays/postings, inflated buckets, duplicate
        verified pairs). An external retry scheduler replaying a batch
        across a nightly compact() hits exactly this; the loud error is
        the contract (round-8 ADVICE, medium)."""
        fs, HPath = self._fs()
        if fs.exists(HPath(f"{self.folded_path}/{delta_id}")):
            raise RuntimeError(
                f"delta_id {delta_id!r} was already compacted into a "
                f"generation of the index at {self.base_path}; "
                "re-landing it would duplicate its rows beside the "
                "folded copy. Use a fresh delta_id for genuinely new "
                "content, or drop the retry — the original landed."
            )
        if fs.exists(HPath(f"{self.expired_path}/{delta_id}")):
            raise RuntimeError(
                f"delta_id {delta_id!r} was retired by expire() on the "
                f"index at {self.base_path}; re-landing it would "
                "resurrect retired data under a retired id. Use a "
                "fresh delta_id for genuinely new content."
            )

    def _fold_read_exclusions(self) -> set:
        """delta_ids a consistent reader must SKIP given the current
        fold state — the manifest-resolved read view that makes probes
        fold-safe (round-9; closes the crashed-fold duplicate window):

        - commit manifest present: the generation verified row-exact
          before the crash, so the gen partition is authoritative and
          the (possibly partially deleted) folded SOURCES are excluded;
        - intent only: the gen partition is unverified (possibly
          partial) and excluded; the untouched sources serve;
        - no manifest: nothing to exclude — the glob is the truth.

        Readers apply this as a negative partition filter, so partition
        pruning still applies and no excluded file is ever opened.

        Since round 14 the set also carries the EXPIRED delta_ids
        (retention): the `_expired/` marker is written before the
        partition deletes, so a retired delta drops out of every read
        in one metadata op and a reader never sees a half-deleted
        partition set mid-expiry (one extra marker listing per read —
        the landed-marker cost class)."""
        out = self._landed_ids(self.expired_path)
        commit = self._read_json(self.fold_commit_path)
        if commit is not None:
            return out | set(commit["folded"]["postings"]) | set(
                commit["folded"]["arrays"]
            )
        intent = self._read_json(self.fold_intent_path)
        if intent is not None:
            return out | {intent["gen"]}
        return out

    def _rel_schema(self, rel: str):
        """The pinned read schema of postings/ or arrays/, from the
        bootstrap-written sidecar (cached per instance, freshness-
        checked per call against the sidecar file's (mtime, size) — a
        REBOOTSTRAP through another handle rewrites the sidecar, and a
        long-lived reader must not read the new corpus under the old
        pinned schema; round-14 cache audit, the `_deleted_seq`
        discipline at one getFileStatus per call). Pinning buys two
        things: no per-read footer inference, and a relation whose
        every row was purged (no data files left) reads as EMPTY
        instead of failing with unable-to-infer-schema (round-10
        ADVICE, low #2)."""
        from pyspark.sql.types import StructType

        fs, HPath = self._fs()
        p = HPath(self.schema_paths[rel])
        if not fs.exists(p):
            raise RuntimeError(
                f"MinHash index at {self.base_path} is missing its "
                f"_schema_{rel}.json sidecar (format v{MH_FORMAT_VERSION} "
                "writes it at bootstrap). Rebootstrap required."
            )
        st = fs.getFileStatus(p)
        stamp = (int(st.getModificationTime()), int(st.getLen()))
        cached = self._schemas.get(rel)
        if cached is not None and cached[0] == stamp:
            return cached[1]
        obj = self._read_json(self.schema_paths[rel])
        schema = StructType.fromJson(obj)
        self._schemas[rel] = (stamp, schema)
        return schema

    def _write_schema_sidecars(self, sigs: DataFrame) -> None:
        """Persist the pinned read schemas, derived from the bootstrap
        corpus's signature frame (doc_id keeps the caller's type — the
        one degree of freedom; everything else is fixed by the index)."""
        from pyspark.sql.types import StringType, StructField, StructType

        arrays = StructType(
            [sigs.schema["doc_id"], sigs.schema["shs"], sigs.schema["nw"]]
            + [StructField("delta_id", StringType())]
        )
        rows = band_rows(sigs).schema
        postings = StructType(
            [rows["doc_id"], rows["band"], rows["sig"]]
            + [StructField("delta_id", StringType())]
        )
        self._write_json(self.schema_paths["arrays"], arrays.jsonValue())
        self._write_json(self.schema_paths["postings"], postings.jsonValue())
        # re-stamp from disk on next read (the freshness discipline)
        self._schemas = {}

    def _read_relation(self, rel: str) -> DataFrame:
        """Fold-consistent, schema-pinned read of postings/ or arrays/:
        the directory glob minus the manifest-excluded delta_ids."""
        df = self.spark.read.schema(self._rel_schema(rel)).parquet(
            self._rel_path(rel)
        )
        excl = self._fold_read_exclusions() | self._vacuum_rel_ids(rel)
        if excl:
            df = df.filter(~F.col("delta_id").isin(sorted(excl)))
        return df

    def _vacuum_rel_ids(self, rel: str) -> set:
        """Vacuum-retired delta_ids of ONE relation. The fold retires
        a delta per relation it actually consumed it in — an id whose
        index partitions folded while its pairs partition did not must
        stay readable (and shippable) in pairs, so the ledger tags ids
        `<rel>/<delta_id>` (round-15 self-review: the untagged first
        cut hid live pairs partitions from the snapshot diff)."""
        pre = rel + "/"
        return {
            t[len(pre):]
            for t in self._vacuum_excluded_ids()
            if t.startswith(pre)
        }

    # _write_json / _read_json: StoreKernel

    # -- build ---------------------------------------------------------------

    def _write_sigs(self, sigs: DataFrame, delta_id: str, full: bool) -> None:
        """Land one delta's partitions. `full=True` (bootstrap) clears
        the whole index first; otherwise the delta's existing partitions
        are deleted (1 + MH_BANDS metadata ops) and dynamic overwrite
        lands the new ones. The explicit pre-delete — not overwrite
        alone — is what makes a retry truly REPLACE the delta: dynamic
        overwrite only touches partitions the new content writes to, so
        a retry whose content shrank (or is empty) would otherwise leave
        the first attempt's rows serving forever (round-8 finding, the
        index-side twin of the pairs/ zero-pair-retry hole)."""
        if not full:
            # the store is keyed by ONE doc_id type (pinned at
            # bootstrap); a delta carrying another type would land
            # partitions the pinned read schema can no longer convert
            expect = self._rel_schema("arrays")["doc_id"].dataType
            got = sigs.schema["doc_id"].dataType
            if got != expect:
                raise TypeError(
                    f"delta doc_id type {got.simpleString()} does not "
                    f"match the index's {expect.simpleString()} "
                    f"(pinned at bootstrap of {self.base_path})"
                )
            fs, HPath = self._fs()
            # retract the landed marker FIRST: while this retry is
            # rewriting the delta's partitions they are not a settled
            # fold source; the caller re-lands the marker after commit
            self._unmark_landed(self.landed_path, delta_id)
            fs.delete(HPath(f"{self.arrays_path}/delta_id={delta_id}"), True)
            for b in range(MH_BANDS):
                fs.delete(
                    HPath(f"{self.postings_path}/band={b}/delta_id={delta_id}"),
                    True,
                )
        did = F.lit(delta_id)
        # REBALANCE before each partitioned write (guide §6 "coalesce on
        # write"): without it every upstream task writes a file into
        # every partition dir it touches — measured this round at
        # 32 tasks x 8 bands = up to 256 files PER DELTA on postings/,
        # and every subsequent probe re-pays that file count in listing
        # + footer reads (0.3-0.4 s per probe-side scan job at sf0.1).
        # The AQE rebalance shuffle sizes output to
        # advisoryPartitionSizeInBytes, so file counts stay
        # scale-adaptive: ~1 file per band here, many once a delta's
        # bytes warrant them. The shuffle itself moves only the rows
        # being written (tiny beside the write), and row VALUES are
        # unchanged — only their file placement.
        arrays_w = (
            sigs.select("doc_id", "shs", "nw", did.alias("delta_id"))
            .hint("rebalance")
            .write.mode("overwrite")
        )
        postings_w = (
            band_rows(sigs)
            .withColumn("delta_id", did)
            .hint("rebalance", "band")
            .write.mode("overwrite")
        )
        # the overwrite mode is set EXPLICITLY per-write in both
        # branches: the session default is dynamic (session.py), under
        # which a bare mode("overwrite") would make the bootstrap path
        # replace only the partitions the new content writes — leaving
        # a previous generation's other delta partitions serving as
        # unmarked zombies (found by the round-9 rebootstrap test)
        mode = "dynamic" if not full else "static"
        arrays_w = arrays_w.option("partitionOverwriteMode", mode)
        postings_w = postings_w.option("partitionOverwriteMode", mode)
        # The two relation writes are INDEPENDENT jobs over the same
        # persisted `sigs` — overlap them from two driver threads
        # (guide §2.6: actions are only sequential because the driver
        # calls them sequentially). Crash story unchanged: the delta is
        # not marked landed until BOTH commits return, so any crash —
        # either write, both, mid-either — leaves unmarked partitions a
        # retry pre-deletes, exactly as with the old sequential order.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fa = pool.submit(
                arrays_w.partitionBy("delta_id").parquet, self.arrays_path
            )
            fp = pool.submit(
                postings_w.partitionBy("band", "delta_id").parquet,
                self.postings_path,
            )
            fa.result()
            fp.result()

    def bootstrap(self, docs: DataFrame, delta_id: str = "bootstrap") -> None:
        """Build the index from the landed corpus (one-time full pass).

        Ordering is the crash story: the previous generation's format
        marker and pairs/ snapshots are deleted BEFORE the index write,
        and the new marker lands LAST. A crash anywhere in between
        leaves a store with no marker — insert/probe fail fast with
        'rebootstrap required' — and no stale snapshots, so a retried
        bootstrap can never pair a new index with another generation's
        probe output (round-7 ADVICE: deleting pairs/ after the write
        left exactly that window)."""
        fs, HPath = self._fs()
        fs.delete(HPath(self.format_path), False)
        fs.delete(HPath(self.pairs_path), True)
        # previous generation's lifecycle metadata goes with it
        fs.delete(HPath(self.landed_path), True)
        fs.delete(HPath(self.landed_pairs_path), True)
        fs.delete(HPath(self.log_path), True)
        fs.delete(HPath(self.log_hwm_path), False)
        fs.delete(HPath(self.folded_path), True)
        fs.delete(HPath(self.expired_path), True)
        fs.delete(HPath(self.fold_intent_path), False)
        fs.delete(HPath(self.fold_commit_path), False)
        # retired-source vacuum ledger too (the dirs themselves are
        # replaced by the static-overwrite index write below)
        fs.delete(HPath(self.vacuum_path), False)
        # a new store serves a new corpus: previous tombstones go too
        # (stamp deletion announces the change to other handles)
        fs.delete(HPath(self.deleted_path), True)
        fs.delete(HPath(self.deleted_seq_path), False)
        self._deleted_cache = _UNSET
        for p in self.schema_paths.values():
            fs.delete(HPath(p), False)
        self._schemas = {}
        sigs = shingle_signatures(docs).persist()
        try:
            self._write_sigs(sigs, delta_id, full=True)
            self._write_schema_sidecars(sigs)
        finally:
            sigs.unpersist()
        self._mark_landed(self.landed_path, delta_id)
        self._write_format_marker()

    def insert(self, docs: DataFrame, delta_id: str) -> None:
        """Land a delta's postings and verification rows — the in-place
        index update: no existing delta's files are rewritten, and
        re-landing the SAME delta_id replaces rather than duplicates.
        The replace guarantee holds until the delta is folded by
        compact(); after that a same-id retry fails fast on the fold
        tombstone (see _require_not_folded) instead of duplicating."""
        self._require_format()
        self._require_not_folded(delta_id)
        sigs = shingle_signatures(docs).persist()
        try:
            self._write_sigs(sigs, delta_id, full=False)
        finally:
            sigs.unpersist()
        # marker last: a crash above leaves partitions compact() will
        # never fold (and a retry will replace) — never a half-landed
        # delta folded into a generation
        self._mark_landed(self.landed_path, delta_id)

    # -- probe ---------------------------------------------------------------

    def probe_and_insert(
        self,
        delta: DataFrame,
        delta_id: str | None = None,
        materialize: bool = True,
    ) -> DataFrame:
        """Insert the delta, then emit verified near-dup pairs (da, db,
        jaccard) with >= 1 delta endpoint — exactly the from-scratch
        banded result restricted to delta-touching pairs.

        Work is delta-bounded: the delta is signed once (one shuffle of
        DELTA shingles only — persisted across the two index writes and
        released before returning); the probe's delta side is a
        partition-PRUNED read of the just-landed postings, its distinct
        band keys broadcast into a semi-join over the full postings
        (touched buckets only); bucket sizes — needed for the cap — are
        counted over those touched buckets, never the whole index;
        candidates fetch their verification arrays by equi-join (AQE
        broadcasts the candidate side at this scale; bucketed storage
        co-locates it at 100 TB).

        The default (`materialize=True`) lands the verified pairs in
        the index's `pairs/` store partitioned by delta_id (dynamic
        overwrite — a retried probe with the same delta_id replaces its
        own output) and returns a partition-pruned read of THAT
        snapshot, so the result is stable no matter how many inserts
        follow, and no persisted RDD outlives the call.
        `materialize=False` skips the landing and returns the lazy
        probe plan (for plan inspection / custom sinks): that plan
        re-reads the index at evaluation time, so it must be consumed
        before the next insert or it will see later deltas' postings.
        The delta is NOT marked fold-landed on return — a compact()
        running between return and consumption would otherwise re-key
        the delta's partitions to the generation and silently evaluate
        the outstanding plan to zero rows (round-8 ADVICE, low). Call
        `finalize_delta(delta_id)` after consuming the plan so the
        delta becomes foldable; until then compact() simply skips it.

        Pass a STABLE `delta_id` to make a retried probe idempotent
        (same partitions replaced); the default random id gives each
        call its own partitions — and strands them in pairs/ forever if
        the call fails and is retried under a fresh id (see
        prune_pairs)."""
        spark = self.spark
        self._require_format()
        if delta_id is None:
            delta_id = uuid.uuid4().hex
        self._require_not_folded(delta_id)
        # one shingling pass feeds both index writes; the handle is
        # released as soon as the writes are done — the probe reads the
        # landed partitions back instead of holding the plan
        sigs = shingle_signatures(delta).persist()
        try:
            self._write_sigs(sigs, delta_id, full=False)
        finally:
            sigs.unpersist()
        # fold-consistent read: a crashed (or mid-commit) compact()'s
        # duplicated rows are invisible — the manifest decides whether
        # the generation or its sources serve (see _fold_read_exclusions)
        postings = self._read_relation("postings")
        # forgotten docs are excluded BEFORE bucket sizing so the
        # bucket-cap semantics match a from-scratch run on the reduced
        # corpus (see forget()); applied to the probe reads only —
        # compact() must keep folding the physical rows or its
        # footer-exact verification breaks. Broadcast only while the
        # tombstone set is small (MH_TOMBSTONE_BROADCAST_BYTES); a
        # years-unpurged takedown list falls back to Spark's choice.
        deleted, small = self._deleted_docs()
        excl = (
            None
            if deleted is None
            else (F.broadcast(deleted) if small else deleted)
        )
        if excl is not None:
            postings = postings.join(excl, "doc_id", "left_anti")
        dsig = postings.where(F.col("delta_id") == delta_id).select(
            F.col("band"), F.col("sig"), F.col("doc_id").alias("d_new")
        )
        touched = dsig.select("band", "sig").distinct()
        bucket = postings.join(F.broadcast(touched), ["band", "sig"])
        sizes = bucket.groupBy("band", "sig").agg(F.count("*").alias("bucket_n"))
        cand = (
            bucket.join(sizes.filter(F.col("bucket_n") <= MH_BUCKET_CAP), ["band", "sig"])
            .join(dsig, ["band", "sig"])
            .filter(F.col("doc_id") != F.col("d_new"))
            .select(
                F.least("doc_id", "d_new").alias("da"),
                F.greatest("doc_id", "d_new").alias("db"),
            )
            .distinct()
        )
        arrs = self._read_relation("arrays")
        if excl is not None:
            arrs = arrs.join(excl, "doc_id", "left_anti")
        verified = (
            cand.join(
                arrs.select(
                    F.col("doc_id").alias("da"),
                    F.col("shs").alias("sa"),
                    F.col("nw").alias("na"),
                ),
                "da",
            )
            .join(
                arrs.select(
                    F.col("doc_id").alias("db"),
                    F.col("shs").alias("sb"),
                    F.col("nw").alias("nb"),
                ),
                "db",
            )
            .select(
                "da",
                "db",
                F.size(F.array_intersect("sa", "sb")).alias("i"),
                "na",
                "nb",
            )
            .select(
                "da",
                "db",
                (
                    F.col("i").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("i"))
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= 0.8)
        )
        if not materialize:
            # deliberately NOT marked fold-landed: the caller holds a
            # lazy plan over this delta's partitions, and a fold that
            # re-keyed them to the generation would invalidate it (the
            # round-8 ADVICE silent-zero window). finalize_delta() is
            # the consume-side handshake that makes the delta foldable.
            return verified
        # dynamic overwrite writes NOTHING when the result is empty, so
        # a retried probe whose delta now verifies zero pairs would
        # read back the previous attempt's non-empty partition — delete
        # the delta's partition first (one metadata op) so the landed
        # state always reflects THIS attempt (round-7 verdict finding 4)
        fs, HPath = self._fs()
        self._unmark_landed(self.landed_pairs_path, delta_id)
        fs.delete(HPath(f"{self.pairs_path}/delta_id={delta_id}"), True)
        (
            verified.withColumn("delta_id", F.lit(delta_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("delta_id")
            .parquet(self.pairs_path)
        )
        # explicit schema: a probe that found zero pairs leaves no
        # partition dir to infer from, and must still read back empty.
        # Built from the fields, NOT verified.schema.add(...) — add()
        # appends to the cached StructType in place (round-7 finding 5).
        from pyspark.sql.types import StringType, StructField, StructType

        snap_schema = StructType(
            list(verified.schema.fields) + [StructField("delta_id", StringType())]
        )
        # markers only after every write for this delta committed: the
        # index partitions stayed un-foldable through the probe (the
        # probe plan partition-prunes on this delta_id), and the pairs
        # snapshot is advertised only once it exists
        self._mark_landed(self.landed_path, delta_id)
        self._mark_landed(self.landed_pairs_path, delta_id)
        self._log_pairs_landed(delta_id)
        return (
            spark.read.schema(snap_schema)
            .parquet(self.pairs_path)
            .where(F.col("delta_id") == delta_id)
            .drop("delta_id")
        )

    # -- forget (right-to-be-forgotten) ---------------------------------------

    def forget(self, doc_ids: DataFrame, forget_id: str) -> None:
        """Tombstone documents OUT of the index — the
        right-to-be-forgotten operation a training-data store needs
        (takedowns, opt-outs, license revocations) without re-signing
        the corpus.

        `doc_ids` (one `doc_id` column) lands as a parquet partition
        under `_deleted/forget_id=<id>`; every subsequent probe
        excludes the union of tombstoned docs BEFORE bucket sizing,
        candidate generation, and verification (broadcast anti-join in
        probe_and_insert), so probe results are exactly a from-scratch
        banded run over the corpus WITHOUT the forgotten docs — the
        bucket-cap semantics shrink with the corpus, the same contract
        every other read has. A forgotten doc that re-arrives in a
        later delta stays hidden (its rows land, the anti-join masks
        them) until the tombstones are cleared by bootstrap().

        Semantics are RESULT-LEVEL erasure with an auditable tombstone
        list; for byte-level mandates run `compact(purge_forgotten=
        True)` — the fold then drops tombstoned rows during its
        rewrite (verified against a counted expectation instead of the
        source footer sum) and clears the tombstones it planned
        against. Retry-idempotent: re-landing the same forget_id
        replaces its own partition (pre-delete + dynamic overwrite,
        the delta-landing discipline). Lock-free: forget() never takes
        the WriterLease — a takedown must not queue behind maintenance
        — and a forget racing a purge fold is safe because the fold's
        finish step clears only tombstone partitions whose file
        fingerprint is unchanged since the fold planned against them
        (see _fold_finish; round-10 ADVICE, medium).

        `doc_ids`' doc_id is cast to the index's pinned doc_id type
        (a string-keyed store accepts long takedowns and vice versa
        where the cast is faithful); a cast that nulls any id fails
        loudly instead of landing tombstones every probe read would
        then choke on (round-10 ADVICE, low #1). (Landing mechanics:
        StoreKernel.forget.)"""
        self._require_format()
        StoreKernel.forget(self, doc_ids, forget_id)

    def _tombstone_key_type(self):
        return self._rel_schema("arrays")["doc_id"].dataType

    def _deleted_docs(self) -> tuple[DataFrame | None, bool]:
        """(distinct tombstoned doc_ids | None, fits-a-broadcast) —
        None when no ACTIVE tombstone partition exists. The listing
        runs ONCE per index instance and is cached until forget()/
        compact()/bootstrap() invalidates it — on an object store the
        per-probe LIST round-trip is exactly the hot-path metadata
        call the rest of the store avoids (round-10 verdict, wrong
        #2). The root dir itself survives a purge (parquet writes
        leave `_SUCCESS` markers), so presence is judged by
        `forget_id=` partitions, not by the directory. The boolean is
        a byte bound (MH_TOMBSTONE_BROADCAST_BYTES) deciding whether
        probes may FORCE a broadcast of the set. (Mechanics:
        StoreKernel._deleted_keys.)"""
        return self._deleted_keys()

    # -- write log / time travel -----------------------------------------------

    def _log_entries(self) -> dict:
        """{seq: delta_id} of committed pairs snapshots, parsed from
        the `_log/<seq8>.<delta_id>` markers."""
        fs, HPath = self._fs()
        out = {}
        if fs.exists(HPath(self.log_path)):
            for st in fs.listStatus(HPath(self.log_path)):
                name = st.getPath().getName()
                if st.isFile() and len(name) > 9 and name[:8].isdigit():
                    out[int(name[:8])] = name[9:]
        return out

    def _log_pairs_landed(self, delta_id: str) -> int:
        """Append the write-log entry for a just-committed pairs
        snapshot. A RETRY of the same delta_id replaces its entry under
        a FRESH seq — the retry recomputed its pairs against the
        CURRENT index (which may hold snapshots landed after the first
        attempt), so keeping the old, lower seq would order it before
        state it was computed from (the ComponentStore fresh-seq
        rule)."""
        fs, HPath = self._fs()
        entries = self._log_entries()
        for seq, did in entries.items():
            if did == delta_id:
                fs.delete(HPath(f"{self.log_path}/{seq:08d}.{did}"), False)
        hwm = self._read_json(self.log_hwm_path)
        prior = int(hwm["hwm"]) if isinstance(hwm, dict) else 0
        seq = max(max(entries, default=0), prior) + 1
        if seq > 99_999_999:
            raise RuntimeError(
                f"MinHash index at {self.base_path} exhausted its "
                "8-digit pairs-log seq space — compact() and "
                "prune_pairs() fold history and keep it bounded."
            )
        self._write_json(self.log_hwm_path, {"hwm": seq})
        fs.create(HPath(f"{self.log_path}/{seq:08d}.{delta_id}"), True).close()
        return seq

    def _unlog_pairs(self, delta_id: str) -> None:
        fs, HPath = self._fs()
        for seq, did in self._log_entries().items():
            if did == delta_id:
                fs.delete(HPath(f"{self.log_path}/{seq:08d}.{did}"), False)

    def history(self) -> list:
        """The committed pairs-snapshot log, oldest first:
        [(seq, delta_id)] — each entry a point `pairs_as_of(seq)` can
        read, until compact() or prune_pairs() collapses it (VACUUM
        semantics, loud failure past the fold)."""
        return sorted(self._log_entries().items())

    def pairs_as_of(self, as_of_seq: int) -> DataFrame:
        """TIME-TRAVEL read of the verified-pairs store: the union of
        pairs snapshots committed at or before `as_of_seq` — the index's
        probe OUTPUT exactly as it stood after that delivery, the audit
        surface behind "which crawl batch first surfaced this near-dup
        pair" (round-11 verdict, next #3; the ComponentStore
        labels(as_of_seq) contract on this store).

        Two deliberate bounds, shared with every as-of read in this
        repo: CURRENT tombstones apply — no pair touching a forgotten
        doc on either side is returned, historical reads included (a
        takedown outranks an audit) — and compact()/prune_pairs()
        collapse history (the fold re-keys snapshots into one
        generation), so an as_of_seq whose snapshots no longer exist
        raises instead of silently resolving a partial state."""
        self._require_format()
        # a pending fold manifest means the pairs sources may be mid-
        # rewrite (a crashed compact() not yet recovered): the glob
        # this read does could see partially deleted partitions. The
        # probe path resolves this through _fold_read_exclusions; for
        # an audit read the honest answer is "recover first" (round-12
        # self-review, medium).
        if (
            self._read_json(self.fold_commit_path) is not None
            or self._read_json(self.fold_intent_path) is not None
        ):
            raise RuntimeError(
                f"pairs_as_of(): a fold manifest is pending on "
                f"{self.base_path} (compact() crashed or is running) — "
                "run compact() to recover, then retry the audit read."
            )
        hist = self.history()
        eligible = [d for q, d in hist if q <= as_of_seq]
        if not eligible:
            raise ValueError(
                f"no committed pairs snapshot at or before seq "
                f"{as_of_seq} in {self.base_path} — it predates the "
                "store's log, or compact()/prune_pairs()/expire() "
                "folded, pruned, or retired that history"
            )
        # retention outranks audit reads exactly like the fold: a
        # retired delta's snapshot no longer exists (its log entry is
        # normally unlogged with it; this check covers the marker-
        # landed crash window before recovery sweeps the rest)
        expired = sorted(set(eligible) & self._landed_ids(self.expired_path))
        if expired:
            raise ValueError(
                f"pairs snapshots {expired} were expired by retention "
                f"— the state as of seq {as_of_seq} no longer exists "
                f"in {self.base_path}"
            )
        live = self._landed_ids(self.landed_pairs_path)
        gone = sorted(set(eligible) - live)
        if gone:
            raise ValueError(
                f"pairs snapshots {gone} were folded into a newer "
                f"generation (compact) or pruned — the state as of seq "
                f"{as_of_seq} is no longer reconstructible in "
                f"{self.base_path}"
            )
        df = (
            self.spark.read.schema(self._pairs_read_schema())
            .parquet(self.pairs_path)
            .where(F.col("delta_id").isin(eligible))
            .drop("delta_id")
        )
        deleted, small = self._deleted_docs()
        return self._mask_deleted(df, "pairs", deleted, small)

    # -- lifecycle -------------------------------------------------------------

    def high_water(self) -> dict:
        """Last committed position (the pairs write log's highest
        seq) — the fleet-catalog skew mark (round-12 verdict, next
        #3); log-seq coordinates are store-local."""
        entries = self._log_entries()
        return {
            "kind": "log_seq",
            "value": (max(entries) if entries else None),
        }

    def _snapshot_ship(self, clone, pin_batch) -> tuple:
        """Units are landed deltas. Every MARKED delta partition of
        arrays/ and postings/ travels (doc_id rows masked) and every
        landed pairs/ snapshot (rows dropped when EITHER endpoint is
        tombstoned — the compact(purge) masking), with the landed
        markers, the pairs write log (seq entries AND the high-water
        mark, so `history()` / `pairs_as_of()` work on the clone and
        its future seqs never collide with exported history), the
        `_folded` markers (a late retry of a folded delta_id refuses on
        the clone too) and the schema sidecars. Unmarked partitions (a
        mid-flight or crashed insert) stay behind. The format marker is
        the readable flip: until it lands, every clone read refuses
        with 'Rebootstrap required'."""
        self._refuse_pin(pin_batch)
        deleted, small = self._deleted_docs()
        if deleted is not None:
            deleted = deleted.persist()
        idx_marked = self._landed_ids(self.landed_path)
        # markers and log entries travel for EVERY landed delta — a
        # zero-row delta (an insert or probe whose masked output was
        # empty writes no partition) still owns its marker and its log
        # seq, and dropping them would fork the clone's history; only
        # the DATA ship is restricted to deltas that have partitions
        pairs_marked = self._landed_ids(self.landed_pairs_path)
        rows: dict = {}
        dfs, HPath = self._fs_for(clone.base_path)
        try:
            for rel in ("arrays", "postings", "pairs"):
                if rel == "pairs":
                    land = sorted(pairs_marked & self._partition_ids(rel))
                    schema = self._pairs_read_schema()
                else:
                    land = sorted(idx_marked & self._partition_ids(rel))
                    schema = self._rel_schema(rel)
                dst = clone._rel_path(rel)
                if not land:
                    dfs.mkdirs(HPath(dst))
                    rows[rel] = 0
                    continue
                df = (
                    self.spark.read.schema(schema)
                    .parquet(self._rel_path(rel))
                    .where(F.col("delta_id").isin(land))
                )
                rows[rel] = self._export_counted(
                    self._mask_deleted(df, rel, deleted, small),
                    dst,
                    ("band", "delta_id") if rel == "postings" else ("delta_id",),
                    schema,
                )
        finally:
            if deleted is not None:
                deleted.unpersist()
        for did in sorted(idx_marked):
            clone._mark_landed(clone.landed_path, did)
        log = self._log_entries()
        for seq, did in sorted(log.items()):
            if did in pairs_marked:
                dfs.create(
                    HPath(f"{clone.log_path}/{seq:08d}.{did}"), True
                ).close()
        for did in sorted(pairs_marked):
            clone._mark_landed(clone.landed_pairs_path, did)
        hwm = self._read_json(self.log_hwm_path)
        if hwm is not None:
            clone._write_json(clone.log_hwm_path, hwm)
        for did in sorted(self._landed_ids(self.folded_path)):
            clone._mark_landed(clone.folded_path, did)
        self._carry_retention(clone)
        for rel in ("postings", "arrays"):
            clone._write_json(
                clone.schema_paths[rel],
                self._rel_schema(rel).jsonValue(),
            )
        clone._write_format_marker()
        return rows, {
            "index_deltas": sorted(idx_marked),
            "index_delta_fps": {
                did: self._index_delta_fp(did)
                for did in sorted(idx_marked)
            },
            "pairs_history": [
                [s, d] for s, d in sorted(log.items()) if d in pairs_marked
            ],
        }

    def _mask_deleted(self, df, rel: str, deleted, small: bool):
        """Anti-join tombstoned docs out of an export frame — pairs on
        EITHER endpoint, index relations on doc_id. Respects the
        byte-bounded broadcast decision (`small`), exactly as the read
        paths do: a years-unpurged takedown list must not be force-
        broadcast by the one operation (a backup) that has to work on
        the largest stores."""
        if deleted is None:
            return df
        excl = F.broadcast(deleted) if small else deleted
        if rel == "pairs":
            return df.join(
                excl.select(F.col("doc_id").alias("da")), "da", "left_anti"
            ).join(
                excl.select(F.col("doc_id").alias("db")), "db", "left_anti"
            )
        return df.join(excl, "doc_id", "left_anti")

    def _index_delta_fp(self, did: str) -> list:
        """Content identity of one landed delta across arrays/ and
        postings/: base-relative dir -> partition fingerprint. Recorded
        in snapshot manifests so a later sync can detect a RE-DELIVERED
        delta (same delta_id, rewritten content) and re-ship it — the
        landed marker alone cannot tell the two apart."""
        out = []
        for rel in ("arrays", "postings"):
            for d in self._delta_dirs(rel, did):
                out.append(
                    [d[len(self.base_path) + 1:],
                     self._partition_fingerprint(d)]
                )
        return sorted(out)

    def _lifecycle_prepare(self) -> None:
        """Refuses while a fold manifest is pending (compact() crashed
        or running) — the honest answer for an export is 'recover
        first', exactly as for pairs_as_of()."""
        self._require_format()
        if (
            self._read_json(self.fold_commit_path) is not None
            or self._read_json(self.fold_intent_path) is not None
        ):
            raise RuntimeError(
                f"a fold manifest is pending on "
                f"{self.base_path} (compact() crashed or is "
                "running) — run compact() to recover, then retry."
            )
        self._recover_expiry()  # sweep a crashed expire() first

    def _retention_ahead(self, clone) -> str | None:
        """Retention here is the set of expired delta ids: a clone
        that expired deltas the source still holds is ahead."""
        ahead = sorted(
            clone._landed_ids(clone.expired_path)
            - self._landed_ids(self.expired_path)
        )
        if not ahead:
            return None
        return f"expired deltas {ahead} the source {self.base_path} still holds"

    def _carry_retention(self, clone) -> None:
        for did in sorted(self._landed_ids(self.expired_path)):
            clone._mark_landed(clone.expired_path, did)

    def _sync_ship(self, clone, prior: dict) -> tuple[dict, dict]:
        """Units are landed deltas of two kinds: index deltas (arrays/
        and postings/ move as one, keyed by the index markers) and
        pairs snapshots (keyed by the pairs markers, shipped with
        their write-log entries). Each ships through a pre-delete of
        the clone's copy plus dynamic overwrite — a crashed sync's
        partials, or a re-delivered delta's stale rows, are replaced —
        and is marked on the clone only after its writes commit.
        Re-delivery detection: a shared index delta whose content
        fingerprint moved since the recorded export, or a shared pairs
        delta whose log seq moved (a pairs retry re-lands under a
        fresh seq), is re-shipped. The write-log high-water mark and
        the `_folded` markers refresh after the ship. A source
        compact() since the snapshot retires clone-held deltas and
        refuses as foreign: the generation duplicates them row by
        row, so merging would double-count."""
        dest = clone.base_path
        src_idx = self._landed_ids(self.landed_path)
        src_pairs = self._landed_ids(self.landed_pairs_path)
        clone_idx = clone._landed_ids(clone.landed_path)
        clone_pairs = clone._landed_ids(clone.landed_pairs_path)
        for have, src, what in (
            (clone_idx, src_idx, "index"),
            (clone_pairs, src_pairs, "pairs"),
        ):
            foreign = sorted(have - src)
            if foreign:
                raise RuntimeError(
                    f"sync_to(): {dest} holds landed {what} deltas "
                    f"{foreign} the source {self.base_path} does not "
                    "— the clone diverged, a source compact() folded "
                    "that history (fresh snapshot), or a source "
                    "expire() retired it (expire the same delta_ids "
                    "on the clone, then retry)."
                )
        # ---- index relations (arrays + postings move as one) ------
        # fingerprinting cost, stated: O(landed deltas) metadata
        # listings per sync — the same asymptotic class every probe's
        # partition glob already pays, and compact() keeps the
        # landed-delta count small by the store's own lifecycle
        # contract
        cur_fps = {did: self._index_delta_fp(did) for did in sorted(src_idx)}
        # a manifest from before the fingerprints existed can't make
        # the comparison: treat shared deltas as unchanged for THIS
        # sync (the pre-fingerprint code's own blind spot, one last
        # time) rather than mass re-shipping the corpus; the manifest
        # written after this ship records fps, so detection engages
        # from the next sync on
        prior_fps = prior.get("index_delta_fps")
        idx_changed = [] if prior_fps is None else sorted(
            did
            for did in (src_idx & clone_idx)
            if prior_fps.get(did) != cur_fps[did]
        )
        idx_to_ship = sorted((src_idx - clone_idx) | set(idx_changed))
        # ---- pairs (+ write log) ----------------------------------
        log = self._log_entries()
        src_seq = {d: s for s, d in log.items()}
        clone_seq = {d: s for s, d in clone._log_entries().items()}
        pairs_changed = sorted(
            did
            for did in (src_pairs & clone_pairs)
            if clone_seq.get(did) != src_seq.get(did)
        )
        pairs_to_ship = sorted((src_pairs - clone_pairs) | set(pairs_changed))
        deleted, small = self._deleted_docs()
        if deleted is not None:
            deleted = deleted.persist()
        dfs, HPath = self._fs_for(dest)

        def _ship(rel, dids):
            """Pre-delete the clone's copies of these deltas, then land
            the masked rows."""
            for did in dids:
                for d in clone._delta_dirs(rel, did):
                    dfs.delete(HPath(d), True)
            present = sorted(set(dids) & self._partition_ids(rel))
            if not present:
                return
            schema = (
                self._pairs_read_schema()
                if rel == "pairs"
                else self._rel_schema(rel)
            )
            df = self._mask_deleted(
                self.spark.read.schema(schema)
                .parquet(self._rel_path(rel))
                .where(F.col("delta_id").isin(present)),
                rel,
                deleted,
                small,
            )
            parts = ("band", "delta_id") if rel == "postings" else ("delta_id",)
            (
                df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*parts)
                .parquet(clone._rel_path(rel))
            )

        try:
            # retract markers of re-shipped deltas while their rows
            # are mid-rewrite, land BOTH relations, then re-mark — the
            # insert flow's mark-after-both-writes discipline
            for did in idx_to_ship:
                clone._unmark_landed(clone.landed_path, did)
            if idx_to_ship:
                for rel in ("arrays", "postings"):
                    _ship(rel, idx_to_ship)
            for did in idx_to_ship:
                clone._mark_landed(clone.landed_path, did)
            for did in pairs_to_ship:
                clone._unmark_landed(clone.landed_pairs_path, did)
                # direct delete via the already-listed clone log —
                # _unlog_pairs would re-list the whole log per did
                if did in clone_seq:
                    dfs.delete(
                        HPath(f"{clone.log_path}/{clone_seq[did]:08d}.{did}"),
                        False,
                    )
            if pairs_to_ship:
                _ship("pairs", pairs_to_ship)
            # log entries BEFORE the landed markers: a crash in between
            # leaves an unmarked delta the re-run re-ships; the reverse
            # order would leave a marked delta whose log entry never
            # arrives
            for did in pairs_to_ship:
                if did in src_seq:
                    dfs.create(
                        HPath(f"{clone.log_path}/{src_seq[did]:08d}.{did}"),
                        True,
                    ).close()
            for did in pairs_to_ship:
                clone._mark_landed(clone.landed_pairs_path, did)
        finally:
            if deleted is not None:
                deleted.unpersist()
        hwm = self._read_json(self.log_hwm_path)
        if hwm is not None:
            clone._write_json(clone.log_hwm_path, hwm)
        for did in sorted(self._landed_ids(self.folded_path)):
            clone._mark_landed(clone.folded_path, did)
        shipped = {
            "index": idx_to_ship,
            "index_redelivered": idx_changed,
            "pairs": pairs_to_ship,
            "pairs_redelivered": pairs_changed,
        }
        return shipped, {
            "index_deltas": sorted(src_idx),
            "index_delta_fps": cur_fps,
            "pairs_history": [
                [s, d] for s, d in sorted(log.items()) if d in src_pairs
            ],
        }

    def _pairs_read_schema(self):
        """The pinned pairs/ read schema incl. delta_id (the
        pairs_as_of construction, shared with snapshot_to)."""
        from pyspark.sql.types import (
            DoubleType,
            StringType,
            StructField,
            StructType,
        )

        doc_t = self._rel_schema("arrays")["doc_id"].dataType
        return StructType(
            [
                StructField("da", doc_t),
                StructField("db", doc_t),
                StructField("jaccard", DoubleType()),
                StructField("delta_id", StringType()),
            ]
        )

    def finalize_delta(self, delta_id: str) -> None:
        """Mark a `materialize=False` probe's delta fold-landed AFTER
        its lazy plan has been consumed. Until this call the delta's
        partitions are probe-visible but invisible to compact() — a
        fold can therefore never invalidate an outstanding lazy plan.
        Idempotent; a no-op burden of one empty marker file."""
        self._mark_landed(self.landed_path, delta_id)

    def prune_pairs(self, delta_ids: list[str] | None = None) -> int:
        """Reclaim consumed probe snapshots: delete the given delta_ids'
        pairs/ partitions (None = ALL of them). pairs/ otherwise grows
        by one permanent partition per probe — the store is a snapshot
        HANDOFF, not an archive; prune once the pairs have been acted
        on (docs dropped / flagged). Returns the number of partitions
        removed."""
        fs, HPath = self._fs()
        root = HPath(self.pairs_path)
        if not fs.exists(root):
            return 0
        removed = 0
        if delta_ids is None:
            for st in fs.listStatus(root):
                name = st.getPath().getName()
                if st.isDirectory() and name.startswith("delta_id="):
                    fs.delete(st.getPath(), True)
                    self._unmark_landed(
                        self.landed_pairs_path, name[len("delta_id="):]
                    )
                    self._unlog_pairs(name[len("delta_id="):])
                    removed += 1
            return removed
        for did in delta_ids:
            if fs.delete(HPath(f"{self.pairs_path}/delta_id={did}"), True):
                self._unmark_landed(self.landed_pairs_path, did)
                self._unlog_pairs(did)
                removed += 1
        return removed

    def expire(self, delta_ids) -> dict:
        """RETENTION on the index (round-13 verdict, missing #2 /
        next #4 — the batch-store `expire()` contract on the delta-
        keyed layout): retire whole landed deltas — old crawl batches a
        rolling-window corpus no longer dedups against — dropping their
        postings/arrays partitions, their pairs snapshots, and their
        log entries, with NO rebootstrap and no data rewritten.

        `delta_ids` may name unfolded real deltas and/or standing
        GENERATION ids (`gen-*`, as listed in compact() receipts and
        partition listings) — with tiered compaction a whole old
        generation retires while younger generations and live deltas
        stand, exactly like the batch stores. Contracts, aligned with
        the rest of the lifecycle:

        - The `_expired/<id>` marker lands FIRST, per delta: from that
          metadata op the delta is out of every read atomically
          (readers resolve through `_fold_read_exclusions`, so a
          half-deleted postings partition set is never probe-visible),
          a same-id `insert()` refuses (resurrecting retired data
          under a retired id is the failure mode; re-crawled docs
          arrive under fresh ids), and `pairs_as_of()` below a retired
          snapshot's seq refuses loudly (the VACUUM idiom).
        - A REAL delta already folded into a generation refuses — its
          rows live in the generation partition; expire the generation
          id instead (retiring every delta folded into it), or
          `compact(purge_forgotten=True)` for row-level erasure.
        - Expiring EVERYTHING refuses (retention keeps at least one
          landed index delta; `bootstrap()` is the restart path).
        - A crash mid-expiry leaves marked-but-partially-dropped
          deltas that every maintenance call sweeps to completion
          (`_recover_expiry`); reads were never exposed (the marker
          landed first).
        - Snapshots carry the markers (clones refuse the same
          re-inserts); a clone whose expired set is AHEAD of the
          source's refuses to sync (shipped deltas would resurrect).

        Lock-free like forget()? No — expire is maintenance (it
        deletes landed partitions a fold could be reading): it takes
        the WriterLease. Cost: O(expired deltas x bands) metadata
        deletes, zero data rewritten.

        Returns {"expired": [ids dropped now]}; ids already expired
        are reported under "already" (idempotent retry)."""
        from .lease import WriterLease

        self._require_format()
        ids = sorted({str(d) for d in delta_ids})
        if not ids:
            raise ValueError("expire(): no delta_ids given")
        fs, HPath = self._fs()
        with WriterLease(self.spark, self.base_path):
            self._recover_fold()
            self._recover_expiry()
            self._vacuum_sweep()
            expired_already = self._landed_ids(self.expired_path)
            folded = self._landed_ids(self.folded_path)
            idx_marked = self._landed_ids(self.landed_path)
            pairs_marked = self._landed_ids(self.landed_pairs_path)
            todo, already = [], []
            for did in ids:
                if did in expired_already:
                    already.append(did)
                    continue
                if did in folded and not did.startswith("gen-"):
                    raise ValueError(
                        f"expire(): delta_id {did!r} was folded into a "
                        f"generation of {self.base_path} — its rows "
                        "live in the generation partition. Expire the "
                        "generation id instead (retires every delta "
                        "folded into it), or purge for row-level "
                        "erasure. Standing generations: "
                        f"{sorted(d for d in idx_marked if d.startswith('gen-'))}."
                    )
                if did not in (idx_marked | pairs_marked):
                    raise ValueError(
                        f"expire(): delta_id {did!r} is not a landed "
                        f"delta of {self.base_path} — nothing to "
                        "retire (crashed/unmarked inserts are "
                        "redelivered or cleaned, not expired)."
                    )
                todo.append(did)
            if not (idx_marked - set(todo)):
                raise ValueError(
                    f"expire({ids}) would empty the index at "
                    f"{self.base_path} — retention keeps at least one "
                    "landed delta; bootstrap anew to restart the "
                    "corpus."
                )
            for did in todo:
                # marker FIRST: one metadata op retires the delta from
                # every read; everything after can crash and re-run
                self._mark_landed(self.expired_path, did)
                self._drop_expired(did)
            return {"expired": todo, "already": already}

    def _drop_expired(self, did: str) -> None:
        """Drop one expired delta's partitions, log entry, and markers
        (idempotent — also the crash-recovery path; the `_expired`
        marker is already up, so readers never see the intermediate
        states)."""
        fs, HPath = self._fs()
        self._unlog_pairs(did)
        for rel in ("postings", "arrays", "pairs"):
            for d in self._delta_dirs(rel, did):
                fs.delete(HPath(d), True)
        self._unmark_landed(self.landed_path, did)
        self._unmark_landed(self.landed_pairs_path, did)

    def _recover_expiry(self) -> None:
        """Finish any expire() a previous call died inside of: an
        `_expired` marker whose delta still carries landed markers (or
        partitions) was mid-drop — sweep it. One marker listing; work
        only for actual leftovers."""
        expired = self._landed_ids(self.expired_path)
        if not expired:
            return
        live = (
            self._landed_ids(self.landed_path)
            | self._landed_ids(self.landed_pairs_path)
        )
        for did in sorted(expired & live):
            self._drop_expired(did)

    def _leaf_partition_count(self, path: str, depth: int) -> int:
        """Number of SERVING leaf partition directories `depth` levels
        below `path` (listing only — no data read). Vacuum-retired
        sources (fold reader grace) still sit on disk until swept but
        serve no fresh read, so they are not counted — the receipt's
        sprawl numbers describe the probe-visible layout."""
        fs, HPath = self._fs()
        if not fs.exists(HPath(path)):
            return 0
        parked = {
            HPath(p).toUri().getPath()
            for e in self._vacuum_state()["retired"]
            for p in e["paths"]
        }
        level = [HPath(path)]
        for _ in range(depth):
            nxt = []
            for d in level:
                for st in fs.listStatus(d):
                    name = st.getPath().getName()
                    if st.isDirectory() and not name.startswith(("_", ".")):
                        nxt.append(st.getPath())
            level = nxt
        return len(
            [d for d in level if d.toUri().getPath() not in parked]
        )

    def _rel_path(self, rel: str) -> str:
        return {
            "postings": self.postings_path,
            "arrays": self.arrays_path,
            "pairs": self.pairs_path,
        }[rel]

    def _partition_ids(self, rel: str) -> set:
        """delta_id values SERVING as partition directories in `rel` —
        vacuum-retired ids (fold reader grace: bytes parked in place
        until swept) are subtracted, so presence here means a fresh
        read resolves the id."""
        fs, HPath = self._fs()
        path = self._rel_path(rel)
        if not fs.exists(HPath(path)):
            return set()
        roots = []
        if rel == "postings":
            for bd in fs.listStatus(HPath(path)):
                if bd.isDirectory() and bd.getPath().getName().startswith("band="):
                    roots.append(bd.getPath())
        else:
            roots.append(HPath(path))
        ids = set()
        for r in roots:
            for st in fs.listStatus(r):
                name = st.getPath().getName()
                if st.isDirectory() and name.startswith("delta_id="):
                    ids.add(name[len("delta_id="):])
        return ids - self._vacuum_rel_ids(rel)

    def _delta_dirs(self, rel: str, delta_id: str) -> list:
        """Existing partition directories holding `delta_id` in `rel`."""
        fs, HPath = self._fs()
        path = self._rel_path(rel)
        if rel == "postings":
            dirs = [
                f"{path}/band={b}/delta_id={delta_id}" for b in range(MH_BANDS)
            ]
        else:
            dirs = [f"{path}/delta_id={delta_id}"]
        return [d for d in dirs if fs.exists(HPath(d))]

    def _delta_bytes(self, rels: tuple, did: str) -> int:
        """Total data bytes `did` holds across `rels` — the size-tier
        walk's weight (O(partition listings), no data read)."""
        fs, HPath = self._fs()
        return sum(
            st.getLen()
            for rel in rels
            for d in self._delta_dirs(rel, did)
            for st in _iter_files(fs, HPath, d)
        )

    def _tier_select(self, rels: tuple, land: list, merge_ratio) -> list:
        """The round-14 size-tier walk (the BatchAppendStore.compact
        policy on the delta-keyed layout): every REAL landed delta
        folds; a standing GENERATION joins only while the bytes
        gathered so far weigh >= merge_ratio x its own — so steady-
        state maintenance rewrites the new deltas, not the corpus,
        and generations converge to O(log corpus/delta) size tiers.
        merge_ratio=0 folds everything (the pre-round-14 behavior);
        None never merges standing generations."""
        if merge_ratio == 0:
            return sorted(land)
        reals = [d for d in land if not d.startswith("gen-")]
        chosen = list(reals)
        if merge_ratio is not None:
            gens = [d for d in land if d.startswith("gen-")]
            acc = sum(self._delta_bytes(rels, d) for d in reals)
            for g in sorted(gens, key=lambda d: self._delta_bytes(rels, d)):
                b = self._delta_bytes(rels, g)
                if acc >= merge_ratio * b:
                    chosen.append(g)
                    acc += b
                else:
                    break
        return sorted(chosen)

    def _fold_plan(self, purge: bool = False, merge_ratio=0.5) -> dict:
        """Decide what this fold touches: per relation, the delta_ids
        that are BOTH marker-landed and present as partitions, thinned
        by the size-tier walk (`_tier_select`) — standing generations
        re-fold only when the ratio triggers, EXCEPT under a purge,
        which owes the byte-erasure rewrite to EVERY landed partition
        and therefore folds them all. Unmarked partitions (an insert
        mid-flight, or one that crashed before its marker) are left
        alone — that is the whole concurrency story. A relation with
        < 2 foldable deltas has no sprawl to fold and is skipped —
        EXCEPT under a purge, where even one landed delta owes the
        erasure rewrite.

        A purge plan pins the forget_ids whose tombstones the commit's
        finish step will clear — by content FINGERPRINT, so a forget()
        re-landing the same id mid-fold keeps its (newer) tombstones
        (round-10 ADVICE, medium) — UNLESS any probe-visible partition
        is unmarked: those partitions are not in the fold set, so their
        rows cannot be byte-erased this pass, and clearing the
        tombstones would let a forgotten doc's surviving rows silently
        re-enter probe results (round-10 ADVICE, high). In that case
        the fold still drops tombstoned rows from everything it DOES
        rewrite (`purge_rows`), but the tombstone partitions stay
        active — result-level erasure holds — and the deferral is
        surfaced in compact()'s receipt."""
        idx_marked = self._landed_ids(self.landed_path)
        expired = self._landed_ids(self.expired_path)
        floor = 1 if purge else 2
        # joint tier decision for the index relations (a delta's
        # arrays+postings fold together under one marker), separate
        # decision for pairs (its own marker namespace and sizes)
        idx_land = sorted(
            (
                idx_marked
                & (
                    self._partition_ids("postings")
                    | self._partition_ids("arrays")
                )
            )
            - expired
        )
        idx_sel = (
            set(idx_land)
            if purge
            else set(
                self._tier_select(("postings", "arrays"), idx_land,
                                  merge_ratio)
            )
        )
        folded = {}
        for rel in ("postings", "arrays"):
            land = sorted(idx_sel & self._partition_ids(rel))
            folded[rel] = land if len(land) >= floor else []
        pl = sorted(
            (
                self._landed_ids(self.landed_pairs_path)
                & self._partition_ids("pairs")
            )
            - expired
        )
        if not purge:
            pl = self._tier_select(("pairs",), pl, merge_ratio)
        folded["pairs"] = pl if len(pl) >= floor else []
        plan = {"gen": f"gen-{uuid.uuid4().hex[:8]}", "folded": folded}
        if purge:
            unmarked = set()
            for rel in ("postings", "arrays"):
                unmarked |= self._partition_ids(rel) - idx_marked
            unmarked |= self._partition_ids("pairs") - self._landed_ids(
                self.landed_pairs_path
            )
            plan["purge_rows"] = True
            if unmarked:
                plan["purge"] = {}
                plan["purge_deferred"] = sorted(unmarked)
            else:
                plan["purge"] = self._tombstone_fingerprints()
        return plan

    def _fold_write(self, plan: dict, target_bytes: int) -> dict:
        """Land each folded relation's rows as ONE delta_id=<gen>
        partition BESIDE the live data (dynamic overwrite touches only
        the gen partition — never the relation root), and verify the
        gen partition's footer row sum equals the folded sources'.
        Returns {rel: rows} on success; raises on mismatch (caller
        rolls the gen partitions back — sources untouched)."""
        from .compaction import footer_row_count

        spark = self.spark
        fs, HPath = self._fs()
        gen = plan["gen"]
        purging = bool(plan.get("purge_rows") or plan.get("purge"))
        deleted = self._deleted_docs()[0] if purging else None
        if deleted is not None:
            # pin the tombstone set for this fold: every relation must
            # be filtered against the SAME doc_ids even if forget()s
            # land mid-write
            deleted = deleted.persist()
        rows = {}
        try:
            for rel, land in plan["folded"].items():
                if not land:
                    continue
                path = self._rel_path(rel)
                src_dirs = [d for did in land for d in self._delta_dirs(rel, did)]
                rows_before = sum(footer_row_count(spark, d) for d in src_dirs)
                total_bytes = sum(
                    st.getLen()
                    for d in src_dirs
                    for st in _iter_files(fs, HPath, d)
                )
                floor = MH_BANDS if rel == "postings" else 1
                n_out = max(floor, math.ceil(total_bytes / float(target_bytes)))
                reader = spark.read
                if rel in ("postings", "arrays"):
                    reader = reader.schema(self._rel_schema(rel))
                df = (
                    reader.parquet(path)
                    .where(F.col("delta_id").isin(land))
                    .drop("delta_id")
                )
                if deleted is not None:
                    # byte-level erasure: drop tombstoned docs' rows
                    # (pairs rows touching one on EITHER side)
                    if rel == "pairs":
                        df = df.join(
                            F.broadcast(deleted.select(F.col("doc_id").alias("da"))),
                            "da",
                            "left_anti",
                        ).join(
                            F.broadcast(deleted.select(F.col("doc_id").alias("db"))),
                            "db",
                            "left_anti",
                        )
                    else:
                        df = df.join(F.broadcast(deleted), "doc_id", "left_anti")
                    # a lossy rewrite can't verify against the source
                    # footer sum — count the kept rows explicitly (the
                    # one extra pass an erasure op pays for its verify)
                    expected = df.count()
                else:
                    expected = rows_before
                shuffled = (
                    df.repartition(n_out, "band")
                    if rel == "postings"
                    else df.repartition(n_out)
                )
                parts = ("band", "delta_id") if rel == "postings" else ("delta_id",)
                (
                    shuffled.withColumn("delta_id", F.lit(gen))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy(*parts)
                    .parquet(path)
                )
                rows_gen = sum(
                    footer_row_count(spark, d) for d in self._delta_dirs(rel, gen)
                )
                if rows_gen != expected:
                    raise IOError(
                        f"index fold row mismatch on {path}: "
                        f"expected {expected} (sources {rows_before}"
                        f"{', post-purge' if purging else ''}) -> {rows_gen}; "
                        "sources untouched"
                    )
                if expected == 0:
                    # every row purged: dynamic overwrite wrote NO gen
                    # partition, so the finish step must not mark the
                    # (nonexistent) gen landed — and the relation will
                    # read back empty via its pinned schema (round-10
                    # ADVICE, low #2)
                    plan.setdefault("empty", []).append(rel)
                rows[rel] = rows_gen
        finally:
            if deleted is not None:
                deleted.unpersist()
        return rows

    def _rollback_fold(self, plan: dict) -> None:
        """Undo an UNCOMMITTED fold: delete the (possibly partial) gen
        partitions and both manifests. Sources were never touched, so
        the store is exactly its pre-fold self."""
        fs, HPath = self._fs()
        for rel in ("postings", "arrays", "pairs"):
            for d in self._delta_dirs(rel, plan["gen"]):
                fs.delete(HPath(d), True)
        fs.delete(HPath(self.fold_intent_path), False)
        fs.delete(HPath(self.fold_commit_path), False)

    def _fold_finish(self, plan: dict) -> None:
        """Roll a COMMITTED fold forward (idempotent — also the crash
        recovery path): delete the folded source partitions, retire
        their markers, mark the generation itself landed (the NEXT
        compaction folds it like any delta), then drop the manifests —
        intent first, so a crash between the two deletes is recovered
        via the commit manifest (roll forward), never misread as an
        uncommitted fold (roll back would delete live gen data)."""
        fs, HPath = self._fs()
        gen = plan["gen"]
        folded = plan["folded"]
        # tombstone the folded index delta_ids BEFORE deleting their
        # partitions: from the first deletion onward a same-id retry
        # would duplicate rows the generation already holds, so the
        # fail-fast gate must already be up (idempotent across the
        # crash-recovery replay of this method). Generations themselves
        # get tombstoned when a later fold consumes them — harmless,
        # nothing ever re-inserts a gen id.
        for did in set(folded["postings"]) | set(folded["arrays"]):
            self._mark_landed(self.folded_path, did)
        # RETIRE the folded source partitions in place (round 15,
        # reader grace) instead of deleting them: bytes keep serving
        # any probe plan that listed them before the commit, while
        # fresh reads exclude the retired delta_ids via
        # _fold_read_exclusions; a later maintenance call's sweep
        # deletes them past the grace horizon. A PURGE fold passes
        # purge fingerprints in the plan and hard-deletes instead —
        # its erasure claim must not park bytes (compact force-sweeps
        # the standing backlog before planning a purge).
        retire_ids, retire_dirs = set(), []
        for rel, land in folded.items():
            for did in land:
                retire_ids.add(f"{rel}/{did}")
                retire_dirs.extend(self._delta_dirs(rel, did))
        if plan.get("purge_rows"):
            # EVERY purge fold hard-deletes — the deferred case too:
            # its sources still hold the tombstoned rows the rewrite
            # dropped, and parking those bytes for reader grace would
            # undercut even the deferred purge's progress. (The
            # fingerprints under plan["purge"] are {} when deferred,
            # so they must not key this branch.)
            for d in retire_dirs:
                fs.delete(HPath(d), True)
        else:
            self._vacuum_retire(sorted(retire_ids), retire_dirs)
        idx_left = (
            self._partition_ids("postings") | self._partition_ids("arrays")
        )
        for did in set(folded["postings"]) | set(folded["arrays"]):
            if did not in idx_left:
                self._unmark_landed(self.landed_path, did)
        for did in folded["pairs"]:
            self._unmark_landed(self.landed_pairs_path, did)
            # the fold collapses these snapshots' history into the
            # generation: retire their log entries (pairs_as_of of a
            # pre-fold seq now fails loudly — VACUUM semantics)
            self._unlog_pairs(did)
        empty = set(plan.get("empty", []))
        if (folded["postings"] and "postings" not in empty) or (
            folded["arrays"] and "arrays" not in empty
        ):
            self._mark_landed(self.landed_path, gen)
        if folded["pairs"] and "pairs" not in empty:
            self._mark_landed(self.landed_pairs_path, gen)
            self._log_pairs_landed(gen)
        # a purge fold clears exactly the tombstones it planned against
        # (recorded in the manifest, so crash recovery replays this) —
        # and only while their content fingerprint is UNCHANGED: a
        # forget() re-landing or extending a planned forget_id between
        # the fold's tombstone snapshot and this finish step keeps its
        # partition (its new doc set was never purged), staying active
        # until the next purge (round-10 ADVICE, medium). forget()s
        # landed mid-fold under a NEW id are not in the plan and stay
        # by construction.
        self._clear_tombstones_guarded(plan.get("purge") or {})
        self._deleted_cache = _UNSET
        fs.delete(HPath(self.fold_intent_path), False)
        fs.delete(HPath(self.fold_commit_path), False)

    def _recover_fold(self) -> None:
        """Finish or undo a fold a previous compact() died inside of.
        Commit manifest present => the gen partitions verified complete
        before the crash: roll FORWARD. Intent only => the gen write
        never verified: roll BACK. Either way every row is stored
        exactly once afterwards."""
        commit = self._read_json(self.fold_commit_path)
        if commit is not None:
            self._fold_finish(commit)
            return
        intent = self._read_json(self.fold_intent_path)
        if intent is not None:
            self._rollback_fold(intent)

    def compact(
        self,
        target_bytes: int = 128 * 1024 * 1024,
        purge_forgotten: bool = False,
        merge_ratio: float | None = 0.5,
    ) -> dict:
        """Fold the per-delta partition sprawl into consolidated
        generation partitions — IN PLACE, concurrent-insert-safe, and
        TIERED since round 14: real deltas fold into a fresh
        generation, standing generations join only when the size-ratio
        walk triggers (`merge_ratio`, the BatchAppendStore.compact
        policy — 0 folds everything into one generation as before,
        None never re-folds a standing generation), so steady-state
        maintenance cost scales with the new deltas, not the corpus.
        A purge ignores the ratio: byte erasure owes the rewrite to
        every landed partition.

        insert()/probe_and_insert() land one `(band, delta_id)` posting
        partition pair per crawl batch FOREVER — after thousands of
        batches that is a partition-explosion + small-file sprawl that
        slows every probe's listing and scan (round-7 verdict ask 2).
        compact() rewrites the marker-landed delta partitions as a
        single fresh `delta_id=gen-<id>` partition per relation:
        postings/ drops from O(N*bands) leaf partitions to O(bands),
        arrays/ and pairs/ to O(1). Rows are untouched, so a probe
        returns identical pairs before and after (pinned by test);
        subsequent inserts simply add new delta partitions beside the
        generation.

        Concurrency (round-8 rework; closes the ADVICE accepted risk
        "an insert racing a compact() could land a delta partition
        that the swap erases"): the fold never replaces a relation
        directory — it lands the generation BESIDE the live partitions
        and deletes exactly the source partitions it read. The fold
        set is pinned at plan time to deltas with a `_landed/` marker,
        which inserts write only AFTER their last relation write
        commits, so a concurrent insert's partitions are never read,
        never deleted, and never double-counted (pinned by test).
        Probes launched after a fold COMMITS (or after a crash in
        either phase) are consistent via the manifest-resolved read
        view (`_fold_read_exclusions`); folded delta_ids are
        tombstoned so a late same-id re-insert fails fast. The one
        remaining race, documented and loud: a probe plan or snapshot
        read-back ALREADY holding a file listing when the fold deletes
        those files fails with missing-file errors mid-window —
        schedule those apart or take the lease.

        Crash safety is a two-phase manifest: `_fold_intent.json`
        lands before the gen write, `_fold_commit.json` only after the
        gen partition verified row-exact against the sources from
        parquet FOOTERS (one data pass total — the rewrite). The next
        compact() rolls an intent-only fold back and a committed fold
        forward before planning its own (`_recover_fold`).

        `purge_forgotten=True` upgrades the fold to BYTE-LEVEL erasure
        of forget() tombstones (the follow-up forget()'s docstring
        promises): the rewrite drops tombstoned docs' rows from
        postings/arrays (and pairs rows touching them), verification
        switches from source-footer-sum to a counted expectation (one
        extra pass over the fold set — the price of verifying an
        intentionally lossy rewrite), and the tombstone partitions that
        existed at PLAN time are cleared by the commit's finish step
        (recorded in the manifest with a content fingerprint, so crash
        recovery replays the clearing and a forget() re-landing a
        planned id mid-fold keeps its newer tombstones). A purge folds
        even a single landed delta (a no-sprawl store still owes the
        erasure).

        A purge is DEFERRED — tombstoned rows still dropped from
        every partition the fold rewrites, but NO tombstone cleared —
        whenever any probe-visible partition is UNMARKED (a
        materialize=False probe awaiting finalize_delta(), or an
        insert/snapshot that crashed before its marker): those
        partitions are outside the fold set, so clearing the
        tombstones would let a forgotten doc's surviving rows re-enter
        probe results (round-10 ADVICE, high). The receipt surfaces
        the deferral (`purge_deferred`: the unmarked delta_ids) —
        finalize or clean those deltas up, then purge again. Remaining
        caveat, documented loud: rows of a forgotten doc inside a
        delta whose insert commits during the fold window are NOT
        purged this pass and would serve once the tombstones clear —
        quiesce ingestion of taken-down docs across a purge, or
        re-land the forget (cheap) after it.

        Returns a receipt: per relation {compacted, leaf_partitions
        before/after, rows}; under a purge also `purge_deferred`."""
        from .lease import WriterLease

        spark = self.spark
        self._require_format()
        with WriterLease(spark, self.base_path):
            # re-list tombstones UNDER the lease (round-11 ADVICE,
            # high): this instance's cache may predate a forget()
            # landed by another process/instance — _fold_plan pins
            # tombstone fingerprints from a FRESH listing, so filtering
            # rows through the stale cached set would skip that
            # forget's docs during the rewrite while _fold_finish still
            # clears its (fingerprint-unchanged) partition: a false
            # erasure. IvfAssignmentStore.purge_forgotten already
            # re-lists under its lease; same discipline here.
            self._deleted_cache = _UNSET
            self._recover_fold()
            self._recover_expiry()
            # vacuum: a purge FORCE-sweeps the whole retired backlog
            # (its byte-erasure claim covers parked sources too);
            # otherwise only entries past the grace horizon go
            self._vacuum_sweep(force=purge_forgotten)
            plan = self._fold_plan(
                purge=purge_forgotten, merge_ratio=merge_ratio
            )
            receipt: dict = {"generation": plan["gen"]}
            if purge_forgotten:
                receipt["purge_deferred"] = plan.get("purge_deferred", [])
            before = {
                rel: self._leaf_partition_count(self._rel_path(rel), depth)
                for rel, depth in (("postings", 2), ("arrays", 1), ("pairs", 1))
            }
            rows: dict = {}
            if any(plan["folded"].values()):
                self._write_json(self.fold_intent_path, plan)
                try:
                    rows = self._fold_write(plan, target_bytes)
                except BaseException:
                    self._rollback_fold(plan)
                    raise
                self._write_json(self.fold_commit_path, plan)
                self._fold_finish(plan)
            receipt["vacuum_backlog"] = [
                {"cycle": e["cycle"], "ids": e["ids"]}
                for e in self._vacuum_state()["retired"]
            ]
            for rel, depth in (("postings", 2), ("arrays", 1), ("pairs", 1)):
                if plan["folded"][rel]:
                    receipt[rel] = {
                        "compacted": True,
                        "leaf_partitions_before": before[rel],
                        "leaf_partitions": self._leaf_partition_count(
                            self._rel_path(rel), depth
                        ),
                        "rows": rows.get(rel),
                    }
                else:
                    receipt[rel] = {
                        "compacted": False,
                        "leaf_partitions": before[rel],
                        "rows": None,
                    }
        return receipt
