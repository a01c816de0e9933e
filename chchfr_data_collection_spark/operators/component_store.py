"""Persisted component-assignment store: incremental CC's serving state.

`queries.extras.dedup_cc_incremental` folds a delta batch's near-dup
pairs into an EXISTING (node, component) assignment without
re-clustering the landed corpus — but until round 11 that landed
assignment lived in a session cache, explicitly documented as the
stand-in for "the persisted assignment table the clustering pipeline
keeps next to the MinHash index". This module is that table (round-10
verdict, next #1): the MinHash index's productization arc (persisted
store → idempotent delta landing → lifecycle → takedowns) applied to
the clustering leg, so a crawl loop can maintain dedup clusters ACROSS
sessions, not just within one.

Layout (one parquet relation plus metadata under a base path):

- `assignments/` — (node, component), partitioned by `seq` (a
  zero-padded store-assigned sequence number): the bootstrap base plus
  one PATCH partition per applied delta. A patch holds ONLY the rows
  that changed — landed nodes whose component was merged into a
  smaller-id component, plus first-seen nodes — so a delta's write is
  O(delta + touched components), never O(corpus).
- `_landed/<seq>.<delta_id>` — empty marker, written AFTER a
  partition's write commits. The read view resolves through these:
  `labels()` reads only marked partitions and keeps, per node, the row
  from the HIGHEST marked seq (last-writer-wins). A crashed or
  mid-flight write's partition has no marker and is invisible — the
  same probe-visibility discipline as the MinHash index's fold
  manifests, but last-writer-wins makes it sufficient on its own: no
  two-phase fold manifest is needed anywhere in this store (see
  compact()).
- `_intent/<delta_id>` — records the seq an apply() attempt took,
  BEFORE it writes. A retry of a crashed apply finds the intent, wipes
  the orphaned unmarked partition, and lands under a FRESH seq — fresh
  rather than reused, because the retry recomputes its patch against
  the CURRENT resolved view (which may include deltas landed after the
  crash), and re-using the old, lower seq would let those newer
  deltas' rows win last-writer-wins over rows computed from a strictly
  newer view.
- `_deleted/` — (node), partitioned by forget_id: right-to-be-
  forgotten tombstones, anti-joined by every read (the MinHash index's
  forget() contract: result-level erasure now, byte-level at the next
  `compact(purge_forgotten=True)`). A forgotten node that re-enters
  via a later delta's pairs stays hidden until the tombstones clear.
- `_schema.json` — pinned read schema (node keeps the bootstrap
  caller's type), written at bootstrap: reads never pay footer
  inference and an emptied store reads as empty.
- `generations/gid=<uuid>/` + `_generations.json` (round 15, tiered
  compaction) — resolved GENERATIONS: each holds a contiguous seq
  range of patches folded per-node, positioned in the last-writer-wins
  order at the range's highest consumed seq by the ledger. The
  ledger's atomic rewrite is a fold's commit point; `_fold_intent.json`
  carries an in-flight fold's plan for rollback / roll-forward.

Why last-writer-wins needs (almost) no fold manifest: applying a pair
batch is a MONOTONE merge (components only ever coalesce toward
smaller representative ids), so re-applying an already-applied delta
computes an EMPTY patch against the current view — apply() is
naturally idempotent under at-least-once delivery (a foreachBatch
replay after checkpoint loss re-applies and lands nothing). compact()
exploits the same property: the staged generation is invisible until
the ledger lists it, and from that single commit write onward every
not-yet-deleted source row is superseded per-node by the generation
(or ties it with an identical value), so a crash anywhere in the
cleanup leaves a view that resolves identically — recovery is "retry
any maintenance call".

Correctness of the incremental fold (the dedup_cc_incremental
argument, now load-bearing for the store): landed components are
labeled by their MINIMUM node id, so every contracted vertex is a real
node id minimal in its landed part; a union-find over the
contracted delta graph that always unions toward the smaller id (one
local pass on the driver — `graph.local_components`) therefore yields
the true minimum of each merged component, and components the delta
never touches keep their labels because no patch row names them. The
fixed point after any sequence of apply() calls equals batch CC over
the union of all pairs ever applied — which is the registered oracle —
with one carve-out: pairs are SEVERED at endpoints tombstoned at
apply time (forgotten nodes never bridge components; the surviving
endpoint still enters as a singleton), so under takedowns the fixed
point is batch CC over the union of the per-apply SEVERED pair
batches.

At 100 TB: `labels()` (the serving read) is one shuffle on node over
base + patches (steady-state patches are delta-sized; compact() folds
them back into one base, keeping the resolve cheap). `apply_pairs` is
stricter — nothing in it shuffles the corpus assignment: endpoint
labels resolve through a broadcast semi-join + delta-sized groupBy;
the severed delta pairs and those labels come to the driver, where
CC runs on the contracted O(delta + touched components) graph in one
union-find pass (the scale contract is in `apply_pairs`); and the
relabel of touched components is a MAP-ONLY scan of the assignment
against a broadcast (old label -> new label) map — sound because
labels only ever decrease, so stale patch rows can never match a
current label (see _apply_pairs_locked). The one full pass apply
pays is that map-side scan; its shuffle volume is zero.

Concurrent WRITERS on one store need the WriterLease fence
(operators/lease.py), exactly as for the MinHash index; forget() is
lock-free (a takedown must not queue behind maintenance) and safe
against a racing purge via the same content-fingerprint guard the
MinHash index uses.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .graph import connected_components, local_components
from .store_base import (
    TOMBSTONE_BROADCAST_BYTES,
    StoreKernel,
    _UNSET,
    _iter_files,
)

# kept name: the byte bound below which tombstone sets broadcast
CS_TOMBSTONE_BROADCAST_BYTES = TOMBSTONE_BROADCAST_BYTES


class ComponentStore(StoreKernel):
    """A persisted, incrementally-maintained (node, component) table.

    Usage (the production clustering loop)::

        store = ComponentStore(spark, store_path)
        store.bootstrap(initial_pairs)        # once: batch CC
        store.apply_pairs(delta_pairs, "b1")  # per arriving pair batch
        labels = store.labels()               # the serving view
    """

    TOMBSTONE_KEY = "node"

    def __init__(self, spark: SparkSession, base_path: str) -> None:
        self._init_kernel(spark, base_path)
        self.assign_path = f"{self.base_path}/assignments"
        self.landed_path = f"{self.base_path}/_landed"
        self.intent_path = f"{self.base_path}/_intent"
        self.schema_path = f"{self.base_path}/_schema.json"
        # retention floor (round 14): patches with seq below the
        # ledger's `before` were expired — labels(as_of) below it
        # refuses, and maintenance calls sweep any leftovers
        self.expired_ledger_path = f"{self.base_path}/_expired.json"
        # tiered compaction (round 15): resolved GENERATIONS live as a
        # sibling relation `generations/gid=<uuid>/`; their place in
        # the last-writer-wins seq order is assigned by the ledger
        # (`_generations.json`), whose atomic rewrite is the fold's
        # commit point. `_fold_intent.json` carries an in-flight
        # fold's plan for crash rollback / roll-forward.
        self.gens_path = f"{self.base_path}/generations"
        self.gens_ledger_path = f"{self.base_path}/_generations.json"
        self.fold_intent_path = f"{self.base_path}/_fold_intent.json"
        self._schema = None

    # filesystem plumbing, tombstone cache, fingerprints: StoreKernel
    # (operators/store_base.py — the shared idioms, round-11 next #6)

    # -- markers -------------------------------------------------------------

    def _marked(self) -> dict[int, str]:
        """{seq: delta_id} of partitions whose write COMMITTED — the
        resolve view's allow-list."""
        fs, HPath = self._fs()
        if not fs.exists(HPath(self.landed_path)):
            return {}
        out = {}
        for st in fs.listStatus(HPath(self.landed_path)):
            name = st.getPath().getName()
            if st.isFile() and len(name) > 9 and name[:8].isdigit():
                out[int(name[:8])] = name[9:]
        return out

    def _mark(self, seq: int, delta_id: str) -> None:
        fs, HPath = self._fs()
        fs.create(HPath(f"{self.landed_path}/{seq:08d}.{delta_id}"), True).close()

    def _unmark(self, seq: int, delta_id: str) -> None:
        fs, HPath = self._fs()
        fs.delete(HPath(f"{self.landed_path}/{seq:08d}.{delta_id}"), False)

    def _max_seq(self) -> int:
        """Highest seq any attempt ever RESERVED (intents included, so
        a crashed attempt's number is never re-issued to a different
        delta while its orphan partition may still exist; generation
        positions included, so after a full fold — patches all retired
        into a generation — the next apply still lands ABOVE the
        generation in last-writer-wins order)."""
        fs, HPath = self._fs()
        mx = max(self._marked(), default=0)
        for g in self._generations():
            mx = max(mx, int(g["gseq"]))
        if fs.exists(HPath(self.intent_path)):
            for st in fs.listStatus(HPath(self.intent_path)):
                obj = self._read_json(st.getPath().toString())
                if isinstance(obj, dict) and "seq" in obj:
                    mx = max(mx, int(obj["seq"]))
        return mx

    # -- generations (tiered compaction, round 15) ----------------------------

    def _generations(self) -> list:
        """Standing generations, oldest first: [{"gid", "gseq", "low",
        "members": [[seq, delta_id], ...]}]. `gseq` is the generation's
        last-writer-wins position — the HIGHEST seq its fold consumed,
        so its rows outrank every row the fold superseded and lose to
        every later delivery; `low` is the lowest consumed seq (the
        VACUUM span for as-of reads); `members` is the patch-level
        provenance (cumulative through pulled-in generations — the
        sync divergence gate). The ledger's atomic rewrite is a fold's
        commit point (the same single-JSON-write commit discipline as
        the batch stores' `_folded.json`)."""
        led = self._read_json(self.gens_ledger_path)
        if led is None:
            return []
        return sorted(led["generations"], key=lambda g: int(g["gseq"]))

    def _gen_dir(self, gid: str) -> str:
        return f"{self.gens_path}/gid={gid}"

    def _gen_rows(self, gens: list) -> DataFrame:
        """(node, component, seq) rows of the given generations, seq
        assigned from the ledger's gseq positions — the generation leg
        of every resolve read. A generation that resolved to ZERO rows
        (all nodes tombstoned at fold time) wrote no partition dir;
        the filter simply matches nothing."""
        base = self._read_schema()
        fs, HPath = self._fs()
        if not gens or not fs.exists(HPath(self.gens_path)):
            return self.spark.createDataFrame([], base)
        gdf = self.spark.read.schema(self._gid_read_schema()).parquet(
            self.gens_path
        )
        gdf = gdf.filter(F.col("gid").isin([g["gid"] for g in gens]))
        seq_expr = None
        for g in gens:
            hit = F.col("gid") == g["gid"]
            pos = F.lit(f"{int(g['gseq']):08d}")
            seq_expr = (
                F.when(hit, pos) if seq_expr is None else seq_expr.when(hit, pos)
            )
        return gdf.select("node", "component", seq_expr.alias("seq"))

    def _gid_read_schema(self):
        """Pinned read schema of the gens relation: (node, component)
        as bootstrapped, plus the gid partition column."""
        from pyspark.sql.types import StringType, StructField, StructType

        base = self._read_schema()
        return StructType(
            [base["node"], base["component"], StructField("gid", StringType())]
        )

    def _seq_to_gid(self, gens: list):
        """Column expr mapping a generation's seq position back to its
        gid — the inverse of `_gen_rows`'s assignment, used when
        exporting generation rows into another store's gens
        relation."""
        expr = None
        for g in gens:
            hit = F.col("seq") == f"{int(g['gseq']):08d}"
            expr = (
                F.when(hit, F.lit(g["gid"]))
                if expr is None
                else expr.when(hit, F.lit(g["gid"]))
            )
        return expr

    def _finish_fold(self, plan: dict) -> None:
        """Roll a COMMITTED fold forward (idempotent — also the crash
        recovery path): retire the folded patch markers and delete
        their partitions, delete pulled-in generations' directories,
        then drop the intent. Readers are correct at every point in
        between: the new generation sits at the fold range's max seq,
        so any not-yet-deleted source row is superseded per-node (or
        ties it with an identical value) under last-writer-wins."""
        fs, HPath = self._fs()
        dirs = [
            f"{self.assign_path}/seq={int(s):08d}" for s, _ in plan["folded"]
        ] + [self._gen_dir(gid) for gid in plan["folded_gids"]]
        for s, d in plan["folded"]:
            self._unmark(int(s), d)
        if plan.get("purge"):
            # a purge's byte-erasure claim must not park bytes for
            # reader grace: hard-delete (the backlog was force-swept
            # at compact entry)
            for d in dirs:
                fs.delete(HPath(d), True)
        else:
            # RETIRE in place (round 15, reader grace): unmarking (and
            # the ledger rewrite that committed this fold) already
            # removed the sources from every fresh allow-list resolve;
            # the bytes stay for in-flight plans until a later
            # maintenance call sweeps past the grace horizon
            self._vacuum_retire(
                [f"{int(s):08d}.{d}" for s, d in plan["folded"]]
                + list(plan["folded_gids"]),
                dirs,
            )
        fs.delete(HPath(self.fold_intent_path), False)

    def _recover_fold(self) -> None:
        """Finish or undo a fold a previous compact() died inside of
        (run by every maintenance op, the `_apply_expiry` placement).
        The generations ledger is the commit point: intent's gid in
        the ledger => the generation verified row-exact and committed,
        roll FORWARD; not in the ledger => unverified, roll BACK
        (sources untouched — delete the orphan directory and the
        intent)."""
        fs, HPath = self._fs()
        plan = self._read_json(self.fold_intent_path)
        if plan is not None:
            if any(g["gid"] == plan["gid"] for g in self._generations()):
                self._finish_fold(plan)
            else:
                fs.delete(HPath(self._gen_dir(plan["gid"])), True)
                fs.delete(HPath(self.fold_intent_path), False)
        # sweep UNLISTED generation dirs: an expire() that crashed
        # between its ledger rewrite (read-atomic removal) and the
        # directory delete leaves a gid dir no read resolves and no
        # later expiry revisits — without this sweep it would linger
        # forever, and a purge could clear tombstones while the
        # orphan still held their bytes (round-15 self-review).
        # Vacuum-retired dirs are parked deliberately and excluded.
        if fs.exists(HPath(self.gens_path)):
            listed = {g["gid"] for g in self._generations()}
            parked = {
                HPath(pth).toUri().getPath()
                for e in self._vacuum_state()["retired"]
                for pth in e["paths"]
            }
            for st in fs.listStatus(HPath(self.gens_path)):
                name = st.getPath().getName()
                if not (st.isDirectory() and name.startswith("gid=")):
                    continue
                gid = name[len("gid="):]
                if (
                    gid not in listed
                    and st.getPath().toUri().getPath() not in parked
                ):
                    fs.delete(st.getPath(), True)

    def _require_bootstrapped(self) -> None:
        if self._read_json(self.schema_path) is None:
            raise RuntimeError(
                f"ComponentStore at {self.base_path} has no schema "
                "sidecar — bootstrap() it before applying deltas or "
                "reading labels (a crashed bootstrap leaves the same "
                "state: rebootstrap)."
            )

    def _read_schema(self):
        """The pinned read schema from the `_schema.json` sidecar —
        cached per instance, freshness-checked per call against the
        sidecar file's (mtime, size): a REBOOTSTRAP through another
        handle rewrites it, and a long-lived reader must not read the
        new corpus under the old pinned node type (round-14 cache
        audit, the `_deleted_seq` discipline at one getFileStatus per
        call). A (None, schema) entry is the in-flight bootstrap's own
        priming — the sidecar is written LAST, after the patch that
        needs the schema."""
        from pyspark.sql.types import StructType

        if self._schema is not None and self._schema[0] is None:
            return self._schema[1]
        self._require_bootstrapped()
        fs, HPath = self._fs()
        st = fs.getFileStatus(HPath(self.schema_path))
        stamp = (int(st.getModificationTime()), int(st.getLen()))
        if self._schema is not None and self._schema[0] == stamp:
            return self._schema[1]
        schema = StructType.fromJson(self._read_json(self.schema_path))
        self._schema = (stamp, schema)
        return schema

    # -- tombstones (right-to-be-forgotten) ----------------------------------

    def _tombstone_key_type(self):
        return self._read_schema()["node"].dataType

    def forget(self, node_ids: DataFrame, forget_id: str) -> None:
        """Tombstone nodes out of the assignment — every subsequent
        `labels()` excludes them, so a takedown disappears from
        survivorship decisions immediately; byte-level erasure happens
        at the next `compact(purge_forgotten=True)`. Lock-free and
        retry-idempotent (pre-delete + dynamic overwrite of the
        forget_id's own partition); a single-column input is accepted
        under any column name. The node ids are cast to the store's
        pinned node type; a cast that nulls any id fails loudly.
        (Mechanics: StoreKernel.forget.)"""
        self._require_bootstrapped()
        StoreKernel.forget(self, node_ids, forget_id)

    def _deleted_nodes(self) -> tuple[DataFrame | None, bool]:
        """(distinct tombstoned nodes | None, fits-a-broadcast); one
        listing per instance, invalidated by forget/compact/bootstrap
        (the kernel's cached-tombstone discipline)."""
        return self._deleted_keys()

    # -- read ----------------------------------------------------------------

    def _assign_marked(self) -> DataFrame:
        """The raw (node, component, seq) rows of COMMITTED partitions
        plus standing GENERATIONS at their ledger-assigned positions —
        the pre-resolve read every view builds on. Both legs are
        allow-list resolved (patch seqs by landed markers, generation
        gids by the ledger), so a mid-flight fold's unverified
        generation and a crashed fold's orphan are invisible without
        any read-side manifest logic.

        The READ ORDER is load-bearing for lock-free readers racing a
        fold's commit-to-cleanup window: markers are listed BEFORE the
        ledger. A fold commits the ledger first and unmarks sources
        after, so a reader that saw the sources already unmarked must
        read the ledger even later — and therefore sees the
        generation; a reader that listed markers pre-commit sees the
        sources (and harmlessly the generation too if its ledger read
        lands post-commit: duplicates are superseded per-node or tie
        value-identically). Reading the ledger first would open a
        none-of-them window."""
        self._require_bootstrapped()
        df = self._patch_rows()
        gens = self._generations()
        if gens:
            df = df.unionByName(self._gen_rows(gens))
        return df

    def _patch_rows(self) -> DataFrame:
        """The patch leg of `_assign_marked`: committed PATCH
        partitions only, no generations."""
        self._require_bootstrapped()
        marked = sorted(self._marked())
        df = self.spark.read.schema(self._read_schema()).parquet(self.assign_path)
        if marked:
            return df.filter(F.col("seq").isin([f"{s:08d}" for s in marked]))
        return df.filter(F.lit(False))

    def history(self) -> list:
        """The committed write log, oldest first: [(seq, delta_id)] —
        patches by their landed markers, generations by their ledger
        positions (a generation's gid is its delta_id). Each entry is
        a point `labels(as_of_seq=seq)` can read — the audit surface
        for "which delivery changed this cluster"."""
        items = list(self._marked().items())
        items += [(int(g["gseq"]), g["gid"]) for g in self._generations()]
        return sorted(items)

    def labels(self, as_of_seq: int | None = None) -> DataFrame:
        """The resolved (node, component) view: marked partitions only,
        per-node last-writer-wins on seq, tombstoned nodes excluded.
        One shuffle on node over base + patches — `compact()` keeps the
        patch count small.

        `as_of_seq` is the TIME-TRAVEL read: resolve only partitions
        with seq <= as_of_seq, i.e. the assignment exactly as it stood
        after that delivery committed (patches are append-only, so any
        marked prefix is a consistent historical state — the audit
        read behind "what did this cluster look like before batch X").
        Two deliberate bounds: current tombstones apply to EVERY read,
        historical included (a takedown outranks an audit — a
        forgotten node must not resurface through time travel), and
        compact() collapses history into its generation (VACUUM
        semantics) — an as_of_seq strictly INSIDE a generation's
        folded span (at or above its lowest consumed seq, below its
        position) raises instead of silently resolving a partial
        state, as does one older than the oldest surviving point. An
        as_of_seq AT a generation's position resolves the state as it
        stood after that fold's newest consumed delivery."""
        self._require_bootstrapped()
        df = self._assign_marked()
        if as_of_seq is not None:
            exp = self._read_json(self.expired_ledger_path)
            if exp is not None and int(as_of_seq) < int(exp["before"]):
                raise ValueError(
                    f"labels(as_of_seq={as_of_seq}): patches below seq "
                    f"{exp['before']} were expired by retention on "
                    f"{self.base_path} — that historical point no "
                    "longer exists. Earliest readable point: "
                    f"{exp['before']}."
                )
            gens = self._generations()
            for g in gens:
                if int(g["low"]) <= int(as_of_seq) < int(g["gseq"]):
                    raise ValueError(
                        f"labels(as_of_seq={as_of_seq}): deliveries "
                        f"{g['low']}..{g['gseq']} were folded into a "
                        f"generation by compact() on {self.base_path} "
                        "— that historical point no longer exists "
                        "(VACUUM semantics). Nearest readable point: "
                        f"{g['gseq']}."
                    )
            eligible = [s for s in self._marked() if s <= as_of_seq] + [
                int(g["gseq"]) for g in gens if int(g["gseq"]) <= as_of_seq
            ]
            if not eligible:
                raise ValueError(
                    f"no committed state at or before seq {as_of_seq} in "
                    f"{self.base_path} — it predates the store, or "
                    "compact() folded that history into a newer "
                    "generation"
                )
            df = df.filter(F.col("seq") <= f"{as_of_seq:08d}")
        resolved = df.groupBy("node").agg(
            F.max_by("component", "seq").alias("component")
        )
        return self._excl_deleted(resolved)

    # -- write ---------------------------------------------------------------

    def _land_patch(self, patch: DataFrame, delta_id: str) -> int:
        """Crash-safe landing of one partition: record intent (seq
        reservation), wipe any prior crashed attempt's orphan, write,
        mark landed, clear intent. Returns the seq used."""
        fs, HPath = self._fs()
        prior = self._read_json(f"{self.intent_path}/{delta_id}")
        if prior is not None:
            old = int(prior["seq"])
            if old not in self._marked():
                # crashed BEFORE the marker: the partition is invisible
                # but must not linger as unreadable bytes — wipe it
                fs.delete(HPath(f"{self.assign_path}/seq={old:08d}"), True)
            # else: crashed AFTER the marker (before the intent
            # cleanup) — the prior attempt COMMITTED and its partition
            # is serving; wiping it would lose landed rows. The stale
            # intent is dropped and this (re)delivery lands as its own
            # fresh — typically empty — patch.
            fs.delete(HPath(f"{self.intent_path}/{delta_id}"), False)
        seq = self._max_seq() + 1
        if seq > 99_999_999:
            # the marker name is `{seq:08d}.{delta_id}` and resolve
            # compares the zero-padded strings lexicographically — a
            # 9-digit seq would widen past the fixed field, misparse in
            # _marked()'s name[:8] and silently break the ordering
            # (round-11 ADVICE, low). 10^8 deliveries on ONE store is a
            # compact()-starved pathology, not a capacity target.
            raise RuntimeError(
                f"ComponentStore at {self.base_path} exhausted its "
                "8-digit seq space — compact() folds history and keeps "
                "seq growth bounded; this store never was."
            )
        self._write_json(f"{self.intent_path}/{delta_id}", {"seq": seq})
        # SIZE-GATED rebalance-on-write (guide §6 "coalesce on write"):
        # a rebalance costs small sf-scale patches a whole extra shuffle
        # (+0.3-0.7 s per apply at sf0.1), and the fan-out risk it
        # guards against is many PRODUCER tasks each writing a few-row
        # file. So the gate asks how many file splits the patch's scans
        # span: small patches write as-is; a patch produced by a scan
        # wider than the cluster's cores (the 100 TB case) rebalances
        # KEYLESS, letting AQE size partitions. The answer comes from
        # optimized-plan statistics and runs no job. Only file-scan
        # leaves count: a join's estimate is a cartesian product (it
        # would fire on every small store), and local or checkpointed
        # relations (the first-seen rows, a bootstrap's CC output) are
        # not file splits.
        out = patch.withColumn("seq", F.lit(f"{seq:08d}"))
        if self._scan_splits(patch) > self.spark.sparkContext.defaultParallelism:
            out = out.hint("rebalance")
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("seq")
            .parquet(self.assign_path)
        )
        self._mark(seq, delta_id)
        fs.delete(HPath(f"{self.intent_path}/{delta_id}"), False)
        return seq

    def _scan_splits(self, df: DataFrame) -> float:
        """File splits `df`'s parquet scans span: their optimized-plan
        `sizeInBytes` over `spark.sql.files.maxPartitionBytes`."""
        plan = df._jdf.queryExecution().optimizedPlan()
        leaves = plan.collectLeaves()
        size = 0
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.nodeName() == "LogicalRelation":
                size += int(leaf.stats().sizeInBytes())
        conf = self.spark._jsparkSession.sessionState().conf()
        return size / conf.filesMaxPartitionBytes()

    def bootstrap(
        self, pairs: DataFrame, src: str = "da", dst: str = "db"
    ) -> None:
        """Build the store from the landed corpus's near-dup pairs (one
        batch CC). Clears any previous generation FIRST and writes the
        schema sidecar LAST — it doubles as the format marker, so a
        crash anywhere in between leaves a store every other method
        refuses with 'rebootstrap required' (the MinHash index's
        marker-last bootstrap discipline)."""
        fs, HPath = self._fs()
        fs.delete(HPath(self.schema_path), False)
        for p in (
            self.assign_path,
            self.landed_path,
            self.intent_path,
            self.deleted_path,
            self.deleted_seq_path,
            self.expired_ledger_path,
            self.gens_path,
            self.gens_ledger_path,
            self.fold_intent_path,
            self.vacuum_path,
        ):
            fs.delete(HPath(p), True)
        self._schema = None
        self._deleted_cache = _UNSET
        labels = connected_components(pairs, src=src, dst=dst)
        from pyspark.sql.types import StringType, StructField, StructType

        schema = StructType(
            [
                labels.schema["node"],
                labels.schema["component"],
                StructField("seq", StringType()),
            ]
        )
        self._schema = (None, schema)  # in-flight bootstrap priming
        self._land_patch(labels, "bootstrap")
        self._write_json(self.schema_path, schema.jsonValue())
        self._schema = None  # re-stamp from disk on next read

    def apply_pairs(
        self, delta_pairs: DataFrame, delta_id: str, src: str = "da", dst: str = "db"
    ) -> int:
        """Fold a delta batch's near-dup pairs into the assignment —
        the dedup_cc_incremental algorithm, landed as a crash-safe
        PATCH write instead of returned: contract the delta pairs
        through the current labels, solve the contracted (delta-sized)
        graph with one local union-find, and write only the rows whose
        label changed plus first-seen nodes. Idempotent under replay
        (an already-applied delta computes an empty patch — still
        landed, so the marker records the delivery) and safe to retry
        after a crash (see _land_patch). Returns the seq landed.

        Tombstoned nodes never re-enter AND never bridge: every pair is
        severed at a tombstoned endpoint before contraction (the
        surviving endpoint keeps a self-edge, so it still registers as
        first-seen), so a forgotten node arriving in `delta_pairs`
        neither lands rows nor merges its old component with anything —
        in both the was-the-component-minimum and was-not cases
        (round-11 ADVICE, medium). The read-side anti-join stays as the
        mask for rows landed BEFORE the forget.

        Takes the WriterLease: an apply racing a compact() would have
        its patch computed against the pre-fold view but land BELOW
        the fold's generation seq, and last-writer-wins would silently
        discard its relabels. The lease serializes the two (and any
        two concurrent appliers — same fence as every non-transactional
        writer in this repo); forget() alone stays lock-free.

        Scale contract: a delta's severed pairs and its endpoints'
        labels must fit on the driver, which a foreachBatch micro-batch
        does by construction; an oversized collect fails loudly at
        `spark.driver.maxResultSize`. Apply a backfill in chunks — the
        merge is chunking-insensitive, so the result does not depend on
        how it was cut. The store-sized work (sever, endpoint resolve,
        relabel scan, patch write) stays in Spark, and the corpus-sized
        `bootstrap` runs the distributed star contraction."""
        from .lease import WriterLease

        self._require_bootstrapped()
        with WriterLease(self.spark, self.base_path):
            return self._apply_pairs_locked(delta_pairs, delta_id, src, dst)

    def _apply_pairs_locked(
        self, delta_pairs: DataFrame, delta_id: str, src: str, dst: str
    ) -> int:
        # DELTA-BOUNDED shapes throughout (the 100 TB contract): the
        # corpus assignment is never resolved corpus-wide here — labels
        # are resolved ONLY for the delta's endpoints (broadcast
        # semi-join into the marked partitions, then a delta-sized
        # groupBy) and collected beside the delta pairs; CC runs on the
        # driver over the contracted graph, so no job runs between that
        # collect and the patch write; the relabel of touched components
        # is a MAP-ONLY scan of the assignment against a broadcast (old
        # label -> new label) map. The label-match is sound because labels only ever
        # DECREASE (components merge toward their minimum id): a node's
        # stale patch rows carry strictly larger, no-longer-current
        # labels, and the map's keys are current labels — so exactly
        # the newest row of each touched node matches, once.
        dp = delta_pairs.select(F.col(src).alias("da"), F.col(dst).alias("db"))
        # SEVER tombstoned endpoints (round-11 ADVICE, medium — the one
        # chosen semantic): a forgotten node must not BRIDGE components
        # through its edges, in either direction and regardless of
        # whether its id happens to be its old component's minimum
        # (pre-fix, a tombstoned min-node re-arriving merged its whole
        # old component with the delta cluster while a non-min one did
        # not — behavior hung on an id accident). An edge touching a
        # tombstoned node on ONE side keeps its surviving endpoint as a
        # self-edge (the survivor still registers as first-seen); both
        # sides tombstoned drops the edge entirely. The severed rows
        # still LAND nothing for the forgotten node, so there is no row
        # to mask — stronger than the read-side anti-join alone.
        deleted, small = self._deleted_nodes()
        if deleted is not None:
            excl = F.broadcast(deleted) if small else deleted
            flagged = dp.join(
                excl.select(F.col("node").alias("da"), F.lit(True).alias("_ta")),
                "da",
                "left",
            ).join(
                excl.select(F.col("node").alias("db"), F.lit(True).alias("_tb")),
                "db",
                "left",
            )
            dp = (
                flagged.filter(F.col("_ta").isNull() & F.col("_tb").isNull())
                .select("da", "db")
                .unionByName(
                    flagged.filter(
                        F.col("_ta").isNotNull() & F.col("_tb").isNull()
                    ).select(F.col("db").alias("da"), "db")
                )
                .unionByName(
                    flagged.filter(
                        F.col("_ta").isNull() & F.col("_tb").isNotNull()
                    ).select("da", F.col("da").alias("db"))
                )
            )
        # a null endpoint is no node: its pair keeps the other side as
        # a self-pair
        base = self._read_schema()
        node_t, comp_t = base["node"].dataType, base["component"].dataType
        got = (
            dp.select(
                F.coalesce("da", "db").cast(node_t).alias("da"),
                F.coalesce("db", "da").cast(node_t).alias("db"),
            )
            .where(F.col("da").isNotNull())
            .toArrow()
        )
        pairs = list(
            zip(got.column("da").to_pylist(), got.column("db").to_pylist())
        )
        ends = list({x for pair in pairs for x in pair})
        assign = self._assign_marked()
        # no _excl_deleted here: tombstoned ids cannot be endpoints
        # after the sever, so the anti-join would be dead weight — and
        # excluding them from the RESOLVE was exactly the bug (a
        # tombstoned endpoint contracting as a raw vertex).
        ends_df = self._local(node=(ends, node_t))
        res = (
            assign.join(F.broadcast(ends_df), "node", "left_semi")
            .groupBy("node")
            .agg(F.max_by("component", "seq").alias("component"))
            .toArrow()
        )
        label = dict(
            zip(res.column("node").to_pylist(), res.column("component").to_pylist())
        )
        # contract each endpoint to its current label and solve the
        # contracted graph in one local pass (module docstring: the
        # roots are the true minima of the merged components)
        root = local_components(
            (label.get(a, a), label.get(b, b)) for a, b in pairs
        )
        # a contracted vertex is landed iff it arrived via a label;
        # every other vertex is a first-seen delta node
        reps = set(label.values())
        fresh = [(v, r) for v, r in root.items() if v not in reps]
        patch = self._local(
            node=([v for v, _ in fresh], node_t),
            component=([r for _, r in fresh], comp_t),
        )
        moved = [(v, r) for v, r in root.items() if r != v]
        if moved:
            # map-only relabel scan: every row whose CURRENT label is in
            # the map emits its new assignment (stale rows can't match —
            # see above); tombstoned nodes' rows relabel too, staying
            # read-masked
            changed_map = self._local(
                component=([v for v, _ in moved], comp_t),
                newc=([r for _, r in moved], comp_t),
            )
            changed = assign.join(F.broadcast(changed_map), "component").select(
                "node", F.col("newc").alias("component")
            )
            patch = changed.unionByName(patch)
        return self._land_patch(patch, delta_id)

    def _local(self, **cols) -> DataFrame:
        """A driver-built LocalRelation, each column given as (values,
        Spark type) — the store's pinned types, never a guessed int64.
        Broadcastable, with plan statistics, and no job to build."""
        import pyarrow as pa
        from pyspark.sql.types import StructField, StructType

        schema = StructType([StructField(n, t) for n, (_, t) in cols.items()])
        return self.spark.createDataFrame(
            pa.table({n: v for n, (v, _) in cols.items()}), schema
        )

    # -- lifecycle -----------------------------------------------------------

    def expire(self, before_seq: int) -> dict:
        """RETENTION on the patch store (round-13 verdict, missing
        #2 / next #4 — the batch-store `expire()` contract on the seq
        layout): drop every committed patch partition with
        seq < `before_seq`. Under last-writer-wins resolve this retires
        exactly the nodes whose latest PATCH ROW predates the floor —
        and a patch row means a label CHANGE or first appearance, not
        a mere re-observation (patches hold only changed rows: a node
        whose delta pairs confirmed its existing label wrote nothing
        and ages out with its last change). The rolling-window
        semantic on this layout is therefore "forget cluster
        membership not re-DERIVED since"; pipelines needing
        observation-based retention should route re-observations
        through a fresh apply_pairs (a first-seen singleton row is a
        patch row). Nodes patched at or above the floor keep their
        current labels (their winning rows live in the retained
        partitions); survivors' label VALUES may still name a retired
        node: labels are values, not references (the purge contract,
        unchanged).

        Contracts, aligned with the fleet:

        - The `_expired.json` ledger lands FIRST; each patch then
          disappears read-atomically (marker removal is one metadata
          op) before its partition deletes — a crash mid-expiry leaves
          fully-served-or-invisible patches only, and every
          maintenance call sweeps the remainder (`_apply_expiry`).
        - `labels(as_of_seq)` below the floor refuses loudly (VACUUM
          idiom); at/above it resolves the RETAINED partitions —
          retention, like tombstones, applies to every read.
        - Redeliveries cannot resurrect: `apply_pairs` always lands
          under a FRESH seq above every reservation ever made
          (`_max_seq` counts intents), so nothing can land below the
          floor by construction — no drop gate needed.
        - `compact()` lands its generation at the fold range's highest
          consumed seq, so a fold CAPS the folded nodes' retention age
          at the fold boundary (round 15 — it no longer resets it to
          the top). Retention granularity on a generation is the whole
          unit: a floor strictly above its position expires it
          entirely; a floor inside its folded span retains it
          entirely.
        - Expiring everything refuses (keeps at least the newest
          committed patch; `bootstrap()` is the restart path).
        - Snapshots carry the ledger; a clone whose floor is AHEAD of
          the source's refuses to sync (shipped patches below its
          floor would resurrect retired rows).

        Returns {"expired": [[seq, delta_id] dropped now], "before":
        floor}; a lower-or-equal boundary is a no-op reporting the
        standing floor."""
        from .lease import WriterLease

        self._require_bootstrapped()
        before = int(before_seq)
        with WriterLease(self.spark, self.base_path):
            self._recover_fold()
            self._vacuum_sweep()
            exp = self._read_json(self.expired_ledger_path)
            prior = int(exp["before"]) if exp is not None else None
            if prior is not None and before <= prior:
                return {"expired": [], "before": prior}
            positions = list(self._marked()) + [
                int(g["gseq"]) for g in self._generations()
            ]
            if not any(s >= before for s in positions):
                raise ValueError(
                    f"expire(before_seq={before}) would empty the "
                    f"store at {self.base_path} — retention keeps at "
                    "least the newest committed patch; bootstrap anew "
                    "to restart the corpus."
                )
            self._write_json(self.expired_ledger_path, {"before": before})
            return {"expired": self._apply_expiry(), "before": before}

    def _apply_expiry(self) -> list:
        """Idempotently finish the expiry the ledger prescribes (also
        the crash-recovery path, run by every maintenance op): unmark
        then delete every committed patch below the floor, then sweep
        unmarked partition dirs below it (a crashed expiry between its
        unmark and delete — or a crashed apply's orphan — must not
        linger as unreadable bytes). The trailing sweep also eats
        vacuum-retired patch dirs below the floor: retention's
        hard-delete deadline outranks fold reader grace (a plan
        spanning an expire was always the documented loud window)."""
        exp = self._read_json(self.expired_ledger_path)
        if exp is None:
            return []
        before = int(exp["before"])
        fs, HPath = self._fs()
        out = []
        for s, did in sorted(self._marked().items()):
            if s < before:
                self._unmark(s, did)
                fs.delete(HPath(f"{self.assign_path}/seq={s:08d}"), True)
                out.append([s, did])
        # generations retire whole at their POSITION (gseq < floor):
        # ledger removal first (read-atomic — the generation disappears
        # from every resolve in one JSON write), bytes after. A
        # generation straddling the floor (low < floor <= gseq) is
        # retained entirely — retention on this layout is at partition
        # granularity, and a fold CAPS its nodes' retention age at the
        # fold boundary (gseq), it no longer resets it to the top.
        gens = self._generations()
        drop = [g for g in gens if int(g["gseq"]) < before]
        if drop:
            keep = [g for g in gens if int(g["gseq"]) >= before]
            self._write_json(self.gens_ledger_path, {"generations": keep})
            for g in sorted(drop, key=lambda g: int(g["gseq"])):
                fs.delete(HPath(self._gen_dir(g["gid"])), True)
                out.append([int(g["gseq"]), g["gid"]])
        if fs.exists(HPath(self.assign_path)):
            for st in fs.listStatus(HPath(self.assign_path)):
                name = st.getPath().getName()
                if st.isDirectory() and name.startswith("seq="):
                    try:
                        s = int(name[4:])
                    except ValueError:
                        continue
                    if s < before:
                        fs.delete(st.getPath(), True)
        return sorted(out)

    def high_water(self) -> dict:
        """Last committed position (the highest marked patch seq or
        generation position — after a full fold the generation IS the
        newest committed point) — the fleet-catalog skew mark
        (round-12 verdict, next #3); seq coordinates are
        store-local."""
        vals = list(self._marked()) + [
            int(g["gseq"]) for g in self._generations()
        ]
        return {"kind": "seq", "value": (max(vals) if vals else None)}

    def _snapshot_ship(self, clone, pin_batch) -> tuple:
        """Units are committed positions. Marked patches travel as seq
        partitions with their (seq, delta_id) markers, so
        `labels(as_of_seq)` and `history()` work on the clone; orphan
        partitions of crashed applies and stale intents stay behind.
        Generations travel AS generations — rows into the clone's gens
        relation, the ledger verbatim — so the clone keeps the same
        VACUUM spans and the same provenance for sync's divergence
        gates. The schema sidecar is the readable flip: until it lands,
        every clone read refuses with 'rebootstrap'."""
        self._refuse_pin(pin_batch)
        marked = self._marked()
        gens = self._generations()
        rows = self._export_counted(
            self._excl_deleted(self._patch_rows()),
            clone.assign_path, ("seq",), self._read_schema(),
        )
        if gens:
            grows = self._excl_deleted(self._gen_rows(gens)).select(
                "node", "component", self._seq_to_gid(gens).alias("gid")
            )
            rows += self._export_counted(
                grows, clone.gens_path, ("gid",), self._gid_read_schema()
            )
            clone._write_json(clone.gens_ledger_path, {"generations": gens})
        for seq, did in sorted(marked.items()):
            clone._mark(seq, did)
        self._carry_retention(clone)
        clone._write_json(clone.schema_path, self._read_schema().jsonValue())
        return rows, {"history": [[s, d] for s, d in self.history()]}

    def _lifecycle_prepare(self) -> None:
        self._require_bootstrapped()
        self._recover_fold()  # finish/undo a crashed compact() first
        self._apply_expiry()  # sweep a crashed expire() first

    def _sync_ship(self, clone, prior: dict) -> tuple[dict, dict]:
        """Units are committed positions: marked patches (seq,
        delta_id) and generations (gseq, gid), one coordinate space on
        each side. Missing patches land by dynamic overwrite and are
        marked after the write commits; missing generations land as
        generations and the clone's gens-ledger rewrite commits them.
        A position is immutable once committed (every apply takes a
        fresh seq), so a shared position needs no re-delivery check;
        a source compact() since the snapshot retires clone-held
        positions and refuses as foreign (history was collapsed)."""
        dest = clone.base_path
        marked = self._marked()
        src_gens = self._generations()
        clone_gens = clone._generations()
        # generation-membership gate (round-14 sync hardening, now
        # load-bearing on this layout too): a generation id names ONE
        # fold event — the same gid on both sides with divergent
        # position or patch membership, or the same position held by
        # two different fold events, is a diverged clone (it compacted
        # itself along different boundaries), not a stale one.
        src_by_gid = {g["gid"]: g for g in src_gens}
        src_by_pos = {int(g["gseq"]): g for g in src_gens}
        for cg in clone_gens:
            sg = src_by_gid.get(cg["gid"]) or src_by_pos.get(int(cg["gseq"]))
            if (
                sg is None
                or sg["gid"] != cg["gid"]
                or int(sg["gseq"]) != int(cg["gseq"])
                or sorted(map(tuple, sg["members"]))
                != sorted(map(tuple, cg["members"]))
            ):
                raise RuntimeError(
                    f"sync_to(): the clone at {dest} holds generation "
                    f"{cg['gid']}@{cg['gseq']} whose fold membership "
                    "diverges from the source's — the clone compacted "
                    "itself along different boundaries. Take a fresh "
                    "snapshot."
                )
        src_pos = dict(marked)
        src_pos.update({int(g["gseq"]): g["gid"] for g in src_gens})
        have = clone._marked()
        have.update({int(g["gseq"]): g["gid"] for g in clone_gens})
        foreign = sorted(
            (s, d) for s, d in have.items() if src_pos.get(s) != d
        )
        if foreign:
            raise RuntimeError(
                f"sync_to(): {dest} holds committed positions {foreign} "
                f"the source {self.base_path} does not — the clone "
                "diverged, a source compact() folded that history "
                "(fresh snapshot), or a source expire() retired it "
                "(expire the clone to the source's floor, then "
                "retry)."
            )
        missing = sorted(set(src_pos) - set(have))
        missing_patches = [s for s in missing if s in marked]
        missing_gens = [g for g in src_gens if int(g["gseq"]) in set(missing)]
        if missing_patches:
            rows = self._excl_deleted(
                self._patch_rows().filter(
                    F.col("seq").isin([f"{s:08d}" for s in missing_patches])
                )
            )
            (
                rows.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("seq")
                .parquet(clone.assign_path)
            )
            for s in missing_patches:
                clone._mark(s, marked[s])
        if missing_gens:
            grows = self._excl_deleted(self._gen_rows(missing_gens)).select(
                "node",
                "component",
                self._seq_to_gid(missing_gens).alias("gid"),
            )
            (
                grows.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("gid")
                .parquet(clone.gens_path)
            )
            # ledger rewrite is the gens' commit point on the clone too
            clone._write_json(
                clone.gens_ledger_path, {"generations": src_gens}
            )
        return {"patches": [[s, src_pos[s]] for s in missing]}, {
            "history": [[s, d] for s, d in self.history()],
            # same meaning as snapshot_to's "rows": raw staged
            # committed rows on the clone — NOT the resolved
            # per-node serving view, which would give the one
            # attestation field two meanings depending on which
            # writer last touched it (round-12 ADVICE, low)
            "rows": clone._assign_marked().count(),
        }

    def _tier_pull(self, reals: list, gens: list, merge_ratio) -> list:
        """The LSM size-tier walk on the seq layout (the
        store_base.compact discipline adapted to last-writer-wins):
        walking standing generations YOUNGEST first (descending
        position), a generation joins the fold while the bytes
        gathered so far weigh at least `merge_ratio` of its own — so
        each surviving generation stays >= 1/merge_ratio x the next
        younger tier, the standing set is O(log corpus / delta), and
        total rewrite work is O(corpus log corpus) amortized instead
        of O(corpus) per call. `merge_ratio=0` pulls every generation
        (one-set store); `None` never pulls (pure bounded fold).
        Walking youngest-first also preserves the fold set's seq
        CONTIGUITY, which the landing position's correctness needs
        (see compact)."""
        if merge_ratio is None or not gens:
            return []
        fs, HPath = self._fs()

        def _dbytes(d: str) -> int:
            return sum(st.getLen() for st in _iter_files(fs, HPath, d))

        gathered = sum(
            _dbytes(f"{self.assign_path}/seq={s:08d}") for s in reals
        )
        pulled = []
        for g in sorted(gens, key=lambda g: -int(g["gseq"])):
            gb = _dbytes(self._gen_dir(g["gid"]))
            if gathered >= float(merge_ratio) * gb:
                pulled.append(g)
                gathered += gb
            else:
                break
        return pulled

    def compact(
        self,
        purge_forgotten: bool = False,
        upto: int | None = None,
        merge_ratio: float | None = 0.5,
    ) -> dict:
        """Fold committed patches into a resolved GENERATION — TIERED
        since round 15 (round-14 verdict, wrong #1: the previous fold
        re-resolved and re-wrote the ENTIRE corpus assignment on every
        call, so nightly cluster-store maintenance at 100 TB node
        counts cost a full table rewrite to absorb a day of patches).
        One call resolves the committed patches (only those
        `<= upto` when given) per-node under last-writer-wins and
        lands them as ONE generation in the sibling gens relation;
        standing generations join the same fold only when the LSM
        size-ratio trigger fires (`_tier_pull`). `merge_ratio=0` folds
        everything into one generation (the round-14 behavior);
        `merge_ratio=None` never merges standing generations.

        WHERE the generation lands is the layout-specific insight: at
        the fold range's HIGHEST consumed seq (its ledger `gseq`), not
        a fresh top seq. Because the fold set is CONTIGUOUS in the
        committed order (patches are always newer than every
        generation, and the tier walk extends the range downward
        youngest-first), a per-node resolve within the range placed at
        the range's max position preserves the global last-writer-wins
        outcome exactly: rows newer than the range still outrank it,
        rows older still lose, and a not-yet-deleted source row either
        loses to it or ties it with an identical value. Landing
        in-place (rather than at the top) also means a fold CAPS the
        folded nodes' retention age at the fold boundary instead of
        resetting it, and `labels(as_of_seq=gseq)` stays a readable
        audit point.

        Crash story (the store's manifest-light discipline, kept): the
        generation's rows write to a FRESH `gid` directory that no
        read resolves until the generations LEDGER lists it — the
        single atomic ledger rewrite is the commit point (the same
        single-JSON-commit idiom as the batch stores' `_folded.json`,
        with the same documented exposure: a torn ledger write fails
        reads loudly, never silently wrong). `_fold_intent.json`
        (written before the generation) carries the plan:
        `_recover_fold` rolls an uncommitted fold back (sources
        untouched) and a committed one forward (source deletions are
        supersede-safe cleanup). The verify is a footer row count of
        the staged generation against the resolve's count; a lock-free
        forget() landing BETWEEN the two fails the verify and rolls
        back — loud, retry (the unfenced-writer race class the batch
        fold documents).

        `purge_forgotten=True` byte-erases tombstoned nodes: it forces
        a FULL fold (every patch and every standing generation — a
        purge must rewrite everything it claims to erase, so `upto`
        and the ratio are ignored) and clears the tombstone partitions
        that existed at plan time, guarded as before: a tombstone
        re-landed mid-compact keeps its (fingerprint-changed)
        partition, and any UNMARKED patch partition (a crashed apply
        not yet retried) defers the clearing entirely — those orphan
        bytes were not rewritten; the receipt surfaces the deferral.

        Returns {"compacted", "generation" (gid), "gseq", "low",
        "folded" (patch names), "folded_gids", "rows"}; a fold set
        smaller than two sources returns {"compacted": False}."""
        from .lease import WriterLease

        self._require_bootstrapped()
        fs, HPath = self._fs()
        with WriterLease(self.spark, self.base_path):
            # re-list tombstones UNDER the lease (round-11 ADVICE,
            # high): the resolve below must run through the CURRENT
            # tombstone set, not one this instance cached before a
            # cross-process forget() landed — the purge fingerprints
            # are taken from a fresh listing, so a stale cache would
            # write the forgotten rows into the generation and then
            # clear their tombstones: a false erasure.
            self._deleted_cache = _UNSET
            self._recover_fold()
            self._apply_expiry()  # sweep a crashed expire() first
            # vacuum: a purge FORCE-sweeps the retired backlog (its
            # erasure claim covers parked bytes, and retired patch
            # dirs must not read as unmarked orphans to the deferral
            # scan below); otherwise only entries past the grace
            # horizon go
            self._vacuum_sweep(force=purge_forgotten)
            # recover a ROUND-14-ERA compact() (generation landed as a
            # top-seq patch via _land_patch) that crashed between its
            # write and its marker: the orphan is invisible to reads
            # but would defer purges forever. Only gen-* intents are
            # wiped — a crashed apply()'s intent belongs to ITS retry.
            if fs.exists(HPath(self.intent_path)):
                for st in fs.listStatus(HPath(self.intent_path)):
                    did = st.getPath().getName()
                    if did.startswith("gen-"):
                        obj = self._read_json(st.getPath().toString())
                        if isinstance(obj, dict) and "seq" in obj:
                            fs.delete(
                                HPath(
                                    f"{self.assign_path}/seq={int(obj['seq']):08d}"
                                ),
                                True,
                            )
                        fs.delete(st.getPath(), False)
            marked = self._marked()
            gens = self._generations()
            if purge_forgotten:
                reals = sorted(marked)
                pulled = list(gens)
            else:
                reals = sorted(
                    s for s in marked if upto is None or s <= int(upto)
                )
                pulled = self._tier_pull(reals, gens, merge_ratio)
            receipt: dict = {
                "folded": sorted(f"{s:08d}.{marked[s]}" for s in reals),
                "folded_gids": sorted(g["gid"] for g in pulled),
            }
            purge_clear: dict = {}
            if purge_forgotten:
                on_disk = set()
                if fs.exists(HPath(self.assign_path)):
                    for st in fs.listStatus(HPath(self.assign_path)):
                        name = st.getPath().getName()
                        if st.isDirectory() and name.startswith("seq="):
                            on_disk.add(name[len("seq="):])
                unmarked = on_disk - {f"{s:08d}" for s in marked}
                if fs.exists(HPath(self.gens_path)):
                    listed = {g["gid"] for g in gens}
                    for st in fs.listStatus(HPath(self.gens_path)):
                        name = st.getPath().getName()
                        if (
                            st.isDirectory()
                            and name.startswith("gid=")
                            and name[len("gid="):] not in listed
                        ):
                            unmarked.add(name)
                receipt["purge_deferred"] = sorted(unmarked)
                if not unmarked:
                    purge_clear = self._tombstone_fingerprints()
            if len(reals) + len(pulled) >= (1 if purge_forgotten else 2):
                receipt.update(
                    self._fold(reals, pulled, marked, purge=purge_forgotten)
                )
                receipt["compacted"] = True
            else:
                receipt["compacted"] = False
            receipt["vacuum_backlog"] = [
                {"cycle": e["cycle"], "ids": e["ids"]}
                for e in self._vacuum_state()["retired"]
            ]
            self._clear_tombstones_guarded(purge_clear)
        return receipt

    def _fold(
        self, reals: list, pulled: list, marked: dict, purge: bool = False
    ) -> dict:
        """One fold: resolve the source range per-node, stage it as a
        fresh-gid generation, verify, commit via the ledger rewrite,
        clean up. The caller holds the WriterLease and has chosen a
        CONTIGUOUS source range (asserted here — the landing
        position's correctness depends on it)."""
        from .compaction import footer_row_count

        fs, HPath = self._fs()
        src_pos = set(reals) | {int(g["gseq"]) for g in pulled}
        all_pos = set(marked) | {
            int(g["gseq"]) for g in self._generations()
        }
        lo, hi = min(src_pos), max(src_pos)
        gaps = [p for p in all_pos - src_pos if lo <= p <= hi]
        if gaps:
            raise RuntimeError(
                f"compact() chose a non-contiguous fold set on "
                f"{self.base_path}: positions {sorted(gaps)} sit inside "
                f"the range {lo}..{hi} but are not in the fold — "
                "landing the resolve at the range max would misorder "
                "them under last-writer-wins. This is a planner bug; "
                "nothing was written."
            )
        plan = {
            "gid": f"gen-{uuid.uuid4().hex[:8]}",
            "purge": bool(purge),
            "gseq": hi,
            "low": min(
                [int(g["low"]) for g in pulled] + [int(s) for s in reals]
            ),
            "folded": [[s, marked[s]] for s in reals],
            "folded_gids": [g["gid"] for g in pulled],
        }
        members = {(int(s), marked[s]) for s in reals}
        for g in pulled:
            members |= {(int(s), d) for s, d in g["members"]}
        entry = {
            "gid": plan["gid"],
            "gseq": plan["gseq"],
            "low": plan["low"],
            "members": [[s, d] for s, d in sorted(members)],
        }
        parts = []
        if reals:
            parts.append(
                self._patch_rows().filter(
                    F.col("seq").isin([f"{s:08d}" for s in reals])
                )
            )
        if pulled:
            parts.append(self._gen_rows(pulled))
        src = parts[0]
        for p in parts[1:]:
            src = src.unionByName(p)
        resolved = self._excl_deleted(
            src.groupBy("node").agg(
                F.max_by("component", "seq").alias("component")
            )
        )
        expected = resolved.count()
        self._write_json(self.fold_intent_path, plan)
        gd = self._gen_dir(plan["gid"])
        try:
            (
                resolved.withColumn("gid", F.lit(plan["gid"]))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("gid")
                .parquet(self.gens_path)
            )
            # a zero-row resolve (every node tombstoned) writes no
            # partition dir; _gen_rows and the count below treat the
            # absent dir as empty
            got = (
                footer_row_count(self.spark, gd)
                if fs.exists(HPath(gd))
                else 0
            )
            if got != expected:
                raise IOError(
                    f"compact fold row mismatch on {self.base_path}: "
                    f"resolve counted {expected}, staged generation "
                    f"holds {got} (a lock-free forget() landing "
                    "mid-fold moves the resolve — sources untouched, "
                    "fold rolled back; retry)"
                )
            keep = [
                g
                for g in self._generations()
                if g["gid"] not in set(plan["folded_gids"])
            ]
            self._write_json(
                self.gens_ledger_path,
                {
                    "generations": sorted(
                        keep + [entry], key=lambda g: int(g["gseq"])
                    )
                },
            )
        except BaseException:
            # safe up to the ledger write: no source was touched, so
            # deleting the staged generation and the intent restores
            # the pre-fold store exactly. _finish_fold runs OUTSIDE
            # this try — once the ledger lists the gid, only
            # roll-FORWARD is legal (recovery is driven by that).
            fs.delete(HPath(gd), True)
            fs.delete(HPath(self.fold_intent_path), False)
            raise
        self._finish_fold(plan)
        return {
            "generation": plan["gid"],
            "gseq": plan["gseq"],
            "low": plan["low"],
            "rows": expected,
        }
