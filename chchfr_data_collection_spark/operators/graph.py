"""Iterative graph operators: connected components for dedup clustering.

Pairwise near-dup matches (from the Jaccard / MinHash / embedding joins)
must be folded into clusters before survivorship ("keep one doc per
component") — transitive closure that no single join can express.

The algorithm is ALTERNATING STAR CONTRACTION (large-star / small-star,
Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14), replacing round-8's min-label propagation (round-9 verdict
item 3). Both use the same join/groupBy primitives per round, but the
round COUNTS differ fundamentally:

- min-label propagation moves a label ONE HOP per round → O(diameter)
  full-edge-shuffle rounds. A chain-shaped near-dup component (doc A ~
  doc B ~ doc C ... — common when a document family drifts gradually)
  of length d costs d rounds; at 100 TB that is the whole bill.
- star contraction HALVES tree heights every round (each node hooks
  directly onto a local minimum, then minima hook onto each other) →
  O(log n) rounds on the same chain. Measured on a 64-node chain:
  4 rounds vs 63 (pinned by test).

Per round, on the current edge set E (kept oriented child > parent):

- large-star: every node's LARGER neighbors hook onto the minimum of
  its neighborhood (incl. itself) — emit (v, min(Γ(u) ∪ {u})) for each
  v ∈ Γ(u), v > u, over the symmetric view of E;
- small-star: every node's smaller-or-equal neighbors (all of them, in
  the oriented view) and the node itself hook onto its minimum
  neighbor — emit (v, min(Γ⁻(u))) for v ∈ Γ⁻(u) ∪ {u}, self-loops
  dropped.

Every emitted edge has parent < child, both steps preserve nodes and
connectivity, and the minimum of each component can never lose its
place as a root — so the fixed point is one star per component
centered at the component minimum. Convergence is checked
STRUCTURALLY: the graph is a disjoint union of stars exactly when
(a) no parent also appears as a child AND (b) every child has exactly
one parent — (a) alone is not enough: small-star can emit a child
under two different minima while neither is itself a child, a
non-star state that needs more rounds. Both conditions reduce to one
emptiness test per round on the materialized, shrinking edge set, and
a structural check can never stop early on a non-star state.

Each round materializes once so lineage (and the plan) stays flat. By
default that is `localCheckpoint()` — right for local[...] and for
clusters where a round is cheap to recompute. For long-running 100 TB
jobs pass `checkpoint_dir`: rounds then round-trip through parquet at
that path, so a lost executor replays from the last round's files
instead of killing the job (localCheckpoint blocks die with their
executor — round-9 verdict item 5; SCALE.md documents when to flip).
The edge list is materialized ONCE up front either way: `pairs` is
usually the OUTPUT of a dedup join, and a lazy edge list would re-run
that whole upstream plan every round (the round-8 fix, kept).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def materialize(df: DataFrame, checkpoint_dir: str | None, slot: str) -> DataFrame:
    """Cut an iterative operator's lineage: `localCheckpoint()` when
    `checkpoint_dir` is None (fast, executor-local blocks — lost with
    the executor), else a parquet round-trip under
    `checkpoint_dir/slot` (reliable — a recomputation after executor
    loss replays from the files). Callers alternate two slot names so
    a write never overwrites the files its own input is reading.

    The local checkpoint is LAZY (round 16, guide §2.6): the caller's
    next action — the CC loop's convergence check, a broadcast build, a
    write — materializes the blocks as part of its own job, instead of
    a dedicated checkpoint job per round followed by a second job that
    re-reads the blocks. Lineage is truncated at first materialization
    exactly as before; values are unchanged. A relation whose first use
    fans out into several concurrent consumers over an expensive
    upstream wants `df.localCheckpoint(eager=True)` instead (the
    pinned sites in queries/scale_ops.py)."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=False)
    path = f"{checkpoint_dir.rstrip('/')}/{slot}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def local_components(edges) -> dict:
    """Driver-side twin of `connected_components` for a graph that fits
    in driver memory: {node: component} over an iterable of (a, b)
    pairs, component = the minimum node id, exactly what star
    contraction returns. Union-find with path halving and union toward
    the smaller id, so every root IS its component's minimum. A
    self-pair registers a singleton."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star step over the oriented edge set (u=child >
    v=parent): larger neighbors hook onto the neighborhood minimum."""
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star step: each node and its (all smaller, in the
    oriented view) neighbors hook onto its minimum neighbor."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    hooked = e.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    return (
        hooked.unionByName(mins.select("u", F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src: str = "da",
    dst: str = "db",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    rounds_out: list | None = None,
) -> DataFrame:
    """Cluster an undirected edge list into components.

    Returns (node, component) where component is the minimum node id in
    the component — a deterministic cluster representative, directly
    usable as the dedup keeper id. Converges in O(log n) alternating
    star-contraction rounds (module docstring); raises if `max_iter`
    rounds don't reach the star fixed point (2^max_iter-node chains fit
    under the default — a silent unconverged return would be a WRONG
    dedup result, so the loud error is the contract). Pass
    `checkpoint_dir` to make each round's materialization
    executor-loss-proof (parquet round-trip instead of
    localCheckpoint); append-only `rounds_out` receives the round
    count (for tests/telemetry)."""
    raw = pairs.select(
        F.greatest(F.col(src), F.col(dst)).alias("u"),
        F.least(F.col(src), F.col(dst)).alias("v"),
    ).distinct()
    # materialize ONCE: pairs is typically a dedup join's output, and a
    # lazy edge list would re-run that plan in every round (the node
    # backfill at the end re-reads these blocks, not the upstream plan)
    raw = materialize(raw, checkpoint_dir, "cc-init")
    e = raw.where(F.col("u") != F.col("v"))
    converged = False
    rounds = 0
    for i in range(max_iter):
        stepped = _small_star(_large_star(e))
        e = materialize(stepped, checkpoint_dir, f"cc-{i % 2}")
        rounds += 1
        # structural convergence: a union of stars ⟺ no parent is also
        # a child AND no child has two parents (module docstring —
        # the second clause is what makes the check sound). One
        # emptiness job over the shrunk, materialized set.
        parent_is_child = (
            e.select("v")
            .join(e.select(F.col("u").alias("v")), "v", "left_semi")
            .select(F.col("v").alias("x"))
        )
        dup_child = (
            e.groupBy("u")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > 1)
            .select(F.col("u").alias("x"))
        )
        if parent_is_child.unionByName(dup_child).isEmpty():
            converged = True
            break
    if rounds_out is not None:
        rounds_out.append(rounds)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "star-contraction rounds — raise max_iter (each round "
            "halves tree heights; 20 covers ~10^6-deep structures)"
        )
    labeled = e.select(
        F.col("u").alias("node"), F.col("v").alias("component")
    ).unionByName(
        e.select("v").distinct().select(
            F.col("v").alias("node"), F.col("v").alias("component")
        )
    )
    # nodes whose only edges were self-loops never enter the star
    # rounds; they are their own singleton components (API parity with
    # the original label propagation, which kept them)
    all_nodes = (
        raw.select("u").unionByName(raw.select(F.col("v").alias("u"))).distinct()
    )
    loners = all_nodes.join(
        labeled.select(F.col("node").alias("u")), "u", "left_anti"
    )
    return labeled.unionByName(
        loners.select(F.col("u").alias("node"), F.col("u").alias("component"))
    )
