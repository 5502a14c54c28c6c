"""Transitive clustering: connected components over scored match pairs.

Not present in the reference (it selects one best match per messy record);
added per the north rule. The linkage path is cluster_predictions ->
bipartite_components: ONE bounded loop over canonical-side labels. Round 0
labels every canonical id with itself (no label join), aggregates each
messy node's neighbour labels once, and collects the label-conflict pairs
under a row limit; when they fit, a driver-side union-find resolves every
remaining merge and one exchange assigns component = min member id. Only
conflict sets over the limit run distributed hops (min propagation plus
pointer doubling) before the same endgame.

connected_components has no production caller and is kept as the
general-graph reference the bipartite path is parity-tested against:
iterative min-label propagation — the DataFrame formulation of Kiveris et
al., "Connected Components in MapReduce and Beyond" (the simple variant),
with pointer jumping. Each iteration is one shuffle (groupBy node) over
narrow (node, label) pairs, lineage is truncated every iteration with
localCheckpoint (or a durable checkpointer), and convergence = zero
changed labels (a count, checked every second iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from uk_address_matcher_spark.session import local_frame


def connected_components(
    edges: DataFrame,
    max_iterations: int = 25,
    checkpointer=None,
) -> DataFrame:
    """(node, component) — component = min node id reachable.

    ``checkpointer`` (checkpoint.CheckpointManager) makes each iteration
    durable + resumable; otherwise localCheckpoint truncates lineage in
    memory. Raises if not converged within max_iterations.
    """
    und0 = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .dropDuplicates()
        .cache()
    )
    n_edges = und0.count()
    # loop width sized to the data (~500k edge rows per task) per
    # DataFrame — no session-conf mutation, concurrent jobs unaffected
    loop_parts = max(n_edges // 500_000 + 1, 1)
    und = und0.repartition(loop_parts, "src").cache()
    und.count()
    und0.unpersist()
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .repartition(loop_parts, "node")
        .localCheckpoint()
    )
    return _iterate(und, labels, max_iterations, checkpointer)


def _iterate(und, labels, max_iterations, checkpointer):
    for i in range(max_iterations):
        # each node proposes its label to its neighbours; keep the min of
        # (own label, proposals)
        proposals = und.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), "component")
        new_labels = (
            proposals.union(labels)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # pointer jumping (path doubling): follow each component pointer
        # one more hop — component ids are themselves node ids, so chains
        # collapse in O(log diameter) iterations instead of O(diameter).
        # Street-shaped match graphs produce chains ~ the postcode-sector
        # size, so this matters.
        ptr = new_labels.select(
            F.col("node").alias("component"), F.col("component").alias("root")
        )
        new_labels = (
            new_labels.join(ptr, "component")
            .select("node", F.col("root").alias("component"))
        )
        if checkpointer is not None:
            new_labels = checkpointer.checkpoint(new_labels, f"cc_iter_{i}")
        else:
            new_labels = new_labels.localCheckpoint()
        # convergence check every 2nd iteration: the check is its own
        # shuffle+job; early iterations never converge, so checking each
        # round just adds latency
        if i % 2 == 1 or i >= max_iterations - 2:
            changed = (
                labels.withColumnRenamed("component", "old")
                .join(new_labels, "node")
                .filter(F.col("old") != F.col("component"))
                .count()
            )
            if changed == 0:
                return new_labels
        labels = new_labels
    raise RuntimeError(f"connected_components: no convergence in {max_iterations} iterations")


def _union_find(conflict_rows) -> dict:
    """Driver-side union-find over (lab, mlab) conflict pairs; returns
    {label: root} with root = min of each merged set (path-compressed)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for row in conflict_rows:
        a, b = find(row[0]), find(row[1])
        if a != b:
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    return {x: find(x) for x in list(parent)}


def bipartite_components(
    edges: DataFrame,
    max_rounds: int = 12,
    checkpointer=None,
    driver_merge_limit: int = 500_000,
) -> DataFrame:
    """(node, component) for a BIPARTITE edge set (src = canonical side,
    dst = messy side, the shape every match graph has: every scored pair
    joins one canonical to one messy record).

    Contract: the src and dst id NAMESPACES must be disjoint (the linkage
    pipeline guarantees this — canonical and messy ids come from different
    datasets). An id value appearing on BOTH sides would yield WRONG
    results: propagation never links a value's canonical-side and
    messy-side roles, so components that overlap only through such an id
    stay split. Round 0 therefore checks it and raises on overlap.

    One bounded loop over canonical labels (round 0: every canonical id
    labels itself). Each round is ONE cached groupBy(m) aggregate of the
    labelled edges: the min neighbour label ``mlab`` and the set of
    distinct neighbour labels. Exploding that set gives the label-conflict
    pairs (lab, mlab), lab != mlab, whose union-find closure IS the
    remaining component structure. One limit-guarded collect fetches them
    (round 0 fuses the disjointness probe into it); if the DISTINCT pairs
    fit under ``driver_merge_limit`` (slim tuples, so the default 500k is
    a few tens of MB of driver heap) the driver resolves them and the
    endgame returns; an empty set is simply convergence. Match graphs are
    near-star, so on real data round 0 ends there. Otherwise one
    distributed hop runs: each canonical takes the min ``mlab`` of its
    messy neighbours, then two pointer-doubling steps (labels are
    canonical ids, so a label's label exists) shrink chains 4x per round.
    Component ids are the minimum member id (identical contract to
    connected_components), deterministic at any parallelism.
    """
    e = None  # distinct (c, m) edges, cached once a distributed hop runs
    lab = None  # (c, lab); None in round 0, where labels are the identity
    agg = None
    try:
        for i in range(max_rounds):
            if lab is None:
                t = edges.select(F.col("src").alias("lab"), F.col("dst").alias("m"))
            else:
                t = e.join(lab, "c")
            agg = (
                t.groupBy("m")
                .agg(F.min("lab").alias("mlab"), F.collect_set("lab").alias("labs"))
                .cache()
            )
            probe = (
                agg.select("mlab", F.explode("labs").alias("lab"))
                .filter(F.col("lab") != F.col("mlab"))
                .select("lab", "mlab")
                .distinct()
                .withColumn("overlap", F.lit(False))
            )
            if lab is None:
                # disjointness guard, fused into the same collect: an id on
                # both sides = a canonical id that is also a messy id. Its
                # partitions come FIRST in the union and the collect's
                # limit keeps partition order, so an overlap row survives it
                overlap = (
                    agg.select(F.explode("labs").alias("lab"))
                    .join(agg.select(F.col("m").alias("lab")), "lab", "left_semi")
                    .select(
                        "lab", F.lit(None).alias("mlab"), F.lit(True).alias("overlap")
                    )
                )
                probe = overlap.unionByName(probe)
            rows = probe.limit(driver_merge_limit + 1).collect()
            bad = [r["lab"] for r in rows if r["overlap"]]
            if bad:
                raise ValueError(
                    "bipartite_components: id value(s) appear on BOTH sides of "
                    f"the pairs (e.g. {bad[:5]}); canonical and messy ids must be "
                    "disjoint — prefix them before linking."
                )
            if len(rows) <= driver_merge_limit:
                root = _union_find((r["lab"], r["mlab"]) for r in rows)
                if lab is None:
                    c_rows = agg.select(F.explode("labs").alias("node")).withColumn(
                        "lab", F.col("node")
                    )
                else:
                    c_rows = lab.select(F.col("c").alias("node"), "lab")
                members = agg.select(
                    F.col("m").alias("node"), F.col("mlab").alias("lab")
                ).unionByName(c_rows)
                if root:
                    remap = local_frame(
                        edges.sparkSession,
                        [(k, v) for k, v in root.items() if k != v],
                        "lab string, root string",
                    )
                    members = members.join(F.broadcast(remap), "lab", "left").select(
                        "node", F.coalesce("root", "lab").alias("lab")
                    )
                # component = min member id per final label: the window and
                # the dedup of round 0's repeated canonical rows share ONE
                # exchange (hash on lab clusters every (node, lab, component))
                component = F.min("node").over(Window.partitionBy("lab"))
                out = (
                    members.select("node", "lab", component.alias("component"))
                    .distinct()
                    .select("node", "component")
                )
                # materialise the narrow result so the caches can be
                # released NOW instead of pinning executor storage
                if checkpointer is not None:
                    return checkpointer.checkpoint(out, f"bcc_round_{i}_endgame")
                return out.localCheckpoint()
            if e is None:
                # round 0's neighbour sets are exactly the distinct edges
                e = agg.select("m", F.explode("labs").alias("c")).cache()
            new_lab = (
                e.join(agg.select("m", "mlab"), "m")
                .groupBy("c")
                .agg(F.min("mlab").alias("lab"))
            )
            for _ in range(2):
                ptr = new_lab.select(
                    F.col("c").alias("lab"), F.col("lab").alias("root")
                )
                new_lab = new_lab.join(ptr, "lab").select(
                    "c", F.col("root").alias("lab")
                )
            if checkpointer is not None:
                lab = checkpointer.checkpoint(new_lab, f"bcc_round_{i}")
            else:
                lab = new_lab.localCheckpoint()
            agg.unpersist()
        raise RuntimeError(
            f"bipartite_components: no convergence in {max_rounds} rounds"
        )
    finally:
        # no cached frame outlives the call, on the raise paths too
        for df in (agg, e):
            if df is not None:
                df.unpersist()


def cluster_predictions(
    df_predict: DataFrame,
    threshold_match_weight: float = 5.0,
    checkpointer=None,
) -> DataFrame:
    """(unique_id, cluster_id) for every id in an above-threshold pair.

    cluster_id is the lexicographically smallest member id — deterministic
    at any parallelism. Uses the bipartite specialisation (scored pairs
    always join the canonical side to the messy side).

    CONTRACT: unique_id_l and unique_id_r values must come from disjoint
    id namespaces (true for link_addresses output — the two sides are
    different datasets). bipartite_components raises on overlap; the
    check rides on its first driver collect (no extra round-trip).
    """
    edges = df_predict.filter(
        F.col("match_weight") >= threshold_match_weight
    ).select(F.col("unique_id_l").alias("src"), F.col("unique_id_r").alias("dst"))
    cc = bipartite_components(edges, checkpointer=checkpointer)
    return cc.select(
        F.col("node").alias("unique_id"), F.col("component").alias("cluster_id")
    )
