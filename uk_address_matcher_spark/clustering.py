"""Transitive clustering: connected components over scored match pairs.

Not present in the reference (it selects one best match per messy record);
added per the north rule. The linkage path is bipartite_components (via
cluster_predictions); connected_components below has no production caller
and is kept as the general-graph reference the bipartite path is
parity-tested against. Its algorithm: iterative min-label propagation — the
DataFrame formulation of Kiveris et al., "Connected Components in MapReduce
and Beyond" (the simple variant; alternating large-star/small-star is noted
below for graphs with large diameter).

Each iteration is one shuffle (groupBy node) over a frame of (node, label)
pairs — narrow strings only. Lineage is truncated every iteration with
localCheckpoint (or a durable checkpointer), so the plan does not grow with
iteration count; convergence = zero changed labels (a count, not a
collect). Iterations needed = graph diameter; match graphs are near-star
(messy records point at canonical records), so 2-4 iterations is typical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
    # per-DataFrame loop-width sizing (see bipartite_components) — no
    # session-conf mutation, concurrent jobs unaffected
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
    check_disjoint: bool = False,
) -> DataFrame:
    """(node, component) for a BIPARTITE edge set (src = canonical side,
    dst = messy side, the shape every match graph has: every scored pair
    joins one canonical to one messy record).

    Contract: the src and dst id NAMESPACES must be disjoint (the linkage
    pipeline guarantees this — canonical and messy ids come from different
    datasets). An id value appearing on BOTH sides violates the contract
    and yields WRONG results: propagation never links a value's
    canonical-side and messy-side roles, so components that overlap only
    through such an id stay split. cluster_predictions verifies
    disjointness by default (check_disjoint=True) before calling this.

    ENDGAME-FIRST: match graphs are near-star (messy records point at a
    handful of canonical candidates), so the label-conflict pairs
    (c, min-of-its-messy-neighbourhood) — whose union-find closure IS the
    component structure — are orders of magnitude fewer than the edges.
    The fast path computes them with ONE aggregation + ONE limit-guarded
    collect (no pre-counts, no iteration barriers: 3 jobs total), resolves
    them driver-side, and broadcasts the remap back. Only when the
    conflict set exceeds ``driver_merge_limit`` (collected as slim tuples,
    so the default 500k is a few tens of MB of driver heap) does the
    distributed loop run: 2-hop min propagation with fused convergence
    signal + two pointer-doubling steps per round, re-checking the shrunken
    conflict graph against the driver limit each round. Component ids are
    the minimum member id (identical contract to connected_components),
    deterministic at any parallelism.
    """
    e0 = (
        edges.select(F.col("src").alias("c"), F.col("dst").alias("m"))
        .dropDuplicates()
        .cache()
    )

    # fast path: conflict pairs straight from the raw edges (labels are
    # the identity at round 0, so no label join is needed). m_min feeds
    # the conflict probe here AND the m_lab branch of the endgame below —
    # cached so the endgame's finalise job reuses the aggregation instead
    # of re-running its exchange over e0.
    m_min = e0.groupBy("m").agg(F.min("c").alias("mlab")).cache()
    conflicts0 = (
        e0.join(m_min, "m")
        .filter(F.col("c") != F.col("mlab"))
        .select("c", "mlab")
        .distinct()
    )
    probe = conflicts0.select(F.lit("conf").alias("kind"), "c", "mlab").limit(
        driver_merge_limit + 1
    )
    if check_disjoint:
        # disjointness guard (see cluster_predictions), FUSED into the
        # conflict collect as a tagged union so the fast path pays ONE
        # driver action instead of two: an id on both sides = a c value
        # that also appears as an m value of e0
        overlap = (
            e0.select("c")
            .join(e0.select(F.col("m").alias("c")), "c", "left_semi")
            .select(F.lit("overlap").alias("kind"), "c", F.lit(None).alias("mlab"))
            .limit(5)
        )
        probe = probe.unionByName(overlap)
    rows = probe.collect()
    bad = [r for r in rows if r["kind"] == "overlap"]
    if bad:
        e0.unpersist()
        m_min.unpersist()
        raise ValueError(
            "cluster_predictions: id value(s) appear on BOTH sides of "
            f"the pairs (e.g. {[r['c'] for r in bad]}); canonical "
            "and messy ids must be disjoint — prefix them before linking."
        )
    conf_rows = [(r["c"], r["mlab"]) for r in rows if r["kind"] == "conf"]
    if len(conf_rows) <= driver_merge_limit:
        root = _union_find(conf_rows)
        spark = edges.sparkSession
        if root:
            remap = F.broadcast(
                spark.createDataFrame(
                    [(k, v) for k, v in root.items() if k != v],
                    "c string, root string",
                )
            )
            lab = (
                e0.select("c")
                .distinct()
                .join(remap, "c", "left")
                .select("c", F.coalesce("root", "c").alias("lab"))
            )
            m_remap = remap.withColumnsRenamed({"c": "mlab", "root": "mroot"})
            m_lab = m_min.join(m_remap, "mlab", "left").select(
                "m", F.coalesce("mroot", "mlab").alias("lab")
            )
        else:
            lab = e0.select("c").distinct().withColumn("lab", F.col("c"))
            m_lab = m_min.select("m", F.col("mlab").alias("lab"))
        if checkpointer is not None:
            lab = checkpointer.checkpoint(lab, "bcc_round_0_endgame")
            m_lab = e0.join(lab, "c").groupBy("m").agg(F.min("lab").alias("lab"))
        # materialise the (narrow) result so e0's cache can be released
        # NOW instead of leaking executor storage for the session's
        # lifetime (its lineage feeds both the lab and m_lab branches)
        out = _finalise(lab, m_lab).localCheckpoint()
        e0.unpersist()
        m_min.unpersist()
        return out

    n_edges = e0.count()
    m_min.unpersist()
    # size the loop's shuffle width to the data: label frames are two
    # narrow strings, so ~500k edge rows per task keeps every stage at a
    # handful of tasks (driver/stage latency dominates these tiny loop
    # shuffles — a 32-wide exchange on a 50k-row frame is pure overhead).
    # This is per-DataFrame repartitioning, NOT session conf: concurrent
    # jobs on the session are unaffected. At 10^12 docs the same formula
    # yields thousands of partitions — the loop stays cluster-wide.
    loop_parts = max(n_edges // 500_000 + 1, 1)
    e = e0.repartition(loop_parts, "c").cache()
    e.count()
    e0.unpersist()

    lab = (
        e.select("c")
        .distinct()
        .withColumn("lab", F.col("c"))
        .repartition(loop_parts, "c")
        .localCheckpoint()
    )

    m_lab = None
    for i in range(max_rounds):
        # hop 1: each messy node aggregates min/max of its canonical
        # neighbours' labels — min drives propagation, min != max is the
        # FUSED convergence signal (no separate old-vs-new compare join)
        t = e.join(lab, "c").cache()
        m_agg = (
            t.groupBy("m")
            .agg(F.min("lab").alias("mlab"), F.max("lab").alias("mmax"))
            .cache()
        )
        pending = m_agg.filter(F.col("mlab") != F.col("mmax")).count()
        if pending == 0:
            # every messy node's neighbourhood agrees -> labels constant
            # per component; the constant is the min canonical id (the
            # min-canonical's own label is itself at any fixpoint)
            m_lab = m_agg.select("m", F.col("mlab").alias("lab"))
            t.unpersist()
            break
        # ENDGAME: after the first contraction the label-CONFLICT graph
        # (distinct (label, neighbourhood-min) pairs of still-pending
        # messy nodes) is orders of magnitude smaller than the input.
        # When it fits comfortably on the driver, one union-find resolves
        # all remaining merges at once instead of paying ~2 more
        # shuffle-barrier rounds per factor-4 of chain length. Guarded by
        # a hard row limit — over the limit the loop stays distributed.
        conflicts = (
            t.join(
                m_agg.filter(F.col("mlab") != F.col("mmax")).select("m", "mlab"),
                "m",
            )
            .filter(F.col("lab") != F.col("mlab"))
            .select("lab", "mlab")
            .distinct()
            .cache()
        )
        n_conf = conflicts.count()
        if n_conf <= driver_merge_limit:
            root = _union_find(conflicts.collect())
            remap = lab.sparkSession.createDataFrame(
                [(k, v) for k, v in root.items() if k != v], "lab string, root string"
            )
            lab = (
                lab.join(F.broadcast(remap), "lab", "left")
                .select("c", F.coalesce("root", "lab").alias("lab"))
                .repartition(loop_parts, "c")
            )
            if checkpointer is not None:
                lab = checkpointer.checkpoint(lab, f"bcc_round_{i}_endgame")
            else:
                lab = lab.localCheckpoint()
            m_lab = (
                e.join(lab, "c").groupBy("m").agg(F.min("lab").alias("lab"))
            )
            conflicts.unpersist(); m_agg.unpersist(); t.unpersist()
            break
        conflicts.unpersist()
        # hop 2 (distributed round): canonical takes the min over its
        # messy neighbours, then two pointer-doubling steps (labels are
        # canonical ids, so a label's label exists): chains shrink 4x per
        # round with no per-step convergence job
        new_lab = (
            e.join(m_agg.select("m", "mlab"), "m")
            .groupBy("c")
            .agg(F.min("mlab").alias("lab"))
        )
        m_agg.unpersist(); t.unpersist()
        for _ in range(2):
            ptr = new_lab.select(F.col("c").alias("lab"), F.col("lab").alias("root"))
            new_lab = new_lab.join(ptr, "lab").select("c", F.col("root").alias("lab"))
        new_lab = new_lab.repartition(loop_parts, "c")
        if checkpointer is not None:
            new_lab = checkpointer.checkpoint(new_lab, f"bcc_round_{i}")
        else:
            new_lab = new_lab.localCheckpoint()
        lab = new_lab
    else:
        raise RuntimeError(f"bipartite_components: no convergence in {max_rounds} rounds")

    out = _finalise(lab, m_lab).localCheckpoint()
    # release the loop's persisted frames (same leak class as e0 above);
    # m_agg backs m_lab in the converged branch, so only after the
    # materialisation above
    e.unpersist()
    m_agg.unpersist()
    return out


def _finalise(lab: DataFrame, m_lab: DataFrame) -> DataFrame:
    members = lab.select(F.col("c").alias("node"), "lab").union(
        m_lab.select(F.col("m").alias("node"), "lab")
    )
    # contract parity with connected_components: component id = min member
    # id across BOTH sides (two extra narrow shuffles on tiny frames)
    comp_min = members.groupBy("lab").agg(F.min("node").alias("component"))
    return members.join(comp_min, "lab").select("node", "component")


def cluster_predictions(
    df_predict: DataFrame,
    threshold_match_weight: float = 5.0,
    checkpointer=None,
    check_disjoint: bool = True,
) -> DataFrame:
    """(unique_id, cluster_id) for every id in an above-threshold pair.

    cluster_id is the lexicographically smallest member id — deterministic
    at any parallelism. Uses the bipartite specialisation (scored pairs
    always join the canonical side to the messy side).

    CONTRACT: unique_id_l and unique_id_r values must come from disjoint
    id namespaces (true for link_addresses output — the two sides are
    different datasets). An id appearing on both sides makes the
    bipartite propagation WRONG (its two roles are never linked, so
    components stay split) — which is why ``check_disjoint`` defaults to
    True: one narrow semi-join over the above-threshold edges (ids only,
    limit-guarded collect) that raises on overlap. Set False only when
    the caller guarantees disjointness and the extra job matters.
    """
    edges = df_predict.filter(
        F.col("match_weight") >= threshold_match_weight
    ).select(F.col("unique_id_l").alias("src"), F.col("unique_id_r").alias("dst"))
    # the disjointness guard is FUSED into bipartite_components' first
    # driver action (a tagged union with the conflict probe) — one job
    # instead of a separate semi-join collect before the real work
    cc = bipartite_components(
        edges, checkpointer=checkpointer, check_disjoint=check_disjoint
    )
    return cc.select(
        F.col("node").alias("unique_id"), F.col("component").alias("cluster_id")
    )
