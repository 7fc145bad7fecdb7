"""Connected components over a duplicate-pair edge list (extension E6/E7).

The missing last step of every near-dup pipeline: candidate pairs say
"A~B" and "B~C", but a keep-one dedup needs the transitive closure
{A,B,C} with one canonical survivor. This runs min-label propagation
over the pair graph with DataFrame ops only:

- each node starts labeled with itself;
- every round, a node's label becomes the min of its own and its
  neighbors' labels (one shuffle: edges⋈labels, groupBy dst, min);
- stop when no label changed (or after ``_PROPAGATION_ROUNDS`` rounds).

Rounds needed = graph diameter. Dup clusters in a pretraining corpus
are dense blobs (near-cliques around a template), so diameter is small
— single digits even at 100 TB. Each round is ONE hash shuffle of the
edge list, the same cost class as one groupBy over the pairs; state
between rounds is persisted and the previous round unpersisted, so
lineage stays O(1) deep. For adversarially long path-graphs the loop
switches to large-star/small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14), which converges in
O(log²n) rounds with the same per-round shuffle shape — so a
pathological chain in a 100 TB pair set converges instead of
hard-stopping the pipeline (:func:`_star_components`).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Min-label propagation rounds before the diameter-independent star
# fallback takes over (dup clusters converge in single digits).
_PROPAGATION_ROUNDS = 50
# Edge count up to which the closure is solved on the driver: 4M edges
# ≈ 64 MB of Arrow longs, the bound class of the broadcast threshold.
_DRIVER_EDGE_CAP = 4_000_000

_warned_rdd_ids = False


def _checkpointed_rdd_ids(df: DataFrame) -> set[int]:
    """Id of the persisted RDD backing an eagerly localCheckpoint-ed
    frame, read straight off its LogicalRDD plan node. Direct ownership
    attribution: diffing global block-manager state before/after the
    checkpoint would sweep in any RDD another thread persisted in the
    window and later force-unpersist someone else's cached data. Returns
    empty when the plan/API is unavailable (e.g. Connect, or a Spark
    version whose localCheckpoint wraps the plan in something other than
    LogicalRDD) — there per-round storage release degrades to a no-op,
    bounded by the session; warn ONCE so the degradation is visible
    instead of a silent leak."""
    global _warned_rdd_ids
    try:
        return {int(df._jdf.queryExecution().analyzed().rdd().id())}
    except Exception:
        if not _warned_rdd_ids:
            _warned_rdd_ids = True
            warnings.warn(
                "connected_components: cannot read the checkpointed RDD id "
                "off the plan (private-API shape changed?) — per-round "
                "storage release is disabled; checkpointed label frames "
                "will accumulate until session end", RuntimeWarning)
        return set()


def _release_rdds(sc, ids: set[int]) -> None:
    """Unpersist specific checkpointed RDDs. localCheckpoint frames are
    backed by persisted RDDs that DataFrame.unpersist() does NOT release
    (it only touches the Dataset cache registry), so per-round frames
    would otherwise accumulate in storage for the session lifetime."""
    try:
        jmap = sc._jsc.getPersistentRDDs()
        for i in ids:
            rdd = jmap.get(i)
            if rdd is not None:
                rdd.unpersist(False)
    except Exception:
        pass


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star step over the (src, dst) edges ``e``, read as
    undirected: for each node u, connect every strictly larger neighbor
    v to m = min(Γ(u) ∪ {u}). Emits distinct (v, m) edges with v > m.
    Every node with a neighbor other than itself keeps an edge to a
    node of its own component that is no larger — a component minimum
    r keeps its (v, r) edges — so all such nodes stay and the component
    partition is preserved exactly. Self-loops are dropped, and with
    them a node whose only edge is a self-loop."""
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    return (sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"),
                    F.least("mn", "src").alias("dst"))
            .distinct())


def _star_components(edges_sym: DataFrame, max_rounds: int = 100) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the diameter-independent fallback for adversarial graphs
    where min-label propagation (one round per hop) would need as many
    rounds as the longest path. Each round is two groupBy-min shuffles
    of the edge list (the same cost class as one propagation round) and
    the round count is O(log²n) worst-case, ~log n in practice.

    ``edges_sym`` is the symmetric self-loop-free adjacency. State is a
    DIRECTED edge list (src > dst, pointing at smaller ids):

    - large-star: for each node u, connect every strictly larger
      neighbor to m = min(Γ(u) ∪ {u});
    - small-star: for each node u over its smaller neighbors Γ⁻(u),
      connect u and all of Γ⁻(u) to their minimum.

    Both steps preserve connectivity and only ever link nodes to
    smaller nodes in their own component; the fixpoint is a forest of
    stars rooted at each component's minimum, detected exactly (edge
    set unchanged — count plus set-difference, two edge-list-sized jobs
    a round, fine for a fallback). Per-round frames are eagerly
    checkpointed and released like the main loop."""
    sc = edges_sym.sparkSession.sparkContext
    nodes = edges_sym.select(F.col("src").alias("id")).distinct()
    e = (edges_sym.filter(F.col("src") != F.col("dst"))
         .select(F.greatest("src", "dst").alias("src"),
                 F.least("src", "dst").alias("dst"))
         .distinct().localCheckpoint(eager=True))
    e_rdds = _checkpointed_rdd_ids(e)
    n_edges = e.count()
    for _ in range(max_rounds):
        large = _large_star(e)
        smin = large.groupBy("src").agg(F.min("dst").alias("mn"))
        small = (large.join(smin, "src")
                 .select(F.explode(F.array(
                     F.struct(F.col("src").alias("s"), F.col("mn").alias("d")),
                     F.struct(F.col("dst").alias("s"), F.col("mn").alias("d"))))
                     .alias("x"))
                 .select(F.col("x.s").alias("src"), F.col("x.d").alias("dst"))
                 .filter(F.col("src") != F.col("dst"))
                 .distinct().localCheckpoint(eager=True))
        new_rdds = _checkpointed_rdd_ids(small)
        n_new = small.count()
        converged = (n_new == n_edges
                     and small.subtract(e).limit(1).count() == 0)
        _release_rdds(sc, e_rdds)
        e, e_rdds, n_edges = small, new_rdds, n_new
        if converged:
            break
    else:
        _release_rdds(sc, e_rdds)
        raise RuntimeError(
            f"large-star/small-star did not converge in {max_rounds} "
            f"rounds — at O(log^2 n) convergence this exceeds any "
            f"realizable graph; suspecting corrupt edge input")
    labels = (e.select(F.col("src").alias("id"), F.col("dst").alias("component"))
              .unionByName(e.select(F.col("dst").alias("id"),
                                    F.col("dst").alias("component")))
              .distinct())
    singles = (nodes.join(labels.select("id"), "id", "left_anti")
               .withColumn("component", F.col("id")))
    out = labels.unionByName(singles).localCheckpoint(eager=True)
    _release_rdds(sc, e_rdds)
    return out


def _driver_union_find(srcs, dsts):
    """Min-label components over driver-local edge arrays, vectorized:
    numpy min-propagation along the edges plus pointer doubling until
    fixpoint. The fixpoint of 'label := min(own label, neighbors'
    labels)' is exactly the component MINIMUM, i.e. the same canonical
    labeling the per-edge union-by-min loop produced and the
    distributed propagation converges to — but each pass is O(E) numpy
    kernel work instead of 2·E Python-level find() calls (measured
    ~10× on the 1M-edge cap-sized graphs the bootstrap closure pulls
    to the driver). Node ids map to dense indices via np.unique
    (sorted, so index order == id order and the index minimum IS the
    id minimum). Returns (nodes, labels): int64 arrays, nodes ascending."""
    import numpy as np

    s = np.asarray(srcs, dtype=np.int64)
    d = np.asarray(dsts, dtype=np.int64)
    if len(s) == 0:
        return s, s
    nodes, idx = np.unique(np.concatenate([s, d]), return_inverse=True)
    si, di = idx[:len(s)], idx[len(s):]
    n = len(nodes)
    lbl = np.arange(n, dtype=np.int64)
    while True:
        m = lbl.copy()
        # one propagation step along every edge, both directions
        # (sort+reduceat was measured SLOWER than the unbuffered
        # minimum.at here — the 2·E argsort costs more than it saves)
        np.minimum.at(m, si, lbl[di])
        np.minimum.at(m, di, lbl[si])
        # pointer doubling: labels are dense node indices, so m[m]
        # jumps each node to its current label's label — compresses
        # chains in O(log n) doublings
        while True:
            mm = m[m]
            if np.array_equal(mm, m):
                break
            m = mm
        if np.array_equal(m, lbl):
            break
        lbl = m
        # contract: remap edges into label space and dedupe — a dup
        # corpus's dense near-clique blobs collapse after one pass, so
        # only the FIRST pass pays the full edge count (minimum.at is
        # the slow unbuffered ufunc; this keeps its later passes tiny)
        s2, d2 = lbl[si], lbl[di]
        keep = s2 != d2
        if not keep.any():
            break
        enc = np.unique(s2[keep] * np.int64(n) + d2[keep])
        si, di = enc // n, enc % n
    return nodes, nodes[lbl]


def _driver_components(spark, edges, id_type) -> DataFrame:
    """(id, component) of the (src, dst) Arrow edge table ``edges``,
    solved on the driver. The labels come back as an Arrow-built frame:
    it is decoded in the JVM, so scanning it starts no Python worker (a
    ``local_frame`` re-runs its Python conversion on every scan)."""
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    nodes, labels = _driver_union_find(edges.column("src").to_numpy(),
                                       edges.column("dst").to_numpy())
    schema = StructType([StructField("id", id_type),
                         StructField("component", id_type)])
    return spark.createDataFrame(
        pa.table({"id": nodes, "component": labels}), schema)


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b") -> DataFrame:
    """(id, component) for every node in ``pairs``; component = min node
    id reachable through the pair graph. Deterministic for any input
    order — min() is order-insensitive.

    Size-gated hybrid, the same shape AQE applies to joins (broadcast
    below a threshold, shuffle above): when an integral-id edge list
    fits ``_DRIVER_EDGE_CAP`` it is solved by union-find on the driver
    from ONE pull of the persisted edges, ``limit(cap+1).toArrow()``:
    the pull that answers "under the cap?" is the table the driver
    solves, so an under-cap closure is one Spark job. That is exact,
    label-identical, and free of the per-round job constants that
    dominate small-graph cost (measured ~6 s of fixed overhead for a
    sub-second graph at sf0.1); the labels return as an Arrow-built
    frame in the input id dtype. An over-cap pull moves cap+1 edges
    for nothing (~64 MB at the default cap). Above the cap the edges
    are first contracted by up to two large-star rounds
    (:func:`_large_star`), each probed with ``limit(cap+1).count()``,
    and the driver solves them if that brings them under the cap;
    otherwise — and always for non-integral ids —
    the distributed path runs. The cap bounds driver memory explicitly
    (4M edges ≈ 64 MB of Arrow longs — the same bound class as the
    session's broadcast threshold; the same bounded-driver-state class
    as IVF centroids and the global-order bucket offsets), and the
    DISTRIBUTED path remains the scale story: at 100 TB the pair graph
    exceeds any cap and min-label propagation / star-contraction do the
    work.

    Distributed path: min-label propagation needs one round per hop of
    graph diameter. Dup clusters in a pretraining corpus are dense
    blobs (near-cliques around a template) that converge in single
    digits, so propagation is the cheap common path; if labels are
    still changing after ``_PROPAGATION_ROUNDS`` rounds (an adversarial
    path-shaped graph), the computation switches to the
    diameter-independent large-star/small-star algorithm
    (:func:`_star_components`) instead of failing — same per-round
    shuffle shape, O(log²n) rounds regardless of diameter."""
    sc = pairs.sparkSession.sparkContext
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))

    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType
    id_type = e.schema[0].dataType
    cap = _DRIVER_EDGE_CAP
    # the driver fast path is gated on an integral id dtype:
    # _driver_union_find's int64 arrays assume integral ids, and string/other
    # orderable id types must keep working through the distributed path
    # (they did before the fast path existed) rather than raising
    star_rdds: set[int] = set()
    if isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        # persist around the pull: limit(cap+1) executes (part of) the
        # upstream pair plan — typically an expensive dedup join — and
        # without the cache an over-cap graph would pay that plan twice
        # (once for the pull, once for the contraction). The cache is
        # released once the first contraction round is checkpointed.
        e = e.persist()
        # the pull is the size probe: under the cap it is the driver's
        # input, so an under-cap closure is one job; a separate count
        # probe would add a job and its AQE stages
        pulled = e.limit(cap + 1).toArrow()
        if pulled.num_rows <= cap:
            out = _driver_components(e.sparkSession, pulled, id_type)
            e.unpersist()
            return out
        del pulled
        # Over the cap: contract with large-star rounds before giving up
        # on the driver path. One round is two shuffles of the edge list
        # and collapses a dense near-clique blob — the dup corpus shape
        # that produces over-cap edge counts in the first place — into a
        # star, so the contracted graph is usually node-count-sized and
        # finishes exactly on the driver. A large-star round preserves
        # the component partition but drops self-loops, so a node whose
        # only edge is a self-loop is carried over as that self-loop.
        # Rounds that fail to get under the cap fall through to
        # propagation on the CONTRACTED edges — never worse than the
        # original graph.
        for round_ in range(2):
            contracted = (_large_star(e)
                          .unionByName(e.filter(F.col("src") == F.col("dst"))
                                       .distinct())
                          .localCheckpoint(eager=True))
            new_rdds = _checkpointed_rdd_ids(contracted)
            if round_ == 0:
                e.unpersist()
            _release_rdds(sc, star_rdds)
            e, star_rdds = contracted, new_rdds
            if e.limit(cap + 1).count() <= cap:
                out = _driver_components(e.sparkSession, e.toArrow(), id_type)
                _release_rdds(sc, star_rdds)
                return out
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().persist()

    # localCheckpoint (eager), NOT persist: iterative self-joins double
    # the logical plan every round, and caching short-circuits execution
    # but not Catalyst analysis — without lineage truncation each round's
    # planning time grows exponentially (measured: 4 rounds went
    # 4s/6s/23s/46s with persist, constant ~2s with checkpoint). On a
    # real cluster a reliable checkpoint dir gives the same truncation
    # with executor-loss tolerance.
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("label", F.col("id"))
              .localCheckpoint(eager=True))
    # the eager checkpoint above materialized `edges` into its own cache,
    # so the last contraction checkpoint (when the large-star rounds ran
    # but stayed over the cap) is dead from here
    _release_rdds(sc, star_rdds)
    label_rdds = _checkpointed_rdd_ids(labels)

    rounds = _PROPAGATION_ROUNDS
    for _ in range(rounds):
        nbr_min = (edges.join(labels.withColumnRenamed("id", "src"), "src")
                   .groupBy("dst").agg(F.min("label").alias("nbr_label"))
                   .withColumnRenamed("dst", "id"))
        # the changed flag rides along in the same projection, so the
        # convergence check is a filter-count over the checkpointed
        # frame — no extra join against the previous state per round
        new_labels = (labels.join(nbr_min, "id", "left")
                      .select("id",
                              F.least(F.col("label"),
                                      F.coalesce("nbr_label", "label"))
                               .alias("new_label"),
                              (F.coalesce("nbr_label", "label") < F.col("label"))
                               .alias("changed"))
                      .withColumnRenamed("new_label", "label")
                      .localCheckpoint(eager=True))
        new_rdds = _checkpointed_rdd_ids(new_labels)
        changed = new_labels.filter("changed").count()
        # the eager checkpoint above fully materialized new_labels, so
        # the previous round's frame is dead — release its storage now,
        # keeping live label state at <= 2 frames for any round count
        _release_rdds(sc, label_rdds)
        label_rdds = new_rdds
        labels = new_labels.drop("changed")
        if changed == 0:
            break
    else:
        # diameter > rounds: propagation would need one round per hop,
        # so hand the edge set to the O(log²n) star algorithm
        # (restarting loses at most `rounds` cheap rounds of progress
        # and keeps the fallback's correctness argument self-contained)
        warnings.warn(
            f"connected_components: {changed} labels still changing "
            f"after {rounds} propagation rounds (graph diameter > "
            f"{rounds}) — switching to large-star/small-star",
            RuntimeWarning)
        _release_rdds(sc, label_rdds)
        out = _star_components(edges)
        edges.unpersist()
        return out

    edges.unpersist()
    return labels.select(F.col("id"), F.col("label").alias("component"))


def components_from_rep_pairs(rep_pairs: DataFrame,
                              mem: DataFrame) -> DataFrame:
    """Components of the EXPANDED member-pair graph (what
    dedup.expand_group_pairs(rep_pairs, mem) would emit), computed on
    the CONTRACTED graph: rep-level pairs plus one star edge
    gid→member per non-rep member. At 100 TB this is the difference
    between a closure over Σ|A|×|B| expanded edges (quadratic in dup
    cluster size — a boilerplate corpus shape) and one over
    |rep_pairs| + |members| edges.

    Equivalence argument (label-identical to
    ``connected_components(expand_group_pairs(rep_pairs, mem))``):

    - Same vertex set: the expansion's within-pairs cover every member
      of a multi-member group (star edges do too, via gid—id), and its
      cross-pairs cover every member of a group on a verified rep pair
      (reachable here via its star edge + the rep edge; a singleton
      group's only member IS its gid, on the rep edge itself).
    - Same connectivity: every contracted edge is itself an expanded
      pair (gid ∈ its own group, so gid—member is a within-pair and
      gid_A—gid_B is a cross-pair), i.e. the contracted graph is a
      SUBGRAPH; conversely any expanded pair (x∈A, y∈B) is a path
      x—gid_A—gid_B—y through star and rep edges, so no component
      splits. Identical partitions ⇒ identical min-id labels.

    ``mem`` is the (gid, id) membership restricted exactly as the
    expansion would be (e.g. non-empty token sets only). The closure
    itself is :func:`connected_components` — driver union-find under
    its edge cap, distributed above it."""
    star = (mem.filter(F.col("id") != F.col("gid"))
            .select(F.col("gid").alias("id_a"), F.col("id").alias("id_b")))
    edges = rep_pairs.select("id_a", "id_b").unionByName(star)
    return connected_components(edges)


def incremental_components(labels: DataFrame, new_pairs: DataFrame,
                           id_a: str = "id_a",
                           id_b: str = "id_b") -> DataFrame:
    """Update an existing (id, component) labeling with NEW edges
    without reprocessing the old graph — the ingest-time companion of
    :func:`connected_components` (and the consumer of
    dedup.incremental_near_dup_pairs_from_store's delta pair output):
    at 100 TB the corpus graph's closure is computed once, and each
    batch must only pay for what the batch touches.

    Contraction argument: each existing component is collapsed to one
    super-node (its label), the NEW edges are mapped into super-node
    space, and :func:`connected_components` closes that contracted
    graph — whose size is bounded by the new edge count, not the
    corpus, so it normally stays under the driver cap. The
    result expands back through the old labeling. Contracting a
    connected subgraph preserves connectivity, so the output equals
    ``connected_components(old_edges ∪ new_edges)`` exactly.

    PRECONDITION: ``labels`` is a correct components labeling with
    component == min member id (exactly what connected_components
    emits); then super-node ids are min member ids and the contracted
    closure's min label equals the full graph's min member id.
    Endpoints absent from ``labels`` enter as singletons, so the output
    covers labels ∪ new-edge endpoints."""
    e = new_pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    l_src = labels.select(F.col("id").alias("src"), F.col("component").alias("csrc"))
    l_dst = labels.select(F.col("id").alias("dst"), F.col("component").alias("cdst"))
    super_edges = (e.join(l_src, "src", "left").join(l_dst, "dst", "left")
                   .select(F.coalesce("csrc", "src").alias("id_a"),
                           F.coalesce("cdst", "dst").alias("id_b"))
                   .filter(F.col("id_a") != F.col("id_b")))
    sup = connected_components(super_edges)
    singletons = (e.select(F.col("src").alias("id"))
                  .unionByName(e.select(F.col("dst").alias("id")))
                  .distinct()
                  .join(labels.select("id"), "id", "left_anti")
                  .withColumn("component", F.col("id")))
    all_nodes = labels.unionByName(singletons)
    relabel = sup.select(F.col("id").alias("component"),
                         F.col("component").alias("new_component"))
    return (all_nodes.join(relabel, "component", "left")
            .select("id", F.coalesce("new_component", "component")
                          .alias("component")))
