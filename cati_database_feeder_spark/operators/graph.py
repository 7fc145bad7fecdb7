"""Connected components over a duplicate-pair edge list (extension E6/E7).

The missing last step of every near-dup pipeline: candidate pairs say
"A~B" and "B~C", but a keep-one dedup needs the transitive closure
{A,B,C} with one canonical survivor, the component's minimum id.
:func:`connected_components` has two tiers, split by edge count:

- up to ``_DRIVER_EDGE_CAP`` edges with integral ids, one pull of the
  edge list and a vectorized union-find on the driver
  (:func:`_driver_union_find`);
- above it, large-star/small-star rounds over DataFrame ops (Kiveris
  et al., "Connected Components in MapReduce and Beyond", SoCC'14;
  :func:`_star_components`). They converge in O(log²n) rounds whatever
  the graph diameter, so a pathological chain in a 100 TB pair set
  converges like a dense dup blob. A round's edge list is checkpointed
  and the previous one released, so lineage stays O(1) deep; once a
  round's edge count fits the cap, the driver finishes the closure.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


def _star_components(e: DataFrame, driver_finish: bool,
                     max_rounds: int = 100) -> DataFrame:
    """(id, component) of the (src, dst) edges ``e``, read as undirected,
    by alternating large-star/small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): the
    closure above the driver cap. State is a DIRECTED edge list
    (src > dst, pointing at smaller ids):

    - large-star: for each node u, connect every strictly larger
      neighbor to m = min(Γ(u) ∪ {u});
    - small-star: for each node u over its smaller neighbors Γ⁻(u),
      connect u and all of Γ⁻(u) to their minimum.

    Both steps preserve connectivity and only ever link nodes to
    smaller nodes in their own component; the fixpoint is a forest of
    stars rooted at each component's minimum, detected exactly (edge
    set unchanged: count plus set-difference). A round is a few
    groupBy-min shuffles of the edge list, and the round count is
    O(log²n) worst case, ~log n in practice, whatever the graph
    diameter: an adversarial chain converges like a dense dup blob.

    With ``driver_finish`` (integral ids) the edge list goes to
    :func:`_driver_components` in one ``toArrow()`` pull as soon as its
    count, taken every round anyway, fits ``_DRIVER_EDGE_CAP``. One
    round collapses a dense near-clique blob, the dup-corpus shape that
    produces over-cap edge counts, into a node-count-sized star, so the
    distributed rounds usually stop there. Both finishes label the
    same partition by its minimum.

    The rounds drop self-loops, and with them a node whose only edge is
    a self-loop; the anti-join against the node set (both endpoints of
    ``e``) adds such a node back as its own component. ``e`` is read
    twice (node set and first round), so callers pass it persisted."""
    spark = e.sparkSession
    sc = spark.sparkContext
    nodes = (e.select(F.col("src").alias("id"))
             .unionByName(e.select(F.col("dst").alias("id"))).distinct())
    # localCheckpoint (eager), NOT persist: iterative self-joins double
    # the logical plan every round, and caching short-circuits execution
    # but not Catalyst analysis — without lineage truncation each round's
    # planning time grows exponentially (measured: 4 rounds went
    # 4s/6s/23s/46s with persist, constant ~2s with checkpoint). On a
    # real cluster a reliable checkpoint dir gives the same truncation
    # with executor-loss tolerance.
    cur = (e.filter(F.col("src") != F.col("dst"))
           .select(F.greatest("src", "dst").alias("src"),
                   F.least("src", "dst").alias("dst"))
           .distinct().localCheckpoint(eager=True))
    cur_rdds = _checkpointed_rdd_ids(cur)
    n_edges = cur.count()
    for _ in range(max_rounds):
        if driver_finish and n_edges <= _DRIVER_EDGE_CAP:
            labels = _driver_components(spark, cur.toArrow(),
                                        e.schema[0].dataType)
            break
        large = _large_star(cur)
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
                     and small.subtract(cur).limit(1).count() == 0)
        # the eager checkpoint above fully materialized small, so the
        # previous round's frame is dead — release its storage now,
        # keeping live edge state at <= 2 frames for any round count
        _release_rdds(sc, cur_rdds)
        cur, cur_rdds, n_edges = small, new_rdds, n_new
        if converged:
            labels = (cur.select(F.col("src").alias("id"),
                                 F.col("dst").alias("component"))
                      .unionByName(cur.select(F.col("dst").alias("id"),
                                              F.col("dst").alias("component")))
                      .distinct())
            break
    else:
        _release_rdds(sc, cur_rdds)
        raise RuntimeError(
            f"large-star/small-star did not converge in {max_rounds} "
            f"rounds — at O(log^2 n) convergence this exceeds any "
            f"realizable graph; suspecting corrupt edge input")
    singles = (nodes.join(labels.select("id"), "id", "left_anti")
               .withColumn("component", F.col("id")))
    out = labels.unionByName(singles).localCheckpoint(eager=True)
    _release_rdds(sc, cur_rdds)
    return out


def _driver_union_find(srcs, dsts):
    """Min-label components over driver-local edge arrays, vectorized:
    numpy min-propagation along the edges plus pointer doubling until
    fixpoint. The fixpoint of 'label := min(own label, neighbors'
    labels)' is exactly the component MINIMUM, i.e. the same canonical
    labeling the per-edge union-by-min loop produced and the star
    rounds of :func:`_star_components` converge to — but each pass is
    O(E) numpy kernel work instead of 2·E Python-level find() calls
    (measured ~10× on the 1M-edge cap-sized graphs the bootstrap
    closure pulls to the driver). Node ids map to dense indices via
    np.unique (sorted, so index order == id order and the index minimum
    IS the id minimum). Returns (nodes, labels): int64 arrays, nodes
    ascending."""
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
    for nothing (~64 MB at the default cap). The cap bounds driver
    memory explicitly (4M edges ≈ 64 MB of Arrow longs — the same
    bound class as the session's broadcast threshold; the same
    bounded-driver-state class as IVF centroids and the global-order
    bucket offsets).

    Above the cap, and always for non-integral ids (string or other
    orderable types, which ``_driver_union_find``'s int64 arrays cannot
    hold), the closure is :func:`_star_components`: large-star/
    small-star rounds, O(log²n) of them whatever the graph diameter,
    with the driver finishing integral ids once a round's edge count
    fits the cap. At 100 TB the pair graph exceeds any cap and the star
    rounds are the scale story."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    # persisted: an over-cap pull executes (part of) the upstream pair
    # plan — typically an expensive dedup join — and the star rounds
    # read the edges twice (node set and first round); without the
    # cache each read would pay that plan again
    e = pairs.select(F.col(id_a).alias("src"),
                     F.col(id_b).alias("dst")).persist()
    id_type = e.schema[0].dataType
    integral = isinstance(id_type, (ByteType, ShortType, IntegerType, LongType))
    if integral:
        # the pull is the size probe: under the cap it is the driver's
        # input, so an under-cap closure is one job; a separate count
        # probe would add a job and its AQE stages
        pulled = e.limit(_DRIVER_EDGE_CAP + 1).toArrow()
        if pulled.num_rows <= _DRIVER_EDGE_CAP:
            out = _driver_components(e.sparkSession, pulled, id_type)
            e.unpersist()
            return out
        del pulled
    out = _star_components(e, driver_finish=integral)
    e.unpersist()
    return out


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
