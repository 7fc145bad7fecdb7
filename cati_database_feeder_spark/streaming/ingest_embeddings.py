"""Streaming incremental SEMANTIC dedup ingest — the embedding-family
twin of :mod:`cati_database_feeder_spark.streaming.ingest` (round-8
extension E41's production wiring): a vector stream lands against a
state directory and the corpus keeps a maintained SemDeDup labeling
without ever re-pairing corpus×corpus.

Per batch:

1. exact dedup — vec_ids already in the store are dropped (plus
   within-batch id dedup);
2. semantic near-dup pairs — the surviving delta probes the CELL
   STORE (operators/similarity.incremental_semdedup_pairs): per-row
   centroid assignment of the batch, equi-join on the cell id against
   the cell-partitioned vector store (dynamic partition pruning keeps
   the scan to the batch's own cells — pinned in
   tests/test_dedup_similarity.py), within-delta cell pairs;
3. closure update — new pairs fold into the stored labeling by graph
   contraction (operators/graph.incremental_components), equal to a
   full recompute by construction.

State under ``state_dir`` (same swap/append discipline and the same
single-writer fencing lock as the text-ingest path — see
streaming/ingest.py's module docstring for the crash taxonomy and
concurrency contract):

- ``centroids/`` — (cell, centroid), written ONCE at bootstrap. Cell
  assignment is only stable under fixed centroids, so later batches
  READ the stored quantizer instead of trusting the caller to resend
  the same one; retraining centroids means a new state dir (exactly
  the production contract for an IVF-style layout).
- ``vectors/``  — (vec_id, embedding, codes, proj, cell), append-only
  parquet PARTITIONED BY cell — the write-time layout that makes the
  per-batch probe partition-prunable at 100 TB. ``codes`` is the int8
  quantization of the vector under the PINNED corpus range (below),
  maintained per batch so the quantized IVF serving path
  (operators/similarity.ivf_topk_quantized) reads its coarse tier
  straight off the store at an eighth of the float bytes; ``proj`` is
  the d'=32 JL projection under the PINNED plane matrix (``planes/``),
  so the compressed flat tier (operators/similarity.jl_topk with
  ``corpus_proj=``) likewise reads a narrow stored column with zero
  serve-time projection.
- ``quant/``    — one (lo, hi) row, written ONCE at bootstrap (same
  pinned-at-bootstrap contract as the centroids): every batch
  quantizes against the stored range, out-of-range elements clamp
  (quantize_int8's contract), so the code store is one consistent
  quantization. ``planes/`` (the JL plane matrix) and ``pqbooks/``
  (the PQ codebooks behind the ``pq`` column) are pinned the same way.
- ``labels/``   — (id, component) SemDeDup closure labeling, replaced
  per batch via the atomic directory swap.
- ``_LAYOUT``   — the layout stamp (streaming/ingest.py), written by
  bootstrap before the vectors commit marker; every mutating entry
  and serving reader checks it first, so a state dir of another
  layout or kind is refused, never migrated in place.

The corpus text-ingest path and this one share no state; run each on
its own ``state_dir``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cati_database_feeder_spark.operators.graph import connected_components
from cati_database_feeder_spark.functions import vectors as V
from cati_database_feeder_spark.session import local_frame
from cati_database_feeder_spark.operators.similarity import (
    assign_cells, incremental_semdedup_pairs, semdedup_pairs)
from cati_database_feeder_spark.streaming.ingest import (
    _DELETE_PENDING, StateLockError, _append_metrics, _boot_lap,
    _check_bootstrap_kind, _check_layout, _check_no_pending_delete,
    _commit_batch, _pin_dedup, _recover_swaps, _state_lock, _swap_write,
    _write_layout, live_store, store_exists)

_EMB_STORES = ("labels", "vectors", "centroids", "metrics", "deleted",
               "quant", "planes", "pqbooks")
# The embeddings layout stamp: the stores' pinned parameters
# (centroids, quantizer range, planes, codebooks) are data in their own
# stores, so the stamp pins the kind alone.
_EMB_LAYOUT = {"kind": "embeddings"}


# Per-sub-store wall seconds of the LAST bootstrap in this process —
# the embeddings twin of streaming/ingest.py:BOOT_PHASE_SECONDS;
# bench.py reads it to split "boot:emb_serving_store" per store.
BOOT_PHASE_SECONDS: dict[str, float] = {}

# defaults for the JL projected-vector store (E59's serving tier off
# maintained state): projection width and the seed of the Gaussian
# plane matrix. Pinned at bootstrap like the centroids/quant range —
# a store mixing projections from two matrices is meaningless.
JL_PROJ_DIM = 32
JL_PROJ_SEED = 11


def _swap_write_by_cell(frame, vec_dir: str) -> None:
    """Cell-partitioned replacement of the vector store through the
    SAME epoch+pointer commit as _swap_write (one copy of the
    crash-sensitive sequence — review finding): only the physical
    write differs (partitionBy("cell") so cell-pruned serving reads
    stay pruned)."""
    # repartition on cell first (same argument as ingest._bucketed_writer):
    # partitionBy alone splits EVERY task's output by value — with the
    # batch compute now fanned out over the session's cores that is
    # tasks x cells small files; hashed on cell, each cell's rows land
    # in one task -> one file per cell dir
    _swap_write(frame, vec_dir,
                writer=lambda df, path: df.repartition("cell")
                .write.mode("overwrite")
                .partitionBy("cell").parquet(path))


def ingest_embeddings_batch(spark, batch: DataFrame, state_dir: str,
                            centroid_rows=None, threshold: float = 0.9,
                            by: str = "ip", id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            batch_id: int | None = None) -> None:
    """Process one embedding batch against the state dir (module
    docstring). ``centroid_rows`` is REQUIRED on the bootstrap call
    and ignored afterwards (the stored quantizer wins — assignments
    must stay stable for the append-only vector store to stay
    correct). Idempotent under at-least-once redelivery: the exact
    dedup anti-join empties a replayed batch, and a batch with no new
    pair leaves the labels untouched. Holds the state dir's
    fencing lock for the duration. Appends the same per-batch metrics
    ledger as the text path (streaming/ingest.py:ingest_batch)."""
    with _state_lock(state_dir, "ingest_embeddings_batch"):
        _ingest_embeddings_locked(spark, batch, state_dir, centroid_rows,
                                  threshold, by, id_col, vec_col, batch_id)


def _load_centroids(spark, state_dir: str):
    rows = (spark.read.parquet(live_store(os.path.join(state_dir, "centroids")))
            .collect())
    return sorted((int(r["cell"]), list(r["centroid"])) for r in rows)


def _corpus_range(frame, vec_col: str = "embedding") -> tuple[float, float]:
    """min/max embedding element of ``frame`` — the scalar-quantizer
    range. Empty frame (or all-null) → (0.0, 0.0): quantize_int8's
    documented degenerate-range convention (all-zero codes, exact
    round trip)."""
    r = (frame.select(F.explode(F.col(vec_col)).alias("x"))
         .agg(F.min(F.col("x").cast("double")).alias("lo"),
              F.max(F.col("x").cast("double")).alias("hi")).collect()[0])
    if r["lo"] is None:
        return 0.0, 0.0
    return float(r["lo"]), float(r["hi"])


def _load_quant(spark, state_dir: str) -> tuple[float, float]:
    r = spark.read.parquet(live_store(os.path.join(state_dir, "quant"))).collect()[0]
    return float(r["lo"]), float(r["hi"])


def _with_codes(frame, lo: float, hi: float):
    return frame.withColumn("codes", V.quantize_int8(
        F.col("embedding"), F.lit(float(lo)), F.lit(float(hi))))


def _load_planes(spark, state_dir: str) -> list[list[float]]:
    rows = (spark.read.parquet(live_store(os.path.join(state_dir, "planes")))
            .collect())
    return [list(r["plane"]) for r in
            sorted(rows, key=lambda r: int(r["idx"]))]


def _with_proj(frame, planes: list[list[float]]):
    from cati_database_feeder_spark.operators.similarity import jl_project
    return jl_project(frame, "embedding", planes, out_col="proj")


def _default_planes(dim: int) -> list[list[float]]:
    from cati_database_feeder_spark.operators.similarity import (
        gaussian_hyperplanes)
    return gaussian_hyperplanes(dim, min(JL_PROJ_DIM, dim), seed=JL_PROJ_SEED)


def _pq_m_for_dim(dim: int) -> int:
    """Largest subspace count in (8, 4, 2, 1) dividing the vector
    width — PQ requires equal-width subspaces, and m=1 (one codebook
    over the whole vector = plain vector quantization) is the always-
    valid floor."""
    for m in (8, 4, 2, 1):
        if dim % m == 0:
            return m
    raise AssertionError("unreachable: every dim is divisible by 1")


def _pqbooks_from_cents(cents) -> list[list[list[float]]]:
    """PQ codebooks derived from the bootstrap centroid vectors (their
    subspace slices), pinned in ``pqbooks/`` like the plane matrix. A
    production deployment trains its own
    (operators/similarity.py:train_pq_codebooks) and pins the result
    the same way."""
    from cati_database_feeder_spark.operators.similarity import (
        pq_codebooks_from_seeds)
    seeds = [v for _, v in cents]
    return pq_codebooks_from_seeds(seeds, _pq_m_for_dim(len(seeds[0])))


def _pqbooks_frame(spark, books):
    return local_frame(
        spark, [(s, j, code) for s, sub in enumerate(books)
                for j, code in enumerate(sub)],
        "s int, j int, code array<double>")


def _load_pqbooks(spark, state_dir: str):
    rows = (spark.read.parquet(live_store(os.path.join(state_dir, "pqbooks")))
            .collect())
    acc: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        acc.setdefault(int(r["s"]), {})[int(r["j"])] = list(r["code"])
    return [[acc[s][j] for j in sorted(acc[s])] for s in sorted(acc)]


def _with_pq(frame, books):
    from cati_database_feeder_spark.operators.similarity import pq_encode
    return pq_encode(frame, books, vec_col="embedding", out_col="pq")


def _ingest_embeddings_locked(spark, batch, state_dir, centroid_rows,
                              threshold, by, id_col, vec_col,
                              batch_id=None) -> None:
    _check_no_pending_delete(state_dir, "ingest_embeddings_batch")
    _check_no_pending_migration(state_dir, "ingest_embeddings_batch")
    vec_dir = os.path.join(state_dir, "vectors")
    bootstrap = not store_exists(vec_dir)
    if bootstrap:
        _check_bootstrap_kind(state_dir, _EMB_LAYOUT["kind"],
                              "ingest_embeddings_batch")
    else:
        _check_layout(state_dir, _EMB_LAYOUT, "ingest_embeddings_batch")
    _recover_swaps(state_dir, _EMB_STORES)
    lab_dir = os.path.join(state_dir, "labels")
    cen_dir = os.path.join(state_dir, "centroids")
    batch = _pin_dedup(batch.select(F.col(id_col).alias("vec_id"),
                                    F.col(vec_col).alias("embedding")),
                       "vec_id")

    if bootstrap:
        # bootstrap — the vectors write goes LAST as the commit marker
        # (same argument as the text path: a retried partial bootstrap
        # must re-enter this branch, not probe half-built state)
        if not centroid_rows:
            raise ValueError(
                "ingest_embeddings_batch: centroid_rows is required on "
                "the bootstrap call (cell assignment must be pinned "
                "before any vector is stored)")
        import time as _time
        BOOT_PHASE_SECONDS.clear()
        _marks = [_time.time()]
        cents = [(int(c), [float(x) for x in v]) for c, v in centroid_rows]
        pairs = semdedup_pairs(batch, cents, threshold=threshold,
                               by=by).persist()
        # The four pinned-parameter stores (centroids, quantizer
        # range, JL planes, PQ codebooks) depend only on cents/batch —
        # never on the closure — so their tiny writes run as
        # concurrent jobs from a small pool while the main thread
        # computes the label closure (guide §2.6: overlap independent
        # jobs). Commit-marker discipline unchanged: every future is
        # joined before the metrics row and the vectors write, so the
        # marker still lands strictly last and a crash re-enters this
        # branch and overwrites all four with identical values.
        # - quantizer RANGE: later batches quantize against the stored
        #   [lo, hi] (out-of-range elements clamp — quantize_int8's
        #   contract), so the code store stays one consistent
        #   quantization.
        # - JL planes: dim comes from the centroids — required at
        #   bootstrap and dimension-equal to the vectors by
        #   assignment; the seeded matrix is identical on re-entry.
        # - PQ codebooks: derived from the pinned centroid vectors'
        #   subspace slices, identical on re-entry.
        from concurrent.futures import ThreadPoolExecutor
        pool = ThreadPoolExecutor(max_workers=3)
        lo, hi = _corpus_range(batch)
        planes = _default_planes(len(cents[0][1]))
        books = _pqbooks_from_cents(cents)
        param_futs = [
            pool.submit(_swap_write, local_frame(
                spark, cents, "cell int, centroid array<double>")
                .coalesce(1), cen_dir),
            pool.submit(_swap_write, local_frame(
                spark, [(lo, hi)], "lo double, hi double")
                .coalesce(1), os.path.join(state_dir, "quant")),
            pool.submit(_swap_write, local_frame(
                spark, [(i, p) for i, p in enumerate(planes)],
                "idx int, plane array<double>").coalesce(1),
                os.path.join(state_dir, "planes")),
            pool.submit(_swap_write, _pqbooks_frame(spark, books)
                        .coalesce(1), os.path.join(state_dir, "pqbooks")),
        ]
        labels = connected_components(pairs.select("id_a", "id_b"))
        _swap_write(labels, lab_dir)
        _boot_lap(BOOT_PHASE_SECONDS, _marks, "closure")
        for fut in param_futs:
            fut.result()
        pool.shutdown()
        _boot_lap(BOOT_PHASE_SECONDS, _marks, "params")
        # metrics BEFORE the vectors commit marker (the text path's
        # argument, streaming/ingest.py): crash in between → the replay
        # re-enters bootstrap and appends a duplicate batch_id row
        # (at-least-once) instead of losing the row to the pure-replay
        # early return forever
        n = batch.count()
        _append_metrics(spark, state_dir, batch_id, n, n,
                        pairs.count(), False, True)
        _write_layout(state_dir, _EMB_LAYOUT)
        _swap_write_by_cell(_with_pq(_with_proj(_with_codes(
            assign_cells(batch, cents, "embedding", by), lo, hi), planes),
            books), vec_dir)
        _boot_lap(BOOT_PHASE_SECONDS, _marks, "vectors")
        pairs.unpersist()
        return

    cents = _load_centroids(spark, state_dir)
    lo, hi = _load_quant(spark, state_dir)
    planes = _load_planes(spark, state_dir)
    books = _load_pqbooks(spark, state_dir)
    store = spark.read.parquet(live_store(vec_dir))
    delta = batch.join(store.select("vec_id"), "vec_id", "left_anti")
    deleted_dir = os.path.join(state_dir, "deleted")
    if store_exists(deleted_dir):
        # tombstones win: a redelivered DELETED vector must not
        # re-enter the store (delete_embeddings) — the store anti-join
        # alone would re-admit it once its row is gone
        delta = delta.join(spark.read.parquet(live_store(deleted_dir))
                           .select("vec_id"), "vec_id", "left_anti")
    _commit_batch(
        spark, state_dir, batch_id, batch, delta,
        incremental_semdedup_pairs(delta, store, cents,
                                   threshold=threshold, by=by),
        lambda: (_with_pq(_with_proj(_with_codes(
            assign_cells(delta, cents, "embedding", by), lo, hi),
            planes), books)
            .write.partitionBy("cell").mode("append").parquet(live_store(vec_dir))))


def compact_embeddings_state(spark, state_dir: str,
                             target_files_per_cell: int = 1) -> None:
    """Maintenance for the append-only vector store: every batch adds
    one file per touched cell partition, and at production cadence the
    per-cell file count is what degrades the DPP-pruned probe (open
    cost per file, tiny row groups). Rewrites vectors/ with
    ``target_files_per_cell`` balanced files per cell via the same
    write-to-temp + atomic-rename swap as the text path, preserving
    the cell partitioning. Takes the same fencing lock — compacting
    against a live ingest raises :class:`StateLockError` instead of
    corrupting the store."""
    with _state_lock(state_dir, "compact_embeddings_state"):
        _check_no_pending_delete(state_dir, "compact_embeddings_state")
        _check_no_pending_migration(state_dir, "compact_embeddings_state")
        vec_dir = os.path.join(state_dir, "vectors")
        if not store_exists(vec_dir):
            return
        _check_layout(state_dir, _EMB_LAYOUT, "compact_embeddings_state")
        _recover_swaps(state_dir, _EMB_STORES)
        vectors = spark.read.parquet(live_store(vec_dir))
        if target_files_per_cell <= 1:
            # hash by cell: every cell lands in exactly one task → one
            # file per cell partition
            vectors = vectors.repartition("cell")
        else:
            vectors = (vectors
                       .withColumn("__s", F.pmod(F.hash("vec_id"),
                                                 F.lit(target_files_per_cell)))
                       .repartition("cell", "__s").drop("__s"))
        _swap_write_by_cell(vectors, vec_dir)


def delete_embeddings(spark, state_dir: str, vec_ids,
                      threshold: float = 0.9, by: str = "ip") -> None:
    """Takedown/retraction for the embedding stores — the semantic
    twin of :func:`streaming.ingest.delete_docs` (round-8 verdict
    item 2), structurally SIMPLER because SemDeDup edges live within
    one cell and cell assignment is a pure per-row function of the
    stored vector: the surviving edges of any component are exactly
    ``semdedup_pairs`` over the component's surviving member vectors,
    so no edge store is needed — labels repair re-pairs ONLY the
    touched components' survivors (bounded by component size, never
    the corpus).

    Under the fencing lock: append the vec_ids to the ``deleted/``
    tombstone ledger (redelivered deleted vectors are dropped by the
    ingest delta filter forever); recompute the labels of components
    containing a tombstoned id from their surviving vectors; rewrite
    ``vectors/`` without the tombstoned rows (cell partitioning
    preserved). Centroids are untouched — the quantizer stays pinned.

    Crash safety mirrors delete_docs: ``_DELETE_PENDING`` written
    first and cleared last, every mutating op refuses while it exists,
    and the deletion re-applies the FULL tombstone set so
    ``delete_embeddings(spark, state_dir, [])`` completes an
    interrupted run."""
    with _state_lock(state_dir, "delete_embeddings"):
        _delete_embeddings_locked(spark, state_dir, vec_ids, threshold,
                                  by)


def _delete_embeddings_locked(spark, state_dir: str, vec_ids,
                              threshold: float, by: str) -> None:
    _check_no_pending_migration(state_dir, "delete_embeddings")
    vec_dir = os.path.join(state_dir, "vectors")
    if not store_exists(vec_dir):
        raise ValueError(
            f"delete_embeddings: {state_dir!r} has no vector store — "
            f"bootstrap with ingest_embeddings_batch first")
    _check_layout(state_dir, _EMB_LAYOUT, "delete_embeddings")
    _recover_swaps(state_dir, _EMB_STORES)
    deleted_dir = os.path.join(state_dir, "deleted")
    lab_dir = os.path.join(state_dir, "labels")
    marker = os.path.join(state_dir, _DELETE_PENDING)
    with open(marker, "w") as fh:
        fh.write("delete_embeddings in progress")
    try:
        store = spark.read.parquet(live_store(vec_dir))
        if isinstance(vec_ids, DataFrame):
            dd = vec_ids.select(
                F.col(vec_ids.columns[0]).alias("vec_id")).distinct()
        else:
            # set() first: duplicate ids in one call must not append
            # duplicate tombstone rows (same rule as delete_docs)
            ids = sorted(set(vec_ids))
            schema = store.select("vec_id").schema
            dd = local_frame(spark, [(i,) for i in ids], schema)
        if store_exists(deleted_dir):
            (dd.join(spark.read.parquet(live_store(deleted_dir)), "vec_id",
                     "left_anti")
             .write.mode("append").parquet(live_store(deleted_dir)))
        else:
            _swap_write(dd, deleted_dir)
        tomb = spark.read.parquet(live_store(deleted_dir)).select("vec_id")

        cents = _load_centroids(spark, state_dir)
        labels = spark.read.parquet(live_store(lab_dir))
        aff_c = (labels.join(tomb.withColumnRenamed("vec_id", "id"),
                             "id", "left_semi")
                 .select("component").distinct())
        aff_surv = (labels.join(aff_c, "component", "left_semi")
                    .select("id")
                    .join(tomb.withColumnRenamed("vec_id", "id"),
                          "id", "left_anti")
                    .withColumnRenamed("id", "vec_id")
                    .join(store, "vec_id", "left_semi"))
        aff_vectors = store.join(aff_surv, "vec_id", "left_semi") \
            .select("vec_id", "embedding")
        repaired = connected_components(
            semdedup_pairs(aff_vectors, cents, threshold=threshold,
                           by=by).select("id_a", "id_b"))
        new_labels = (labels.join(aff_c, "component", "left_anti")
                      .unionByName(repaired))
        # labels first (reads the OLD vector store for the repair —
        # the tombstone anti-join keeps deleted vectors out of the
        # re-pairing even though their rows are still present), then
        # the vector rewrite, preserving the cell partitioning
        _swap_write(new_labels, lab_dir)
        _swap_write_by_cell(
            store.join(tomb, "vec_id", "left_anti").repartition("cell"),
            vec_dir)
    except BaseException:
        raise  # marker stays: mutating ops refuse until the retry
    else:
        os.unlink(marker)


def quantized_serving_frames(spark, state_dir: str):
    """The :func:`operators.similarity.ivf_topk_quantized` inputs
    straight off the maintained store:
    ``(codes_frame, float_frame, centroid_rows, lo, hi)`` — the coarse
    tier scans only (vec_id, codes, cell), floats are fetched by id
    for the rerank survivors. Read-only: no lock taken; a state dir
    without this code's layout stamp is refused."""
    _check_no_pending_migration(state_dir, "quantized_serving_frames")
    _check_layout(state_dir, _EMB_LAYOUT, "quantized_serving_frames")
    store = spark.read.parquet(live_store(os.path.join(state_dir, "vectors")))
    lo, hi = _load_quant(spark, state_dir)
    return (store.select("vec_id", "codes", "cell"),
            store.select("vec_id", "embedding"),
            _load_centroids(spark, state_dir), lo, hi)


def projected_serving_frames(spark, state_dir: str):
    """The :func:`operators.similarity.jl_topk` corpus inputs straight
    off the maintained store: ``(proj_frame, float_frame, planes)`` —
    the coarse tier scans only (vec_id, proj, cell) (d'=32 doubles
    instead of the full embedding width; 30-100× narrower on
    production 1k-4k-dim embeddings), floats fetched by id for the
    exact rerank. Read-only: no lock taken; a state dir without this
    code's layout stamp is refused."""
    _check_no_pending_migration(state_dir, "projected_serving_frames")
    _check_layout(state_dir, _EMB_LAYOUT, "projected_serving_frames")
    store = spark.read.parquet(live_store(os.path.join(state_dir, "vectors")))
    return (store.select("vec_id", "proj", "cell"),
            store.select("vec_id", "embedding"),
            _load_planes(spark, state_dir))


def pq_serving_frames(spark, state_dir: str):
    """The :func:`operators.similarity.pq_adc_topk` /
    :func:`operators.similarity.ivfpq_topk` inputs straight off the
    maintained store: ``(pq_frame, float_frame, codebooks,
    centroid_rows)`` — the ADC coarse tier scans only (vec_id, pq,
    cell), the m-byte code column written at ingest under the
    bootstrap-pinned codebooks (32-512× fewer bytes than the float
    column at production dims), floats fetched by id for the exact
    rerank. Read-only: no lock taken; a state dir without this code's
    layout stamp is refused."""
    _check_no_pending_migration(state_dir, "pq_serving_frames")
    _check_layout(state_dir, _EMB_LAYOUT, "pq_serving_frames")
    store = spark.read.parquet(live_store(os.path.join(state_dir, "vectors")))
    return (store.select("vec_id", "pq", "cell"),
            store.select("vec_id", "embedding"),
            _load_pqbooks(spark, state_dir),
            _load_centroids(spark, state_dir))


def start_embedding_ingest(stream: DataFrame, state_dir: str,
                           checkpoint_dir: str, centroid_rows,
                           threshold: float = 0.9, by: str = "ip",
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           available_now: bool = True):
    """Attach :func:`ingest_embeddings_batch` to a vector stream via
    ``foreachBatch`` and start it. Returns the StreamingQuery; state
    appears under ``state_dir`` (the stores of ``_EMB_STORES`` and the
    ``_LAYOUT`` stamp)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        ingest_embeddings_batch(batch_df.sparkSession, batch_df, state_dir,
                                centroid_rows=centroid_rows,
                                threshold=threshold, by=by,
                                id_col=id_col, vec_col=vec_col,
                                batch_id=batch_id)

    writer = (stream.writeStream.foreachBatch(_process)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------
# Quantizer-drift maintenance (extension E79): retrain + migrate
# ---------------------------------------------------------------------

_MIGRATE_PENDING = "_MIGRATE_PENDING"
_CENTS_NEXT = "centroids__next"


def _check_no_pending_migration(state_dir: str, op: str) -> None:
    """A crash inside :func:`retrain_embeddings_centroids` can leave
    vectors/ partitioned under one centroid epoch and centroids/
    holding the other — each store readable alone, WRONG together
    (probes would assign queries under one epoch and join partitions
    of the other). The marker turns that window into a descriptive
    refusal, the delete-fence pattern applied to migration."""
    if os.path.exists(os.path.join(state_dir, _MIGRATE_PENDING)):
        raise StateLockError(
            f"state dir {state_dir!r} has an interrupted centroid "
            f"migration (marker {_MIGRATE_PENDING}): vectors/ and "
            f"centroids/ may disagree on the cell epoch. Re-run "
            f"retrain_embeddings_centroids(spark, state_dir) to "
            f"complete it before {op}.")


def _complete_migration(spark, state_dir: str, by: str) -> None:
    """Finish an in-flight migration from the staged next-centroids:
    idempotent (reassignment under the staged centroids is
    deterministic, and both stores are replaced by epoch swaps whose
    uncommitted epochs _recover_swaps drops), so any crash inside
    re-enters here on the retry."""
    vec_dir = os.path.join(state_dir, "vectors")
    cen_dir = os.path.join(state_dir, "centroids")
    next_dir = os.path.join(state_dir, _CENTS_NEXT)
    marker = os.path.join(state_dir, _MIGRATE_PENDING)
    if not store_exists(next_dir):
        # marker without staging: the migration never got past the
        # marker write — nothing moved, just clear it
        if os.path.exists(marker):
            os.unlink(marker)
        return
    cents = sorted((int(r["cell"]), list(r["centroid"])) for r in
                   spark.read.parquet(live_store(next_dir)).collect())
    store = spark.read.parquet(live_store(vec_dir))
    keep = [c for c in store.columns if c != "cell"]
    _swap_write_by_cell(
        assign_cells(store.select(*keep), cents, "embedding", by),
        vec_dir)
    _swap_write(spark.read.parquet(live_store(next_dir)).coalesce(1), cen_dir)
    os.unlink(marker)
    import shutil
    shutil.rmtree(next_dir, ignore_errors=True)


def retrain_embeddings_centroids(spark, state_dir: str,
                                 n_cells: int | None = None,
                                 iterations: int = 2,
                                 max_share: float | None = None,
                                 by: str = "ip") -> None:
    """Quantizer-drift maintenance (extension E79): retrain the IVF
    coarse quantizer from the STORED corpus and migrate the vector
    store to the new cells — the operational move when the cell
    profile (E74) / occupancy diagnostic (E47) says the
    bootstrap-pinned centroids no longer fit the data the store has
    accumulated. ``max_share`` forwards to the occupancy-aware
    trainer (E49), so the retrain can be the skew FIX, not just a
    re-fit.

    Migrates: centroids/ and the cell partitioning of vectors/.
    INVARIANT by design: vec_id, embedding, codes (the int8 quantizer
    range is corpus-global — orthogonal to cells), proj (plane matrix
    pinned — orthogonal), labels/ (dedup decisions are HISTORY, not a
    cell function: re-celling changes which pairs future batches
    consider, never decisions already taken), deleted/, metrics/.
    The serving twins (quantized / JL) therefore serve IDENTICAL
    results across a migration — pinned in pytest — while IVF probes
    see the new, better-balanced cells.

    Crash safety: next-centroids are staged by a plain overwrite of
    ``centroids__next/``, which is safe because the
    ``_MIGRATE_PENDING`` marker is written only after it: a crash
    mid-staging leaves no marker, so nothing reads the partial staging
    and the next retrain overwrites it. The marker is then held across
    the two store swaps; every embedding op refuses while it exists,
    and re-running this function completes the migration idempotently
    from the staging (the delete_docs fence pattern). Holds the state
    dir's fencing lock; refuses behind a pending delete."""
    from cati_database_feeder_spark.operators.similarity import (
        train_ivf_centroids)
    with _state_lock(state_dir, "retrain_embeddings_centroids"):
        _check_no_pending_delete(state_dir, "retrain_embeddings_centroids")
        vec_dir = os.path.join(state_dir, "vectors")
        if not store_exists(vec_dir):
            raise ValueError(
                f"retrain_embeddings_centroids: {state_dir!r} has no "
                f"vector store — bootstrap with "
                f"ingest_embeddings_batch first")
        _check_layout(state_dir, _EMB_LAYOUT,
                      "retrain_embeddings_centroids")
        _recover_swaps(state_dir, _EMB_STORES + (_CENTS_NEXT,))
        marker = os.path.join(state_dir, _MIGRATE_PENDING)
        if os.path.exists(marker):
            _complete_migration(spark, state_dir, by)
            return
        old = _load_centroids(spark, state_dir)
        k = n_cells or len(old)
        corpus = spark.read.parquet(live_store(vec_dir)).select("vec_id", "embedding")
        cents = train_ivf_centroids(corpus, n_cells=k,
                                    iterations=iterations,
                                    max_share=max_share)
        local_frame(
            spark, [(int(c), [float(x) for x in v]) for c, v in cents],
            "cell int, centroid array<double>") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(state_dir, _CENTS_NEXT))
        with open(marker, "w") as fh:
            fh.write("retrain_embeddings_centroids in progress")
        _complete_migration(spark, state_dir, by)
