"""End-to-end incremental-ingest pipeline: file stream → streaming
ingest dedup → incremental near-dup pairs → incremental component
closure, asserted equal to a from-scratch batch recompute.

Round 5 verified each layer piecewise (streaming anti-join vs its batch
twin, incremental pairs vs restricted full pairs, incremental closure
vs full closure); this test pins the COMPOSED contract — the
snapshot/labeling handoff between layers:

- the corpus key snapshot the stream dedups against is the same corpus
  the pair delta probes,
- the base labeling handed to incremental_components is exactly what
  connected_components emitted for the prior corpus.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from cati_database_feeder_spark.catalog import load_table
from cati_database_feeder_spark.operators import dedup
from cati_database_feeder_spark.operators.graph import (
    connected_components, incremental_components)
from cati_database_feeder_spark.streaming import events as stream_ops
from cati_database_feeder_spark.streaming.ingest import (
    live_store as L, store_exists)


def test_stream_ingest_to_incremental_closure_equals_full_recompute(
        spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    # the incoming batch: every delta doc PLUS replays of corpus docs —
    # the replays must die at the streaming dedup, nothing downstream
    # may ever see them
    incoming = docs.filter((F.col("doc_id") % 10 == 0)
                           | (F.col("doc_id") % 7 == 0))

    # ---- layer 1: stream the batch in, dedup against the corpus keys
    data_dir = str(tmp_path / "ingest_in")
    incoming.write.parquet(data_dir)
    stream = spark.readStream.schema(incoming.schema).parquet(data_dir)
    q = (stream_ops.ingest_dedup_against_corpus(
            stream, corpus.select("doc_id"), on="doc_id")
         .writeStream.format("memory").queryName("ingested")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    survivors = spark.table("ingested").select("doc_id", "text")
    q.stop()
    shutil.rmtree(str(tmp_path / "ckpt"), ignore_errors=True)
    n_surv = survivors.count()
    # exactly the true delta survived (replayed corpus ids dropped)
    assert n_surv == docs.filter(F.col("doc_id") % 10 == 0).count()
    delta = spark.createDataFrame(survivors.collect(), survivors.schema)

    # ---- layer 2: near-dup pairs of the surviving batch vs the corpus
    new_pairs = dedup.incremental_near_dup_pairs(
        corpus, delta, threshold=0.7)

    # ---- layer 3: fold the new pairs into the prior corpus labeling
    base_labels = connected_components(
        dedup.near_dup_pairs(corpus, threshold=0.7))
    got = {(r["id"], r["component"]) for r in
           incremental_components(base_labels, new_pairs).collect()}

    # ---- the whole pipeline equals a from-scratch recompute
    want = {(r["id"], r["component"]) for r in
            connected_components(
                dedup.near_dup_pairs(corpus.unionByName(delta),
                                     threshold=0.7)).collect()}
    # node sets coincide: base labels = corpus-pair endpoints,
    # singletons = new-edge endpoints, and the full run's endpoints are
    # exactly their union (corpus-internal pairs are corpus-deterministic)
    assert len(want) > 0
    assert got == want


def test_ingest_batch_api_with_compaction(spark, tmp_path):
    """The batch-level API (ingest_batch) + compact_state under STABLE
    group ids: doc 1 (batch 2) duplicates doc 10's token set with a
    smaller id — under the membership store the group's rep stays doc
    10 (a rep never changes after its group is created), so no banding
    row ever goes stale, the members store maps 1 → 10, compaction is
    a rewrite-not-a-prune, and the final labeling still equals a full
    recompute (rep choice is invisible in the pair/label output). A
    later delete of rep 10 promotes the group's gid, and a compaction
    after it again leaves the banding rows unchanged."""
    from cati_database_feeder_spark.streaming.ingest import (
        compact_state, delete_docs, ingest_batch)

    rows = [
        (10, "alpha beta gamma delta"),
        (11, "alpha beta gamma delta epsilon"),
        (40, "foo bar baz qux"),
        (1, "delta gamma beta alpha"),     # batch 2: same set as 10
        (41, "foo bar baz qux quux"),
        (70, "completely different text entirely"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    state = str(tmp_path / "state")
    ingest_batch(spark, df.filter(F.col("doc_id").isin(10, 11, 40)), state)
    ingest_batch(spark, df.filter(F.col("doc_id").isin(1, 41)), state)

    members = spark.read.parquet(L(os.path.join(state, "members")))
    assert [r["gid"] for r in
            members.filter(F.col("id") == 1).collect()] == [10]
    buckets_dir = os.path.join(state, "buckets")
    before = sorted(map(tuple,
                        spark.read.parquet(L(buckets_dir)).collect()))
    # rep stability: doc 10 keeps its band rows, doc 1 never gets any
    assert any(r[0] == 10 for r in before)
    assert not any(r[0] == 1 for r in before)
    compact_state(spark, state, target_files=2)
    after = sorted(map(tuple,
                       spark.read.parquet(L(buckets_dir)).collect()))
    assert after == before

    # doc 70 shares nothing with the corpus → a QUIET batch: the
    # closure is unchanged by construction and ingest_batch skips the
    # relabel+swap entirely (same files on disk afterwards)
    labels_dir = os.path.join(state, "labels")
    before_files = sorted(os.listdir(L(labels_dir)))
    ingest_batch(spark, df.filter(F.col("doc_id") == 70), state)
    assert sorted(os.listdir(L(labels_dir))) == before_files
    got = {(r["id"], r["component"]) for r in
           spark.read.parquet(L(labels_dir)).collect()}
    want = {(r["id"], r["component"]) for r in
            connected_components(
                dedup.near_dup_pairs(df, threshold=0.7)
                .select("id_a", "id_b")).collect()}
    assert len(want) > 0
    assert got == want

    # deleting rep 10 promotes its group's gid to 1, relabeling the
    # group's band rows; every band row still belongs to a current rep,
    # so compaction leaves the banding row set exactly as it was
    delete_docs(spark, state, [10])
    promoted = sorted(map(tuple,
                          spark.read.parquet(L(buckets_dir)).collect()))
    assert any(r[0] == 1 for r in promoted)
    assert not any(r[0] == 10 for r in promoted)
    rep_gids = {r["gid"] for r in spark.read.parquet(
        L(os.path.join(state, "reps"))).collect()}
    assert {r[0] for r in promoted} <= rep_gids
    compact_state(spark, state, target_files=2)
    assert sorted(map(tuple, spark.read.parquet(
        L(buckets_dir)).collect())) == promoted


def test_ingest_batch_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: redelivering a batch — including
    a bootstrap retried from a partial commit where corpus/ (the commit
    marker, written last) is missing — must leave the state byte-stable:
    the labels relabel is a fixed point, the buckets append finds
    nothing missing, the corpus anti-join drops everything."""
    import shutil as sh

    from cati_database_feeder_spark.streaming.ingest import ingest_batch

    rows = [(10, "alpha beta gamma delta"), (11, "alpha beta gamma delta x"),
            (40, "foo bar baz qux"), (41, "foo bar baz qux quux")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    b1 = df.filter(F.col("doc_id") < 40)
    b2 = df.filter(F.col("doc_id") >= 40)
    state = str(tmp_path / "state")

    def snapshot():
        lab = {(r["id"], r["component"]) for r in
               spark.read.parquet(L(os.path.join(state, "labels"))).collect()}
        cor = sorted(r["doc_id"] for r in
                     spark.read.parquet(L(os.path.join(state, "corpus"))).collect())
        bkt = sorted((r["id"], r["band"], r["bucket"]) for r in
                     spark.read.parquet(L(os.path.join(state, "buckets"))).collect())
        mem = sorted((r["id"], r["gid"]) for r in
                     spark.read.parquet(L(os.path.join(state, "members"))).collect())
        rep = sorted((r["gid"], r["key"]) for r in
                     spark.read.parquet(L(os.path.join(state, "reps"))).collect())
        return lab, cor, bkt, mem, rep

    ingest_batch(spark, b1, state)
    # crash-retry of the bootstrap: corpus/ (committed last) missing,
    # labels/ and buckets/ already committed → must re-bootstrap
    # fully. Under the epoch scheme "missing" = the pointer never
    # flipped: drop every physical artifact of the corpus store.
    s1 = snapshot()
    for name in os.listdir(state):
        if name.startswith("corpus"):   # corpus.ptr, corpus__e*
            path = os.path.join(state, name)
            if os.path.isdir(path):
                sh.rmtree(path)
            else:
                os.unlink(path)
    ingest_batch(spark, b1, state)
    assert snapshot() == s1
    # straight redelivery of a completed bootstrap batch
    ingest_batch(spark, b1, state)
    assert snapshot() == s1

    ingest_batch(spark, b2, state)
    s2 = snapshot()
    assert s2 != s1
    # redelivery of a completed incremental batch
    ingest_batch(spark, b2, state)
    assert snapshot() == s2


def test_store_backed_pairs_equal_reference_operator(spark, sf_dir):
    """incremental_near_dup_pairs_from_store (reads only the derived
    stores) must emit exactly the full near_dup_pairs over corpus ∪
    delta restricted to pairs touching the delta — same Jaccards — on
    real documents with exact-dup clusters on both sides of the
    corpus/delta split."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)

    memb = dedup.tokset_groups(corpus)
    members = memb.select("id", "gid")
    reps = (memb.filter(F.col("id") == F.col("gid"))
            .select("gid", "toks",
                    dedup.tokset_key(F.col("toks")).alias("key")))
    buckets = dedup.rep_band_buckets(memb)

    got_df, dmemb, new_reps = dedup.incremental_near_dup_pairs_from_store(
        delta, members, reps, buckets, threshold=0.7)
    got = {(r["id_a"], r["id_b"], r["jaccard"]) for r in got_df.collect()}
    want = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
            dedup.near_dup_pairs(docs, threshold=0.7).collect()
            if r["id_a"] % 10 == 0 or r["id_b"] % 10 == 0}
    assert len(want) > 0
    assert got == want
    # stable gids: delta docs matching a stored set keep the stored gid
    joined = dmemb.filter(F.col("known")).join(
        reps.select("gid", F.col("key").alias("k2")), "gid")
    assert joined.filter(F.col("key") != F.col("k2")).count() == 0


def _file_scans(plan) -> list[tuple[str, list[str]]]:
    """(root paths, read fields) of every FileScan under a physical
    plan, looking through AQE and cached relations. Read off the JVM
    nodes, because the plan's text abbreviates a long ``Location``."""
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        return _file_scans(plan.inputPlan())
    if kind == "InMemoryTableScanExec":
        return _file_scans(plan.relation().cachedPlan())
    if kind == "FileSourceScanExec":
        return [(plan.relation().location().rootPaths().mkString(","),
                 list(plan.requiredSchema().fieldNames()))]
    children = plan.children()
    return [scan for i in range(children.size())
            for scan in _file_scans(children.apply(i))]


def test_incremental_path_reads_no_corpus_text(spark, tmp_path):
    """THE round-7 contract: after bootstrap, every frame the
    incremental path builds — delta, membership, pairs, labels, store
    appends — must not read the corpus text column. Walks the FileScan
    nodes of each frame's executed plan: any scan of the live corpus
    store may read doc_id alone; the text column may appear only in scans of the
    BATCH input and the reps store (rep token arrays are derived store
    content, not corpus text)."""
    from cati_database_feeder_spark.streaming.ingest import (
        _incremental_frames, _read_store, ingest_batch, live_store)

    rows = [(10, "alpha beta gamma delta"), (11, "alpha beta gamma x"),
            (40, "foo bar baz qux"), (41, "foo bar baz qux quux")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    state = str(tmp_path / "state")
    ingest_batch(spark, df.filter(F.col("doc_id") < 40), state)

    batch = df.filter(F.col("doc_id") >= 40)
    fr = _incremental_frames(spark, state, batch, 0.7, 16, 4)
    # the labels update is built at commit time (_commit_batch), the
    # same way: the stored labels plus the batch's new pairs
    fr["new_labels"] = incremental_components(
        _read_store(spark, live_store(os.path.join(state, "labels"))),
        fr["new_pairs"].select("id_a", "id_b"))
    corpus_dir = live_store(os.path.join(state, "corpus"))
    corpus_scans = 0
    for name, frame in fr.items():
        plan = frame._jdf.queryExecution().executedPlan()
        for location, fields in _file_scans(plan):
            if corpus_dir in location:
                corpus_scans += 1
                assert "text" not in fields, (
                    f"frame {name!r} reads corpus text: {location} {fields}")
    assert corpus_scans, "no frame scans corpus/"


def test_swap_crash_recovery(spark, tmp_path):
    """Crash-window healing: the pointer flip of _swap_write is the
    commit point, so the only artifacts a crash can leave are an epoch
    dir NEWER than the pointer (written, never committed) and a stale
    .ptr.tmp sidecar — the next state op drops both, the pointed state
    serves unchanged, and later batches keep the closure exact."""
    import shutil as sh

    from cati_database_feeder_spark.streaming.ingest import ingest_batch

    rows = [(10, "alpha beta gamma delta"), (40, "foo bar baz qux"),
            (41, "foo bar baz qux quux")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    state = str(tmp_path / "state")
    ingest_batch(spark, df.filter(F.col("doc_id") == 10), state)
    labels = os.path.join(state, "labels")

    # --- epoch windows: orphan epoch + stale pointer tmp ---
    orphan = labels + "__e999999"
    sh.copytree(L(labels), orphan)
    with open(labels + ".ptr.tmp.99999", "w") as fh:
        fh.write("labels__e999999")
    ingest_batch(spark, df.filter(F.col("doc_id") == 40), state)
    assert not os.path.exists(orphan)
    assert not os.path.exists(labels + ".ptr.tmp.99999")

    # the next NON-QUIET batch (doc 41 near-dups doc 40 → new pair →
    # labels swap) lands on the healed state with the right closure
    ingest_batch(spark, df.filter(F.col("doc_id") == 41), state)
    got = {(r["id"], r["component"]) for r in
           spark.read.parquet(L(labels)).collect()}
    want = {(r["id"], r["component"]) for r in
            connected_components(
                dedup.near_dup_pairs(df, threshold=0.7)
                .select("id_a", "id_b")).collect()}
    assert len(want) > 0
    assert got == want


def test_serving_frame_survives_swap_underneath(spark, tmp_path):
    """THE round-12 race (verdict, wrong #1): a serving query that
    planned against a store must execute correctly while an ingest
    batch replaces that store underneath it. With the epoch+pointer
    scheme the reader's plan holds files in the OLD epoch dir, which
    the swap retains as grace — the planned scan executes cleanly
    after the swap (and after the appends), where the rename dance
    deleted its files mid-flight."""
    from cati_database_feeder_spark.streaming import ingest as ing

    rows = [(10, "alpha beta gamma delta"), (11, "alpha beta gamma"),
            (12, "alpha beta gamma delta epsilon")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, df.filter(F.col("doc_id") < 12), state)

    labels = os.path.join(state, "labels")
    # build (and PLAN) serving frames before the swap: listing happens
    # at read.parquet time against the resolved epoch dir
    served_labels = spark.read.parquet(L(labels))
    served_wfp = ing.read_wfp(spark, state)
    planned = {(r["id"], r["component"])
               for r in served_labels.collect()}
    epoch_before = L(labels)

    # the swap: a NON-QUIET batch (doc 12 near-dups 10/11 → new
    # pairs → labels swap-replaced, id-keyed stores appended) while
    # the frames above are still live
    ing.ingest_batch(spark, df.filter(F.col("doc_id") == 12), state)
    assert L(labels) != epoch_before  # the store really moved

    # the pre-swap plans still execute — old epoch retained as grace
    assert {(r["id"], r["component"])
            for r in served_labels.collect()} == planned
    served_wfp.collect()  # executes cleanly (fps may be empty: docs
    #                       shorter than the winnowing window)

    # fresh resolution serves the NEW state
    assert spark.read.parquet(L(labels)).count() >= len(planned)


def test_ingest_metrics_ledger(spark, tmp_path):
    """Every substantive ingest_batch appends one metrics row with the
    batch's dedup economics; pure replays append nothing (they return
    before any write)."""
    from cati_database_feeder_spark.streaming.ingest import ingest_batch

    rows = [(10, "alpha beta gamma delta"),
            (11, "alpha beta gamma delta epsilon"),   # J=0.8 vs 10
            (40, "foo bar baz qux"), (41, "foo bar baz qux quux")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    state = str(tmp_path / "state")
    ingest_batch(spark, df.filter(F.col("doc_id") < 40), state, batch_id=0)
    # batch 2 carries one replayed id — delta_rows < rows_in
    ingest_batch(spark, df.filter(F.col("doc_id") >= 11), state, batch_id=1)
    m = {r["batch_id"]: r for r in
         spark.read.parquet(L(os.path.join(state, "metrics"))).collect()}
    assert m[0]["bootstrap"] and m[0]["rows_in"] == 2 == m[0]["delta_rows"]
    assert m[0]["new_pairs"] >= 1 and not m[0]["quiet"]
    assert not m[1]["bootstrap"]
    assert m[1]["rows_in"] == 3 and m[1]["delta_rows"] == 2
    assert m[1]["new_pairs"] >= 1
    # pure replay: no new metrics row
    ingest_batch(spark, df, state, batch_id=2)
    assert spark.read.parquet(L(
        os.path.join(state, "metrics"))).count() == 2


@pytest.mark.parametrize("kind", ["text", "embeddings"])
def test_quiet_batch_runs_no_closure(spark, tmp_path, monkeypatch, kind):
    """A batch whose docs have no near-dup partner is quiet: its pair
    count is 0, so the commit neither runs the closure nor swaps
    labels/, and the metrics row says so. The closure is patched to
    raise, so any call to it fails the batch."""
    from cati_database_feeder_spark.streaming import ingest as ing
    from cati_database_feeder_spark.streaming.ingest_embeddings import (
        ingest_embeddings_batch)

    state = str(tmp_path / "state")
    if kind == "text":
        df = spark.createDataFrame(
            [(10, "alpha beta gamma delta"),
             (11, "alpha beta gamma delta epsilon"),   # J=0.8 vs 10
             (40, "foo bar baz qux quux corge")], ["doc_id", "text"])

        def ingest(frame, batch_id):
            ing.ingest_batch(spark, frame, state, batch_id=batch_id)
    else:
        df = spark.createDataFrame(
            [(10, [1.0, 0.0, 0.0]), (11, [0.99, 0.1, 0.0]),
             (40, [0.0, 0.0, 1.0])], "doc_id long, embedding array<double>")
        cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]

        def ingest(frame, batch_id):
            ingest_embeddings_batch(
                spark, frame, state, centroid_rows=cents, threshold=0.9,
                id_col="doc_id", batch_id=batch_id)
    ingest(df.filter(F.col("doc_id") < 40), 0)
    ptr = os.path.join(state, "labels") + ing._PTR_SUFFIX
    with open(ptr) as fh:
        ptr_before = fh.read()

    def no_closure(*a, **kw):
        raise AssertionError("incremental_components ran on a quiet batch")

    monkeypatch.setattr(ing, "incremental_components", no_closure)
    ingest(df.filter(F.col("doc_id") == 40), 1)
    with open(ptr) as fh:
        assert fh.read() == ptr_before
    m = {r["batch_id"]: r for r in
         spark.read.parquet(L(os.path.join(state, "metrics"))).collect()}
    assert m[0]["new_pairs"] == 1 and not m[0]["quiet"]
    assert m[1]["quiet"] and m[1]["new_pairs"] == 0
    assert m[1]["rows_in"] == 1 == m[1]["delta_rows"]


def test_state_lock_refuses_compaction_during_live_ingest(spark, tmp_path):
    """Round-7 verdict item 1: compact_state racing a LIVE ingest_batch
    must fail descriptively instead of silently corrupting the banding
    store. A real ingest runs on a worker thread and parks (via a
    monkeypatched _recover_swaps, the first statement inside the lock)
    while the main thread invokes compact_state — which must raise
    StateLockError naming the live holder. After the ingest finishes,
    compaction succeeds and state equals a full recompute."""
    import threading

    from cati_database_feeder_spark.streaming import ingest as ing

    rows = [(10, "alpha beta gamma delta"), (11, "alpha beta gamma x"),
            (40, "foo bar baz qux")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, df.filter(F.col("doc_id") < 40), state)

    inside = threading.Event()
    release = threading.Event()
    real_recover = ing._recover_swaps

    def parked_recover(sd):
        real_recover(sd)
        inside.set()
        assert release.wait(60)

    err: list[Exception] = []

    def run_ingest():
        try:
            ing.ingest_batch(spark, df.filter(F.col("doc_id") == 40), state)
        except Exception as exc:  # surface worker failures in the test
            err.append(exc)

    ing._recover_swaps = parked_recover
    try:
        t = threading.Thread(target=run_ingest)
        t.start()
        assert inside.wait(60), "ingest thread never reached the lock body"
        with pytest.raises(ing.StateLockError) as ei:
            ing.compact_state(spark, state)
        assert "ingest_batch" in str(ei.value)
        assert "break_lock" in str(ei.value)
    finally:
        release.set()
        t.join(120)
        ing._recover_swaps = real_recover
    assert not err, f"ingest thread failed: {err}"
    assert not os.path.exists(os.path.join(state, ing._LOCK_NAME))
    ing.compact_state(spark, state)  # no longer held — succeeds
    got = {(r["id"], r["component"]) for r in
           spark.read.parquet(L(os.path.join(state, "labels"))).collect()}
    want = {(r["id"], r["component"]) for r in
            connected_components(
                dedup.near_dup_pairs(df, threshold=0.7)
                .select("id_a", "id_b")).collect()}
    assert got == want


def test_state_lock_mutual_exclusion_under_contention(tmp_path):
    """Hammer the fencing lock from 8 threads: the critical section
    increments a plain (unsynchronized) counter and records overlap —
    any two threads inside simultaneously would be detected. Lossy
    acquisitions (StateLockError) are expected and fine; corruption of
    mutual exclusion is not. Pure file-level test, no Spark."""
    import threading

    from cati_database_feeder_spark.streaming import ingest as ing

    state = str(tmp_path / "state")
    inside = [0]
    overlaps = []
    done = [0]

    def worker(tid):
        for _ in range(25):
            try:
                with ing._state_lock(state, f"op{tid}"):
                    inside[0] += 1
                    if inside[0] != 1:
                        overlaps.append(inside[0])
                    inside[0] -= 1
                    done[0] += 1
            except ing.StateLockError:
                pass  # lost the race — correct behavior

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not overlaps, f"two holders inside the lock: {overlaps}"
    assert done[0] >= 8  # progress was made
    assert not os.path.exists(os.path.join(state, ing._LOCK_NAME))


def test_state_lock_self_heals_dead_same_host_holder(spark, tmp_path):
    """A lock orphaned by a same-host crash (recorded pid no longer
    alive) must be broken automatically — foreachBatch's crash-retry
    path stays lock-free for the user."""
    import socket
    import subprocess

    from cati_database_feeder_spark.streaming import ingest as ing

    rows = [(10, "alpha beta gamma delta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    state = str(tmp_path / "state")
    os.makedirs(state)
    dead = subprocess.Popen(["true"])
    dead.wait()
    with open(os.path.join(state, ing._LOCK_NAME), "w") as fh:
        fh.write(f"ingest_batch host={socket.gethostname()} pid={dead.pid}")
    ing.ingest_batch(spark, df, state)  # breaks the dead lock, proceeds
    assert store_exists(os.path.join(state, "corpus"))
    assert not os.path.exists(os.path.join(state, ing._LOCK_NAME))


def test_state_lock_breaks_recycled_pid_holder(spark, tmp_path):
    """ADVICE round 9: pid liveness alone mistakes a RECYCLED pid for
    the original holder and blocks ingestion forever. The lock body
    now records the holder's kernel start-time token; a same-host lock
    whose pid is alive but whose token mismatches is a crashed holder
    wearing a reused pid — broken automatically. A matching token (the
    holder genuinely lives) still refuses."""
    import socket

    from cati_database_feeder_spark.streaming import ingest as ing

    rows = [(10, "alpha beta gamma delta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    me = os.getpid()  # alive by construction
    my_start = ing._proc_start_token(me)
    assert my_start != "na"  # Linux container — /proc available
    state = str(tmp_path / "state")
    os.makedirs(state)
    lock = os.path.join(state, ing._LOCK_NAME)
    # live pid, WRONG start token → recycled pid → broken, ingest runs
    with open(lock, "w") as fh:
        fh.write(f"ingest_batch host={socket.gethostname()} pid={me} "
                 f"start=1 ts=0")
    ing.ingest_batch(spark, df, state)
    assert store_exists(os.path.join(state, "corpus"))
    # live pid, CORRECT start token → genuinely held → refuse, and the
    # error surfaces the recorded acquisition timestamp for staleness
    # triage
    with open(lock, "w") as fh:
        fh.write(f"ingest_batch host={socket.gethostname()} pid={me} "
                 f"start={my_start} ts=1755000000")
    with pytest.raises(ing.StateLockError) as ei:
        ing.compact_state(spark, state)
    assert "ts=1755000000" in str(ei.value)
    os.unlink(lock)


def test_metrics_ledger_at_least_once_across_commit_crash(
        spark, tmp_path):
    """ADVICE round 9: metrics now land BEFORE the corpus commit
    marker, so a crash between the two replays the batch and appends a
    DUPLICATE batch_id row (at-least-once, last-write-wins absorbs it)
    — the old after-marker order lost the row to the pure-replay early
    return forever. Injected crash: _append_metrics appends, then
    dies."""
    from cati_database_feeder_spark.streaming import ingest as ing

    state = str(tmp_path / "state")
    boot = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        ["doc_id", "text"])
    ing.ingest_batch(spark, boot, state, batch_id=0)
    batch = spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon")], ["doc_id", "text"])

    real_append = ing._append_metrics
    crashed = []

    def crash_after_append(*a, **kw):
        real_append(*a, **kw)
        if not crashed:
            crashed.append(True)
            raise RuntimeError("injected crash after metrics append")

    ing._append_metrics = crash_after_append
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            ing.ingest_batch(spark, batch, state, batch_id=1)
        # marker not yet written → the replay reruns the whole batch
        ing.ingest_batch(spark, batch, state, batch_id=1)
    finally:
        ing._append_metrics = real_append
    metrics = spark.read.parquet(L(os.path.join(state, "metrics")))
    rows = metrics.filter(F.col("batch_id") == 1).collect()
    assert len(rows) == 2  # duplicate, NOT lost — at-least-once
    assert all(r["delta_rows"] == 1 for r in rows)
    # stores themselves stayed exactly-once: doc 3 landed once
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert corpus.filter(F.col("doc_id") == 3).count() == 1
    # a third delivery is a pure replay — no further metrics row
    ing.ingest_batch(spark, batch, state, batch_id=1)
    assert metrics.filter(F.col("batch_id") == 1).count() == 2


def test_state_lock_foreign_host_needs_manual_break(spark, tmp_path):
    """A lock from another host has no liveness signal — never broken
    automatically; break_lock is the documented manual override."""
    from cati_database_feeder_spark.streaming import ingest as ing

    rows = [(10, "alpha beta gamma delta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    state = str(tmp_path / "state")
    os.makedirs(state)
    with open(os.path.join(state, ing._LOCK_NAME), "w") as fh:
        fh.write("ingest_batch host=some-other-node pid=1")
    with pytest.raises(ing.StateLockError) as ei:
        ing.ingest_batch(spark, df, state)
    assert "some-other-node" in str(ei.value)
    assert ing.break_lock(state) is True
    assert ing.break_lock(state) is False
    ing.ingest_batch(spark, df, state)
    assert store_exists(os.path.join(state, "corpus"))


def test_embedding_ingest_multi_batch_equals_full_recompute(
        spark, sf_dir, tmp_path):
    """E41 production wiring: three embedding micro-batches through
    start_embedding_ingest (bootstrap + two incremental, one carrying
    replayed ids) must leave a cell-partitioned vector store covering
    exactly the distinct ids and a SemDeDup labeling equal to the
    from-scratch closure over the full corpus; a direct batch-level
    redelivery must be a byte-stable no-op."""
    from cati_database_feeder_spark.operators import similarity
    from cati_database_feeder_spark.operators.graph import (
        connected_components as cc)
    from cati_database_feeder_spark.streaming.ingest_embeddings import (
        ingest_embeddings_batch, start_embedding_ingest)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = [(int(r["vec_id"]), list(r["embedding"]))
             for r in emb.filter(F.col("vec_id") < 8)
                         .select("vec_id", "embedding").collect()]
    p0 = emb.filter(F.col("vec_id") % 3 == 0)
    p1 = emb.filter(F.col("vec_id") % 3 == 1)
    p2 = emb.filter(F.col("vec_id") % 3 == 2)
    stream_dir = str(tmp_path / "emb_in")
    p0.coalesce(1).write.mode("append").parquet(stream_dir)
    p1.unionByName(p0.limit(10)).coalesce(1).write.mode("append").parquet(stream_dir)
    p2.coalesce(1).write.mode("append").parquet(stream_dir)

    state = str(tmp_path / "emb_state")
    stream = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", 1).parquet(stream_dir))
    q = start_embedding_ingest(stream, state, str(tmp_path / "emb_ckpt"),
                               centroid_rows=cents, threshold=0.3)
    q.awaitTermination(300)
    q.stop()

    store = spark.read.parquet(L(os.path.join(state, "vectors")))
    assert store.count() == emb.count()
    assert "cell" in store.columns           # cell-partitioned layout
    got = {(r["id"], r["component"]) for r in
           spark.read.parquet(L(os.path.join(state, "labels"))).collect()}
    want = {(r["id"], r["component"]) for r in
            cc(similarity.semdedup_pairs(emb, cents, threshold=0.3, by="ip")
               .select("id_a", "id_b")).collect()}
    assert len(want) > 0
    assert got == want

    # metrics ledger: one row per substantive batch (3 micro-batches)
    mets = spark.read.parquet(L(os.path.join(state, "metrics"))).collect()
    assert len(mets) == 3
    assert sum(1 for r in mets if r["bootstrap"]) == 1
    assert sum(r["delta_rows"] for r in mets) == emb.count()

    # redelivery of an already-committed batch: byte-stable no-op
    files_before = sorted(store.inputFiles())
    labels_before = sorted(os.listdir(L(os.path.join(state, "labels"))))
    ingest_embeddings_batch(spark, p2, state)
    assert sorted(spark.read.parquet(L(
        os.path.join(state, "vectors"))).inputFiles()) == files_before
    assert sorted(os.listdir(L(os.path.join(state, "labels")))) == labels_before
    # centroids are pinned at bootstrap: a later call may omit them
    # and the stored quantizer wins
    ingest_embeddings_batch(spark, emb.limit(0), state)

    # compaction: one file per cell partition, content unchanged
    from cati_database_feeder_spark.streaming.ingest_embeddings import (
        compact_embeddings_state)
    before = sorted(map(tuple, spark.read.parquet(L(
        os.path.join(state, "vectors"))).select("vec_id", "cell").collect()))
    compact_embeddings_state(spark, state)
    after_df = spark.read.parquet(L(os.path.join(state, "vectors")))
    assert sorted(map(tuple,
                      after_df.select("vec_id", "cell").collect())) == before
    import collections
    per_cell = collections.Counter()
    for f in after_df.inputFiles():
        cell = [p for p in f.split("/") if p.startswith("cell=")]
        per_cell[cell[0]] += 1
    assert per_cell and max(per_cell.values()) == 1


def test_embedding_ingest_swap_crash_recovery(spark, tmp_path):
    """The embedding state dir heals the same crash windows as the
    text path — an orphan (uncommitted) epoch dir plus a stale pointer
    tmp — with the final labeling equal to the full recompute."""
    import shutil as sh

    from cati_database_feeder_spark.operators import similarity
    from cati_database_feeder_spark.operators.graph import (
        connected_components as cc)
    from cati_database_feeder_spark.streaming.ingest_embeddings import (
        ingest_embeddings_batch)

    rows = [(i, [float(i % 3), 1.0, float(i % 2)]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    state = str(tmp_path / "emb_state")
    ingest_embeddings_batch(spark, df.filter(F.col("vec_id") < 6), state,
                            centroid_rows=cents, threshold=0.8)
    labels = os.path.join(state, "labels")

    # --- epoch windows: orphan epoch + stale pointer tmp ---
    orphan = labels + "__e999999"
    sh.copytree(L(labels), orphan)
    with open(labels + ".ptr.tmp.99999", "w") as fh:
        fh.write("labels__e999999")
    ingest_embeddings_batch(spark, df.filter(F.col("vec_id").between(6, 8)),
                            state, threshold=0.8)
    assert not os.path.exists(orphan)
    assert not os.path.exists(labels + ".ptr.tmp.99999")

    ingest_embeddings_batch(spark, df.filter(F.col("vec_id") > 8), state,
                            threshold=0.8)
    ingest_embeddings_batch(spark, df.limit(0), state, threshold=0.8)

    got = {(r["id"], r["component"]) for r in
           spark.read.parquet(L(labels)).collect()}
    want = {(r["id"], r["component"]) for r in
            cc(similarity.semdedup_pairs(df, cents, threshold=0.8, by="ip")
               .select("id_a", "id_b")).collect()}
    assert len(want) > 0
    assert got == want


def test_start_incremental_ingest_multi_batch_equals_full_recompute(
        spark, sf_dir, tmp_path):
    """The packaged operator (streaming/ingest.start_incremental_ingest)
    fed three micro-batches — bootstrap, a batch carrying replayed ids,
    a final batch — must leave a state dir whose corpus is exactly the
    distinct doc set and whose labeling equals a from-scratch closure
    over the whole corpus. maxFilesPerTrigger=1 forces one batch per
    appended file, so the append-only buckets store and the label swap
    are exercised across real batch boundaries."""
    from cati_database_feeder_spark.streaming.ingest import (
        start_incremental_ingest)

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 2 == 0)      # 250 docs — keep it quick
            .select("doc_id", "text"))
    p0 = docs.filter(F.col("doc_id") % 3 == 0)
    p1 = docs.filter(F.col("doc_id") % 3 == 1)
    p2 = docs.filter(F.col("doc_id") % 3 == 2)
    stream_dir = str(tmp_path / "stream_in")
    p0.coalesce(1).write.mode("append").parquet(stream_dir)
    # batch 2 replays a slice of batch 1's ids — exact dedup must drop them
    p1.unionByName(p0.limit(20)).coalesce(1).write.mode("append").parquet(stream_dir)
    p2.coalesce(1).write.mode("append").parquet(stream_dir)

    state_dir = str(tmp_path / "state")
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(stream_dir))
    q = start_incremental_ingest(stream, state_dir,
                                 str(tmp_path / "ingest_ckpt"))
    q.awaitTermination(300)
    q.stop()

    corpus = spark.read.parquet(L(os.path.join(state_dir, "corpus")))
    assert corpus.count() == docs.count()
    assert corpus.select("doc_id").subtract(docs.select("doc_id")).count() == 0

    got = {(r["id"], r["component"]) for r in
           spark.read.parquet(L(os.path.join(state_dir, "labels"))).collect()}
    want = {(r["id"], r["component"]) for r in
            connected_components(
                dedup.near_dup_pairs(docs, threshold=0.7)
                .select("id_a", "id_b")).collect()}
    assert len(want) > 0
    assert got == want
    # the winnowing-fingerprint store rides the same streaming path:
    # after three micro-batches (one with replayed ids) it must equal
    # a from-scratch fingerprint pass over the final corpus
    assert _wfp_rows(spark, state_dir) == _wfp_recompute(spark, corpus)


def _takedown_fixture(spark, tmp_path):
    """Two ingest batches building: group A = exact dups {1,2,3} +
    near-dup 4 (one component), group B = exact dups {10,11}
    (second component), singleton 20."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    rows = [(1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "alpha beta gamma delta"),
            (4, "alpha beta gamma delta epsilon"),
            (10, "omega psi chi phi"),
            (11, "omega psi chi phi"),
            (20, "one two three four five six")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    ing.ingest_batch(spark, df.filter(F.col("doc_id").isin(1, 2, 10, 20)),
                     state, batch_id=0)
    ing.ingest_batch(spark, df.filter(F.col("doc_id").isin(3, 4, 11)),
                     state, batch_id=1)
    return ing, state, df


def _assert_stores_equal_scratch(spark, state, surviving_df):
    """Stores+labels must equal a from-scratch build on the surviving
    corpus: corpus rows exactly; labels exactly (component = min member
    id is canonical on both sides); membership as a PARTITION (gids are
    stability-dependent on history, the grouping is not); reps/buckets
    internally consistent with the promoted gids; pairs = the
    from-scratch verified edge set."""
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert (sorted((r["doc_id"], r["text"]) for r in corpus.collect())
            == sorted((r["doc_id"], r["text"])
                      for r in surviving_df.collect()))
    scratch_pairs = dedup.near_dup_pairs(surviving_df, threshold=0.7)
    want_labels = {(r["id"], r["component"]) for r in
                   connected_components(
                       scratch_pairs.select("id_a", "id_b")).collect()}
    got_labels = {(r["id"], r["component"]) for r in
                  spark.read.parquet(L(os.path.join(state, "labels"))).collect()}
    assert got_labels == want_labels
    got_pairs = {(r["id_a"], r["id_b"]) for r in
                 spark.read.parquet(L(os.path.join(state, "pairs"))).collect()}
    want_pairs = {(r["id_a"], r["id_b"])
                  for r in scratch_pairs.select("id_a", "id_b").collect()}
    assert got_pairs == want_pairs
    members = spark.read.parquet(L(os.path.join(state, "members"))).collect()
    got_part = {}
    for r in members:
        got_part.setdefault(r["gid"], set()).add(r["id"])
    want_part = {}
    for r in dedup.tokset_groups(surviving_df).collect():
        want_part.setdefault(r["gid"], set()).add(r["id"])
    assert set(map(frozenset, got_part.values())) \
        == set(map(frozenset, want_part.values()))
    # every gid is a member of its own group (rep promotion landed)
    assert all(g in ms for g, ms in got_part.items())
    reps = spark.read.parquet(L(os.path.join(state, "reps"))).collect()
    assert sorted(r["gid"] for r in reps) == sorted(got_part)
    # rep keys still match their token sets, and the banding store is
    # exactly the banding of the current reps
    for r in reps:
        assert r["key"] == surviving_df.sparkSession.range(1).select(
            dedup.tokset_key(F.lit(sorted(set(r["toks"])))).alias("k")
        ).collect()[0]["k"]
    got_buckets = {(r["id"], r["band"], r["bucket"]) for r in
                   spark.read.parquet(L(os.path.join(state, "buckets"))).collect()}
    memb_now = spark.createDataFrame(
        [(r["gid"], r["gid"], r["toks"]) for r in reps],
        ["id", "gid", "toks"])
    want_buckets = {(r["id"], r["band"], r["bucket"]) for r in
                    dedup.rep_band_buckets(memb_now).collect()}
    assert got_buckets == want_buckets


def test_delete_docs_equals_from_scratch_build(spark, tmp_path):
    """Round-8 verdict item 2 'Done =': delete docs mid-stream —
    including a group REP (forcing promotion), a whole component
    member set, and a singleton — and every store plus the labeling
    equals a from-scratch build on the surviving corpus. Then a
    redelivery of a deleted doc stays deleted (tombstone wins), and a
    LATER batch joining a rep-promoted group keeps the incremental
    path equal to scratch."""
    ing, state, df = _takedown_fixture(spark, tmp_path)

    # delete: 1 (rep of group {1,2,3} -> promotes gid 2), 10 (rep of
    # {10,11} -> promotes 11, kills the {10,11} component), 20 (whole
    # singleton group vanishes)
    ing.delete_docs(spark, state, [1, 10, 20])
    surviving = df.filter(F.col("doc_id").isin(2, 3, 4, 11))
    _assert_stores_equal_scratch(spark, state, surviving)

    # redelivery of deleted docs: dropped by the tombstone filter —
    # corpus unchanged, no members row, pure-replay (no metrics row)
    n_metrics = spark.read.parquet(L(
        os.path.join(state, "metrics"))).count()
    ing.ingest_batch(spark, df.filter(F.col("doc_id").isin(1, 20)),
                     state, batch_id=2)
    assert spark.read.parquet(L(os.path.join(state, "corpus"))).count() == 4
    assert spark.read.parquet(L(os.path.join(state, "members"))) \
        .filter(F.col("id").isin(1, 20)).count() == 0
    assert spark.read.parquet(L(
        os.path.join(state, "metrics"))).count() == n_metrics

    # a later batch: doc 5 has group {2,3}'s exact token set (must
    # join the PROMOTED group via the reps key probe), doc 30 is new
    extra = spark.createDataFrame(
        [(5, "alpha beta gamma delta"), (30, "unrelated text entirely")],
        ["doc_id", "text"])
    ing.ingest_batch(spark, extra, state, batch_id=3)
    surviving2 = surviving.unionByName(extra)
    _assert_stores_equal_scratch(spark, state, surviving2)


def test_delete_docs_idempotent_and_empty(spark, tmp_path):
    """Deleting the same ids twice — or nothing — is a no-op the
    second time: the rewrite always applies the full tombstone set."""
    ing, state, df = _takedown_fixture(spark, tmp_path)
    ing.delete_docs(spark, state, [1, 20])
    snap = {(r["id"], r["component"]) for r in
            spark.read.parquet(L(os.path.join(state, "labels"))).collect()}
    ing.delete_docs(spark, state, [1, 20])
    ing.delete_docs(spark, state, [])
    assert {(r["id"], r["component"]) for r in
            spark.read.parquet(L(os.path.join(state, "labels"))).collect()} \
        == snap
    _assert_stores_equal_scratch(
        spark, state, df.filter(~F.col("doc_id").isin(1, 20)))


def test_delete_docs_crash_midway_fences_and_retry_completes(
        spark, tmp_path, monkeypatch):
    """A crash mid-deletion leaves the stores mutually inconsistent;
    the _DELETE_PENDING marker turns that window into a descriptive
    refusal for every mutating op, and re-running delete_docs with an
    EMPTY id set (tombstones already landed) completes the job."""
    from cati_database_feeder_spark.streaming import ingest as ing
    _, state, df = _takedown_fixture(spark, tmp_path)

    real_swap = ing._swap_write
    calls = []

    def crashing_swap(frame, target, writer=None):
        calls.append(target)
        if len(calls) == 3:
            raise RuntimeError("injected crash mid-delete")
        real_swap(frame, target, writer)

    monkeypatch.setattr(ing, "_swap_write", crashing_swap)
    with pytest.raises(RuntimeError, match="injected crash"):
        ing.delete_docs(spark, state, [1, 10, 20])
    monkeypatch.setattr(ing, "_swap_write", real_swap)

    # mutating ops refuse while the deletion is pending
    with pytest.raises(ing.StateLockError, match="_DELETE_PENDING"):
        ing.ingest_batch(spark, df.limit(1), state, batch_id=9)
    with pytest.raises(ing.StateLockError, match="_DELETE_PENDING"):
        ing.compact_state(spark, state)

    # the documented repair: re-run with no new ids
    ing.delete_docs(spark, state, [])
    assert not os.path.exists(os.path.join(state, ing._DELETE_PENDING))
    _assert_stores_equal_scratch(
        spark, state, df.filter(F.col("doc_id").isin(2, 3, 4, 11)))


def _emb_takedown_fixture(spark, tmp_path):
    """Two embedding batches: i%6 equivalence classes give identical
    vectors {i, i+6} plus cross-class near-dups at threshold 0.8, so
    the closure has multi-member components to damage."""
    from cati_database_feeder_spark.streaming import (
        ingest_embeddings as ie)
    rows = [(i, [float(i % 3), 1.0, float(i % 2)]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    state = str(tmp_path / "emb_state")
    ie.ingest_embeddings_batch(spark, df.filter(F.col("vec_id") < 6),
                               state, centroid_rows=cents, threshold=0.8,
                               batch_id=0)
    ie.ingest_embeddings_batch(spark, df.filter(F.col("vec_id") >= 6),
                               state, threshold=0.8, batch_id=1)
    return ie, state, df, cents


def _assert_emb_state_equals_scratch(spark, state, surviving_df, cents):
    """Vector store rows (with their pinned cell assignment) and the
    SemDeDup labeling must equal a from-scratch build on the surviving
    vectors under the SAME stored quantizer."""
    from cati_database_feeder_spark.operators import similarity
    store = spark.read.parquet(L(os.path.join(state, "vectors")))
    want_cells = similarity.assign_cells(surviving_df, cents,
                                         "embedding", "ip")
    assert (sorted((r["vec_id"], r["cell"]) for r in
                   store.select("vec_id", "cell").collect())
            == sorted((r["vec_id"], r["cell"])
                      for r in want_cells.collect()))
    got = {(r["id"], r["component"]) for r in
           spark.read.parquet(L(os.path.join(state, "labels"))).collect()}
    want = {(r["id"], r["component"]) for r in
            connected_components(
                similarity.semdedup_pairs(surviving_df, cents,
                                          threshold=0.8, by="ip")
                .select("id_a", "id_b")).collect()}
    assert got == want


def test_delete_embeddings_equals_from_scratch_build(spark, tmp_path):
    """Round-8 verdict item 2, embedding twin: delete vectors
    mid-stream — one member of a multi-member component plus a whole
    identical pair — and the store + labeling equal a from-scratch
    build on the survivors under the pinned quantizer; a redelivered
    deleted vector stays deleted (tombstone wins, pure replay); a
    LATER batch keeps the incremental path equal to scratch."""
    ie, state, df, cents = _emb_takedown_fixture(spark, tmp_path)

    ie.delete_embeddings(spark, state, [0, 1, 7], threshold=0.8)
    surviving = df.filter(~F.col("vec_id").isin(0, 1, 7))
    _assert_emb_state_equals_scratch(spark, state, surviving, cents)

    # redelivery of deleted ids: dropped by the tombstone filter —
    # store unchanged, pure replay appends no metrics row
    n_metrics = spark.read.parquet(L(
        os.path.join(state, "metrics"))).count()
    ie.ingest_embeddings_batch(
        spark, df.filter(F.col("vec_id").isin(0, 7)), state,
        threshold=0.8, batch_id=2)
    assert spark.read.parquet(L(
        os.path.join(state, "vectors"))).count() == 9
    assert spark.read.parquet(L(
        os.path.join(state, "metrics"))).count() == n_metrics

    # a later live batch: new ids land and the closure stays ≡ scratch
    extra = spark.createDataFrame(
        [(100, [0.0, 1.0, 0.0]), (101, [9.0, 9.0, 9.0])],
        "vec_id long, embedding array<double>")
    ie.ingest_embeddings_batch(spark, extra, state, threshold=0.8,
                               batch_id=3)
    _assert_emb_state_equals_scratch(
        spark, state, surviving.unionByName(extra), cents)

    # idempotence: re-deleting the same ids (or nothing) is a no-op
    snap = {(r["id"], r["component"]) for r in
            spark.read.parquet(L(os.path.join(state, "labels"))).collect()}
    ie.delete_embeddings(spark, state, [0, 1, 7], threshold=0.8)
    ie.delete_embeddings(spark, state, [], threshold=0.8)
    assert {(r["id"], r["component"]) for r in
            spark.read.parquet(L(os.path.join(state, "labels"))).collect()} \
        == snap


def test_delete_embeddings_crash_fences_and_retry_completes(
        spark, tmp_path, monkeypatch):
    """A crash between the labels swap and the vectors rewrite leaves
    the two stores mutually inconsistent; the _DELETE_PENDING marker
    fences every mutating op, and re-running delete_embeddings with an
    empty id set completes the job from the landed tombstones."""
    ie, state, df, cents = _emb_takedown_fixture(spark, tmp_path)

    real_swap = ie._swap_write

    def swap_then_crash(frame, target, writer=None):
        # labels land, vectors rewrite never runs
        real_swap(frame, target, writer)
        raise RuntimeError("injected crash mid-delete")

    monkeypatch.setattr(ie, "_swap_write", swap_then_crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        ie.delete_embeddings(spark, state, [0, 1, 7], threshold=0.8)
    monkeypatch.setattr(ie, "_swap_write", real_swap)

    from cati_database_feeder_spark.streaming.ingest import StateLockError
    with pytest.raises(StateLockError, match="_DELETE_PENDING"):
        ie.ingest_embeddings_batch(spark, df.limit(1), state,
                                   threshold=0.8, batch_id=9)
    with pytest.raises(StateLockError, match="_DELETE_PENDING"):
        ie.compact_embeddings_state(spark, state)

    ie.delete_embeddings(spark, state, [], threshold=0.8)
    assert not os.path.exists(os.path.join(state, "_DELETE_PENDING"))
    _assert_emb_state_equals_scratch(
        spark, state, df.filter(~F.col("vec_id").isin(0, 1, 7)), cents)


def test_embeddings_compaction_refuses_during_live_ingest(
        spark, tmp_path):
    """Round-8 verdict item 7: compact_embeddings_state racing a LIVE
    ingest_embeddings_batch must fail descriptively (the adversarial
    contention test the text path already has). The ingest parks on a
    worker thread inside the lock while the main thread invokes
    compaction — which must raise StateLockError naming the live
    holder; after the ingest finishes, compaction succeeds and the
    post-state equals the full recompute with one file per cell."""
    import threading

    from cati_database_feeder_spark.streaming import (
        ingest_embeddings as ie)
    from cati_database_feeder_spark.streaming.ingest import StateLockError

    ie_, state, df, cents = _emb_takedown_fixture(spark, tmp_path)

    inside = threading.Event()
    release = threading.Event()
    real_recover = ie._recover_swaps

    def parked_recover(sd, stores):
        real_recover(sd, stores)
        inside.set()
        assert release.wait(60)

    extra = spark.createDataFrame(
        [(200, [5.0, 5.0, 5.0])], "vec_id long, embedding array<double>")
    err: list[Exception] = []

    def run_ingest():
        try:
            ie.ingest_embeddings_batch(spark, extra, state,
                                       threshold=0.8, batch_id=7)
        except Exception as exc:  # surface worker failures in the test
            err.append(exc)

    ie._recover_swaps = parked_recover
    try:
        t = threading.Thread(target=run_ingest)
        t.start()
        assert inside.wait(60), "ingest thread never reached the lock body"
        with pytest.raises(StateLockError) as ei:
            ie.compact_embeddings_state(spark, state)
        assert "ingest_embeddings_batch" in str(ei.value)
        assert "break_lock" in str(ei.value)
    finally:
        release.set()
        t.join(120)
        ie._recover_swaps = real_recover
    assert not err, f"ingest thread failed: {err}"

    before = sorted(map(tuple, spark.read.parquet(L(
        os.path.join(state, "vectors")))
        .select("vec_id", "cell").collect()))
    ie.compact_embeddings_state(spark, state)  # lock free — succeeds
    after_df = spark.read.parquet(L(os.path.join(state, "vectors")))
    assert sorted(map(tuple,
                      after_df.select("vec_id", "cell").collect())) == before
    _assert_emb_state_equals_scratch(
        spark, state, df.unionByName(extra), cents)


def test_embedding_ingest_maintains_quantized_codes(spark, tmp_path):
    """The vector store carries int8 codes quantized against the
    BOOTSTRAP-pinned [lo, hi] (round-9: the streaming consumer of the
    E42 quantizer): later batches quantize against the stored range
    with out-of-range elements clamped, every stored code equals a
    fresh quantize_int8 of the stored vector under the pinned range,
    and the serving accessor feeds ivf_topk_quantized directly."""
    from cati_database_feeder_spark.functions import vectors as V
    from cati_database_feeder_spark.operators.similarity import (
        ivf_topk_quantized)
    from cati_database_feeder_spark.streaming import (
        ingest_embeddings as ie)
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    b1 = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 2)]) for i in range(6)],
        "vec_id long, embedding array<double>")
    # batch 2 exceeds the bootstrap range (element 9.0 > pinned hi) —
    # its codes must CLAMP, not re-pin the range
    b2 = spark.createDataFrame(
        [(10, [9.0, -4.0, 1.0]), (11, [0.5, 0.5, 0.5])],
        "vec_id long, embedding array<double>")
    state = str(tmp_path / "emb_q")
    ie.ingest_embeddings_batch(spark, b1, state, centroid_rows=cents,
                               threshold=0.8, batch_id=0)
    lo, hi = ie._load_quant(spark, state)
    ie.ingest_embeddings_batch(spark, b2, state, threshold=0.8, batch_id=1)
    assert ie._load_quant(spark, state) == (lo, hi)  # pinned, not re-pinned
    store = spark.read.parquet(L(os.path.join(state, "vectors")))
    fresh = store.select(
        "vec_id", "codes",
        V.quantize_int8(F.col("embedding"), F.lit(lo), F.lit(hi))
        .alias("want"))
    assert fresh.filter(F.col("codes") != F.col("want")).count() == 0
    assert store.count() == 8
    clamped = {r["vec_id"]: r["codes"] for r in store.collect()}
    assert max(clamped[10]) == 255 and min(clamped[10]) == 0  # clamped ends
    codes_f, float_f, got_cents, glo, ghi = ie.quantized_serving_frames(
        spark, state)
    assert (glo, ghi) == (lo, hi) and got_cents == cents
    q = b1.limit(1).select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").alias("q_vec"))
    hits = ivf_topk_quantized(q, codes_f, float_f, got_cents, glo, ghi,
                              k=3, nprobe=2, rerank=5, by="ip").collect()
    assert len(hits) == 3


# ---------------------------------------------------------------------
# cbloom/ view: the counting-Bloom decontamination gate (round 10,
# verdict item 5) across takedowns and crash windows
# ---------------------------------------------------------------------

def _cbloom_cells(spark, state):
    from cati_database_feeder_spark.streaming import ingest as ing
    return sorted(map(tuple, ing.read_cbloom(spark, state).collect()))


def _cbloom_recompute(spark, docs):
    from cati_database_feeder_spark.streaming import ingest as ing
    return sorted(map(tuple, ing._cbloom_of(docs).collect()))


def _corpus_shingles(docs):
    from cati_database_feeder_spark.functions import text as text_fns
    return (docs.select(text_fns.tokens(F.col("text")).alias("__tk"))
            .filter(F.size("__tk") >= 5)
            .select(F.explode(F.array_distinct(
                text_fns.shingles_from_tokens(F.col("__tk"), 5)))
                .alias("shingle")))


_CB_DOCS0 = [(1, "alpha beta gamma delta epsilon zeta"),
             (2, "alpha beta gamma delta epsilon"),  # shares shingles w/ 1
             (3, "one two three four five six seven")]
_CB_DOCS1 = [(4, "eight nine ten eleven twelve"),
             (1, "REPLAYED dies at exact dedup x y")]


def test_cbloom_store_multi_batch_gate_no_false_negatives(spark, tmp_path):
    """The counting-Bloom gate view across bootstrap + a batch:
    cells equal a fresh per-(doc, distinct-shingle) count over the
    final corpus, and EVERY corpus shingle tests positive through the
    served bitmap (bloom_might_contain over counting_bloom_words) —
    the no-false-negative contract that makes the gate
    result-transparent."""
    from cati_database_feeder_spark.functions import sketches
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _CB_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    ing.ingest_batch(spark, spark.createDataFrame(
        _CB_DOCS1, ["doc_id", "text"]), state, batch_id=1)
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert _cbloom_cells(spark, state) == _cbloom_recompute(spark, corpus)
    words, m, k = ing.cbloom_gate(spark, state)
    sh = _corpus_shingles(corpus)
    assert sh.count() > 0
    assert sh.filter(~sketches.bloom_might_contain(
        F.col("shingle"), words, m, k)).count() == 0


def test_cbloom_store_delete_equals_survivor_rebuild(spark, tmp_path):
    """Takedown on the gate (round-9 verdict item 5 'Done' bar): after
    delete_docs the counting cells EQUAL a from-scratch count over the
    survivors, so a shingle shared with a surviving doc stays positive
    while a deleted-only shingle's cells drop to zero, and the served
    gate keeps the no-false-negative contract on the surviving
    corpus."""
    from cati_database_feeder_spark.functions import sketches
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _CB_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    ing.delete_docs(spark, state, [2, 3])
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1]
    assert _cbloom_cells(spark, state) == _cbloom_recompute(spark, corpus)
    words, m, k = ing.cbloom_gate(spark, state)
    surv_sh = _corpus_shingles(corpus)
    assert surv_sh.filter(~sketches.bloom_might_contain(
        F.col("shingle"), words, m, k)).count() == 0
    # idempotent retry (re-read corpus: the retry swaps the dir)
    ing.delete_docs(spark, state, [])
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert _cbloom_cells(spark, state) == _cbloom_recompute(spark, corpus)


def test_sketch_subtract_pending_crashed_batch_equals_rebuild(
        spark, tmp_path):
    """A batch crashes just before its corpus commit marker (after its
    other stores landed), and a takedown runs before the batch is
    redelivered. Two legs: the first takedown tombstones one of the
    pending batch's own docs; the second tombstones only a committed
    doc, so the redelivered delta is identical to the pending one. The
    cbloom view must end cell-identical to a from-scratch pass over the
    final corpus: it follows the corpus, which never held the crashed
    batch."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _CB_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    real_append = ing._append_metrics

    def crash_delete_redeliver(rows, ids, batch_id):
        batch = spark.createDataFrame(rows, ["doc_id", "text"])
        crashed = []

        def crash_at_metrics(*a, **kw):
            if not crashed:
                crashed.append(True)
                raise RuntimeError("injected crash before commit marker")
            real_append(*a, **kw)

        ing._append_metrics = crash_at_metrics
        try:
            with pytest.raises(RuntimeError, match="injected crash"):
                ing.ingest_batch(spark, batch, state, batch_id=batch_id)
            ing.delete_docs(spark, state, ids)
            ing.ingest_batch(spark, batch, state, batch_id=batch_id)
        finally:
            ing._append_metrics = real_append
        return spark.read.parquet(L(os.path.join(state, "corpus")))

    # takedown of doc 5 — a doc of the crashed batch, never in the
    # corpus; the redelivered delta is doc 4
    corpus = crash_delete_redeliver(
        [(4, "eight nine ten eleven twelve"),
         (5, "alpha beta gamma delta DOOMED")], [5], 1)
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 2, 3, 4]
    assert _cbloom_cells(spark, state) == _cbloom_recompute(spark, corpus)
    # takedown of committed doc 1 only: the whole delta is redelivered
    corpus = crash_delete_redeliver(
        [(6, "six seven eight nine ten eleven"),
         (7, "alpha beta gamma delta epsilon zeta eta")], [1], 2)
    assert sorted(r["doc_id"] for r in corpus.collect()) == [2, 3, 4, 6, 7]
    assert _cbloom_cells(spark, state) == _cbloom_recompute(spark, corpus)


def test_sketch_subtract_mid_delete_crash_no_double_subtract(
        spark, tmp_path):
    """A crash INSIDE delete_docs before the corpus swap: the
    pending-delete fence refuses other writers, and the retry
    re-applies the full tombstone set against the OLD corpus (which
    still contains the tombstoned rows) — the cbloom view must equal a
    recount over the survivors, with no deleted doc's counts removed
    twice."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _CB_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    corpus_dir = os.path.join(state, "corpus")
    real_swap = ing._swap_write
    crashed = []

    def crash_at_corpus_swap(df, target, writer=None):
        if target.rstrip("/") == corpus_dir.rstrip("/") and not crashed:
            crashed.append(True)
            raise RuntimeError("injected crash before corpus swap")
        real_swap(df, target, writer)

    ing._swap_write = crash_at_corpus_swap
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            ing.delete_docs(spark, state, [2])
        # the pending-delete fence routes every other op to a retry
        with pytest.raises(ing.StateLockError, match="interrupted"):
            ing.ingest_batch(spark, spark.createDataFrame(
                [(9, "x y z w v")], ["doc_id", "text"]), state,
                batch_id=2)
        ing.delete_docs(spark, state, [])
    finally:
        ing._swap_write = real_swap
    corpus = spark.read.parquet(L(corpus_dir))
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 3]
    assert _cbloom_cells(spark, state) == _cbloom_recompute(spark, corpus)


def test_compact_state_prunes_sketch_ledger_and_keeps_takedown_safe(
        spark, tmp_path):
    """compact_state rebuilds the views without breaking any takedown
    property: the cbloom cells still equal a from-scratch recount, a
    RE-delete of an already-deleted id changes nothing, and a NEW
    delete after compaction still equals a recount over the survivors.
    The rebuilt wfp/ serves exactly the fingerprints of the corpus."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _CB_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    ing.ingest_batch(spark, spark.createDataFrame(
        _CB_DOCS1, ["doc_id", "text"]), state, batch_id=1)
    ing.delete_docs(spark, state, [2])
    ing.compact_state(spark, state, target_files=2)
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert (_cbloom_cells(spark, state)
            == _cbloom_recompute(spark, corpus))
    assert _wfp_rows(spark, state) == _wfp_recompute(spark, corpus)
    # re-delete of an already-deleted id: the doc is gone from corpus/,
    # so the recount is unchanged (re-read corpus: every delete swaps
    # the dir)
    ing.delete_docs(spark, state, [2])
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert (_cbloom_cells(spark, state)
            == _cbloom_recompute(spark, corpus))
    # a NEW delete after compaction still ≡ rebuild from survivors
    ing.delete_docs(spark, state, [3])
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 4]
    assert (_cbloom_cells(spark, state)
            == _cbloom_recompute(spark, corpus))


def test_hll_store_multi_batch_tracks_exact_and_replays_idempotently(
        spark, tmp_path):
    """The HLL cardinality view (round 10, E67): across bootstrap + two
    batches (with exact-dedup replays) the estimate stays within the
    sketch's error bound of the TRUE distinct shingle count, the lgk
    pin survives, and redelivering the SAME batch twice (at-least-once)
    changes nothing."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _CB_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    ing.ingest_batch(spark, spark.createDataFrame(
        _CB_DOCS1, ["doc_id", "text"]), state, batch_id=1)
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    n_exact = _corpus_shingles(corpus).distinct().count()
    est, lgk = ing.read_hll(spark, state)
    assert lgk == ing.HLL_LGK
    assert abs(est - n_exact) <= max(1, int(0.05 * n_exact))
    # double redelivery of an identical batch: estimate unchanged
    batch = spark.createDataFrame(
        [(8, "eight nine ten eleven twelve thirteen")], ["doc_id", "text"])
    ing.ingest_batch(spark, batch, state, batch_id=2)
    est2, _ = ing.read_hll(spark, state)
    assert est2 > est
    ing.ingest_batch(spark, batch, state, batch_id=2)
    est3, _ = ing.read_hll(spark, state)
    assert est3 == est2


def test_hll_store_takedown_rebuilds_and_lgk_pinned(spark, tmp_path):
    """HLL registers cannot be subtracted — takedown must REBUILD the
    sketch from survivors (post-delete estimate tracks the survivors'
    exact count, not the pre-delete corpus); a mismatched lgk
    configuration refuses at the layout check."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _CB_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    ing.delete_docs(spark, state, [1, 2])
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    n_exact = _corpus_shingles(corpus).distinct().count()
    est, _ = ing.read_hll(spark, state)
    assert abs(est - n_exact) <= max(1, int(0.05 * n_exact))
    # lgk pin: a different configured lgk refuses the next batch
    real = ing.HLL_LGK
    try:
        ing.HLL_LGK = real + 1
        with pytest.raises(ing.StateLockError, match="pinned at bootstrap"):
            ing.ingest_batch(spark, spark.createDataFrame(
                _CB_DOCS1, ["doc_id", "text"]), state, batch_id=1)
    finally:
        ing.HLL_LGK = real


def test_embedding_ingest_maintains_projected_vectors(spark, tmp_path):
    """The vector store carries the JL projection under BOOTSTRAP-pinned
    seeded-Gaussian planes (round-9: the streaming consumer of the E59
    compressed serving tier): every stored proj equals a fresh
    jl_project of the stored vector under the pinned planes, across
    batches; the serving accessor feeds jl_topk a pre-projected coarse
    tier that returns BIT-IDENTICAL results to the in-plan projection."""
    from cati_database_feeder_spark.operators.similarity import (
        jl_project, jl_topk)
    from cati_database_feeder_spark.streaming import (
        ingest_embeddings as ie)
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    b1 = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 2)]) for i in range(6)],
        "vec_id long, embedding array<double>")
    b2 = spark.createDataFrame(
        [(10, [0.3, -0.4, 1.0]), (11, [0.5, 0.5, 0.5])],
        "vec_id long, embedding array<double>")
    state = str(tmp_path / "emb_p")
    ie.ingest_embeddings_batch(spark, b1, state, centroid_rows=cents,
                               threshold=0.8, batch_id=0)
    planes = ie._load_planes(spark, state)
    assert len(planes) == min(ie.JL_PROJ_DIM, 3) and len(planes[0]) == 3
    ie.ingest_embeddings_batch(spark, b2, state, threshold=0.8, batch_id=1)
    assert ie._load_planes(spark, state) == planes     # pinned
    store = spark.read.parquet(L(os.path.join(state, "vectors")))
    fresh = (jl_project(store.select("vec_id", "embedding", "proj"),
                        "embedding", planes, out_col="want"))
    assert fresh.filter(F.col("proj") != F.col("want")).count() == 0
    proj_f, float_f, got_planes = ie.projected_serving_frames(spark, state)
    assert got_planes == planes
    q = b1.limit(2).select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").alias("q_vec"))
    served = sorted(map(tuple, jl_topk(
        q, float_f, planes, k=3, coarse_k=4,
        corpus_proj=proj_f).collect()))
    inplan = sorted(map(tuple, jl_topk(
        q, store.select("vec_id", "embedding"), planes, k=3,
        coarse_k=4).collect()))
    assert served == inplan


def _wfp_rows(spark, state):
    from cati_database_feeder_spark.streaming import ingest as ing
    return sorted(map(tuple, ing.read_wfp(spark, state).collect()))


def _wfp_recompute(spark, docs):
    from cati_database_feeder_spark.operators.dedup import (
        winnow_fingerprints)
    from cati_database_feeder_spark.streaming import ingest as ing
    return sorted(map(tuple, winnow_fingerprints(
        docs, k=ing.WFP_K, w=ing.WFP_W).collect()))


_WFP_DOCS0 = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
              (2, "one two three alpha beta gamma delta epsilon iota"),
              (3, "completely different words with no shared runs at all")]
_WFP_DOCS1 = [(4, "p q alpha beta gamma delta epsilon zeta r s"),
              (1, "REPLAYED exact dup dies x y z w v u t s")]


def test_wfp_store_multi_batch_equals_recompute_and_replays(
        spark, tmp_path):
    """The winnowing-fingerprint view (E73+): across bootstrap + a
    batch (with an exact-dedup replay inside it) the view equals a
    from-scratch fingerprint pass over the final corpus; re-ingesting
    the identical batch (at-least-once redelivery) changes nothing."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS1, ["doc_id", "text"]), state, batch_id=1)
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert _wfp_rows(spark, state) == _wfp_recompute(spark, corpus)
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS1, ["doc_id", "text"]), state, batch_id=1)
    assert _wfp_rows(spark, state) == _wfp_recompute(spark, corpus)


def test_wfp_store_crash_replay_no_duplicate_rows(spark, tmp_path):
    """Crash just BEFORE the corpus commit marker (at the metrics
    append): the wfp view follows the corpus, which never held the
    crashed batch, so after the redelivery it serves each doc once and
    equals the recompute."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    real_append = ing._append_metrics
    crashed = []

    def crash_at_metrics(*a, **kw):
        if not crashed:
            crashed.append(True)
            raise RuntimeError("injected crash before commit marker")
        real_append(*a, **kw)

    ing._append_metrics = crash_at_metrics
    try:
        batch = spark.createDataFrame(_WFP_DOCS1, ["doc_id", "text"])
        with pytest.raises(RuntimeError, match="injected crash"):
            ing.ingest_batch(spark, batch, state, batch_id=1)
        ing.ingest_batch(spark, batch, state, batch_id=1)
    finally:
        ing._append_metrics = real_append
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 2, 3, 4]
    assert _wfp_rows(spark, state) == _wfp_recompute(spark, corpus)


def test_wfp_store_takedown_and_geometry_pin(spark, tmp_path,
                                             monkeypatch):
    """Takedown on the fingerprint table is an exact row delete
    (post-delete ≡ recompute over survivors); a re-ingest configured
    for a different (k, w) refuses on the bootstrap-pinned layout
    stamp."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    ing.delete_docs(spark, state, [2])
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 3]
    assert _wfp_rows(spark, state) == _wfp_recompute(spark, corpus)
    monkeypatch.setattr(ing, "WFP_K", 5)
    with pytest.raises(ing.StateLockError, match="geometry"):
        ing.ingest_batch(spark, spark.createDataFrame(
            _WFP_DOCS1, ["doc_id", "text"]), state, batch_id=1)


def _retrain_fixture(spark, tmp_path):
    """Clustered vectors bootstrapped under DELIBERATELY bad centroids
    (both near one cluster) — the drift scenario E79 exists for."""
    from cati_database_feeder_spark.streaming.ingest_embeddings import (
        ingest_embeddings_batch)
    rows = ([(i, [10.0 + (i % 3), 0.0, 0.0]) for i in range(12)]
            + [(100 + i, [0.0, 10.0 + (i % 3), 0.0]) for i in range(12)])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.05, 0.0]), (1, [1.0, -0.05, 0.0])]
    state = str(tmp_path / "emb_state")
    ingest_embeddings_batch(spark, df.filter(F.col("vec_id") < 50),
                            state, centroid_rows=cents, threshold=0.99)
    ingest_embeddings_batch(spark, df.filter(F.col("vec_id") >= 50),
                            state, threshold=0.99)
    return df, state


def test_retrain_centroids_migrates_and_preserves_payload(
        spark, tmp_path):
    """E79 happy path: after retrain+migrate (a) every payload column
    (vec_id, embedding, codes, proj) is row-set IDENTICAL — only the
    cell partitioning moved; (b) the stored cells equal a fresh
    assign_cells under the new centroids; (c) the serving accessors
    produce the same (vec_id → codes/proj) maps as before (the
    quantizer and planes are orthogonal to cells); (d) the occupancy
    actually improves on the clustered fixture (the bad bootstrap put
    ~everything in one cell); (e) a post-migration ingest lands
    normally under the new cells."""
    from cati_database_feeder_spark.operators.similarity import (
        assign_cells)
    from cati_database_feeder_spark.streaming import (
        ingest_embeddings as ie)
    df, state = _retrain_fixture(spark, tmp_path)
    vec_dir = os.path.join(state, "vectors")
    before = {(r["vec_id"], tuple(r["embedding"]), tuple(r["codes"]),
               tuple(r["proj"]))
              for r in spark.read.parquet(L(vec_dir)).collect()}
    occ0 = (spark.read.parquet(L(vec_dir)).groupBy("cell").count()
            .agg(F.max("count")).collect()[0][0])
    ie.retrain_embeddings_centroids(spark, state, iterations=2,
                                    max_share=0.6)
    after_rows = spark.read.parquet(L(vec_dir)).collect()
    after = {(r["vec_id"], tuple(r["embedding"]), tuple(r["codes"]),
              tuple(r["proj"])) for r in after_rows}
    assert after == before
    cents = ie._load_centroids(spark, state)
    want_cells = {r["vec_id"]: r["cell"] for r in assign_cells(
        spark.read.parquet(L(vec_dir)).select("vec_id", "embedding"),
        cents, by="ip").collect()}
    assert {r["vec_id"]: r["cell"] for r in after_rows} == want_cells
    occ1 = (spark.read.parquet(L(vec_dir)).groupBy("cell").count()
            .agg(F.max("count")).collect()[0][0])
    assert occ1 < occ0, (occ0, occ1)
    codes_f, float_f, _, lo, hi = ie.quantized_serving_frames(spark, state)
    assert codes_f.count() == len(before)
    # post-migration ingest: new batch lands under the NEW cells
    extra = spark.createDataFrame(
        [(500, [0.0, 0.0, 10.0])], "vec_id long, embedding array<double>")
    ie.ingest_embeddings_batch(spark, extra, state, threshold=0.99)
    got = spark.read.parquet(L(vec_dir)).filter(F.col("vec_id") == 500)
    assert got.count() == 1
    want = assign_cells(extra, cents, by="ip").collect()[0]["cell"]
    assert got.collect()[0]["cell"] == want


def test_retrain_centroids_crash_fence_and_resume(spark, tmp_path):
    """E79 crash window: a crash between the vectors rewrite and the
    centroids swap leaves the two stores on different cell epochs —
    every embedding op must REFUSE on the migration marker, and
    re-running retrain completes the migration from the staged
    centroids, landing identical to an uninterrupted run."""
    from cati_database_feeder_spark.streaming import (
        ingest_embeddings as ie)
    from cati_database_feeder_spark.streaming.ingest import StateLockError
    df, state = _retrain_fixture(spark, tmp_path)
    cen_dir = os.path.join(state, "centroids")
    real_swap = ie._swap_write
    crashed = []

    def crash_at_cen_swap(frame, target, writer=None):
        if target.rstrip("/") == cen_dir.rstrip("/") and not crashed:
            crashed.append(True)
            raise RuntimeError("injected crash before centroids swap")
        real_swap(frame, target, writer)

    ie._swap_write = crash_at_cen_swap
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            ie.retrain_embeddings_centroids(spark, state, iterations=2,
                                            max_share=0.6)
        extra = spark.createDataFrame(
            [(500, [0.0, 0.0, 10.0])],
            "vec_id long, embedding array<double>")
        with pytest.raises(StateLockError, match="interrupted centroid"):
            ie.ingest_embeddings_batch(spark, extra, state)
        with pytest.raises(StateLockError, match="interrupted centroid"):
            ie.quantized_serving_frames(spark, state)
    finally:
        ie._swap_write = real_swap
    ie.retrain_embeddings_centroids(spark, state)  # resume
    from cati_database_feeder_spark.operators.similarity import (
        assign_cells)
    cents = ie._load_centroids(spark, state)
    rows = spark.read.parquet(L(os.path.join(state, "vectors"))).collect()
    want = {r["vec_id"]: r["cell"] for r in assign_cells(
        spark.read.parquet(L(os.path.join(state, "vectors")))
        .select("vec_id", "embedding"), cents, by="ip").collect()}
    assert {r["vec_id"]: r["cell"] for r in rows} == want
    assert not os.path.exists(os.path.join(state, ie._MIGRATE_PENDING))
    assert not os.path.exists(os.path.join(state, ie._CENTS_NEXT))


def test_members_store_bucketed_and_takedown_equals_recompute(
        spark, tmp_path):
    """Layout contract of the id-keyed members/ store: it is written
    hash-bucketed on its id (bucket=N partition dirs, each holding
    exactly the ids that hash to it), and after takedowns the store and
    the fingerprint views still equal a from-scratch pass over the
    survivors."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS1, ["doc_id", "text"]), state, batch_id=1)

    def assert_members_bucketed(ids):
        live = L(os.path.join(state, "members"))
        assert any(n.startswith("bucket=") for n in os.listdir(live))
        stored = spark.read.parquet(live)
        assert sorted(r["id"] for r in stored.collect()) == ids
        want = ing._with_id_bucket(stored.drop("bucket"), "id")
        assert (sorted(map(tuple, stored.select("id", "bucket").collect()))
                == sorted(map(tuple, want.select("id", "bucket")
                              .collect())))

    assert_members_bucketed([1, 2, 3, 4])
    ing.delete_docs(spark, state, [2])
    assert_members_bucketed([1, 3, 4])
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert _wfp_rows(spark, state) == _wfp_recompute(spark, corpus)
    assert not any(r["doc_id"] == 2
                   for r in ing.read_dhash(spark, state).collect())
    # a second takedown (another swap + GC of the pre-delete epochs)
    # leaves every store fully readable
    ing.delete_docs(spark, state, [3])
    assert_members_bucketed([1, 4])
    corpus2 = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert _wfp_rows(spark, state) == _wfp_recompute(spark, corpus2)


def test_hll_store_all_short_docs_reads_zero_and_recovers(
        spark, tmp_path):
    """Round-10 advice: a corpus whose docs are all shorter than the
    shingle width aggregates ZERO shingle rows, so hll_sketch_agg
    yields a NULL sketch. The store must read as estimate 0 (not
    crash on int(None)), and a later real delta must merge normally —
    the NULL sketch may never poison hll_union_agg."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        [(1, "a b"), (2, "c d e")], ["doc_id", "text"]),
        state, batch_id=0)
    est, lgk = ing.read_hll(spark, state)
    assert (est, lgk) == (0, ing.HLL_LGK)
    # a second all-short delta keeps the estimate at 0
    ing.ingest_batch(spark, spark.createDataFrame(
        [(3, "f g")], ["doc_id", "text"]), state, batch_id=1)
    assert ing.read_hll(spark, state)[0] == 0
    # a real delta merges normally despite the NULL-sketch store
    ing.ingest_batch(spark, spark.createDataFrame(
        [(4, "one two three four five six seven eight nine ten")],
        ["doc_id", "text"]), state, batch_id=2)
    est2, _ = ing.read_hll(spark, state)
    assert est2 >= 5  # 10 tokens -> 6 distinct 5-shingles, ±1.6% err


def test_view_rebuild_crash_reads_corpus_and_retry_restores_manifest(
        spark, tmp_path, monkeypatch):
    """A crash inside the view rebuild of compact_state and of
    delete_docs, between the first view swap and the manifest write.
    The rebuild dropped the ``_VIEWS`` manifest before its first view
    write, so while the views are half rewritten every reader builds
    from the live corpus and equals a recompute; the retry
    (compact_state again, delete_docs with no new ids) writes the
    manifest back, naming the live corpus epoch, and the readers still
    equal a recompute."""
    import json
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    corpus_dir = os.path.join(state, "corpus")
    manifest = os.path.join(state, ing._MANIFEST)
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS1, ["doc_id", "text"]), state, batch_id=1)
    real_swap = ing._swap_write

    def crash_after_view_swap(df, target, writer=None):
        real_swap(df, target, writer)
        if os.path.basename(target) in ing._VIEWS:
            raise RuntimeError("injected crash after a view swap")

    def assert_views_equal_recompute():
        corpus = spark.read.parquet(L(corpus_dir))
        assert _cbloom_cells(spark, state) == _cbloom_recompute(spark,
                                                                corpus)
        est = (ing._hll_of(corpus).select(F.hll_sketch_estimate("sk"))
               .collect()[0][0])
        assert ing.read_hll(spark, state)[0] == est
        assert _wfp_rows(spark, state) == _wfp_recompute(spark, corpus)
        assert sorted(map(tuple, ing.read_dhash(spark, state).collect())) \
            == _dhash_recompute(spark, corpus)
        assert sorted(map(tuple, ing.read_afp(spark, state).collect())) \
            == _afp_recompute(spark, corpus)

    for op, retry in (
            (lambda: ing.compact_state(spark, state, target_files=2),
             lambda: ing.compact_state(spark, state, target_files=2)),
            (lambda: ing.delete_docs(spark, state, [2]),
             lambda: ing.delete_docs(spark, state, []))):
        monkeypatch.setattr(ing, "_swap_write", crash_after_view_swap)
        with pytest.raises(RuntimeError, match="injected crash"):
            op()
        monkeypatch.setattr(ing, "_swap_write", real_swap)
        assert not os.path.exists(manifest)
        assert_views_equal_recompute()
        retry()
        with open(manifest) as fh:
            assert json.load(fh)["corpus"] == os.path.basename(
                L(corpus_dir))
        assert_views_equal_recompute()
    assert sorted(r["doc_id"] for r in spark.read.parquet(
        L(corpus_dir)).collect()) == [1, 3, 4]


def _dhash_recompute(spark, docs):
    from cati_database_feeder_spark.streaming import ingest as ing
    return sorted(map(tuple, ing._dhash_of(docs).collect()))


def test_dhash_store_multi_batch_equals_recompute_and_replays(
        spark, tmp_path):
    """The perceptual-hash view (E72+): across bootstrap + a batch
    (with an exact-dup replay inside it) the view equals a from-scratch
    dhash pass over the final corpus, one row per doc; re-ingesting
    the identical batch changes nothing."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS1, ["doc_id", "text"]), state, batch_id=1)
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    stored = sorted(map(tuple, ing.read_dhash(spark, state).collect()))
    assert stored == _dhash_recompute(spark, corpus)
    assert len(stored) == corpus.count()  # exactly one row per doc
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS1, ["doc_id", "text"]), state, batch_id=1)
    assert sorted(map(tuple, ing.read_dhash(spark, state).collect())) \
        == stored


def test_dhash_store_takedown_and_geometry_pin(
        spark, tmp_path, monkeypatch):
    """Takedown is an exact row delete (post-delete ≡ recompute over
    survivors); a re-ingest under a different dHash grid refuses on
    the bootstrap-pinned layout stamp."""
    from cati_database_feeder_spark.sources import multimodal as mm
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    ing.delete_docs(spark, state, [2])
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert sorted(map(tuple, ing.read_dhash(spark, state).collect())) \
        == _dhash_recompute(spark, corpus)
    with pytest.raises(ing.StateLockError, match="geometry"):
        monkeypatch.setattr(mm, "_DHASH_GRID_W", 9)
        ing.ingest_batch(spark, spark.createDataFrame(
            _WFP_DOCS1, ["doc_id", "text"]), state, batch_id=1)


def test_embedding_ingest_maintains_pq_codes(spark, tmp_path):
    """The vector store carries PQ codes under BOOTSTRAP-pinned
    codebooks (E102+, the store sibling of the int8/JL columns): every
    stored code word equals a fresh pq_encode of the stored vector
    under the pinned books, across batches; the serving accessor feeds
    pq_adc_topk a pre-encoded coarse tier that returns BIT-IDENTICAL
    results to in-plan encoding."""
    from cati_database_feeder_spark.operators.similarity import (
        pq_adc_topk, pq_encode)
    from cati_database_feeder_spark.streaming import (
        ingest_embeddings as ie)
    cents = [(0, [1.0, 0.0, 0.25, -0.5]), (1, [0.0, 1.0, -0.25, 0.5])]
    b1 = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 2), 0.5 - i]) for i in range(6)],
        "vec_id long, embedding array<double>")
    b2 = spark.createDataFrame(
        [(10, [0.3, -0.4, 1.0, 0.2]), (11, [0.5, 0.5, 0.5, 0.5])],
        "vec_id long, embedding array<double>")
    state = str(tmp_path / "emb_pq")
    ie.ingest_embeddings_batch(spark, b1, state, centroid_rows=cents,
                               threshold=0.8, batch_id=0)
    books = ie._load_pqbooks(spark, state)
    # dim 4 → m=4 subspaces of width 1, ks = 2 seed centroids
    assert len(books) == 4 and len(books[0]) == 2 and len(books[0][0]) == 1
    ie.ingest_embeddings_batch(spark, b2, state, threshold=0.8, batch_id=1)
    assert ie._load_pqbooks(spark, state) == books     # pinned
    store = spark.read.parquet(L(os.path.join(state, "vectors")))
    fresh = pq_encode(store.select("vec_id", "embedding", "pq"),
                      books, out_col="want")
    assert fresh.filter(F.col("pq") != F.col("want")).count() == 0
    pq_f, float_f, got_books, got_cents = ie.pq_serving_frames(spark, state)
    assert got_books == books and got_cents == cents
    q = b1.limit(2).select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").alias("q_vec"))
    served = sorted(map(tuple, pq_adc_topk(
        q, pq_f, books, k=3, codes_col="pq").collect()))
    inplan = sorted(map(tuple, pq_adc_topk(
        q, pq_encode(store.select("vec_id", "embedding"), books,
                     out_col="codes"),
        books, k=3).collect()))
    assert served == inplan


# ---------------------------------------------------------------------
# E115 CDC snapshot store
# ---------------------------------------------------------------------

_CDC_SCHEMA = "user_id long, seq long, op string, val double"


def _cdc_apply_all(spark, rows, state):
    from cati_database_feeder_spark.streaming import cdc
    for batch_rows in rows:
        cdc.apply_changes_batch(
            spark, spark.createDataFrame(batch_rows, _CDC_SCHEMA),
            state, key_col="user_id", seq_cols=("seq",))


def _cdc_state(spark, state):
    from cati_database_feeder_spark.streaming import cdc
    return sorted(map(tuple, cdc.read_snapshot(spark, state).collect()))


def test_cdc_incremental_equals_single_fold(spark, tmp_path):
    """Folding batch-by-batch must equal folding the concatenated
    changelog in one shot — the recompute-equivalence property every
    ingest store here pins."""
    b1 = [(1, 10, "I", 1.0), (2, 11, "I", 2.0), (1, 12, "U", 1.5)]
    b2 = [(2, 13, "D", 0.0), (3, 14, "I", 3.0)]
    b3 = [(1, 15, "U", 1.9), (4, 16, "I", 4.0), (4, 17, "D", 0.0)]
    s_inc, s_one = str(tmp_path / "inc"), str(tmp_path / "one")
    _cdc_apply_all(spark, [b1, b2, b3], s_inc)
    _cdc_apply_all(spark, [b1 + b2 + b3], s_one)
    got = _cdc_state(spark, s_inc)
    assert got == _cdc_state(spark, s_one)
    assert got == [(1, 15, "U", 1.9), (3, 14, "I", 3.0)]


def test_cdc_redelivery_is_fixed_point(spark, tmp_path):
    b1 = [(1, 10, "I", 1.0), (2, 11, "I", 2.0)]
    b2 = [(1, 12, "U", 1.5), (2, 13, "D", 0.0)]
    state = str(tmp_path / "redeliver")
    _cdc_apply_all(spark, [b1, b2], state)
    before = _cdc_state(spark, state)
    _cdc_apply_all(spark, [b2, b1, b2], state)  # replay, any order
    assert _cdc_state(spark, state) == before


def test_cdc_tombstone_beats_late_older_update(spark, tmp_path):
    """The out-of-order hazard: an update with an OLDER sequence than
    the delete arrives after it — the key must stay deleted. A
    genuinely NEWER insert resurrects it."""
    state = str(tmp_path / "late")
    _cdc_apply_all(spark, [[(1, 20, "D", 0.0)]], state)
    _cdc_apply_all(spark, [[(1, 15, "U", 9.9)]], state)  # late, older
    assert _cdc_state(spark, state) == []
    _cdc_apply_all(spark, [[(1, 25, "I", 5.0)]], state)  # newer insert
    assert _cdc_state(spark, state) == [(1, 25, "I", 5.0)]


def test_cdc_streaming_foreach_batch_matches_batch_fold(spark, tmp_path):
    """The foreachBatch wiring replays the file-shard stream into the
    same snapshot the one-shot fold produces."""
    from cati_database_feeder_spark.streaming import cdc
    rows = ([(i % 7, i, "I" if i % 3 else "U", float(i)) for i in range(40)]
            + [(3, 100, "D", 0.0)])
    src = spark.createDataFrame(rows, _CDC_SCHEMA)
    in_dir = str(tmp_path / "cdc_in")
    src.repartition(4).write.parquet(in_dir)
    stream = spark.readStream.schema(src.schema).parquet(in_dir)
    s_stream = str(tmp_path / "cdc_stream_state")

    def _apply(batch_df, _bid):
        cdc.apply_changes_batch(batch_df.sparkSession, batch_df,
                                s_stream, key_col="user_id",
                                seq_cols=("seq",))
    q = (stream.writeStream.foreachBatch(_apply)
         .option("checkpointLocation", str(tmp_path / "cdc_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    q.stop()
    s_batch = str(tmp_path / "cdc_batch_state")
    _cdc_apply_all(spark, [rows], s_batch)
    assert _cdc_state(spark, s_stream) == _cdc_state(spark, s_batch)


def test_cdc_missing_op_column_refuses(spark, tmp_path):
    import pytest as _pytest
    from cati_database_feeder_spark.streaming import cdc
    df = spark.createDataFrame([(1, 2, 3.0)], "user_id long, seq long, val double")
    with _pytest.raises(ValueError, match="missing op column"):
        cdc.apply_changes_batch(spark, df, str(tmp_path / "x"),
                                key_col="user_id", seq_cols=("seq",))


# ---------------------------------------------------------------------
# E83+ audio-fingerprint store (the dhash sibling)
# ---------------------------------------------------------------------

def _afp_recompute(spark, docs):
    from cati_database_feeder_spark.streaming import ingest as ing
    return sorted(map(tuple, ing._afp_of(docs).collect()))


def test_afp_store_multi_batch_equals_recompute_and_replays(
        spark, tmp_path):
    """The audio-fingerprint view (E83+): across bootstrap + a batch
    (with an exact-dup replay inside it) the view equals a from-scratch
    fingerprint pass over the final corpus, one row per doc;
    re-ingesting the identical batch changes nothing."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS1, ["doc_id", "text"]), state, batch_id=1)
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    stored = sorted(map(tuple, ing.read_afp(spark, state).collect()))
    assert stored == _afp_recompute(spark, corpus)
    assert len(stored) == corpus.count()
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS1, ["doc_id", "text"]), state, batch_id=1)
    assert sorted(map(tuple, ing.read_afp(spark, state).collect())) \
        == stored


def test_afp_store_takedown_and_geometry_pin(
        spark, tmp_path, monkeypatch):
    """Takedown = exact row delete; a hash-width mismatch refuses on
    the bootstrap-pinned layout stamp."""
    from cati_database_feeder_spark.sources import multimodal as mm
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    ing.delete_docs(spark, state, [2])
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert sorted(map(tuple, ing.read_afp(spark, state).collect())) \
        == _afp_recompute(spark, corpus)
    with pytest.raises(ing.StateLockError, match="pinned at bootstrap"):
        monkeypatch.setattr(mm, "AUDIO_HASH_BITS", 48)
        ing.ingest_batch(spark, spark.createDataFrame(
            _WFP_DOCS1, ["doc_id", "text"]), state, batch_id=1)
