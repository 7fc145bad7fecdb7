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
    _drop_store, live_store as L, store_exists)


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
    recompute (rep choice is invisible in the pair/label output)."""
    from cati_database_feeder_spark.streaming.ingest import (
        compact_state, ingest_batch)

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
    from cati_database_feeder_spark.streaming import ingest as _ing
    _ing._drop_store(os.path.join(state, "corpus"))
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


def test_incremental_path_reads_no_corpus_text(spark, tmp_path):
    """THE round-7 contract: after bootstrap, every frame the
    incremental path builds — delta, membership, pairs, labels, store
    appends — must not read the corpus text column. Walks each frame's
    optimized plan: any scan of corpus/ may read doc_id alone; the
    text column may appear only in scans of the BATCH input and the
    reps store (rep token arrays are derived store content, not corpus
    text)."""
    from cati_database_feeder_spark.streaming.ingest import (
        _incremental_frames, ingest_batch)

    rows = [(10, "alpha beta gamma delta"), (11, "alpha beta gamma x"),
            (40, "foo bar baz qux"), (41, "foo bar baz qux quux")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    state = str(tmp_path / "state")
    ingest_batch(spark, df.filter(F.col("doc_id") < 40), state)

    batch = df.filter(F.col("doc_id") >= 40)
    fr = _incremental_frames(spark, state, batch, 0.7, 16, 4)
    corpus_path = os.path.join(state, "corpus")
    for name, frame in fr.items():
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        for line in plan.splitlines():
            if "Relation" in line and corpus_path in line:
                # relation line lists the read columns: doc_id only
                assert "text" not in line, (
                    f"frame {name!r} reads corpus text: {line}")


def test_legacy_state_dir_migration(spark, tmp_path):
    """A state dir created before the membership store existed
    (corpus/labels/buckets only — the round-6 layout) must be migrated
    once by _ensure_membership_stores on the next ingest_batch: the
    derived members/reps appear, the batch lands incrementally, and
    the final labeling equals a full recompute."""
    from cati_database_feeder_spark.streaming.ingest import ingest_batch

    rows = [(10, "alpha beta gamma delta"),
            (11, "alpha beta gamma delta epsilon"),
            (40, "foo bar baz qux"),
            (41, "foo bar baz qux quux"),
            (70, "delta gamma beta alpha")]   # same set as 10
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    corpus = df.filter(F.col("doc_id") < 42)
    state = str(tmp_path / "state")
    # hand-build the PRE-membership-store layout
    memb = dedup.tokset_groups(corpus)
    labels = connected_components(
        dedup.near_dup_pairs(corpus, threshold=0.7).select("id_a", "id_b"))
    labels.write.parquet(os.path.join(state, "labels"))
    dedup.rep_band_buckets(memb).write.parquet(os.path.join(state, "buckets"))
    corpus.write.parquet(os.path.join(state, "corpus"))

    ingest_batch(spark, df.filter(F.col("doc_id") == 70), state)
    for store in ("members", "reps"):
        assert store_exists(os.path.join(state, store))
    members = spark.read.parquet(L(os.path.join(state, "members")))
    assert [r["gid"] for r in
            members.filter(F.col("id") == 70).collect()] == [10]
    got = {(r["id"], r["component"]) for r in
           spark.read.parquet(L(os.path.join(state, "labels"))).collect()}
    want = {(r["id"], r["component"]) for r in
            connected_components(
                dedup.near_dup_pairs(df, threshold=0.7)
                .select("id_a", "id_b")).collect()}
    assert len(want) > 0
    assert got == want


def test_swap_crash_recovery(spark, tmp_path):
    """Crash-window healing across BOTH store layouts. Epoch scheme
    (what _swap_write writes today): the pointer flip is the commit
    point, so the only artifacts a crash can leave are an epoch dir
    NEWER than the pointer (written, never committed) and a stale
    .ptr.tmp sidecar — the next state op drops both and the pointed
    state serves unchanged. Legacy scheme (pre-epoch __tmp/__old
    rename dance, still on disk in old state dirs): all three rename
    windows heal exactly as before."""
    import shutil as sh

    from cati_database_feeder_spark.streaming import ingest as ing
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

    # --- legacy windows: rebuild labels as a pre-epoch plain dir ---
    stash = str(tmp_path / "legacy_labels")
    sh.copytree(L(labels), stash)
    ing._drop_store(labels)
    sh.move(stash, labels)
    assert L(labels) == labels  # no pointer → plain layout

    # window (a): tmp written, target untouched — tmp dropped
    sh.copytree(labels, labels + "__tmp")
    ing._recover_swaps(state)
    assert not os.path.exists(labels + "__tmp")
    assert os.path.exists(labels)

    # window (b): target renamed aside, tmp present — worst case:
    # the old dir is renamed back (state only advances via a
    # COMPLETED state op)
    sh.copytree(labels, labels + "__tmp")
    os.rename(labels, labels + "__old")
    ing._recover_swaps(state)
    assert os.path.exists(labels)
    assert not os.path.exists(labels + "__old")
    assert not os.path.exists(labels + "__tmp")

    # window (c): swap complete, old not yet deleted — old dropped
    sh.copytree(labels, labels + "__old")
    ing._recover_swaps(state)
    assert not os.path.exists(labels + "__old")

    # the healed legacy dir keeps serving and the next NON-QUIET
    # batch (doc 41 near-dups doc 40 → new pair → labels swap) moves
    # it onto the epoch scheme with the right closure
    ingest_batch(spark, df.filter(F.col("doc_id") == 41), state)
    assert L(labels) != labels
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
    text path, across BOTH layouts: an orphan (uncommitted) epoch dir
    plus a stale pointer tmp under the epoch scheme, and the legacy
    __tmp/__old rename windows on a pre-epoch plain dir — final
    labeling equal to the full recompute."""
    import shutil as sh

    from cati_database_feeder_spark.operators import similarity
    from cati_database_feeder_spark.operators.graph import (
        connected_components as cc)
    from cati_database_feeder_spark.streaming import (
        ingest as ing, ingest_embeddings as ie)
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

    # --- legacy windows on a pre-epoch plain labels dir ---
    stash = str(tmp_path / "legacy_emb_labels")
    sh.copytree(L(labels), stash)
    ing._drop_store(labels)
    sh.move(stash, labels)
    assert L(labels) == labels

    sh.copytree(labels, labels + "__tmp")
    ie._recover_swaps(state, ie._EMB_STORES)
    assert not os.path.exists(labels + "__tmp")

    sh.copytree(labels, labels + "__tmp")
    os.rename(labels, labels + "__old")
    ie._recover_swaps(state, ie._EMB_STORES)
    assert os.path.exists(labels)
    assert not os.path.exists(labels + "__old")
    assert not os.path.exists(labels + "__tmp")

    sh.copytree(labels, labels + "__old")
    ie._recover_swaps(state, ie._EMB_STORES)
    assert not os.path.exists(labels + "__old")

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


def test_embedding_ingest_migrates_legacy_store_to_codes(spark, tmp_path):
    """A state dir from before the codes column (simulated by
    stripping codes/ and quant/) migrates on the next ingest: range
    pinned from the CURRENT store, every row rewritten with codes,
    serving accessor usable afterwards; a pre-migration serving call
    refuses with the recipe."""
    import pytest as _pytest
    import shutil
    from cati_database_feeder_spark.functions import vectors as V
    from cati_database_feeder_spark.streaming import (
        ingest_embeddings as ie)
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    rows = [(i, [float(i % 3), 1.0, float(i % 2)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    state = str(tmp_path / "emb_legacy")
    ie.ingest_embeddings_batch(spark, df.filter(F.col("vec_id") < 6),
                               state, centroid_rows=cents, threshold=0.8,
                               batch_id=0)
    # simulate the legacy layout
    vec_dir = os.path.join(state, "vectors")
    legacy = spark.read.parquet(L(vec_dir)).drop("codes").persist()
    legacy.count()
    ie._swap_write_by_cell(legacy.repartition("cell"), vec_dir)
    _drop_store(os.path.join(state, "quant"))
    with _pytest.raises(ValueError, match="predates the codes store"):
        ie.quantized_serving_frames(spark, state)
    ie.ingest_embeddings_batch(spark, df.filter(F.col("vec_id") >= 6),
                               state, threshold=0.8, batch_id=1)
    legacy.unpersist()
    lo, hi = ie._load_quant(spark, state)
    store = spark.read.parquet(L(vec_dir))
    assert "codes" in store.columns and store.count() == 8
    fresh = store.select(
        "codes", V.quantize_int8(F.col("embedding"), F.lit(lo), F.lit(hi))
        .alias("want"))
    assert fresh.filter(F.col("codes") != F.col("want")).count() == 0


# ---------------------------------------------------------------------
# cms/ store: the maintained count-min sketch (round 9)
# ---------------------------------------------------------------------

def _cms_cells(spark, state):
    from cati_database_feeder_spark.streaming import ingest as ing
    return sorted(map(tuple, ing.read_cms(spark, state).collect()))


def _cms_recompute(spark, docs, depth=None, width=None):
    from cati_database_feeder_spark.streaming import ingest as ing
    t = ing._cms_of(docs, depth or ing.CMS_DEPTH, width or ing.CMS_WIDTH)
    return sorted(map(tuple,
                      t.select(F.col("r").cast("int"),
                               F.col("bucket").cast("bigint"),
                               F.col("cnt").cast("bigint")).collect()))


def test_cms_store_multi_batch_equals_full_recompute(spark, tmp_path):
    """The linear-sketch merge across bootstrap + two batches (with
    replayed ids that die at exact dedup) lands on the IDENTICAL cell
    set as one count-min pass over the final corpus store."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta beta")], ["doc_id", "text"])
    b1 = spark.createDataFrame(
        [(2, "REPLAYED ignored"), (3, "alpha alpha epsilon")],
        ["doc_id", "text"])
    b2 = spark.createDataFrame(
        [(4, "zeta beta gamma gamma"), (1, "REPLAYED too")],
        ["doc_id", "text"])
    for i, b in enumerate((b0, b1, b2)):
        ing.ingest_batch(spark, b, state, batch_id=i)
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert _cms_cells(spark, state) == _cms_recompute(spark, corpus)


def test_cms_store_replay_after_commit_crash_does_not_double_count(
        spark, tmp_path):
    """foreachBatch is at-least-once and the cms merge is NOT
    idempotent: a crash AFTER the cms swap but BEFORE the corpus
    commit marker (injected at the metrics append, which sits between
    them) redelivers the identical delta — the fingerprint sentinel
    must skip the second merge or every cell the delta touched
    double-counts."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], ["doc_id", "text"]),
        state, batch_id=0)
    batch = spark.createDataFrame(
        [(3, "alpha epsilon epsilon")], ["doc_id", "text"])
    real_append = ing._append_metrics
    crashed = []

    def crash_at_metrics(*a, **kw):
        if not crashed:
            crashed.append(True)
            raise RuntimeError("injected crash before commit marker")
        real_append(*a, **kw)

    ing._append_metrics = crash_at_metrics
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            ing.ingest_batch(spark, batch, state, batch_id=1)
        # retry: delta recomputes identically (marker unwritten), the
        # stored fp matches, the merge is skipped
        ing.ingest_batch(spark, batch, state, batch_id=1)
    finally:
        ing._append_metrics = real_append
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert corpus.filter(F.col("doc_id") == 3).count() == 1
    assert _cms_cells(spark, state) == _cms_recompute(spark, corpus)


def test_cms_store_delete_docs_rebuilds_on_survivors(spark, tmp_path):
    """Takedown: the sketch equals a fresh count-min pass over the
    surviving corpus (never retains deleted docs' counts), and the
    idempotent empty-set retry changes nothing."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha alpha"),
         (3, "delta epsilon")], ["doc_id", "text"]), state, batch_id=0)
    ing.delete_docs(spark, state, [2])
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert corpus.filter(F.col("doc_id") == 2).count() == 0
    cells = _cms_cells(spark, state)
    assert cells == _cms_recompute(spark, corpus)
    ing.delete_docs(spark, state, [])
    assert _cms_cells(spark, state) == cells


def test_cms_store_dims_pinned_at_bootstrap(spark, tmp_path):
    """Merging tables of different (depth, width) silently corrupts
    every cell — a mismatched configuration must refuse loudly."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        [(1, "alpha")], ["doc_id", "text"]), state, batch_id=0)
    with pytest.raises(ing.StateLockError, match="pinned at bootstrap"):
        ing._ensure_cms_store(spark, state, depth=2, width=64)


def test_cms_store_legacy_dir_migrates_once(spark, tmp_path):
    """A pre-cms state dir gets the sketch derived from its corpus on
    the next ingest (one corpus tokenize pass, once), then maintains
    it incrementally."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], ["doc_id", "text"]),
        state, batch_id=0)
    _drop_store(os.path.join(state, "cms"))      # simulate legacy dir
    ing.ingest_batch(spark, spark.createDataFrame(
        [(3, "delta alpha")], ["doc_id", "text"]), state, batch_id=1)
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert _cms_cells(spark, state) == _cms_recompute(spark, corpus)


def test_cms_store_sentinelless_dir_rebuilt_not_trusted(spark, tmp_path):
    """A cms/ dir WITHOUT the dims sentinel is a partially written
    store (every complete writer commits data + sentinels in one
    frame): the ensure path must rebuild it from the corpus, never
    merge into it — merging would serve a permanently under-counted
    sketch (review finding)."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma alpha")], ["doc_id", "text"]),
        state, batch_id=0)
    cms_dir = os.path.join(state, "cms")
    # simulate the partial write: data rows present, sentinels lost
    partial = ing.read_cms(spark, state).limit(1).collect()
    stripped = spark.createDataFrame(partial, "r INT, bucket BIGINT, cnt BIGINT")
    _drop_store(cms_dir)
    stripped.write.mode("overwrite").parquet(cms_dir)
    ing.ingest_batch(spark, spark.createDataFrame(
        [(3, "delta beta")], ["doc_id", "text"]), state, batch_id=1)
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert _cms_cells(spark, state) == _cms_recompute(spark, corpus)


# ---------------------------------------------------------------------
# cbloom/ store: the maintained counting-Bloom decontamination gate
# (round 10, verdict item 5) + safe sketch subtraction (verdict item 6)
# ---------------------------------------------------------------------

def _cbloom_cells(spark, state):
    from cati_database_feeder_spark.streaming import ingest as ing
    return sorted(map(tuple, ing.read_cbloom(spark, state).collect()))


def _cbloom_recompute(spark, docs):
    from cati_database_feeder_spark.streaming import ingest as ing
    return sorted(map(tuple, ing._cbloom_of(docs)
                      .select(F.col("bucket").cast("bigint"),
                              F.col("cnt").cast("bigint")).collect()))


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
    """The maintained counting-Bloom gate across bootstrap + a batch:
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
    survivors — for BOTH takedown modes — so a shingle shared with a
    surviving doc stays positive while a deleted-only shingle's cells
    drop to zero, and the served gate keeps the no-false-negative
    contract on the surviving corpus."""
    from cati_database_feeder_spark.functions import sketches
    from cati_database_feeder_spark.streaming import ingest as ing
    for mode in ("subtract", "rebuild"):
        state = str(tmp_path / f"state_{mode}")
        ing.ingest_batch(spark, spark.createDataFrame(
            _CB_DOCS0, ["doc_id", "text"]), state, batch_id=0)
        ing.delete_docs(spark, state, [2, 3], sketch_takedown=mode)
        corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
        assert sorted(r["doc_id"] for r in corpus.collect()) == [1]
        assert (_cbloom_cells(spark, state)
                == _cbloom_recompute(spark, corpus)), mode
        words, m, k = ing.cbloom_gate(spark, state)
        surv_sh = _corpus_shingles(corpus)
        assert surv_sh.filter(~sketches.bloom_might_contain(
            F.col("shingle"), words, m, k)).count() == 0
        # idempotent retry (re-read corpus: the retry swaps the dir)
        ing.delete_docs(spark, state, [], sketch_takedown=mode)
        corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
        assert (_cbloom_cells(spark, state)
                == _cbloom_recompute(spark, corpus)), mode


def test_sketch_subtract_pending_crashed_batch_equals_rebuild(
        spark, tmp_path):
    """THE hazard SURVEY.md's open thread 2 documented as unshippable
    without a sidecar, now shipped (round-10 verdict item 6 'Done'
    bar): a batch crashes BETWEEN the sketch merges and the corpus
    commit marker, a takedown then tombstones one of that delta's
    docs, and the batch is redelivered. The naive subtract could never
    remove the tombstoned doc's counts (corpus ∩ tombstones never
    contained it) and the fp-mismatched replay would double-count the
    rest; the sidecar lets the takedown subtract the ENTIRE pending
    delta and reset fp, so the replayed (tombstone-filtered) delta
    re-merges onto a corpus-true base. Both sketch stores must end
    cell-identical to a from-scratch pass over the final corpus —
    i.e. subtract ≡ rebuild even across the crash window."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _CB_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    batch = spark.createDataFrame(
        [(4, "eight nine ten eleven twelve"),
         (5, "alpha beta gamma delta DOOMED")], ["doc_id", "text"])
    real_append = ing._append_metrics
    crashed = []

    def crash_at_metrics(*a, **kw):
        if not crashed:
            crashed.append(True)
            raise RuntimeError("injected crash before commit marker")
        real_append(*a, **kw)

    ing._append_metrics = crash_at_metrics
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            ing.ingest_batch(spark, batch, state, batch_id=1)
        # takedown of doc 5 — a doc whose counts are ONLY in the
        # sketches (merged) and the sidecar, never in the corpus
        ing.delete_docs(spark, state, [5], sketch_takedown="subtract")
        # redelivery: the tombstone-filtered delta (doc 4) merges
        ing.ingest_batch(spark, batch, state, batch_id=1)
    finally:
        ing._append_metrics = real_append
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 2, 3, 4]
    assert _cms_cells(spark, state) == _cms_recompute(spark, corpus)
    assert _cbloom_cells(spark, state) == _cbloom_recompute(spark, corpus)


def test_sketch_subtract_mid_delete_crash_no_double_subtract(
        spark, tmp_path):
    """A crash INSIDE delete_docs after the sketch swaps but before the
    corpus swap: the retry re-applies the full tombstone set against
    the OLD corpus (which still contains the tombstoned rows) — the
    r=-3 reflection ledger must keep the second subtraction a no-op or
    every deleted doc's cells go negative/doubly-removed."""
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
            ing.delete_docs(spark, state, [2], sketch_takedown="subtract")
        # the pending-delete fence routes every other op to a retry
        with pytest.raises(ing.StateLockError, match="interrupted"):
            ing.ingest_batch(spark, spark.createDataFrame(
                [(9, "x y z w v")], ["doc_id", "text"]), state,
                batch_id=2)
        ing.delete_docs(spark, state, [], sketch_takedown="subtract")
    finally:
        ing._swap_write = real_swap
    corpus = spark.read.parquet(L(corpus_dir))
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 3]
    assert _cms_cells(spark, state) == _cms_recompute(spark, corpus)
    assert _cbloom_cells(spark, state) == _cbloom_recompute(spark, corpus)


def test_compact_state_prunes_sketch_ledger_and_keeps_takedown_safe(
        spark, tmp_path):
    """Ledger compaction (SURVEY.md round-11 open thread 3): the r=-3
    reflection ledger grows one row per deleted doc and only matters
    while a tombstoned doc is still in corpus/ — compact_state runs
    behind the pending-delete fence, so it prunes the ledger to zero.
    The prune must not break any takedown property: a RE-delete of the
    pruned ids stays a no-op (the corpus semi-join excludes them), and
    a NEW subtract-mode delete after compaction still equals a
    from-scratch recount over the survivors, for both sketch stores."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _CB_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    ing.ingest_batch(spark, spark.createDataFrame(
        _CB_DOCS1, ["doc_id", "text"]), state, batch_id=1)
    ing.delete_docs(spark, state, [2], sketch_takedown="subtract")

    def ledger_rows(name):
        return (spark.read.parquet(L(os.path.join(state, name)))
                .filter(F.col("r") == ing._CMS_SUBT_ROW).count())

    assert ledger_rows("cms") == 1 and ledger_rows("cbloom") == 1
    ing.compact_state(spark, state, target_files=2)
    assert ledger_rows("cms") == 0 and ledger_rows("cbloom") == 0
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert _cms_cells(spark, state) == _cms_recompute(spark, corpus)
    assert (_cbloom_cells(spark, state)
            == _cbloom_recompute(spark, corpus))
    # re-delete of the pruned id: no double subtraction without the
    # ledger row — the doc is gone from corpus/, so nothing to subtract
    # (re-read corpus: every delete swaps the dir)
    ing.delete_docs(spark, state, [2], sketch_takedown="subtract")
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert _cms_cells(spark, state) == _cms_recompute(spark, corpus)
    # a NEW delete after compaction still ≡ rebuild from survivors
    ing.delete_docs(spark, state, [3], sketch_takedown="subtract")
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 4]
    assert _cms_cells(spark, state) == _cms_recompute(spark, corpus)
    assert (_cbloom_cells(spark, state)
            == _cbloom_recompute(spark, corpus))


def test_hll_store_multi_batch_tracks_exact_and_replays_idempotently(
        spark, tmp_path):
    """The maintained HLL cardinality store (round 10, E67): across
    bootstrap + two batches (with exact-dedup replays) the estimate
    stays within the sketch's error bound of the TRUE distinct shingle
    count, the lgk pin survives, and re-merging the SAME delta twice —
    the at-least-once redelivery the counting sketches need a
    fingerprint for — changes nothing, because HLL registers merge by
    max (the fp-free idempotence the store's design note claims)."""
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
    # explicit double-merge of an identical delta: estimate unchanged
    delta = spark.createDataFrame(
        [(4, "eight nine ten eleven twelve")], ["doc_id", "text"])
    ing._hll_merge_delta(spark, state, delta)
    est2, _ = ing.read_hll(spark, state)
    ing._hll_merge_delta(spark, state, delta)
    est3, _ = ing.read_hll(spark, state)
    assert est3 == est2


def test_hll_store_takedown_rebuilds_and_lgk_pinned(spark, tmp_path):
    """HLL registers cannot be subtracted — takedown must REBUILD the
    sketch from survivors (post-delete estimate tracks the survivors'
    exact count, not the pre-delete corpus); a mismatched lgk
    configuration refuses at the ensure gate."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _CB_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    ing.delete_docs(spark, state, [1, 2])
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    n_exact = _corpus_shingles(corpus).distinct().count()
    est, _ = ing.read_hll(spark, state)
    assert abs(est - n_exact) <= max(1, int(0.05 * n_exact))
    # lgk pin: a store claiming a different lgk refuses the merge path
    real = ing.HLL_LGK
    try:
        ing.HLL_LGK = real + 1
        with pytest.raises(ing.StateLockError, match="pinned at bootstrap"):
            ing._ensure_hll_store(spark, state)
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


def test_embedding_ingest_migrates_legacy_store_to_proj(spark, tmp_path):
    """A pre-projection store (simulated by dropping planes/ and the
    proj column) migrates on the next ingest: planes pinned from the
    centroid dim, vectors rewritten once, stored proj ≡ fresh
    projection; pre-migration serving refuses with the recipe."""
    import pytest as _pytest
    from cati_database_feeder_spark.operators.similarity import jl_project
    from cati_database_feeder_spark.streaming import (
        ingest_embeddings as ie)
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    b1 = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 2)]) for i in range(5)],
        "vec_id long, embedding array<double>")
    state = str(tmp_path / "emb_leg")
    ie.ingest_embeddings_batch(spark, b1, state, centroid_rows=cents,
                               threshold=0.8, batch_id=0)
    # simulate the legacy layout
    vec_dir = os.path.join(state, "vectors")
    legacy = (spark.read.parquet(L(vec_dir))
              .select("vec_id", "embedding", "codes", "cell")
              .repartition("cell").persist())
    legacy.count()
    _drop_store(os.path.join(state, "planes"))
    _drop_store(vec_dir)
    legacy.write.partitionBy("cell").mode("overwrite").parquet(vec_dir)
    legacy.unpersist()
    with _pytest.raises(ValueError, match="predates the projected store"):
        ie.projected_serving_frames(spark, state)
    b2 = spark.createDataFrame(
        [(20, [0.2, 0.9, 0.1])], "vec_id long, embedding array<double>")
    ie.ingest_embeddings_batch(spark, b2, state, threshold=0.8, batch_id=1)
    planes = ie._load_planes(spark, state)
    store = spark.read.parquet(L(vec_dir))
    assert store.count() == 6 and "proj" in store.columns
    fresh = (jl_project(store.select("vec_id", "embedding", "proj"),
                        "embedding", planes, out_col="want"))
    assert fresh.filter(F.col("proj") != F.col("want")).count() == 0


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
    """The maintained winnowing-fingerprint store (E73+): across
    bootstrap + a batch (with an exact-dedup replay inside it) the
    store equals a from-scratch fingerprint pass over the final
    corpus; re-ingesting the identical batch (at-least-once
    redelivery) changes nothing — the id anti-join guard, not a
    fingerprint sentinel, absorbs it."""
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
    """Crash AFTER the wfp append but BEFORE the corpus commit marker:
    the redelivered delta's ids are already in the store, so the
    replay appends nothing and the store still equals the recompute
    (the hazard the sketch stores need fp sentinels for, absorbed
    structurally by the id guard)."""
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
    for a different (k, w) refuses on the bootstrap-pinned geometry
    sentinel."""
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
        ing._ensure_fp_store(spark, state, "wfp")


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


def _crash_mid_append(monkeypatch, store):
    """Patch the fingerprint append so the ``store`` append lands the
    first delta doc's row only and then crashes — the state a crash
    part-way through a plain parquet append leaves (some task files
    renamed in, the rest not); every other store appends normally."""
    from cati_database_feeder_spark.streaming import ingest as ing
    real = ing._fp_append_delta

    def partial_then_crash(spark_, state_, delta, name):
        if name != store:
            return real(spark_, state_, delta, name)
        real(spark_, state_, delta.orderBy("doc_id").limit(1), name)
        raise RuntimeError(f"injected crash inside {store} append")

    monkeypatch.setattr(ing, "_fp_append_delta", partial_then_crash)


def test_wfp_partial_append_heals_on_redelivery(
        spark, tmp_path, monkeypatch):
    """A crash MID-APPEND into wfp/ lands whole rows for some docs and
    nothing for the rest: each row holds a doc's complete fingerprint
    set, so no served doc ever has a partial set, and the redelivered
    batch's id anti-join appends exactly the missing docs — the store
    then equals a recompute. The wfp twin of
    test_dhash_partial_append_heals_on_redelivery."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    batch = spark.createDataFrame(
        [(10, "ten eleven twelve thirteen fourteen fifteen sixteen "
              "seventeen"),
         (11, "completely different fresh words here and there again "
              "later")],
        ["doc_id", "text"])
    _crash_mid_append(monkeypatch, "wfp")
    with pytest.raises(RuntimeError, match="injected crash"):
        ing.ingest_batch(spark, batch, state, batch_id=1)
    monkeypatch.undo()
    # crash landed doc 10's row but not doc 11's, corpus marker unwritten
    want = _wfp_recompute(spark, batch.unionByName(spark.read.parquet(
        L(os.path.join(state, "corpus")))))
    served = _wfp_rows(spark, state)
    served_ids = {d for d, _ in served}
    assert 10 in served_ids and 11 not in served_ids
    # every served doc carries its COMPLETE fingerprint set
    assert served == [r for r in want if r[0] in served_ids]
    # redelivery appends exactly the missing doc; store ≡ recompute
    ing.ingest_batch(spark, batch, state, batch_id=1)
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert _wfp_rows(spark, state) == want == _wfp_recompute(spark, corpus)


def test_wfp_old_layout_dir_migrates_on_next_batch(spark, tmp_path):
    """A wfp/ written in the older one-row-per-fingerprint layout
    ((doc_id, fp), no ``fps`` column), with a leftover ``wfp_pending/``
    sidecar of that layout beside it, is dropped and rebuilt from the
    corpus by the next batch: read_wfp then equals a recompute, the
    store holds one row per doc, and the sidecar is gone."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    wfp_dir = os.path.join(state, "wfp")
    pend_dir = os.path.join(state, "wfp_pending")
    old = (dedup.winnow_fingerprints(spark.read.parquet(
        L(os.path.join(state, "corpus"))), k=ing.WFP_K, w=ing.WFP_W)
        .unionByName(spark.createDataFrame(
            [(-2, ing.WFP_K * 1000 + ing.WFP_W)], "doc_id long, fp long")))
    ing._swap_write_bucketed(old, wfp_dir)
    ing._swap_write(old.filter(F.col("doc_id") == 2), pend_dir)
    assert "fp" in spark.read.parquet(L(wfp_dir)).columns
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS1, ["doc_id", "text"]), state, batch_id=1)
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert _wfp_rows(spark, state) == _wfp_recompute(spark, corpus)
    ids = [r["doc_id"] for r in
           spark.read.parquet(L(wfp_dir)).select("doc_id").collect()]
    assert sorted(ids) == sorted(
        [r["doc_id"] for r in corpus.collect()] + [ing._FP_SENTINEL_ID])
    assert not store_exists(pend_dir)
    assert not any(n.startswith("wfp_pending") for n in os.listdir(state))


def test_id_stores_bucketed_and_takedown_relinks_untouched(
        spark, tmp_path):
    """Round-13 layout contract for the id-keyed stores (verdict
    missing #4): members/wfp/dhash/afp are written hash-bucketed on
    their id (bucket=N partition dirs), and a takedown rewrites ONLY
    the buckets the tombstones hash into — every untouched bucket's
    parquet files are carried into the new epoch by hardlink (same
    inode, zero bytes rewritten), the local miniature of a
    Delta/Iceberg DELETE re-manifesting unchanged files."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS1, ["doc_id", "text"]), state, batch_id=1)
    # (a) layout: every id-keyed store is bucket-partitioned
    for name in ("members", "wfp", "dhash", "afp"):
        live = L(os.path.join(state, name))
        assert any(n.startswith("bucket=") for n in os.listdir(live)), \
            f"{name} not bucket-partitioned"

    def inodes(live):
        out = {}
        for d in os.listdir(live):
            if not d.startswith("bucket="):
                continue
            for f in os.listdir(os.path.join(live, d)):
                if f.endswith(".parquet"):
                    out[(d, f)] = os.stat(
                        os.path.join(live, d, f)).st_ino
        return out

    wfp_dir = os.path.join(state, "wfp")
    before = inodes(L(wfp_dir))
    tomb_bucket = ing._with_id_bucket(
        spark.createDataFrame([(2,)], "doc_id long"),
        "doc_id").collect()[0]["bucket"]
    ing.delete_docs(spark, state, [2])
    live_after = L(wfp_dir)
    after = inodes(live_after)
    # (b) every untouched bucket file is the SAME inode (hardlink,
    # not a rewrite); the touched bucket got fresh files
    untouched_before = {k: v for k, v in before.items()
                        if k[0] != f"bucket={tomb_bucket}"}
    assert untouched_before, "fixture must span several buckets"
    for k, ino in untouched_before.items():
        assert after.get(k) == ino, f"untouched {k} was rewritten"
    assert all(k[0] == f"bucket={tomb_bucket}"
               or k in untouched_before for k in after)
    # (c) values: store equals a from-scratch pass on the survivors
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert _wfp_rows(spark, state) == _wfp_recompute(spark, corpus)
    assert not any(r["doc_id"] == 2
                   for r in ing.read_dhash(spark, state).collect())
    # (d) the old epoch GC cannot strand the linked files: a second
    # takedown (forcing another swap + GC of the pre-delete epoch)
    # leaves the store fully readable
    ing.delete_docs(spark, state, [3])
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


def _dhash_recompute(spark, docs):
    from cati_database_feeder_spark.streaming import ingest as ing
    return sorted(map(tuple, ing._dhash_of(docs).collect()))


def test_dhash_store_multi_batch_equals_recompute_and_replays(
        spark, tmp_path):
    """The maintained perceptual-hash store (E72+): across bootstrap +
    a batch (with an exact-dup replay inside it) the store equals a
    from-scratch dhash pass over the final corpus; re-ingesting the
    identical batch changes nothing (id anti-join guard). One row per
    doc — the structural property that makes the plain append
    crash-safe (shared by the whole fingerprint family)."""
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


def test_dhash_store_takedown_geometry_pin_and_migration(
        spark, tmp_path, monkeypatch):
    """Takedown is an exact row delete (post-delete ≡ recompute over
    survivors); a re-ingest under a different dHash grid refuses on
    the bootstrap-pinned geometry sentinel; a legacy dir (no dhash/)
    migrates once from the corpus on the next batch."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    ing.delete_docs(spark, state, [2])
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert sorted(map(tuple, ing.read_dhash(spark, state).collect())) \
        == _dhash_recompute(spark, corpus)
    with pytest.raises(ing.StateLockError, match="geometry"):
        monkeypatch.setattr(ing, "_dhash_geometry", lambda: 9009)
        ing._ensure_fp_store(spark, state, "dhash")
    monkeypatch.undo()
    # legacy migration: drop the store, next batch rebuilds it whole
    _drop_store(os.path.join(state, "dhash"))
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS1, ["doc_id", "text"]), state, batch_id=1)
    corpus2 = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert sorted(map(tuple, ing.read_dhash(spark, state).collect())) \
        == _dhash_recompute(spark, corpus2)


def test_dhash_partial_append_heals_on_redelivery(
        spark, tmp_path, monkeypatch):
    """The E72+ structural crash-safety claim, exercised rather than
    argued: a crash MID-APPEND leaves whole rows for some docs and
    nothing for the rest (one row per doc — there is no partial-doc
    state), and the redelivered batch's id anti-join appends exactly
    the missing docs. Simulated by an injected append that lands only
    the first doc's row before crashing."""
    import pytest as _pytest
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    _crash_mid_append(monkeypatch, "dhash")
    batch = spark.createDataFrame(
        [(10, "ten eleven twelve thirteen fourteen"),
         (11, "completely different fresh words here")],
        ["doc_id", "text"])
    with _pytest.raises(RuntimeError, match="injected crash"):
        ing.ingest_batch(spark, batch, state, batch_id=1)
    monkeypatch.undo()
    # crash landed doc 10's row but not doc 11's, corpus marker unwritten
    stored = {r["doc_id"] for r in ing.read_dhash(spark, state).collect()}
    assert 10 in stored and 11 not in stored
    # redelivery appends exactly the missing doc; store ≡ recompute
    ing.ingest_batch(spark, batch, state, batch_id=1)
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert sorted(map(tuple, ing.read_dhash(spark, state).collect())) \
        == _dhash_recompute(spark, corpus)


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


def test_embedding_ingest_migrates_legacy_store_to_pq(spark, tmp_path):
    """A pre-PQ store (simulated by dropping pqbooks/ and the pq
    column) migrates on the next ingest: books pinned from the stored
    centroids, vectors rewritten once, stored codes ≡ fresh encoding;
    pre-migration serving refuses with the recipe. A healed pqbooks
    store also forces the code-column rewrite (the post-retrain
    consistency rule in _ensure_derived_stores)."""
    import pytest as _pytest
    from cati_database_feeder_spark.operators.similarity import pq_encode
    from cati_database_feeder_spark.streaming import (
        ingest_embeddings as ie)
    cents = [(0, [1.0, 0.0, 0.0, 0.1]), (1, [0.0, 1.0, 0.0, -0.1])]
    b1 = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 2), 0.25]) for i in range(5)],
        "vec_id long, embedding array<double>")
    state = str(tmp_path / "emb_pqleg")
    ie.ingest_embeddings_batch(spark, b1, state, centroid_rows=cents,
                               threshold=0.8, batch_id=0)
    vec_dir = os.path.join(state, "vectors")
    legacy = (spark.read.parquet(L(vec_dir))
              .select("vec_id", "embedding", "codes", "proj", "cell")
              .repartition("cell").persist())
    legacy.count()
    _drop_store(os.path.join(state, "pqbooks"))
    _drop_store(vec_dir)
    legacy.write.partitionBy("cell").mode("overwrite").parquet(vec_dir)
    legacy.unpersist()
    with _pytest.raises(ValueError, match="predates the PQ code store"):
        ie.pq_serving_frames(spark, state)
    b2 = spark.createDataFrame(
        [(20, [0.2, 0.9, 0.1, 0.0])], "vec_id long, embedding array<double>")
    ie.ingest_embeddings_batch(spark, b2, state, threshold=0.8, batch_id=1)
    books = ie._load_pqbooks(spark, state)
    store = spark.read.parquet(L(vec_dir))
    assert store.count() == 6 and "pq" in store.columns
    fresh = pq_encode(store.select("vec_id", "embedding", "pq"),
                      books, out_col="want")
    assert fresh.filter(F.col("pq") != F.col("want")).count() == 0


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
    """The maintained audio-fingerprint store (E83+): across
    bootstrap + a batch (with an exact-dup replay inside it) the store
    equals a from-scratch fingerprint pass over the final corpus;
    re-ingesting the identical batch changes nothing. One row per doc
    — the dhash structural crash-safety property."""
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


def test_afp_store_takedown_geometry_pin_and_migration(
        spark, tmp_path, monkeypatch):
    """Takedown = exact row delete; width mismatch refuses on the
    pinned sentinel; a legacy dir (no afp/) migrates once from the
    corpus on the next batch."""
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS0, ["doc_id", "text"]), state, batch_id=0)
    ing.delete_docs(spark, state, [2])
    corpus = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert sorted(map(tuple, ing.read_afp(spark, state).collect())) \
        == _afp_recompute(spark, corpus)
    with pytest.raises(ing.StateLockError, match="pinned at bootstrap"):
        monkeypatch.setattr(ing, "_afp_geometry", lambda: 48)
        ing._ensure_fp_store(spark, state, "afp")
    monkeypatch.undo()
    _drop_store(os.path.join(state, "afp"))
    ing.ingest_batch(spark, spark.createDataFrame(
        _WFP_DOCS1, ["doc_id", "text"]), state, batch_id=1)
    corpus2 = spark.read.parquet(L(os.path.join(state, "corpus")))
    assert sorted(map(tuple, ing.read_afp(spark, state).collect())) \
        == _afp_recompute(spark, corpus2)
