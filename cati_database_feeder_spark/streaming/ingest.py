"""Streaming incremental corpus ingest — the composed production shape
of the incremental-dedup story as ONE operator.

Rounds 5/6 built the layers (streaming ingest dedup, delta-vs-corpus
near-dup, incremental component closure) and proved the composition in
tests/test_incremental_e2e.py; this wires them behind ``foreachBatch``
so a user points a document stream at a state directory and gets a
continuously-deduped corpus with a maintained near-dup labeling:

1. exact dedup — batch rows whose id already exists in the corpus are
   dropped (the streaming twin of the feeder's existing-keys anti-join,
   reference feeder.py:157-160), plus within-batch id dedup;
2. near-dup pairs — the surviving delta probes the MATERIALIZED stores
   (operators/dedup.incremental_near_dup_pairs_from_store): corpus
   TEXT is never read on the incremental path, so per-batch cost is
   bounded by the batch plus scans of the compact derived stores —
   never a corpus tokenize pass (the round-6 verdict's last
   corpus-proportional term, now gone);
3. closure update — new pairs fold into the stored labeling by graph
   contraction (operators/graph.incremental_components), equal to a
   full recompute by construction.

State lives in parquet directories under ``state_dir`` — the
local stand-in for lakehouse tables, chosen so every maintenance write
is either APPEND-ONLY or an atomic EPOCH COMMIT (round-13: the
round-12 serve-during-swap reader race is closed): a replaced store
is written to a fresh epoch dir ``<store>__e{N}`` and committed by
atomically replacing the pointer file ``<store>.ptr``; readers
resolve the pointer once at plan time (:func:`live_store`) and the
epoch their plan lists is retained as grace until a FULL further
swap, so a serving query racing an ingest batch executes cleanly
instead of hitting deleted files. This is the local miniature of a
Delta/Iceberg manifest commit (new files → one atomic pointer flip →
late GC); production maps it onto the table format's own commit:

- ``corpus/``  — (doc_id, text), append-only. The RAW store: the
  incremental path reads only its doc_id column (exact-dedup
  anti-join + commit marker); text is read exactly once, on arrival.
- ``members/`` — (id, gid), append-only: every doc's group id. gids
  are STABLE (dedup.delta_membership): a group's representative never
  changes after creation, so no member row is ever superseded.
- ``reps/``    — (gid, toks, key), append-only: one row per group —
  the rep's distinct-token array plus the injective set key
  (dedup.tokset_key). This is what replaces the per-batch
  ``tokset_groups(corpus ∪ delta)`` rebuild: verification reads rep
  token arrays from here, membership probes match on ``key``.
- ``buckets/`` — the rep band-bucket banding table, append-only. With
  stable gids every row stays current forever — the round-6 stale-rep
  induction argument and its in-flight repair are unnecessary on this
  path (new groups' rows are appended in their creating batch).
- ``labels/``  — (id, component) closure labeling, replaced per batch
  via write-to-temp + atomic rename (never overwritten in place while
  a plan may still read it).
- ``metrics/`` — one row per substantive batch (batch_id, rows_in,
  delta_rows, new_pairs, quiet, bootstrap), append-only: the
  dedup-economics ledger a production pipeline monitors.
- ``pairs/``   — (id_a, id_b) verified near-dup EDGE set, append-only.
  Labels alone cannot be repaired after a node deletion; the stored
  edges are what lets :func:`delete_docs` recompute only the touched
  components. Maintained per batch; legacy dirs get a one-time
  migration (:func:`_ensure_pairs_store`).
- ``deleted/`` — (doc_id) TOMBSTONE ledger, append-only: takedown
  requests (:func:`delete_docs`). A redelivered deleted doc is dropped
  by the delta filter forever — the tombstone wins over the corpus
  anti-join, which would otherwise re-admit it once its corpus row is
  gone.
- ``cms/``     — the corpus-wide count-min token-frequency sketch
  (functions/sketches.py), maintained per batch by CELL-WISE ADD (a
  count-min table is a LINEAR sketch — merging shards is addition),
  swap-replaced like labels. Two sentinel rows ride the same parquet
  so the swap stays atomic for data + bookkeeping: r=-2 pins the
  (depth, width) dims at bootstrap (merging mismatched dims silently
  corrupts every cell → descriptive refusal), r=-1 carries the LAST
  MERGED DELTA's fingerprint — foreachBatch is at-least-once and the
  merge is NOT idempotent, so a crash between the cms swap and the
  corpus commit marker would double-count the redelivered delta; the
  retry sees its delta's fingerprint already stored and skips the
  merge. Takedown rebuilds the sketch from the surviving corpus (the
  idempotent form the re-apply-full-tombstone-set contract needs; at
  100 TB a SMALL delete would instead SUBTRACT the deleted docs'
  sketch — linearity gives deletion for free — but subtraction
  re-applied on a crash retry would double-subtract). ``cbloom/``
  (the counting-Bloom decontamination gate) shares this discipline,
  ``cms_pending/`` and ``cbloom_pending/`` included; ``hll/`` (distinct
  shingle count) merges by register max and needs neither.
- ``wfp/``, ``dhash/``, ``afp/`` — the fingerprint family (text
  winnowing sets, image and audio perceptual hashes): id-keyed tables
  with ONE row per document, appended per batch behind an id
  anti-join, so a crash mid-append leaves whole docs or nothing and
  the redelivery appends exactly the missing ones. A sentinel row pins
  the hash geometry at bootstrap. One table (``_FP_STORES``) drives
  their bootstrap, migration, append, compaction and takedown.

``foreachBatch`` is the right harness because each micro-batch runs
arbitrary BATCH DataFrame code with exactly-once-per-batch-id
semantics; the stateful operators (flatMapGroupsWithState et al.)
cannot express a multi-join pipeline against growing external state.
At 100 TB the parquet dirs become real tables (corpus/members/reps/
buckets bucketed by their join keys — doc_id, id, key, (band,bucket)
— so every per-batch probe co-locates without a store-side shuffle)
and the append/swap writes become MERGE/atomic-commit, with identical
dataflow.

CONCURRENCY CONTRACT: one writer per ``state_dir``, ENFORCED by a
fencing file. ``ingest_batch`` runs are serialized by the streaming
engine (foreachBatch invocations never overlap for one query), but a
second stream on the same dir, or ``compact_state`` racing a live
batch, would silently drop/duplicate store rows — wrong answers, not
a crash. Every state-mutating entry point therefore takes an
exclusive ``_LOCK`` file (created ``O_EXCL`` — atomic on POSIX and
object-store-conditional-put equivalents) recording the holder's
operation, pid and host, and releases it on exit. A conflicting call
fails with :class:`StateLockError` naming the holder instead of
corrupting state. A lock left by a CRASHED process on the same host
(pid no longer alive) is broken automatically, so foreachBatch's
retry-after-crash path stays self-healing; a lock from another host
cannot be liveness-checked and must be cleared with
:func:`break_lock` after confirming the writer is gone. The lakehouse
version of this contract is optimistic table-commit conflict
detection; plain directories get this explicit arbiter.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import socket

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cati_database_feeder_spark.functions import sketches
from cati_database_feeder_spark.session import local_frame
from cati_database_feeder_spark.functions import text as text_fns
from cati_database_feeder_spark.operators import dedup
from cati_database_feeder_spark.operators.graph import (
    components_from_rep_pairs, connected_components, incremental_components)

_STORES = ("labels", "corpus", "buckets", "members", "reps", "metrics",
           "pairs", "deleted", "cms", "cbloom", "cms_pending",
           "cbloom_pending", "hll", "wfp", "dhash", "afp")

_LOCK_NAME = "_LOCK"
_DELETE_PENDING = "_DELETE_PENDING"
# Swap-replaced stores live in epoch dirs (<store>__e{N}) selected by
# an atomically-replaced pointer file (<store>.ptr) — see live_store /
# _swap_write. The pointer flip is the commit point; one old epoch is
# retained as reader grace.
_PTR_SUFFIX = ".ptr"


class StateLockError(RuntimeError):
    """Another writer holds the state dir's fencing lock. Raised
    instead of proceeding — a compact racing a live ingest corrupts
    the banding store silently (dropped/duplicated band rows), which
    is strictly worse than failing."""


def break_lock(state_dir: str) -> bool:
    """Forcibly clear a state dir's fencing lock. ONLY for a lock
    orphaned by a writer on another host (same-host crashes are
    auto-healed by the liveness check): confirm the writer is gone
    first. Returns True if a lock file was removed."""
    path = os.path.join(state_dir, _LOCK_NAME)
    try:
        os.unlink(path)
        return True
    except FileNotFoundError:
        return False


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


def _proc_start_token(pid: int) -> str:
    """Kernel start-time of ``pid`` (/proc/<pid>/stat field 22, clock
    ticks since boot) — the token that distinguishes a process from a
    later process that RECYCLED its pid. Recorded in the lock body at
    acquisition and compared at liveness-check time: pid-alive alone
    mistakes a recycled pid for the original holder and blocks
    ingestion forever (the one false-positive the same-host self-heal
    had). Returns "na" where /proc is unavailable (non-Linux) — the
    check then degrades to pid liveness, exactly the old behavior."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read().decode("ascii", "replace")
        # comm (field 2) is parenthesized and may contain spaces/parens
        # — split after the LAST ')' per proc(5)
        rest = stat.rsplit(")", 1)[1].split()
        return rest[19]  # field 22, 1-indexed; rest[0] is field 3
    except (OSError, IndexError):
        return "na"


@contextlib.contextmanager
def _state_lock(state_dir: str, op: str):
    """Exclusive fencing lock on ``state_dir`` for one state-mutating
    operation. O_CREAT|O_EXCL is the atomicity primitive (one winner
    under any interleaving on POSIX; the object-store analogue is a
    conditional PUT). The lock body records ``op host pid`` so the
    conflict error names the live holder. Self-healing: a lock whose
    recorded host is THIS host and whose pid is dead was orphaned by a
    crash — it is broken and the acquisition retried, keeping
    foreachBatch's retry-after-crash contract lock-free for the user.
    A foreign-host lock is never broken automatically (no liveness
    signal); :func:`break_lock` is the documented manual override.

    The lock body records ``ts`` (acquisition epoch seconds — an
    operator judging a foreign-host lock's staleness reads it straight
    out of the StateLockError message) and ``start`` (the holder pid's
    kernel start-time token): a same-host lock whose pid is alive but
    whose start token no longer matches was orphaned by a crash and
    the pid RECYCLED — broken like a dead-pid lock, where pid liveness
    alone would block ingestion permanently."""
    import time
    os.makedirs(state_dir, exist_ok=True)
    path = os.path.join(state_dir, _LOCK_NAME)
    me = (f"{op} host={socket.gethostname()} pid={os.getpid()} "
          f"start={_proc_start_token(os.getpid())} ts={int(time.time())}")
    for _ in range(2):  # second pass only after breaking a dead lock
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                with open(path) as fh:
                    holder = fh.read().strip() or "<empty>"
            except OSError:
                holder = "<unreadable>"
            fields = dict(f.split("=", 1) for f in holder.split()
                          if "=" in f)
            same_host = fields.get("host") == socket.gethostname()
            pid = fields.get("pid", "")
            rec_start = fields.get("start")
            dead = pid.isdigit() and (
                not _pid_alive(int(pid))
                # pid alive but start token mismatched → recycled pid,
                # the recorded holder itself is gone. Only decided when
                # BOTH tokens resolved ("na" on either side degrades to
                # pid liveness — never break on a missing signal).
                or (rec_start not in (None, "na")
                    and _proc_start_token(int(pid)) != "na"
                    and _proc_start_token(int(pid)) != rec_start))
            if same_host and dead:
                # Orphaned by a same-host crash — break and retry once.
                # Break by atomic RENAME, not unlink: with two breakers
                # racing, unlink-then-create lets the slower breaker
                # delete the winner's freshly created LIVE lock (both
                # then believe they hold it); rename succeeds for
                # exactly one breaker, and the loser falls through to
                # the O_EXCL attempt against whatever lock now exists.
                broken = f"{path}.broken.{os.getpid()}"
                try:
                    os.rename(path, broken)
                except FileNotFoundError:
                    pass  # another breaker won the rename
                else:
                    with contextlib.suppress(OSError):
                        os.unlink(broken)
                continue
            raise StateLockError(
                f"state dir {state_dir!r} is locked by [{holder}] — "
                f"one writer per state dir (module docstring, "
                f"concurrency contract): stop the other writer and "
                f"retry; if it crashed on another host, clear the "
                f"lock with break_lock({state_dir!r}) after "
                f"confirming it is gone. Refusing to run {op!r} "
                f"because racing a live writer silently corrupts "
                f"the stores.")
    else:
        raise StateLockError(
            f"state dir {state_dir!r}: lock contention persisted "
            f"after breaking a dead holder — another writer grabbed "
            f"it; retry {op!r} when it finishes")
    try:
        os.write(fd, me.encode())
        os.close(fd)
        yield
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(path)


def live_store(target: str) -> str:
    """Resolve a logical store path to the physical dir a reader (or
    appender) should use RIGHT NOW. Swap-replaced stores live in
    epoch-suffixed dirs (``<target>__e000007``) selected by an
    atomically-replaced pointer file (``<target>.ptr``); stores that
    have never been swap-replaced (append-only stores, pre-epoch
    legacy dirs, sidecars) have no pointer and resolve to the plain
    path. EVERY store access goes through this resolver — readers
    resolve ONCE at plan time and the epoch dir their plan lists is
    never renamed or deleted until a full swap later (grace = one
    epoch), which is what closes the round-12 serve-during-swap
    reader race (the miniature of a Delta/Iceberg manifest commit:
    new files, then one atomic pointer flip, late GC)."""
    target = target.rstrip("/")
    try:
        with open(target + _PTR_SUFFIX) as fh:
            name = fh.read().strip()
    except OSError:
        return target
    if not name:
        return target
    return os.path.join(os.path.dirname(target), name)


def store_exists(target: str) -> bool:
    """Does the logical store exist (pointer committed, or a plain /
    legacy dir on disk)?"""
    target = target.rstrip("/")
    return os.path.exists(target + _PTR_SUFFIX) or os.path.exists(target)


def _epoch_num(path: str) -> int:
    """``.../labels__e000007`` → 7; plain (pre-epoch) dirs → 0."""
    base = os.path.basename(path.rstrip("/"))
    if "__e" not in base:
        return 0
    try:
        return int(base.rsplit("__e", 1)[1])
    except ValueError:
        return 0


def _gc_epochs(target: str, keep: set[str]) -> None:
    """Remove every epoch dir of ``target`` whose basename is not in
    ``keep`` — and the legacy plain dir once it has aged out of the
    grace set. Runs AFTER a pointer commit, so everything removed is
    at least one full swap old: the only reader that can lose files
    planned before the PREVIOUS swap and is still executing — the
    documented grace bound (production: time-based GC)."""
    d = os.path.dirname(target) or "."
    base = os.path.basename(target)
    try:
        names = os.listdir(d)
    except OSError:
        return
    for name in names:
        if name.startswith(base + "__e") and name not in keep:
            shutil.rmtree(os.path.join(d, name), ignore_errors=True)
    if base not in keep and os.path.isdir(target):
        shutil.rmtree(target, ignore_errors=True)


def _drop_store(target: str) -> None:
    """Remove EVERY physical artifact of a logical store: the legacy
    plain dir, all epoch dirs, and the pointer (+ pointer tmps). The
    inverse of _swap_write — used for sidecar GC and
    rebuild-from-scratch heals; plain rmtree(target) would leave a
    pointered store resurrectable."""
    target = target.rstrip("/")
    shutil.rmtree(target, ignore_errors=True)
    d = os.path.dirname(target) or "."
    base = os.path.basename(target)
    try:
        names = os.listdir(d)
    except OSError:
        return
    for n in names:
        if n.startswith(base + "__e"):
            shutil.rmtree(os.path.join(d, n), ignore_errors=True)
        elif n.startswith(base + _PTR_SUFFIX):
            with contextlib.suppress(OSError):
                os.unlink(os.path.join(d, n))


# id-keyed store bucketing (round-12 verdict, missing #4): the
# fingerprint/membership tables (members/, wfp/, dhash/, afp/) are
# written hash-bucketed on their id — bucket = pmod(hash64(id),
# N_ID_BUCKETS), partitionBy("bucket") — so takedown's tombstone
# anti-join prunes to the buckets a deletion actually touches: the
# untouched buckets pass through as a partition-pruned scan with no
# join and no store-side Exchange, and the join input shrinks from
# |store| to |touched buckets|. At 100 TB, size N_ID_BUCKETS so a
# typical takedown touches a small fraction. Readers drop the column
# (df.drop is a no-op on legacy unbucketed dirs, which keep working
# and are re-bucketed on their next full rewrite).
N_ID_BUCKETS = 64


def _pin_dedup(df: DataFrame, id_col: str) -> DataFrame:
    """Batch exact-dedup with its exchange PINNED to the session's
    compute width. ``dropDuplicates`` alone shuffles by id and lets
    AQE's size-based coalescing fold the tiny-byte batch exchange into
    ONE task — and every downstream per-row compute of the bootstrap
    (tokenize, shingle/fingerprint passes, per-vector dot floods) then
    runs single-core off that exchange. The explicit key-repartition
    REPLACES the dedup's ENSURE_REQUIREMENTS exchange (no extra
    shuffle) and never shrinks the configured shuffle width —
    max(cores, spark.sql.shuffle.partitions) — so at-scale batches
    keep their byte-sized partitioning."""
    from cati_database_feeder_spark.session import shuffle_width
    return (df.repartition(shuffle_width(df.sparkSession), id_col)
            .dropDuplicates([id_col]))


def _with_id_bucket(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return df.withColumn("bucket", F.pmod(
        text_fns.hash64(F.col(id_col).cast("string")),
        F.lit(N_ID_BUCKETS)).cast("int"))


def _bucketed_writer(df: DataFrame, path: str) -> None:
    # repartition on the bucket key first: partitionBy alone splits
    # EVERY task's output by value (tasks x buckets small files — at
    # 1000 executors a file-count explosion); hashed on bucket, each
    # bucket's rows land in one task -> one file per bucket dir
    df.repartition("bucket").write.mode("overwrite") \
        .partitionBy("bucket").parquet(path)


def _swap_write_bucketed(df: DataFrame, target: str,
                         id_col: str = "doc_id") -> None:
    _swap_write(_with_id_bucket(df.drop("bucket"), id_col), target,
                writer=_bucketed_writer)


def _append_id_store(frame: DataFrame, store_dir: str,
                     id_col: str = "doc_id") -> None:
    """Append rows to an id-keyed store, matching the LIVE layout: a
    bucketed store gets a partitioned append (the new files land in
    their bucket=N dirs), a legacy flat dir gets a plain append (a
    mixed layout would break partition discovery) until its next full
    rewrite re-buckets it."""
    live = live_store(store_dir)
    try:
        bucketed = any(n.startswith("bucket=") for n in os.listdir(live))
    except OSError:
        bucketed = False
    if bucketed:
        (_with_id_bucket(frame.drop("bucket"), id_col)
         .repartition("bucket")
         .write.mode("append").partitionBy("bucket").parquet(live))
    else:
        frame.write.mode("append").parquet(live)


def _tomb_pruned_rewrite(spark, store_dir: str, tomb: DataFrame,
                         id_col: str = "doc_id") -> None:
    """Takedown rewrite of a bucketed id-keyed store with cost
    proportional to the TOUCHED buckets, not the store: the
    tombstones' bucket set (≤ N_ID_BUCKETS values) prunes the
    anti-join scan to the touched partitions, only those buckets are
    rewritten into the new epoch, and every untouched bucket's files
    are re-manifested by hardlink from the current epoch — same
    inodes, zero bytes copied, and epoch GC of the old dir cannot
    strand them (link count). The local miniature of how a
    Delta/Iceberg DELETE commits: rewrite the files a predicate
    touches, carry every other file into the new snapshot by
    reference. Legacy flat dirs fall back to the whole-store
    anti-join (and come out bucketed)."""
    store = spark.read.parquet(live_store(store_dir))
    tomb = tomb.select(F.col(tomb.columns[0]).alias(id_col))
    if "bucket" not in store.columns:
        _swap_write_bucketed(store.join(tomb, id_col, "left_anti"),
                             store_dir, id_col)
        return
    touched = {int(r["bucket"]) for r in
               _with_id_bucket(tomb, id_col)
               .select("bucket").distinct().collect()}
    cur = live_store(store_dir)
    pruned = (store.filter(F.col("bucket").isin(sorted(touched)))
              .join(tomb, id_col, "left_anti"))

    def relink_writer(df: DataFrame, new_dir: str) -> None:
        (df.repartition("bucket").write.mode("overwrite")
         .partitionBy("bucket").parquet(new_dir))
        for name in os.listdir(cur):
            if not name.startswith("bucket="):
                continue
            try:
                b = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if b in touched:
                continue
            src = os.path.join(cur, name)
            dst = os.path.join(new_dir, name)
            os.makedirs(dst, exist_ok=True)
            for f in os.listdir(src):
                with contextlib.suppress(FileExistsError):
                    os.link(os.path.join(src, f), os.path.join(dst, f))

    _swap_write(pruned, store_dir, writer=relink_writer)


def _swap_write(df: DataFrame, target: str, writer=None) -> None:
    """Replace the store at logical path ``target`` with ``df``
    without ever disturbing a concurrent or in-flight reader:

    1. write the new state to a FRESH epoch dir ``target__e{N+1}``
       (the writing plan may read the current epoch — the labels
       update does — which is safe because it is a different dir);
    2. commit by atomically replacing the pointer file
       ``target.ptr`` (write sidecar tmp + ``os.replace``) — the
       single commit point: readers resolving before see epoch N,
       after see N+1, and there is NO window where the store is
       absent;
    3. GC epochs older than N (grace = one epoch): a reader that
       resolved epoch N before the commit still has every file of
       its planned scan on disk until the NEXT swap.

    A crash before (2) leaves an orphan epoch dir — dropped by
    :func:`_recover_swaps`; a crash between (2) and (3) leaves an
    extra old epoch — dropped by the next swap's GC. ``writer``
    overrides the physical write (the by-cell partitioned store
    passes its own)."""
    target = target.rstrip("/")
    cur = live_store(target)
    new = f"{target}__e{_epoch_num(cur) + 1:06d}"
    if writer is None:
        df.write.mode("overwrite").parquet(new)
    else:
        writer(df, new)
    ptr = target + _PTR_SUFFIX
    tmp = f"{ptr}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(os.path.basename(new))
    os.replace(tmp, ptr)
    _gc_epochs(target, keep={os.path.basename(new),
                             os.path.basename(cur)})


def _recover_swaps(state_dir: str, stores: tuple[str, ...] = _STORES) -> None:
    """Heal crash leftovers before reading state.

    Epoch scheme (current :func:`_swap_write`): the pointer flip is
    the single commit point, so the only crash artifacts are (a) an
    epoch dir NEWER than the pointed one (written, never committed —
    the batch retry rewrites it) and (b) a stale ``.ptr.tmp.*``
    sidecar — both dropped here. Committed epochs at or below the
    pointer are left alone (the newest-but-one is the reader grace;
    older ones are trimmed by the next swap's GC).

    Legacy scheme (pre-epoch ``__tmp``/``__old`` rename dance, still
    found in state dirs written by older code): (a) tmp written,
    target untouched — drop the tmp; (b) target renamed aside, tmp
    not yet renamed in — rename the old dir back (restoring
    pre-batch state; the retry redoes the swap); (c) swap complete,
    old not yet deleted — drop the old. Restoring OLD in (b) keeps
    the invariant that state only advances via a COMPLETED state
    operation."""
    for name in stores:
        target = os.path.join(state_dir, name)
        # --- legacy __tmp/__old windows (pointer-less dirs only) ---
        old, tmp = target + "__old", target + "__tmp"
        ptr = target + _PTR_SUFFIX
        if (not os.path.exists(ptr) and not os.path.exists(target)
                and os.path.exists(old)):
            os.rename(old, target)
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.exists(target) or os.path.exists(ptr):
            shutil.rmtree(old, ignore_errors=True)
        # --- epoch windows ---
        d = os.path.dirname(target)
        base = os.path.basename(target)
        try:
            names = os.listdir(d)
        except OSError:
            continue
        for n in names:
            if n.startswith(base + _PTR_SUFFIX + ".tmp"):
                with contextlib.suppress(OSError):
                    os.unlink(os.path.join(d, n))
        if os.path.exists(ptr):
            pointed = _epoch_num(live_store(target))
            for n in names:
                if (n.startswith(base + "__e")
                        and _epoch_num(n) > pointed):
                    shutil.rmtree(os.path.join(d, n),
                                  ignore_errors=True)


def _ensure_membership_stores(spark, state_dir: str) -> None:
    """One-time migration for state dirs created before the membership
    store existed (corpus/buckets/labels only): derive members/ and
    reps/ from the corpus text. Costs one corpus tokenize pass — the
    very pass the stores exist to retire — so it runs once per legacy
    dir, never per batch."""
    members_dir = os.path.join(state_dir, "members")
    reps_dir = os.path.join(state_dir, "reps")
    if store_exists(members_dir) and store_exists(reps_dir):
        return
    memb = dedup.tokset_groups(spark.read.parquet(
        live_store(os.path.join(state_dir, "corpus"))))
    _swap_write(memb.filter(F.col("id") == F.col("gid"))
                .select("gid", "toks",
                        dedup.tokset_key(F.col("toks")).alias("key")),
                reps_dir)
    _swap_write_bucketed(memb.select("id", "gid"), members_dir, "id")


def _ensure_pairs_store(spark, state_dir: str, threshold: float,
                        num_hashes: int, bands: int) -> None:
    """One-time migration for state dirs created before the pairs
    store existed: materialize the verified near-dup EDGE set of the
    current corpus as ``pairs/`` ((id_a, id_b), append-only). The
    edge store is what makes takedown (:func:`delete_docs`) able to
    recompute only the components a deletion touches — labels alone
    cannot be repaired after removing a node without the edges. Costs
    one corpus tokenize pass, once per legacy dir (the same policy as
    :func:`_ensure_membership_stores`); on maintained dirs every
    batch appends its own new pairs and this is a no-op."""
    pairs_dir = os.path.join(state_dir, "pairs")
    if store_exists(pairs_dir):
        return
    corpus = spark.read.parquet(live_store(os.path.join(state_dir, "corpus")))
    _swap_write(dedup.near_dup_pairs(corpus, threshold=threshold,
                                     num_hashes=num_hashes, bands=bands)
                .select("id_a", "id_b"), pairs_dir)


CMS_DEPTH = 4
CMS_WIDTH = 2048
CBLOOM_M = 65536   # counting-Bloom cells (= bits of the served bitmap)
CBLOOM_K = 2       # hash functions — matches the E60 gate's k
_CMS_FP_ROW = -1    # sentinel: bucket = delta id-hash sum, cnt = delta rows
_CMS_DIMS_ROW = -2  # sentinel: bucket = d1, cnt = d2
_CMS_SUBT_ROW = -3  # takedown ledger: bucket = hash64(doc_id) whose counts
#                     this sketch no longer contains (reflected deletions)
_CMS_IDS_ROW = -4   # sidecar only: bucket = hash64(doc_id) of the delta
_CMS_NO_FP = (-1, -1)  # "no last-merged delta" (bootstrap/migration/delete)

# The two ingest-maintained linear sketches share one store discipline
# (frame shape, sentinels, per-batch sidecar, takedown): the count-min
# token-frequency table (E61+) and the counting-Bloom decontamination
# gate over 5-token shingles (E60 at ingest, round-9 verdict item 5).
# Registered as (store name, cells builder, default dims).


def _cms_of(docs: DataFrame, depth: int = CMS_DEPTH,
            width: int = CMS_WIDTH) -> DataFrame:
    """(r, bucket, cnt) count-min table over the docs' token
    occurrences (functions/sketches.py:cms_table)."""
    toks = docs.select(F.explode(
        text_fns.tokens(F.col("text"))).alias("tok"))
    return sketches.cms_table(toks, "tok", depth=depth, width=width)


def _doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) rows — each doc's DISTINCT 5-token shingles,
    the E60 gate's key definition (docs under 5 tokens contribute
    none). Shared by the counting-Bloom gate and the HLL cardinality
    store so both sketch the identical key universe."""
    return (docs.select("doc_id",
                        text_fns.tokens(F.col("text")).alias("__tk"))
            .filter(F.size("__tk") >= 5)
            .select("doc_id", F.explode(F.array_distinct(
                text_fns.shingles_from_tokens(F.col("__tk"), 5)))
                .alias("shingle")))


def _cbloom_of(docs: DataFrame, m_cells: int = CBLOOM_M,
               k: int = CBLOOM_K) -> DataFrame:
    """(r=0, bucket=cell, cnt) counting-Bloom cells over the docs'
    per-doc DISTINCT 5-token shingles — counted per (doc, shingle) so
    subtracting one document's cells leaves every shingle it SHARED
    with a surviving document positive
    (functions/sketches.py:counting_bloom_cells)."""
    return (sketches.counting_bloom_cells(_doc_shingles(docs),
                                          "shingle", m_cells, k)
            .select(F.lit(0).alias("r"), F.col("cell").alias("bucket"),
                    "cnt"))


_SKETCH_STORES = (("cms", _cms_of, (CMS_DEPTH, CMS_WIDTH)),
                  ("cbloom", _cbloom_of, (CBLOOM_M, CBLOOM_K)))


# Per-sub-store wall seconds of the LAST bootstrap in this process —
# purely observational; bench.py reads it to attribute the one opaque
# "boot:text_serving_store" number per store (round-11 verdict,
# missing #4), so a store addition that doubles bootstrap shows up on
# the board instead of hiding in SCALING.md's hand breakdown.
BOOT_PHASE_SECONDS: dict[str, float] = {}


def _boot_lap(marks: list, name: str) -> None:
    import time
    now = time.time()
    BOOT_PHASE_SECONDS[name] = round(now - marks[0], 3)
    marks[0] = now


def _cms_fp(delta: DataFrame) -> tuple[int, int]:
    """Replay fingerprint of a delta: (row count, sum of 60-bit doc-id
    hashes mod P) — deterministic and order-free, so the at-least-once
    redelivery of the SAME delta reproduces it exactly; a different
    delta matching both values is a ~2^-31 accident."""
    row = (delta.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(text_fns.hash64(F.col("doc_id").cast("string"))
                         % F.lit(dedup.MINHASH_P)), F.lit(0)).alias("h"))
        .collect())[0]
    return int(row["n"]), int(row["h"])


def _doc_id_hashes(docs: DataFrame) -> DataFrame:
    """One (bucket = hash64(doc_id)) row per doc — the id identity used
    by the sidecar's committed-check and the takedown ledger. Full
    60-bit hashes (not mod P): a collision here silently skips a
    subtraction, so the accident class is kept at ~2^-60 per pair."""
    return docs.select(text_fns.hash64(F.col("doc_id").cast("string"))
                       .alias("bucket"))


def _cms_store_frame(spark, table: DataFrame, fp: tuple[int, int],
                     d1: int, d2: int,
                     extra_rows: DataFrame | None = None) -> DataFrame:
    """Data rows + the two sentinel rows (+ optional bookkeeping rows:
    the takedown ledger in the main store, the delta id-hashes in a
    sidecar), ONE frame so one swap commits all of it — fp, dims and
    ledgers must never drift from the cells they describe."""
    sent = local_frame(
        spark, [(_CMS_FP_ROW, fp[1], fp[0]), (_CMS_DIMS_ROW, d1, d2)],
        "r INT, bucket BIGINT, cnt BIGINT")
    out = (table.select(F.col("r").cast("int"),
                        F.col("bucket").cast("bigint"),
                        F.col("cnt").cast("bigint"))
           .unionByName(sent))
    if extra_rows is not None:
        out = out.unionByName(
            extra_rows.select(F.col("r").cast("int"),
                              F.col("bucket").cast("bigint"),
                              F.col("cnt").cast("bigint")))
    return out


def read_cms(spark, state_dir: str) -> DataFrame:
    """The maintained count-min table (r, bucket, cnt) of the live
    corpus, sentinel bookkeeping rows stripped — feed it to
    :func:`functions.sketches.cms_estimate` for point-frequency
    estimates without any corpus scan."""
    return (spark.read.parquet(live_store(os.path.join(state_dir, "cms")))
            .filter(F.col("r") >= 0))


def read_cbloom(spark, state_dir: str) -> DataFrame:
    """The maintained counting-Bloom cells (cell, cnt) of the live
    corpus's 5-token shingles, sentinels stripped."""
    return (spark.read.parquet(live_store(os.path.join(state_dir, "cbloom")))
            .filter(F.col("r") >= 0)
            .select(F.col("bucket").alias("cell"), "cnt"))


def cbloom_gate(spark, state_dir: str):
    """Serving handoff for the ingest-maintained decontamination gate:
    ``(words, m_bits, k)`` ready for
    :func:`functions.sketches.bloom_might_contain` — test any incoming
    benchmark/eval shingle set against the LIVE corpus in a
    zero-shuffle codegen projection, no corpus tokenize. No false
    negatives for surviving documents' shingles (the counting cells
    subtract exactly on takedown); false positives go to the usual
    exact verify join. Dims come from the bootstrap-pinned sentinel."""
    stored = spark.read.parquet(live_store(os.path.join(state_dir, "cbloom")))
    dims = stored.filter(F.col("r") == _CMS_DIMS_ROW).collect()
    m, k = ((int(dims[0]["bucket"]), int(dims[0]["cnt"])) if dims
            else (CBLOOM_M, CBLOOM_K))
    words = sketches.counting_bloom_words(
        stored.filter(F.col("r") >= 0)
        .select(F.col("bucket").alias("cell"), "cnt"), m)
    return words, m, k


# ---------------------------------------------------------------------
# hll/ store: mergeable distinct-shingle cardinality (extension E67).
# The sizing companion of the cbloom gate: "how many distinct shingles
# does the live corpus hold" is exactly the number that decides m_cells
# (bits per key) for the Bloom tier, and an exact distinct count at
# web scale is a billions-row aggregate. The Datasketches HLL sketch
# (built-in JVM: hll_sketch_agg / hll_union_agg — no custom code, no
# Python) is register-MAX state: merging is idempotent and
# order/partition-free BY ALGEBRA, so unlike the counting sketches this
# store needs NO replay fingerprint and NO sidecar — an at-least-once
# redelivery re-maxes the same registers into place. The price of that
# algebra: registers cannot be subtracted, so takedown REBUILDS from
# the surviving corpus (documented, tested) — the one sketch in the
# store family where rebuild is not a fallback but the only sound form.
# ---------------------------------------------------------------------

HLL_LGK = 12  # 2^12 registers → ~1.6% standard error; pinned at bootstrap


def _hll_frame(spark, docs: DataFrame) -> DataFrame:
    """One-row (sk binary, lgk int) sketch of the docs' distinct
    shingles."""
    return (_doc_shingles(docs)
            .agg(F.hll_sketch_agg("shingle", HLL_LGK).alias("sk"))
            .select("sk", F.lit(HLL_LGK).alias("lgk")))


def read_hll(spark, state_dir: str) -> tuple[int, int]:
    """(estimated distinct shingle count, lgk) off the maintained
    store — no corpus scan. A NULL sketch (a corpus whose docs are all
    shorter than the shingle width aggregates ZERO rows, so
    hll_sketch_agg yields NULL) estimates 0, not a crash — the empty
    corpus genuinely has zero distinct shingles (round-10 advice)."""
    row = (spark.read.parquet(live_store(os.path.join(state_dir, "hll")))
           .select(F.hll_sketch_estimate("sk").alias("est"), "lgk")
           .collect())[0]
    return (0 if row["est"] is None else int(row["est"])), int(row["lgk"])


def _ensure_hll_store(spark, state_dir: str) -> None:
    """One-time migration for pre-hll state dirs (one corpus shingle
    pass); on maintained dirs verifies the BOOTSTRAP-PINNED lgk —
    unioning sketches of different lgk silently degrades to the
    smaller, so a mismatch refuses."""
    hll_dir = os.path.join(state_dir, "hll")
    if store_exists(hll_dir):
        rows = spark.read.parquet(live_store(hll_dir)).select("lgk").collect()
        if rows and int(rows[0]["lgk"]) != HLL_LGK:
            raise StateLockError(
                f"hll store at {hll_dir!r} was bootstrapped with "
                f"lgk={int(rows[0]['lgk'])} but this ingest is "
                f"configured for {HLL_LGK} — lgk is pinned at bootstrap "
                f"(a union would silently degrade precision); use the "
                f"stored lgk or rebuild the store.")
        if rows:
            return
        _drop_store(hll_dir)
    corpus = spark.read.parquet(live_store(os.path.join(state_dir, "corpus")))
    _swap_write(_hll_frame(spark, corpus).coalesce(1), hll_dir)


def _hll_merge_delta(spark, state_dir: str, delta: DataFrame) -> None:
    """Union-merge one delta's shingle sketch into the store. No
    fingerprint guard, on purpose: HLL registers merge by MAX, so
    re-merging the identical delta after a crash-window redelivery is
    a no-op by algebra — the idempotence the counting sketches have to
    buy with sentinels comes free here."""
    hll_dir = os.path.join(state_dir, "hll")
    stored = spark.read.parquet(live_store(hll_dir)).select("sk")
    # NULL sketches (all-short-doc bootstrap or delta — zero shingle
    # rows aggregate to a NULL hll_sketch_agg) are dropped before the
    # union: hll_union_agg(NULL-bearing input) is NULL, which would
    # erase the live side's registers (round-10 advice). Both sides
    # NULL leaves a NULL merged sketch, which read_hll reports as 0.
    merged = (stored.unionByName(_hll_frame(spark, delta).select("sk"))
              .filter(F.col("sk").isNotNull())
              .agg(F.hll_union_agg("sk").alias("sk"))
              .select("sk", F.lit(HLL_LGK).alias("lgk")))
    _swap_write(merged.coalesce(1), hll_dir)


# ---------------------------------------------------------------------
# The fingerprint family: wfp/ (text winnowing, E73+), dhash/ (image
# perceptual hash, E72+) and afp/ (audio envelope hash, E83+) — the
# incremental contamination/overlap and media near-dup indexes, served
# by hamming_near_dup_pairs and winnow_fingerprint_pairs. Each is an
# id-keyed TABLE with exactly ONE row per document: wfp/ stores a
# doc's whole winnowing set as one ``fps`` array
# (dedup.winnow_fingerprint_sets; empty for a doc shorter than one
# window) and :func:`read_wfp` explodes it. One row per doc makes
# every hazard the linear sketches buy off with sentinels and sidecars
# structural here:
#
# - crash mid-append: a plain parquet append moves task files into the
#   store one rename at a time, so a crash lands WHOLE rows for some
#   docs and nothing for the rest — no doc is ever half-fingerprinted —
#   and the redelivered batch's id anti-join appends exactly the
#   missing docs;
# - redelivery: the same anti-join makes the append idempotent;
# - takedown: an exact row delete (the sentinel's negative id can
#   never match a tombstone);
# - the one pinned invariant is the hash geometry — fingerprints of a
#   different (k, w), grid or bit width are silently incomparable — so
#   each store carries a sentinel row at doc_id = _FP_SENTINEL_ID,
#   written at bootstrap and checked by :func:`_ensure_fp_store`.
#
# One table drives every step, as _SKETCH_STORES drives cms/ and
# cbloom/: name → (rows builder over (doc_id, text) docs, row DDL,
# sentinel row). Builders and sentinels read the geometry at call time.
# ---------------------------------------------------------------------
WFP_K = 4
WFP_W = 4
_FP_SENTINEL_ID = -2


def _dhash_geometry() -> int:
    from cati_database_feeder_spark.sources import multimodal as mm
    return mm._DHASH_GRID_W * 1000 + mm._DHASH_GRID_H


def _afp_geometry() -> int:
    from cati_database_feeder_spark.sources import multimodal as mm
    return mm.AUDIO_HASH_BITS


def _media_hash(docs: DataFrame, media_type: str, col: str) -> DataFrame:
    """(doc_id, ``col``, real): one perceptual hash per doc of its
    payload bytes (text cast to binary — the test-adapter payload; a
    real media corpus feeds its binary column through the same kernel)
    via the three-tier decode ladder of sources/multimodal.py
    (image_dhash for images, audio_fingerprint for audio)."""
    from cati_database_feeder_spark.sources import multimodal as mm
    kernel = {"image": mm.image_dhash,
              "audio": mm.audio_fingerprint}[media_type]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
        F.lit(media_type).alias("media_type"),
        F.lit(None).cast(
            "struct<width:int,height:int,sample_rate:int,n_frames:int>")
        .alias("meta"))
    return kernel(media).select(F.col("media_id").alias("doc_id"), col,
                                "real")


def _wfp_of(docs: DataFrame) -> DataFrame:
    return dedup.winnow_fingerprint_sets(docs, k=WFP_K, w=WFP_W)


def _dhash_of(docs: DataFrame) -> DataFrame:
    return _media_hash(docs, "image", "dhash")


def _afp_of(docs: DataFrame) -> DataFrame:
    return _media_hash(docs, "audio", "ahash")


_FP_STORES = {
    "wfp": (_wfp_of, "doc_id long, fps array<bigint>",
            lambda: (_FP_SENTINEL_ID, [WFP_K * 1000 + WFP_W])),
    "dhash": (_dhash_of, "doc_id long, dhash long, real boolean",
              lambda: (_FP_SENTINEL_ID, _dhash_geometry(), False)),
    "afp": (_afp_of, "doc_id long, ahash long, real boolean",
            lambda: (_FP_SENTINEL_ID, _afp_geometry(), False)),
}


def _fp_frame(spark, docs: DataFrame, name: str) -> DataFrame:
    """The ``name`` store's rows for ``docs`` plus its geometry
    sentinel — what a bootstrap or a rebuild swap-writes whole."""
    rows_of, ddl, sentinel = _FP_STORES[name]
    return rows_of(docs).unionByName(local_frame(spark, [sentinel()], ddl))


def _read_fp(spark, state_dir: str, name: str) -> DataFrame:
    return (spark.read.parquet(live_store(os.path.join(state_dir, name)))
            .drop("bucket")
            .filter(F.col("doc_id") != _FP_SENTINEL_ID))


def read_wfp(spark, state_dir: str) -> DataFrame:
    """The maintained winnowing fingerprints as (doc_id, fp) rows —
    dedup.winnow_fingerprints over the live corpus (a doc shorter than
    one window stores an empty set and serves no row)."""
    return (_read_fp(spark, state_dir, "wfp")
            .select("doc_id", F.explode("fps").alias("fp")))


def read_dhash(spark, state_dir: str) -> DataFrame:
    """The maintained perceptual-hash table (doc_id, dhash, real)."""
    return _read_fp(spark, state_dir, "dhash")


def read_afp(spark, state_dir: str) -> DataFrame:
    """The maintained audio-fingerprint table (doc_id, ahash, real)."""
    return _read_fp(spark, state_dir, "afp")


def _ensure_fp_store(spark, state_dir: str, name: str) -> None:
    """One-time migration for a state dir without a current ``name``
    store (one corpus fingerprint pass); on maintained dirs verifies
    the BOOTSTRAP-PINNED geometry — the stored sentinel row must equal
    the one this ingest would write, since mixed-geometry fingerprints
    never match each other: a mismatch is a refusal, not a merge. A
    store without a sentinel (a partial write) or in an older column
    layout (the one-row-per-fingerprint wfp/ with its ``_pending``
    sidecar) is dropped, sidecar included, and rebuilt — the sketch
    stores' policy."""
    _, ddl, sentinel = _FP_STORES[name]
    d = os.path.join(state_dir, name)
    want = sentinel()
    if store_exists(d):
        stored = spark.read.parquet(live_store(d)).drop("bucket")
        if stored.columns == local_frame(spark, [], ddl).columns:
            rows = (stored.filter(F.col("doc_id") == _FP_SENTINEL_ID)
                    .collect())
            if rows and list(rows[0]) != list(want):
                raise StateLockError(
                    f"{name} store at {d!r} was bootstrapped with "
                    f"geometry {tuple(rows[0])[1:]} but this ingest is "
                    f"configured for {want[1:]} — the fingerprint "
                    f"geometry is pinned at bootstrap (mixed-geometry "
                    f"fingerprints are silently incomparable); use the "
                    f"stored geometry or rebuild the store.")
            if rows:
                return
        _drop_store(d)
    _drop_store(d + "_pending")
    corpus = spark.read.parquet(live_store(os.path.join(state_dir, "corpus")))
    _swap_write_bucketed(_fp_frame(spark, corpus, name), d)


def _fp_append_delta(spark, state_dir: str, delta: DataFrame,
                     name: str) -> None:
    """Append the delta's ``name`` rows behind the id anti-join replay
    guard (the deleted/-ledger idiom): a redelivered delta's ids are
    already stored and append nothing, and after a crash mid-append
    the redelivery appends exactly the docs whose rows did not land
    (family comment above)."""
    d = os.path.join(state_dir, name)
    existing = (spark.read.parquet(live_store(d)).select("doc_id")
                .distinct())
    _append_id_store(_FP_STORES[name][0](delta)
                     .join(existing, "doc_id", "left_anti"), d)


def _sk_ensure_store(spark, state_dir: str, name: str, cells_of,
                     d1: int, d2: int) -> None:
    """One-time migration for state dirs predating the ``name`` sketch
    store (one corpus pass, the same policy as the other ensure fns);
    on maintained dirs this only verifies the BOOTSTRAP-PINNED dims —
    merging a table built with different dims would silently corrupt
    every cell, so a mismatch is a descriptive refusal, not a
    rebuild."""
    sk_dir = os.path.join(state_dir, name)
    if store_exists(sk_dir):
        dims = (spark.read.parquet(live_store(sk_dir))
                .filter(F.col("r") == _CMS_DIMS_ROW).collect())
        if dims and (int(dims[0]["bucket"]), int(dims[0]["cnt"])) \
                != (d1, d2):
            raise StateLockError(
                f"{name} store at {sk_dir!r} was bootstrapped with "
                f"dims ({int(dims[0]['bucket'])}, "
                f"{int(dims[0]['cnt'])}) but this ingest is configured "
                f"for ({d1}, {d2}) — dims are pinned at bootstrap "
                f"(merging mismatched tables corrupts every cell); use "
                f"the stored dims or rebuild the store.")
        if dims:
            return
        # a sketch dir WITHOUT the dims sentinel is a partially written
        # store (every complete writer — bootstrap, merge, delete,
        # this migration — commits data + sentinels in one frame):
        # treating it as valid would serve a permanently under-counted
        # sketch. Rebuild from the corpus (review finding); safe
        # w.r.t. a crashed in-flight batch because the corpus marker
        # for that batch is unwritten, so its redelivered delta merges
        # against this rebuild normally.
        _drop_store(sk_dir)
    corpus = spark.read.parquet(live_store(os.path.join(state_dir, "corpus")))
    # _swap_write (not a plain overwrite): a crash mid-migration must
    # leave either no sketch dir (retry re-enters here) or a complete
    # one — never a sentinel-less partial (review finding)
    _swap_write(_cms_store_frame(spark, cells_of(corpus, d1, d2),
                                 _CMS_NO_FP, d1, d2), sk_dir)


def _ensure_cms_store(spark, state_dir: str,
                      depth: int = CMS_DEPTH,
                      width: int = CMS_WIDTH) -> None:
    _sk_ensure_store(spark, state_dir, "cms", _cms_of, depth, width)


def _sk_merge_delta(spark, state_dir: str, name: str, delta: DataFrame,
                    cells_of, d1: int, d2: int) -> None:
    """Fold one delta into the ``name`` sketch store: cell-wise ADD
    (the linear-sketch merge), swap-replaced. Replay-guarded:
    foreachBatch is at-least-once, the merge is not idempotent, and a
    crash AFTER this swap but BEFORE the corpus commit marker
    redelivers the identical delta — whose fingerprint then matches
    the stored sentinel and the merge is skipped.

    SIDECAR (round-10, the safe-subtract enabler — SURVEY.md's open
    thread 2): before the merge, the delta's own aggregated cells +
    fp + id-hashes are swap-written to ``{name}_pending/``. The
    sidecar makes takedown's subtraction well-defined across the
    merge→corpus-commit crash window: a takedown finding a sidecar
    whose fp matches the store's AND whose ids are not all in the
    corpus knows the store contains a merged-but-uncommitted delta
    and can subtract exactly it (:func:`_sk_takedown`). Write order
    is load-bearing: sidecar BEFORE the store swap, so a crash
    between them leaves sidecar.fp != store.fp (takedown ignores it,
    the replayed batch overwrites it). The sidecar is garbage-
    collected after the corpus commit (:func:`_sk_gc_pending`); a
    stale committed sidecar (crash in that last window) is detected
    by the ids⊆corpus check and GC'd without subtraction. Plans here
    read only the sketch dirs + the delta, so the call is
    recacheByPath-safe anywhere before the corpus append."""
    sk_dir = os.path.join(state_dir, name)
    pend_dir = os.path.join(state_dir, name + "_pending")
    stored = spark.read.parquet(live_store(sk_dir))
    fp = _cms_fp(delta)
    prev = stored.filter(F.col("r") == _CMS_FP_ROW).collect()
    if prev and (int(prev[0]["cnt"]), int(prev[0]["bucket"])) == fp:
        return  # crash-window replay: this delta is already merged
    ids = (_doc_id_hashes(delta)
           .select(F.lit(_CMS_IDS_ROW).alias("r"), "bucket",
                   F.lit(1).alias("cnt")))
    _swap_write(_cms_store_frame(spark, cells_of(delta, d1, d2), fp,
                                 d1, d2, extra_rows=ids), pend_dir)
    # merge reads the delta's cells BACK FROM the sidecar — the
    # aggregation was paid by the sidecar write, so the merge itself
    # is one bounded-cardinality union + groupBy; the takedown ledger
    # rows (r=-3) are carried over verbatim
    pend_cells = (spark.read.parquet(live_store(pend_dir))
                  .filter(F.col("r") >= 0))
    ledger = stored.filter(F.col("r") == _CMS_SUBT_ROW)
    merged = (stored.filter(F.col("r") >= 0)
              .unionByName(pend_cells)
              .groupBy("r", "bucket").agg(F.sum("cnt").alias("cnt")))
    # NO coalesce(1) here: coalesce collapses the whole upstream plan
    # into one serial task (measured 4.5 s vs 0.6 s for this write —
    # SCALING.md round 9); AQE already shrinks the tiny shuffle, and
    # compact_state owns the file count (sketches compact to 1 file)
    _swap_write(_cms_store_frame(spark, merged, fp, d1, d2,
                                 extra_rows=ledger), sk_dir)


def _sk_gc_pending(state_dir: str, name: str) -> None:
    """Drop the ``name`` sidecar after the corpus commit marker: its
    delta is now corpus-true, so takedown no longer needs it (the
    ids⊆corpus check would classify it committed anyway — this is
    hygiene, not correctness)."""
    _drop_store(os.path.join(state_dir, name + "_pending"))


def _sk_takedown(spark, state_dir: str, name: str, cells_of,
                 d1_default: int, d2_default: int, corpus: DataFrame,
                 tomb: DataFrame, mode: str) -> None:
    """Reflect the FULL tombstone set in the ``name`` sketch store,
    before the corpus swap (both modes read the OLD corpus text).

    ``mode="rebuild"``: recount from the surviving corpus — one corpus
    pass, immune to everything, the round-9 shipped form.

    ``mode="subtract"`` (round-10, SURVEY.md open thread 2 closed):
    linear-sketch subtraction, cost bounded by the DELETED documents —
    the 100 TB small-delete path. Correct across every crash window
    via two pieces of recorded state:

    * the r=-3 LEDGER rows in the store (hash64 of every tombstone the
      cells already reflect) make the subtraction idempotent — a retry
      after a crash between the sketch swap and the corpus swap
      subtracts nothing twice, and a later delete with more ids
      subtracts only the new ones even if the earlier corpus swap
      never landed;
    * the per-batch SIDECAR (:func:`_sk_merge_delta`) resolves the
      merged-but-uncommitted delta: if the sidecar's fp matches the
      store's and its ids are NOT all in the corpus, the store
      contains exactly that delta's cells with no corpus rows behind
      them — subtract the sidecar's cells wholesale and reset fp, so
      the redelivered (tombstone-filtered) delta re-merges onto a
      corpus-true base. A sidecar whose fp mismatches was never
      merged; one whose ids are all present is committed (GC'd, not
      subtracted).

    Both modes end with fp = NO_FP (safe: committed deltas are
    replay-protected by the corpus anti-join, and any pending delta
    was just subtracted or rebuilt away) and the ledger equal to the
    full tombstone hash set. Cells driven negative — impossible unless
    the store was hand-edited — are a descriptive refusal pointing at
    the rebuild mode."""
    sk_dir = os.path.join(state_dir, name)
    if not store_exists(sk_dir):
        return
    pend_dir = os.path.join(state_dir, name + "_pending")
    stored = spark.read.parquet(live_store(sk_dir))
    dims = stored.filter(F.col("r") == _CMS_DIMS_ROW).collect()
    d1, d2 = ((int(dims[0]["bucket"]), int(dims[0]["cnt"])) if dims
              else (d1_default, d2_default))
    tomb_hash_rows = (_doc_id_hashes(tomb).distinct()
                      .select(F.lit(_CMS_SUBT_ROW).alias("r"), "bucket",
                              F.lit(1).alias("cnt")))
    if mode == "rebuild":
        _swap_write(_cms_store_frame(
            spark, cells_of(corpus.join(tomb, "doc_id", "left_anti"),
                            d1, d2),
            _CMS_NO_FP, d1, d2, extra_rows=tomb_hash_rows), sk_dir)
        _sk_gc_pending(state_dir, name)
        return
    if mode != "subtract":
        raise ValueError(
            f"sketch takedown mode must be 'subtract' or 'rebuild', "
            f"got {mode!r}")
    ledger = stored.filter(F.col("r") == _CMS_SUBT_ROW).select("bucket")
    to_sub_docs = (corpus.join(tomb, "doc_id", "left_semi")
                   .withColumn("__h", text_fns.hash64(
                       F.col("doc_id").cast("string")))
                   .join(ledger.withColumnRenamed("bucket", "__h"),
                         "__h", "left_anti")
                   .drop("__h"))
    neg = cells_of(to_sub_docs, d1, d2).withColumn(
        "cnt", -F.col("cnt"))
    parts = [stored.filter(F.col("r") >= 0), neg]
    prev_fp = stored.filter(F.col("r") == _CMS_FP_ROW).collect()
    store_fp = ((int(prev_fp[0]["cnt"]), int(prev_fp[0]["bucket"]))
                if prev_fp else _CMS_NO_FP)
    if store_exists(pend_dir):
        pend = spark.read.parquet(live_store(pend_dir))
        pfp_rows = pend.filter(F.col("r") == _CMS_FP_ROW).collect()
        pend_fp = ((int(pfp_rows[0]["cnt"]), int(pfp_rows[0]["bucket"]))
                   if pfp_rows else _CMS_NO_FP)
        if pend_fp == store_fp and pend_fp != _CMS_NO_FP:
            pend_ids = (pend.filter(F.col("r") == _CMS_IDS_ROW)
                        .select("bucket"))
            n_uncommitted = (pend_ids
                             .join(_doc_id_hashes(
                                 corpus.select("doc_id")),
                                 "bucket", "left_anti")
                             .limit(1).count())
            if n_uncommitted:
                parts.append(pend.filter(F.col("r") >= 0)
                             .withColumn("cnt", -F.col("cnt")))
    new_cells = parts[0]
    for p in parts[1:]:
        new_cells = new_cells.unionByName(p)
    new_cells = (new_cells.groupBy("r", "bucket")
                 .agg(F.sum("cnt").alias("cnt")).persist())
    try:
        if new_cells.filter(F.col("cnt") < 0).limit(1).count():
            raise StateLockError(
                f"{name} takedown subtraction drove a cell negative — "
                f"the store does not contain the counts being removed "
                f"(hand-edited store or unsupported legacy state). "
                f"Re-run delete_docs with sketch_takedown='rebuild'.")
        new_ledger = (ledger
                      .unionByName(tomb_hash_rows.select("bucket"))
                      .distinct()
                      .select(F.lit(_CMS_SUBT_ROW).alias("r"), "bucket",
                              F.lit(1).alias("cnt")))
        _swap_write(_cms_store_frame(
            spark, new_cells.filter(F.col("cnt") > 0),
            _CMS_NO_FP, d1, d2, extra_rows=new_ledger), sk_dir)
    finally:
        new_cells.unpersist()
    _sk_gc_pending(state_dir, name)


def _check_no_pending_delete(state_dir: str, op: str) -> None:
    """A crash inside :func:`delete_docs` leaves the stores mutually
    inconsistent (some rewritten against the tombstones, some not) —
    readable individually, but WRONG to ingest against. The
    ``_DELETE_PENDING`` marker written at deletion start and cleared
    at the end turns that window into a descriptive refusal: any
    state-mutating op finding the marker tells the operator to re-run
    ``delete_docs`` (idempotent — it re-applies the FULL tombstone set
    to every store, so a retry with any id set, even empty, completes
    the interrupted deletion)."""
    if os.path.exists(os.path.join(state_dir, _DELETE_PENDING)):
        raise StateLockError(
            f"state dir {state_dir!r} has an interrupted deletion "
            f"(marker {_DELETE_PENDING}): the stores may be mutually "
            f"inconsistent. Re-run delete_docs(spark, state_dir, []) "
            f"to complete it before {op!r} — deletion re-applies the "
            f"full tombstone set and is idempotent.")


def ingest_batch(spark, batch: DataFrame, state_dir: str,
                 id_col: str = "doc_id", text_col: str = "text",
                 threshold: float = 0.7, num_hashes: int = 16,
                 bands: int = 4, batch_id: int | None = None) -> None:
    """Process one ingest batch against the state dir (see module
    docstring). Usable directly for batch backfills; ``foreachBatch``
    calls it per micro-batch.

    The incremental path reads NO corpus text: its inputs are the
    batch, the corpus doc_id column (exact dedup + commit marker), and
    the derived stores (members/reps/buckets/labels). Every store
    append is guarded by a left_anti on the store's key, so an
    at-least-once redelivery (foreachBatch's contract) appends nothing
    twice and the whole call is idempotent. Holds the state dir's
    fencing lock for the duration (module docstring, concurrency
    contract) — a concurrent ``compact_state`` or second ingest on the
    same dir raises :class:`StateLockError` instead of corrupting
    state.

    Observability: every SUBSTANTIVE call (bootstrap or a batch with
    >= 1 exact-dedup survivor; pure replays return before any write)
    appends one row to ``metrics/`` — (batch_id, rows_in, delta_rows,
    new_pairs, quiet, bootstrap) — the per-batch ledger a production
    pipeline alerts on (dedup rate collapsing, pair volume spiking).
    All counts come from frames the batch already persisted, so the
    cost is driver-side. Metrics are operational at-least-once data:
    a crash inside the commit sequence can replay a batch whose
    stores partially landed, appending a second row with the same
    batch_id — dashboards aggregate with last-write-wins on batch_id,
    and the STORE commits themselves stay exactly-once via their
    anti-join guards."""
    with _state_lock(state_dir, "ingest_batch"):
        _ingest_batch_locked(spark, batch, state_dir, id_col, text_col,
                             threshold, num_hashes, bands, batch_id)


def _append_metrics(spark, state_dir: str, batch_id, rows_in: int,
                    delta_rows: int, new_pairs: int, quiet: bool,
                    bootstrap: bool) -> None:
    row = [(None if batch_id is None else int(batch_id), int(rows_in),
            int(delta_rows), int(new_pairs), bool(quiet), bool(bootstrap))]
    (local_frame(
        spark, row, "batch_id long, rows_in long, delta_rows long, "
             "new_pairs long, quiet boolean, bootstrap boolean")
     .coalesce(1).write.mode("append")
     .parquet(live_store(os.path.join(state_dir, "metrics"))))


def _ingest_batch_locked(spark, batch: DataFrame, state_dir: str,
                         id_col: str, text_col: str, threshold: float,
                         num_hashes: int, bands: int,
                         batch_id: int | None = None) -> None:
    _recover_swaps(state_dir)
    _check_no_pending_delete(state_dir, "ingest_batch")
    corpus_dir = os.path.join(state_dir, "corpus")
    labels_dir = os.path.join(state_dir, "labels")
    buckets_dir = os.path.join(state_dir, "buckets")
    members_dir = os.path.join(state_dir, "members")
    reps_dir = os.path.join(state_dir, "reps")
    pairs_dir = os.path.join(state_dir, "pairs")
    # plain dropDuplicates, deliberately NOT _pin_dedup: the text
    # bootstrap's critical path is the verify/closure machinery whose
    # own shuffles re-spread the work, while tokenize-per-doc is cheap
    # — pinning the batch exchange here was measured SLOWER (membership
    # lap min 10.7 -> 12.3 s at sf0.1, 3 paired rounds). The embedding
    # path keeps the pin: its per-vector code/proj/PQ flood has no
    # downstream shuffle to spread it (ingest_embeddings.py).
    batch = (batch.select(F.col(id_col).alias("doc_id"),
                          F.col(text_col).alias("text"))
             .dropDuplicates(["doc_id"]))

    if not store_exists(corpus_dir):
        # bootstrap: the first batch IS the corpus snapshot. The corpus
        # write goes LAST as the commit marker: a retry of a partially
        # committed bootstrap (foreachBatch is at-least-once) must
        # re-enter THIS branch and redo every derived store — were
        # corpus written first, the retry would take the incremental
        # path, see an empty delta, and return with the stores missing
        # forever.
        import time as _time
        BOOT_PHASE_SECONDS.clear()
        _marks = [_time.time()]
        # persisted: FOUR consumers in this branch (the pair build via
        # groups=, and the reps/members/buckets writes) — unpersisted,
        # each write recomputed the tokenize + corpus window from
        # scratch; the boot attribution put the whole membership lap at
        # 71 s at sf0.1 with this as the dominant term
        memb = dedup.tokset_groups(batch).persist()
        # materialize the cache with one cheap action so the concurrent
        # consumers below read blocks instead of racing to compute them
        memb.count()
        # the membership-derived stores (reps/members/buckets) and,
        # later, the pairs store depend on frames that are persisted by
        # the time their write is submitted — so the writes run as
        # CONCURRENT jobs from a small thread pool while the main
        # thread continues with the verify/closure compute (guide
        # §2.6: overlap independent jobs; Spark's scheduler back-fills
        # the write tasks into the verify stages' idle tail). Ordering
        # among these writes never mattered for crash-safety: the
        # corpus write below is the bootstrap's single commit marker,
        # and a crash before it re-enters this branch and redoes every
        # store (partial epoch dirs are healed by _recover_swaps).
        from concurrent.futures import ThreadPoolExecutor
        pool = ThreadPoolExecutor(max_workers=6)
        # the banding table is persisted ONCE and feeds both the
        # buckets store write (pool) and candidate generation in the
        # verify below (rep_candidates=) — unpersisted, the signature
        # kernel (md5 + minhash over every rep token) ran twice per
        # bootstrap
        bb = dedup.rep_band_buckets(memb, num_hashes, bands).persist()
        bb.count()
        store_futs = [
            pool.submit(_swap_write,
                        memb.filter(F.col("id") == F.col("gid"))
                        .select("gid", "toks",
                                dedup.tokset_key(F.col("toks"))
                                .alias("key")),
                        reps_dir),
            pool.submit(_swap_write_bucketed, memb.select("id", "gid"),
                        members_dir, "id"),
            pool.submit(_swap_write, bb, buckets_dir),
        ]
        # The sketch/fingerprint stores (cms/cbloom/hll/wfp/dhash/afp)
        # depend only on `batch`, never on the membership machinery —
        # submit them to the pool NOW so their jobs back-fill executor
        # idle tails of the verify/closure critical path below (guide
        # §2.6) instead of running as a sequential epilogue. Laps are
        # recorded at COMPLETION in completion order (wall segments:
        # the sum of all boot laps + :other still equals the
        # bootstrap's true wall — a store that finished entirely
        # inside another phase's segment records ~0, which is the
        # honest number for overlapped capital). Crash-safety is
        # unchanged: every future is joined before the metrics row
        # and the corpus commit marker, so a failed write still
        # aborts the bootstrap before the marker and the retry redoes
        # every store.
        boot_fp = _cms_fp(batch)
        _done_at: dict[str, float] = {}

        def _tracked(name, fn, *a, **kw):
            def run():
                fn(*a, **kw)
                _done_at[name] = _time.time()
            return pool.submit(run)

        sketch_futs = [
            _tracked(sk_name, _swap_write,
                     _cms_store_frame(spark, sk_cells(batch, sd1, sd2),
                                      boot_fp, sd1, sd2),
                     os.path.join(state_dir, sk_name))
            for sk_name, sk_cells, (sd1, sd2) in _SKETCH_STORES
        ] + [
            _tracked("hll", _swap_write,
                     _hll_frame(spark, batch).coalesce(1),
                     os.path.join(state_dir, "hll")),
        ] + [
            _tracked(fp_name, _swap_write_bucketed,
                     _fp_frame(spark, batch, fp_name),
                     os.path.join(state_dir, fp_name))
            for fp_name in _FP_STORES
        ]
        # persisted: the expansion, the closure's star edges, and the
        # pairs-store write all read it
        rep_pairs = dedup.near_dup_rep_pairs(
            batch, threshold=threshold, num_hashes=num_hashes,
            bands=bands, groups=memb,
            rep_candidates=dedup._bucket_pairs(
                bb, ["band", "bucket"], "id")).persist()
        rep_pairs.count()
        mem = memb.filter(F.size("toks") > 0).select("gid", "id")
        # persisted: consumed by the pairs-store write AND the metrics
        # count
        pairs = dedup.expand_group_pairs(
            rep_pairs, mem, {"jaccard": F.lit(1.0)}).persist()
        # the edge store takedown repairs labels from (delete_docs) —
        # expanded+written concurrently with the closure below
        store_futs.append(
            pool.submit(_swap_write, pairs.select("id_a", "id_b"),
                        pairs_dir))
        # closure over the CONTRACTED graph (rep pairs + gid→member
        # star edges) — label-identical to closing the expanded pair
        # set (components_from_rep_pairs docstring) at a fraction of
        # the edges: the expanded set is quadratic in dup-cluster size
        # (4.17M edges at sf0.1, forcing the distributed loop), the
        # rep-level one ~2.6× smaller, and connected_components' own
        # large-star pre-contraction then collapses the dense blobs
        # under the driver union-find cap
        labels = components_from_rep_pairs(rep_pairs, mem)
        _swap_write(labels, labels_dir)
        for fut in store_futs:
            fut.result()
        _boot_lap(_marks, "membership")
        # join the overlapped sketch-store futures (submitted above);
        # a bootstrap retry redoes these overwrites with identical
        # content (idempotent), and the fp sentinels record the batch
        # so a partial-crash redelivery that somehow reaches the
        # incremental path still skips
        for fut in sketch_futs:
            fut.result()
        pool.shutdown()
        # wall-segment laps in completion order: each store's entry is
        # the wall time between the previous completion (or the
        # membership join) and its own — overlapped builds record ~0
        # and the lap sum stays equal to the true bootstrap wall
        for name in sorted(_done_at, key=_done_at.get):
            now = _done_at[name]
            BOOT_PHASE_SECONDS[name] = round(max(now - _marks[0], 0.0), 3)
            _marks[0] = max(_marks[0], now)
        # metrics BEFORE the corpus commit marker: a crash between the
        # two replays the whole bootstrap (corpus absent) and appends a
        # duplicate row with the same batch_id — at-least-once, which
        # last-write-wins dashboards absorb; the old order (metrics
        # after the marker) had a silent LOSS window instead (crash
        # after the marker → the replay's pure-replay return skips the
        # metrics write forever)
        n = batch.count()
        _append_metrics(spark, state_dir, batch_id, n, n,
                        pairs.count(), False, True)
        _swap_write(batch, corpus_dir)
        _boot_lap(_marks, "corpus")
        pairs.unpersist()
        rep_pairs.unpersist()
        bb.unpersist()
        memb.unpersist()
        return

    _ensure_membership_stores(spark, state_dir)
    _ensure_pairs_store(spark, state_dir, threshold, num_hashes, bands)
    for sk_name, sk_cells, (sd1, sd2) in _SKETCH_STORES:
        _sk_ensure_store(spark, state_dir, sk_name, sk_cells, sd1, sd2)
    _ensure_hll_store(spark, state_dir)
    for fp_name in _FP_STORES:
        _ensure_fp_store(spark, state_dir, fp_name)
    fr = _incremental_frames(spark, state_dir, batch, threshold,
                             num_hashes, bands)
    # persist the per-batch frames every downstream branch consumes;
    # caching keys on the logical plan, so frames built from them
    # inside _incremental_frames hit the cache too
    delta, dmemb = fr["delta"].persist(), fr["dmemb"]
    new_pairs = fr["new_pairs"]
    try:
        if delta.limit(1).count() == 0:
            return  # pure replay — nothing survives exact dedup
        dmemb.persist()
        new_pairs.persist()
        # quiet batch: no near-dup pair touches the delta, so the
        # closure is unchanged BY CONSTRUCTION (incremental_components
        # returns labels ∪ singletons(new-edge endpoints); with no new
        # edges that is exactly the old labels) — skip the iterative
        # relabel and the labels swap, whose per-round constants
        # dominate full ingest_batch cost (tools/ingest_bench.py).
        # The store/corpus commits below still run: the batch's docs,
        # membership and band rows must land regardless.
        quiet = new_pairs.limit(1).count() == 0
        # metrics counts BEFORE any store write: the appends below
        # recache every plan reading the written paths (the same
        # recacheByPath hazard as the commit order itself) — a
        # delta.count() after the corpus append would see the batch's
        # own docs in the corpus and report 0
        m_rows_in = batch.count()
        m_delta = delta.count()
        m_pairs = 0 if quiet else new_pairs.count()
        # commit order: labels swap first (reads old labels — must
        # complete before anything changes), then the append-only
        # stores (each guarded for redelivery), corpus last (marker).
        # WITHIN the appends, dependency order is LOAD-BEARING: a write
        # to a path recaches/invalidates every plan reading that path
        # (Spark's recacheByPath — persist() does NOT protect: the
        # cached frame is refreshed with the new file list), so a store
        # must be appended only AFTER every frame that reads it has
        # been written. buckets/members read reps (via dmemb's key
        # probe) → reps goes after them; everything reads corpus ids →
        # corpus goes last (which the commit-marker role requires
        # anyway). Appending reps first silently emptied new_reps —
        # the delta's keys suddenly matched the store and every novel
        # group lost its band rows (caught by the multi-batch e2e).
        if not quiet:
            _swap_write(fr["new_labels"], labels_dir)
        # pairs append BEFORE the buckets/members/reps appends: its
        # source frame (new_pairs) READS those stores, and a store
        # write recaches every plan on the written path — appending
        # them first would rebuild new_pairs over the already-appended
        # state. Nothing else reads pairs/, so this slot is safe.
        if not quiet:
            fr["pairs_append"].write.mode("append").parquet(live_store(pairs_dir))
        fr["buckets_append"].write.mode("append").parquet(live_store(buckets_dir))
        _append_id_store(fr["members_append"], members_dir, "id")
        fr["reps_append"].write.mode("append").parquet(live_store(reps_dir))
        # sketch merges BEFORE the corpus commit marker (their replay
        # guard assumes a crash here redelivers the identical delta,
        # which holds only while the marker is unwritten); each reads
        # its own dirs + the delta only, so the calls are
        # recacheByPath-safe at this slot
        for sk_name, sk_cells, (sd1, sd2) in _SKETCH_STORES:
            _sk_merge_delta(spark, state_dir, sk_name, delta, sk_cells,
                            sd1, sd2)
        _hll_merge_delta(spark, state_dir, delta)
        # fingerprint appends at the same slot: each reads only its own
        # store (the replay guard) + the delta, so it is
        # recacheByPath-safe here, and a crash before the marker
        # redelivers a delta whose landed ids the guard excludes
        for fp_name in _FP_STORES:
            _fp_append_delta(spark, state_dir, delta, fp_name)
        # metrics BEFORE the corpus commit marker (same argument as the
        # bootstrap branch): a crash in between replays the batch and
        # appends a duplicate batch_id row — at-least-once — where the
        # old after-marker order lost the row forever (the replay takes
        # the pure-replay early return before any metrics write). The
        # metrics dir is read by no in-batch frame, so the append is
        # recacheByPath-safe at this position.
        _append_metrics(spark, state_dir, batch_id, m_rows_in, m_delta,
                        m_pairs, quiet, False)
        delta.write.mode("append").parquet(live_store(corpus_dir))
        # past the commit marker: the sidecars' deltas are corpus-true
        for sk_name, _, _ in _SKETCH_STORES:
            _sk_gc_pending(state_dir, sk_name)
    finally:
        new_pairs.unpersist()
        dmemb.unpersist()
        delta.unpersist()


def _incremental_frames(spark, state_dir: str, batch: DataFrame,
                        threshold: float, num_hashes: int,
                        bands: int) -> dict:
    """Build (without writing) every frame of the incremental path:
    ``delta`` (exact-dedup survivors), ``dmemb`` (delta membership),
    ``new_pairs``, ``new_labels``, and the three guarded store appends.
    Split out of :func:`ingest_batch` so the no-corpus-text contract is
    assertable on the PLANS themselves: tests walk every returned
    frame's executed plan and require that any scan of ``corpus/``
    reads the doc_id column alone (tests/test_incremental_e2e.py).
    The batch tokenize inside ``delta_membership`` and the store
    probes are the only non-driver work here."""
    corpus_ids = (spark.read.parquet(live_store(os.path.join(state_dir, "corpus")))
                  .select("doc_id"))
    members = (spark.read.parquet(
        live_store(os.path.join(state_dir, "members"))).drop("bucket"))
    reps = spark.read.parquet(live_store(os.path.join(state_dir, "reps")))
    buckets = spark.read.parquet(live_store(os.path.join(state_dir, "buckets")))
    labels = spark.read.parquet(live_store(os.path.join(state_dir, "labels")))
    pairs_store = spark.read.parquet(live_store(os.path.join(state_dir, "pairs")))
    delta = batch.join(corpus_ids, "doc_id", "left_anti")
    deleted_dir = os.path.join(state_dir, "deleted")
    if store_exists(deleted_dir):
        # tombstones win: a redelivered DELETED doc must not re-enter
        # the corpus (takedown contract, delete_docs) — the corpus
        # anti-join alone would re-admit it, since deletion removed
        # its corpus row
        delta = delta.join(spark.read.parquet(live_store(deleted_dir))
                           .select("doc_id"), "doc_id", "left_anti")
    dmemb = dedup.delta_membership(delta, reps)
    new_pairs, dmemb, new_reps = dedup.incremental_near_dup_pairs_from_store(
        delta, members, reps, buckets, threshold=threshold,
        num_hashes=num_hashes, bands=bands, dmemb=dmemb)
    new_labels = incremental_components(
        labels, new_pairs.select("id_a", "id_b"))
    return {
        "delta": delta,
        "dmemb": dmemb,
        "new_pairs": new_pairs,
        "new_labels": new_labels,
        "pairs_append": (new_pairs.select("id_a", "id_b")
                         .join(pairs_store, ["id_a", "id_b"],
                               "left_anti")),
        "reps_append": new_reps.join(reps.select("gid"), "gid", "left_anti"),
        "members_append": (dmemb.select("id", "gid")
                           .join(members.select("id"), "id", "left_anti")),
        "buckets_append": (dedup.rep_band_buckets(
            new_reps.select(F.col("gid").alias("id"), "gid", "toks"),
            num_hashes, bands)
            .join(buckets.select("id"), "id", "left_anti")),
    }


def compact_state(spark, state_dir: str, target_files: int | None = None,
                  prune_buckets: bool = True) -> None:
    """Maintenance for the append-only stores: every ingest batch adds
    one small parquet file to each store, and at production batch
    cadence the file count — not the byte count — is what degrades scan
    planning (per-file open cost, tiny row groups). Rewrites corpus/,
    buckets/, members/ and reps/ into ``target_files`` balanced files
    via the same write-to-temp + rename swap the labels update uses.
    ``labels/`` is swap-written whole each batch and never needs
    compaction.

    ``prune_buckets`` drops banding rows whose id is not a current
    group rep, READ FROM THE REPS STORE — no corpus tokenize pass
    (under stable gids new rows can never go stale, so this only ever
    removes legacy rows from pre-membership-store state dirs, where
    min-id gids could supersede a rep).

    The linear-sketch stores additionally get their r=-3 takedown-
    reflection ledgers pruned: a ledger row only matters while its
    tombstoned doc is still in corpus/ (the mid-delete crash window),
    and compaction runs strictly behind the pending-delete fence, so
    rows for fully-committed deletes — in the steady state, all of
    them — are dropped. This bounds the ledger by the IN-FLIGHT
    delete, not by lifetime delete volume.

    One writer per state dir, ENFORCED: this takes the same fencing
    lock as ``ingest_batch``, so compacting against a live ingest (the
    race whose directory swaps would corrupt the in-flight batch's
    reads and appends) raises :class:`StateLockError` naming the live
    holder instead of proceeding."""
    with _state_lock(state_dir, "compact_state"):
        _compact_state_locked(spark, state_dir, target_files,
                              prune_buckets)


def _compact_state_locked(spark, state_dir: str,
                          target_files: int | None,
                          prune_buckets: bool) -> None:
    _recover_swaps(state_dir)
    _check_no_pending_delete(state_dir, "compact_state")
    corpus_dir = os.path.join(state_dir, "corpus")
    buckets_dir = os.path.join(state_dir, "buckets")
    n = target_files or spark.sparkContext.defaultParallelism
    if store_exists(corpus_dir):
        _swap_write(spark.read.parquet(live_store(corpus_dir)).repartition(n),
                    corpus_dir)
        _ensure_membership_stores(spark, state_dir)
    # metrics/ grows one tiny file per batch like the id stores —
    # compact it with them (append-only, so the swap discipline holds);
    # one row per batch → one file, not n near-empty ones
    id_bucketed = {"members": "id", **dict.fromkeys(_FP_STORES, "doc_id")}
    for name, parts in (("members", n), ("reps", n), ("metrics", 1),
                        ("pairs", n), ("deleted", 1), ("hll", 1),
                        *((fp_name, n) for fp_name in _FP_STORES)):
        d = os.path.join(state_dir, name)
        if not store_exists(d):
            continue
        df = spark.read.parquet(live_store(d))
        if name in id_bucketed:
            # preserve (or adopt) the bucketed layout; the bucketed
            # writer repartitions on the key -> one file per bucket
            _swap_write(_with_id_bucket(df.drop("bucket"),
                                        id_bucketed[name]), d,
                        writer=_bucketed_writer)
        else:
            _swap_write(df.repartition(parts), d)
    # linear-sketch stores: compact to one file AND prune the r=-3
    # takedown-reflection ledger (SURVEY.md open thread: ledger
    # compaction). A ledger row exists solely so a retried/extended
    # delete cannot subtract a tombstone's counts twice WHILE the doc
    # is still in corpus/ (the sketch-swap → corpus-swap crash
    # window). compact_state runs behind _check_no_pending_delete, so
    # every recorded delete completed its corpus swap: the subtract
    # path's `corpus semi-join tombstones` already excludes every
    # ledgered doc and the rows are dead weight growing one-per-
    # deleted-doc forever. Pruned CONSERVATIVELY — keep exactly the
    # rows whose hash64(doc_id) is still reachable via
    # corpus ∩ deleted (normally none) — so the rewrite stays correct
    # even if the no-pending invariant ever weakens. deleted/ itself
    # is NOT prunable: tombstones guard against at-least-once
    # redelivery arbitrarily far in the future.
    tomb_dir = os.path.join(state_dir, "deleted")
    for name in ("cms", "cbloom"):
        d = os.path.join(state_dir, name)
        if not store_exists(d):
            continue
        stored = spark.read.parquet(live_store(d))
        ledger = stored.filter(F.col("r") == _CMS_SUBT_ROW)
        if store_exists(corpus_dir) and store_exists(tomb_dir):
            live = _doc_id_hashes(
                spark.read.parquet(live_store(corpus_dir)).join(
                    spark.read.parquet(live_store(tomb_dir)).select("doc_id"),
                    "doc_id", "left_semi"))
            ledger = ledger.join(live, "bucket", "left_semi")
        else:
            ledger = ledger.limit(0)
        _swap_write(stored.filter(F.col("r") != _CMS_SUBT_ROW)
                    .unionByName(ledger).repartition(1), d)
    if store_exists(buckets_dir):
        buckets = spark.read.parquet(live_store(buckets_dir))
        reps_dir = os.path.join(state_dir, "reps")
        if prune_buckets and store_exists(reps_dir):
            cur = (spark.read.parquet(live_store(reps_dir))
                   .select(F.col("gid").alias("id")))
            buckets = buckets.join(cur, "id", "left_semi")
        _swap_write(buckets.repartition(n), buckets_dir)


def delete_docs(spark, state_dir: str, doc_ids,
                threshold: float = 0.7, num_hashes: int = 16,
                bands: int = 4,
                sketch_takedown: str = "subtract") -> None:
    """Takedown/retraction for the ingest stores (round-8 verdict
    item 2): remove a doc_id set from EVERY store — the path a
    production corpus needs for copyright/PII deletion requests, which
    an append-only design otherwise only answers with a full rebuild.

    Semantics, store by store (under the fencing lock):

    - ``deleted/`` — the TOMBSTONE ledger, append-only: redelivery of
      a deleted doc is dropped by the ingest delta filter forever
      (tombstone wins over the corpus anti-join, which would otherwise
      re-admit the doc once its corpus row is gone).
    - ``corpus/`` — deleted rows removed (swap-rewrite).
    - ``members/`` — deleted member rows removed; when a group's REP
      itself is deleted, the group's gid is PROMOTED to the smallest
      surviving member id (members' token sets are identical to their
      rep's — tokset_groups' expansion argument — so the reps row's
      toks/key stay valid verbatim under the new gid); groups with no
      survivor vanish.
    - ``reps/`` / ``buckets/`` — rows of empty groups dropped; rows of
      rep-deleted groups relabeled to the promoted gid (band hashes
      depend only on toks — unchanged).
    - ``pairs/`` — edges touching a deleted id removed.
    - ``labels/`` — ONLY the components containing a deleted id are
      recomputed, from the surviving stored edges of those components
      (pair membership is a property of the two documents alone, so
      the restriction of the stored edge set to survivors equals the
      from-scratch edge set of the surviving corpus — which makes the
      repaired labeling EQUAL to a full rebuild, proven in
      tests/test_incremental_e2e.py). Untouched components keep their
      rows; per-deletion cost scales with the touched components, not
      the corpus.

    Crash safety: the ``_DELETE_PENDING`` marker is written first and
    cleared last; every mutating op refuses while it exists
    (:func:`_check_no_pending_delete`). The deletion is IDEMPOTENT —
    it always re-applies the FULL tombstone set (existing ∪ new) to
    every store — so re-running ``delete_docs(spark, state_dir, [])``
    after a crash completes the interrupted deletion; per-store swap
    crashes heal through the usual :func:`_recover_swaps`.

    ``doc_ids``: an iterable of ids or a single-column DataFrame.

    ``sketch_takedown``: how the linear-sketch stores (cms/, cbloom/)
    reflect the deletion — ``"subtract"`` (default; cost bounded by
    the deleted docs — the 100 TB small-delete path, made crash-safe
    by the r=-3 reflection ledger + the per-batch sidecar, see
    :func:`_sk_takedown`) or ``"rebuild"`` (recount from the
    surviving corpus — one corpus pass, the round-9 form, kept as the
    fallback)."""
    with _state_lock(state_dir, "delete_docs"):
        _delete_docs_locked(spark, state_dir, doc_ids, threshold,
                            num_hashes, bands, sketch_takedown)


def _delete_docs_locked(spark, state_dir: str, doc_ids,
                        threshold: float, num_hashes: int,
                        bands: int,
                        sketch_takedown: str = "subtract") -> None:
    _recover_swaps(state_dir)
    corpus_dir = os.path.join(state_dir, "corpus")
    if not store_exists(corpus_dir):
        raise ValueError(
            f"delete_docs: {state_dir!r} has no corpus store — nothing "
            f"to delete from (bootstrap a corpus with ingest_batch "
            f"first)")
    _ensure_membership_stores(spark, state_dir)
    _ensure_pairs_store(spark, state_dir, threshold, num_hashes, bands)
    deleted_dir = os.path.join(state_dir, "deleted")
    marker = os.path.join(state_dir, _DELETE_PENDING)
    with open(marker, "w") as fh:
        fh.write("delete_docs in progress")
    try:
        corpus = spark.read.parquet(live_store(corpus_dir))
        if isinstance(doc_ids, DataFrame):
            dd = doc_ids.select(
                F.col(doc_ids.columns[0]).alias("doc_id")).distinct()
        else:
            # set() first: [7, 7, 7] must not append duplicate
            # tombstone rows to the append-only ledger (the anti-join
            # below filters only PREVIOUSLY-stored ids) — review finding
            ids = sorted(set(doc_ids))
            dd = local_frame(spark, [(i,) for i in ids],
                             corpus.select("doc_id").schema)
        # tombstones first (append, redelivery-guarded); then every
        # store is rewritten against the FULL tombstone set, which is
        # what makes a retry after any crash complete the job
        if store_exists(deleted_dir):
            (dd.join(spark.read.parquet(live_store(deleted_dir)), "doc_id",
                     "left_anti")
             .write.mode("append").parquet(live_store(deleted_dir)))
        else:
            _swap_write(dd, deleted_dir)
        tomb = spark.read.parquet(live_store(deleted_dir)).select("doc_id")

        members_dir = os.path.join(state_dir, "members")
        reps_dir = os.path.join(state_dir, "reps")
        buckets_dir = os.path.join(state_dir, "buckets")
        pairs_dir = os.path.join(state_dir, "pairs")
        labels_dir = os.path.join(state_dir, "labels")

        members = (spark.read.parquet(live_store(members_dir))
                   .drop("bucket"))
        tomb_id = tomb.withColumnRenamed("doc_id", "id")
        surv_members = members.join(tomb_id, "id", "left_anti")
        # groups whose REP is tombstoned promote the min surviving id
        dead_rep_gids = (members.select("gid").distinct()
                         .join(tomb.withColumnRenamed("doc_id", "gid"),
                               "gid", "left_semi"))
        promo = (surv_members.join(dead_rep_gids, "gid", "left_semi")
                 .groupBy("gid").agg(F.min("id").alias("__new_gid")))
        new_members = (surv_members.join(promo, "gid", "left")
                       .select("id", F.coalesce("__new_gid", "gid")
                               .alias("gid")))
        # alive set in BOTH gid spaces: the swap order fixes members
        # LAST, so a crash can leave reps/buckets already rewritten to
        # PROMOTED gids while members still carries the old ones — on
        # the retry, old-space alive gids (from the old members store)
        # would not match the promoted rows and a bare semi-join would
        # drop whole groups. A row is kept iff its gid is alive in the
        # old space OR is the promotion of one; relabeling via promo is
        # a no-op for already-promoted rows (promo keys are old gids).
        # The two spaces cannot collide: a promoted gid is a surviving
        # member id, never a tombstoned old gid, and an untouched
        # group's gid maps to itself in both.
        alive_old = surv_members.select("gid").distinct()
        alive = (alive_old.join(promo, "gid", "left")
                 .select(F.coalesce("__new_gid", "gid").alias("gid"))
                 .unionByName(alive_old).distinct())
        reps = spark.read.parquet(live_store(reps_dir))
        new_reps = (reps.join(alive, "gid", "left_semi")
                    .join(promo, "gid", "left")
                    .select(F.coalesce("__new_gid", "gid").alias("gid"),
                            "toks", "key"))
        buckets = spark.read.parquet(live_store(buckets_dir))
        new_buckets = (buckets
                       .join(alive.withColumnRenamed("gid", "id"),
                             "id", "left_semi")
                       .join(promo.withColumnRenamed("gid", "id"),
                             "id", "left")
                       .select(F.coalesce("__new_gid", "id").alias("id"),
                               "band", "bucket"))

        pairs = spark.read.parquet(live_store(pairs_dir))
        surv_pairs = (pairs
                      .join(tomb.withColumnRenamed("doc_id", "id_a"),
                            "id_a", "left_anti")
                      .join(tomb.withColumnRenamed("doc_id", "id_b"),
                            "id_b", "left_anti"))

        labels = spark.read.parquet(live_store(labels_dir))
        aff_c = (labels.join(tomb_id, "id", "left_semi")
                 .select("component").distinct())
        # components partition nodes, so an edge of an affected
        # component has BOTH endpoints in it — a semi-join on id_a's
        # membership selects exactly the affected components' edges
        aff_nodes = (labels.join(aff_c, "component", "left_semi")
                     .select("id"))
        aff_edges = surv_pairs.join(
            aff_nodes.withColumnRenamed("id", "id_a"), "id_a",
            "left_semi")
        repaired = connected_components(
            aff_edges.select("id_a", "id_b"))
        new_labels = (labels.join(aff_c, "component", "left_anti")
                      .unionByName(repaired))

        # swap-writes. Crash-RECOVERY order is immaterial (a retried
        # delete re-derives everything from the tombstones), but the
        # EXECUTION order is load-bearing: each _swap_write runs its
        # frame's plan at call time, and replacing a store recaches
        # every later plan reading that path (the same recacheByPath
        # rule as the ingest commit sequence). A store may be swapped
        # only after every frame that READS it has executed: labels
        # reads labels+pairs; reps/buckets read members (via the
        # promotion frames); members goes after both; pairs after
        # labels; corpus reads only corpus+deleted.
        _swap_write(new_labels, labels_dir)
        _swap_write(new_reps, reps_dir)
        _swap_write(new_buckets, buckets_dir)
        _swap_write(surv_pairs, pairs_dir)
        _swap_write_bucketed(new_members, members_dir, "id")
        # linear-sketch stores reflect the full tombstone set (reads
        # the old corpus/ + deleted/, so both modes must run before
        # the corpus swap). Default is the round-10 SUBTRACT path —
        # deleted-doc-bounded, idempotent via the r=-3 reflection
        # ledger, pending-batch-safe via the merge sidecar; "rebuild"
        # recounts from survivors (the round-9 form, kept as the
        # fallback). Either way fp resets to the no-delta sentinel so
        # any in-flight batch redelivered after the delete merges
        # normally (_sk_takedown).
        for sk_name, sk_cells, (sd1, sd2) in _SKETCH_STORES:
            _sk_takedown(spark, state_dir, sk_name, sk_cells, sd1, sd2,
                         corpus, tomb, sketch_takedown)
        # hll takedown is ALWAYS a rebuild from survivors — register-max
        # state cannot be subtracted (the price of the fp-free merge)
        if store_exists(os.path.join(state_dir, "hll")):
            _swap_write(_hll_frame(
                spark, corpus.join(tomb, "doc_id", "left_anti"))
                .coalesce(1), os.path.join(state_dir, "hll"))
        # fingerprint takedown is an exact row delete — id-keyed
        # tables need no subtraction algebra and no ledger
        for fp_name in _FP_STORES:
            fp_dir = os.path.join(state_dir, fp_name)
            if store_exists(fp_dir):
                _tomb_pruned_rewrite(spark, fp_dir, tomb)
        _swap_write(corpus.join(tomb, "doc_id", "left_anti"), corpus_dir)
    except BaseException:
        raise  # marker stays: the refusal gate routes to a retry
    else:
        os.unlink(marker)


def start_incremental_ingest(stream: DataFrame, state_dir: str,
                             checkpoint_dir: str,
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             threshold: float = 0.7,
                             num_hashes: int = 16, bands: int = 4,
                             available_now: bool = True):
    """Attach :func:`ingest_batch` to a document stream via
    ``foreachBatch`` and start it. Returns the StreamingQuery; state
    appears under ``state_dir`` (corpus/, labels/, buckets/, members/,
    reps/)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(batch_df.sparkSession, batch_df, state_dir,
                     id_col=id_col, text_col=text_col,
                     threshold=threshold, num_hashes=num_hashes,
                     bands=bands, batch_id=batch_id)

    writer = (stream.writeStream.foreachBatch(_process)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
