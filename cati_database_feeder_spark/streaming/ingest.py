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
  components. Maintained per batch.
- ``deleted/`` — (doc_id) TOMBSTONE ledger, append-only: takedown
  requests (:func:`delete_docs`). A redelivered deleted doc is dropped
  by the delta filter forever — the tombstone wins over the corpus
  anti-join, which would otherwise re-admit it once its corpus row is
  gone.
- ``cbloom/``, ``hll/``, ``wfp/``, ``dhash/``, ``afp/`` — VIEWS of
  the corpus (``_VIEWS``): the counting-Bloom decontamination gate over
  5-token shingles, the HLL distinct-shingle sketch, and the
  fingerprint family (text winnowing sets, image and audio perceptual
  hashes, one row per document). ``ingest_batch`` never writes them.
  One function (:func:`_build_views`) writes each from the corpus
  being committed, at the three places that rewrite the corpus —
  bootstrap, :func:`compact_state` and :func:`delete_docs` — and
  :func:`_commit_views` then records in the ``_VIEWS`` manifest the
  corpus epoch dir and the part files the build covered. A reader
  serves that base merged with the same view over the corpus files
  appended since (the TAIL): a cell-wise sum, an HLL union, a row
  union — exact, since all five are mergeable summaries. A missing
  manifest, or one naming another corpus epoch, reads as "no base"
  and the reader builds from the whole live corpus; a rebuild drops
  the manifest before its first view write and writes it only after
  the corpus commit, so every crash window reads that way.
- ``_LAYOUT`` — a small JSON stamp, written by bootstrap before its
  commit marker: the store kind plus every value the stores silently
  depend on (Bloom dims, HLL lgk, fingerprint geometry, id-bucket
  count). Every mutating entry checks it before it writes
  (:func:`_check_layout`, driver-side, no Spark job) and refuses with
  :class:`StateLockError` when it is missing or any pin differs from
  this code's configuration: there is ONE store layout, and a state
  dir of any other is rebuilt from its corpus, never migrated in
  place. A bootstrap into a dir stamped for the other store kind
  (text vs embeddings) is refused the same way
  (:func:`_check_bootstrap_kind`).

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
import json
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
           "pairs", "deleted", "cbloom", "hll", "wfp", "dhash", "afp")

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
    atomically-replaced pointer file (``<target>.ptr``); a store that
    has never been swap-replaced (``metrics/`` until its first
    compaction) has no pointer and resolves to the plain path. EVERY store access goes through this resolver — readers
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
    """Does the logical store exist (pointer committed, or a plain dir
    on disk)?"""
    target = target.rstrip("/")
    return os.path.exists(target + _PTR_SUFFIX) or os.path.exists(target)


def _epoch_num(path: str) -> int:
    """``.../labels__e000007`` → 7; plain (never swapped) dirs → 0."""
    base = os.path.basename(path.rstrip("/"))
    if "__e" not in base:
        return 0
    try:
        return int(base.rsplit("__e", 1)[1])
    except ValueError:
        return 0


def _gc_epochs(target: str, keep: set[str]) -> None:
    """Remove every epoch dir of ``target`` whose basename is not in
    ``keep`` — and the plain dir of a store's first swap once it has
    aged out of the grace set. Runs AFTER a pointer commit, so everything removed is
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


_LAYOUT_NAME = "_LAYOUT"


def _text_layout() -> dict:
    """The text state dir's layout stamp: the store kind plus every
    value its stores silently depend on, read from the configuration
    at call time. Merging a view's base and tail built under other
    Bloom dims or lgk corrupts or degrades every cell, fingerprints of
    another geometry never match, and members/ files bucketed under
    another N_ID_BUCKETS mix their id -> bucket maps — so each is
    pinned at bootstrap, not rediscovered."""
    from cati_database_feeder_spark.sources import multimodal as mm
    return {"kind": "text",
            "cbloom": [CBLOOM_M, CBLOOM_K],
            "hll_lgk": HLL_LGK,
            "wfp": [WFP_K, WFP_W],
            "dhash_grid": [mm._DHASH_GRID_W, mm._DHASH_GRID_H],
            "afp_bits": mm.AUDIO_HASH_BITS,
            "n_id_buckets": N_ID_BUCKETS}


def _replace_file(path: str, text: str) -> None:
    """Atomically replace the small file ``path`` with ``text``
    (sidecar tmp + ``os.replace``): readers see the old or the new
    content, never a partial one."""
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def _write_layout(state_dir: str, layout: dict) -> None:
    """Stamp ``state_dir`` with ``layout``. Bootstrap calls it before
    its commit marker, so a committed state dir always carries one."""
    _replace_file(os.path.join(state_dir, _LAYOUT_NAME),
                  json.dumps(layout, sort_keys=True))


def _check_layout(state_dir: str, layout: dict, op: str) -> None:
    """Refuse ``op`` unless ``state_dir``'s stamp equals ``layout``.
    Reads only the driver-side stamp file, so it runs no Spark job;
    every mutating entry calls it before its first write, and the
    serving readers before their first read."""
    path = os.path.join(state_dir, _LAYOUT_NAME)
    try:
        with open(path) as fh:
            stored = json.load(fh)
    except (OSError, ValueError):  # missing, unreadable or not JSON
        raise StateLockError(
            f"state dir {state_dir!r} has no readable layout stamp "
            f"({_LAYOUT_NAME}): it was not bootstrapped by this code "
            f"and its stores may be in a layout this code no longer "
            f"reads. Refusing {op!r}; rebuild the state dir by "
            f"bootstrapping a fresh one from its corpus.") from None
    diff = sorted(k for k in stored.keys() | layout.keys()
                  if stored.get(k) != layout.get(k))
    if diff:
        raise StateLockError(
            f"state dir {state_dir!r} was bootstrapped with geometry "
            + ", ".join(f"{k}={stored.get(k)}" for k in diff)
            + " but this code is configured for "
            + ", ".join(f"{k}={layout.get(k)}" for k in diff)
            + f" — the geometry is pinned at bootstrap (stores merged "
            f"or compared across geometries are silently wrong). "
            f"Refusing {op!r}; use the stored values or rebuild the "
            f"state dir.")


def _check_bootstrap_kind(state_dir: str, kind: str, op: str) -> None:
    """Refuse a bootstrap ``op`` into a state dir stamped for another
    store kind. Bootstrap runs whenever the kind's commit-marker store
    is absent, and the text and embeddings markers differ (``corpus/``,
    ``vectors/``), so without this check an embeddings bootstrap would
    build its stores into a text dir and overwrite its stamp (and the
    other way round). A stamp of the same kind without the marker is a
    crashed bootstrap, which the retry completes."""
    try:
        with open(os.path.join(state_dir, _LAYOUT_NAME)) as fh:
            stored = json.load(fh).get("kind")
    except FileNotFoundError:
        return
    except (OSError, ValueError):  # unreadable or not JSON
        stored = None
    if stored != kind:
        raise StateLockError(
            f"state dir {state_dir!r} is stamped kind={stored} "
            f"({_LAYOUT_NAME}) but {op!r} would bootstrap {kind} stores "
            f"into it. Refusing {op!r}; keep each store kind in its own "
            f"state dir.")


# id-keyed store bucketing: members/ is written hash-bucketed on its
# id — bucket = pmod(hash64(id), N_ID_BUCKETS), partitionBy("bucket"),
# one file per bucket dir — and readers drop the column. The bucket
# count is pinned at bootstrap (_text_layout), so every file of the
# store agrees on which bucket an id lives in.
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


def _with_id_bucket(df: DataFrame, id_col: str) -> DataFrame:
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


def _swap_write_bucketed(df: DataFrame, target: str, id_col: str) -> None:
    _swap_write(_with_id_bucket(df.drop("bucket"), id_col), target,
                writer=_bucketed_writer)


def _append_id_store(frame: DataFrame, store_dir: str,
                     id_col: str) -> None:
    """Append rows to a bucketed id-keyed store: the new files land in
    their bucket=N dirs, one file per touched bucket."""
    (_with_id_bucket(frame.drop("bucket"), id_col)
     .repartition("bucket")
     .write.mode("append").partitionBy("bucket")
     .parquet(live_store(store_dir)))


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
    _replace_file(target + _PTR_SUFFIX, os.path.basename(new))
    _gc_epochs(target, keep={os.path.basename(new),
                             os.path.basename(cur)})


def _recover_swaps(state_dir: str, stores: tuple[str, ...] = _STORES) -> None:
    """Heal crash leftovers before reading state. The pointer flip of
    :func:`_swap_write` is the single commit point, so the only crash
    artifacts are (a) an epoch dir NEWER than the pointed one
    (written, never committed — the batch retry rewrites it) and (b) a
    stale ``.ptr.tmp.*`` sidecar — both dropped here. Committed epochs
    at or below the pointer are left alone (the newest-but-one is the
    reader grace; older ones are trimmed by the next swap's GC)."""
    for name in stores:
        target = os.path.join(state_dir, name)
        ptr = target + _PTR_SUFFIX
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


CBLOOM_M = 65536   # counting-Bloom cells (= bits of the served bitmap)
CBLOOM_K = 2       # hash functions — matches the E60 gate's k
HLL_LGK = 12  # 2^12 registers → ~1.6% standard error; pinned at bootstrap
WFP_K = 4
WFP_W = 4


# Per-sub-store wall seconds of the LAST bootstrap in this process —
# purely observational; bench.py reads it to attribute the one opaque
# "boot:text_serving_store" number per store (round-11 verdict,
# missing #4), so a store addition that doubles bootstrap shows up on
# the board instead of hiding in SCALING.md's hand breakdown.
BOOT_PHASE_SECONDS: dict[str, float] = {}


def _boot_lap(phases: dict, marks: list, name: str) -> None:
    """Record in ``phases`` the wall seconds since ``marks[0]`` as
    ``name``'s lap and restart the clock — the text and embeddings
    bootstraps each pass their own BOOT_PHASE_SECONDS."""
    import time
    now = time.time()
    phases[name] = round(now - marks[0], 3)
    marks[0] = now


_SPARK_ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def _part_files(d: str) -> list[str]:
    """Names of the parquet data files directly under ``d``."""
    return sorted(n for n in os.listdir(d)
                  if n.endswith(".parquet") and not n.startswith((".", "_")))


def _read_store(spark, paths) -> DataFrame:
    """``spark.read.parquet`` of a store dir (or of a list of its part
    files) with the writer's schema passed in. Spark records the schema
    it wrote in every parquet footer; reading it from one footer in
    this process replaces the schema-inference job a bare read runs
    (the file listing is unchanged). A dir with no data file reads
    bare."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType
    paths = [paths] if isinstance(paths, str) else list(paths)
    first = paths[0]
    for d, dirs, _ in os.walk(first):
        dirs[:] = sorted(n for n in dirs if not n.startswith(("_", ".")))
        parts = _part_files(d)
        if parts:
            first = os.path.join(d, parts[0])
            break
    reader = spark.read
    if os.path.isfile(first):
        meta = pq.read_schema(first).metadata or {}
        if _SPARK_ROW_SCHEMA in meta:
            reader = reader.schema(StructType.fromJson(
                json.loads(meta[_SPARK_ROW_SCHEMA])))
    return reader.parquet(*paths)


# ---------------------------------------------------------------------
# The views of the corpus (module docstring): every one is a function
# of the corpus text alone and a MERGEABLE summary, so a base built
# over some corpus files merged with the same view over the remaining
# files equals the view of the whole corpus.
#
# - cbloom/ (E60 at ingest): counting-Bloom cells over each doc's
#   DISTINCT 5-token shingles, counted per (doc, shingle), so the cells
#   of a corpus are the cell-wise sum of its parts' cells;
# - hll/ (E67): the Datasketches HLL sketch of the distinct shingles
#   (built-in JVM hll_sketch_agg / hll_union_agg) — the Bloom tier's
#   sizing input; registers merge by max;
# - wfp/ (E73+), dhash/ (E72+), afp/ (E83+): the fingerprint family,
#   ONE row per document (wfp/ stores a doc's whole winnowing set as
#   one ``fps`` array; empty for a doc shorter than one window), so
#   parts merge by row union.
#
# The geometry each depends on (Bloom dims, lgk, fingerprint (k, w),
# grid and bit width) is pinned by the layout stamp (_text_layout): a
# base and a tail of different geometries are silently incomparable.
# ---------------------------------------------------------------------

def _doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) rows — each doc's DISTINCT 5-token shingles,
    the E60 gate's key definition (docs under 5 tokens contribute
    none). Shared by the counting-Bloom gate and the HLL cardinality
    view so both sketch the identical key universe."""
    return (docs.select("doc_id",
                        text_fns.tokens(F.col("text")).alias("__tk"))
            .filter(F.size("__tk") >= 5)
            .select("doc_id", F.explode(F.array_distinct(
                text_fns.shingles_from_tokens(F.col("__tk"), 5)))
                .alias("shingle")))


def _cbloom_of(docs: DataFrame) -> DataFrame:
    """(cell, cnt) counting-Bloom cells over the docs' per-doc distinct
    5-token shingles (functions/sketches.py:counting_bloom_cells)."""
    return sketches.counting_bloom_cells(_doc_shingles(docs), "shingle",
                                         CBLOOM_M, CBLOOM_K)


def _hll_of(docs: DataFrame) -> DataFrame:
    """One-row (sk binary, lgk int) sketch of the docs' distinct
    shingles. Docs all shorter than the shingle width aggregate ZERO
    rows, and hll_sketch_agg then yields a NULL sketch."""
    return (_doc_shingles(docs)
            .agg(F.hll_sketch_agg("shingle", HLL_LGK).alias("sk"))
            .select("sk", F.lit(HLL_LGK).alias("lgk")))


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


def _cell_sum(base: DataFrame, tail: DataFrame) -> DataFrame:
    return (base.unionByName(tail).groupBy("cell")
            .agg(F.sum("cnt").alias("cnt")))


def _hll_union(base: DataFrame, tail: DataFrame) -> DataFrame:
    # NULL sketches (a side whose docs are all shorter than the shingle
    # width) are dropped before the union: hll_union_agg over a
    # NULL-bearing input is NULL, which would erase the other side's
    # registers. Both sides NULL leave a NULL sketch, which read_hll
    # reports as 0.
    return (base.unionByName(tail).filter(F.col("sk").isNotNull())
            .agg(F.hll_union_agg("sk").alias("sk"))
            .select("sk", F.lit(HLL_LGK).alias("lgk")))


# name -> (view of a docs frame, merge of a base with a tail's view)
_VIEWS = {"cbloom": (_cbloom_of, _cell_sum),
          "hll": (_hll_of, _hll_union),
          "wfp": (_wfp_of, DataFrame.unionByName),
          "dhash": (_dhash_of, DataFrame.unionByName),
          "afp": (_afp_of, DataFrame.unionByName)}
_MANIFEST = "_VIEWS"


def _build_views(spark, state_dir: str, docs: DataFrame,
                 submit=None) -> list:
    """Write every view of ``docs`` — the corpus being committed — by
    :func:`_swap_write`. The manifest is dropped first, so from the
    first view write until :func:`_commit_views` runs after the corpus
    commit every reader sees no valid base and builds from the corpus.
    ``submit(name, fn, *args)`` runs each write (bootstrap passes its
    thread pool's tracker and joins the returned futures); by default
    they run inline."""
    with contextlib.suppress(FileNotFoundError):
        os.unlink(os.path.join(state_dir, _MANIFEST))
    submit = submit or (lambda name, fn, *a: fn(*a))
    return [submit(name, _swap_write, build(docs),
                   os.path.join(state_dir, name))
            for name, (build, _) in _VIEWS.items()]


def _commit_views(state_dir: str) -> None:
    """Record what the views just written cover — the live corpus
    epoch and its part files — and which epoch of each view holds it.
    Called after the corpus commit; the files named are then exactly
    those the views were built from."""
    corpus = live_store(os.path.join(state_dir, "corpus"))
    _replace_file(os.path.join(state_dir, _MANIFEST), json.dumps({
        "corpus": os.path.basename(corpus), "files": _part_files(corpus),
        "views": {name: os.path.basename(
            live_store(os.path.join(state_dir, name))) for name in _VIEWS},
    }, sort_keys=True))


def _read_view(spark, state_dir: str, name: str) -> DataFrame:
    """The view ``name`` of the live corpus: the base the last rebuild
    wrote, merged with the same view over the tail — the live epoch's
    part files the manifest does not list. Without a manifest naming
    the live corpus epoch (a crash window of a rebuild), it is built
    from the whole corpus."""
    build, merge = _VIEWS[name]
    corpus = live_store(os.path.join(state_dir, "corpus"))
    files = _part_files(corpus)
    try:
        with open(os.path.join(state_dir, _MANIFEST)) as fh:
            manifest = json.load(fh)
    except FileNotFoundError:
        manifest = None
    covered = set(manifest["files"]) if manifest else set()
    if (manifest is None or manifest["corpus"] != os.path.basename(corpus)
            or not covered <= set(files)):
        return build(_read_store(spark, corpus))
    base = _read_store(spark, os.path.join(state_dir,
                                           manifest["views"][name]))
    tail = [os.path.join(corpus, f) for f in files if f not in covered]
    return merge(base, build(_read_store(spark, tail))) if tail else base


def read_cbloom(spark, state_dir: str) -> DataFrame:
    """The counting-Bloom cells (cell, cnt) of the live corpus's 5-token
    shingles."""
    return _read_view(spark, state_dir, "cbloom")


def cbloom_gate(spark, state_dir: str):
    """Serving handoff for the decontamination gate: ``(words, m_bits,
    k)`` ready for :func:`functions.sketches.bloom_might_contain` —
    test any incoming benchmark/eval shingle set against the LIVE
    corpus in a zero-shuffle codegen projection, no tokenize of the
    corpus base. No false negatives for surviving documents' shingles
    (the view is a function of the live corpus); false positives go to
    the usual exact verify join. Dims are the configured ones, checked
    against the bootstrap-pinned layout stamp first."""
    _check_layout(state_dir, _text_layout(), "cbloom_gate")
    words = sketches.counting_bloom_words(read_cbloom(spark, state_dir),
                                          CBLOOM_M)
    return words, CBLOOM_M, CBLOOM_K


def read_hll(spark, state_dir: str) -> tuple[int, int]:
    """(estimated distinct shingle count, lgk) of the live corpus. A
    NULL sketch (a corpus whose docs are all shorter than the shingle
    width) estimates 0, not a crash — the empty corpus genuinely has
    zero distinct shingles."""
    row = (_read_view(spark, state_dir, "hll")
           .select(F.hll_sketch_estimate("sk").alias("est"), "lgk")
           .collect())[0]
    return (0 if row["est"] is None else int(row["est"])), int(row["lgk"])


def read_wfp(spark, state_dir: str) -> DataFrame:
    """The winnowing fingerprints as (doc_id, fp) rows —
    dedup.winnow_fingerprints over the live corpus (a doc shorter than
    one window holds an empty set and serves no row)."""
    return (_read_view(spark, state_dir, "wfp")
            .select("doc_id", F.explode("fps").alias("fp")))


def read_dhash(spark, state_dir: str) -> DataFrame:
    """The perceptual-hash table (doc_id, dhash, real)."""
    return _read_view(spark, state_dir, "dhash")


def read_afp(spark, state_dir: str) -> DataFrame:
    """The audio-fingerprint table (doc_id, ahash, real)."""
    return _read_view(spark, state_dir, "afp")


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
    twice and the whole call is idempotent. An incremental batch
    writes only corpus/, members/, reps/, buckets/, labels/, pairs/
    and metrics/: the views (cbloom/ … afp/) follow the corpus through
    their readers, which add the corpus tail. Holds the state dir's
    fencing lock for the duration (module docstring, concurrency
    contract) — a concurrent ``compact_state`` or second ingest on the
    same dir raises :class:`StateLockError` instead of corrupting
    state.

    Observability: every SUBSTANTIVE call (bootstrap or a batch with
    >= 1 exact-dedup survivor; pure replays return before any write)
    appends one row to ``metrics/`` — (batch_id, rows_in, delta_rows,
    new_pairs, quiet, bootstrap) — the per-batch ledger a production
    pipeline alerts on (dedup rate collapsing, pair volume spiking).
    The delta and pair counts are the actions that materialize the
    frames the commit persists anyway (:func:`_commit_batch`), so the
    ledger runs no extra pipeline. Metrics are operational
    at-least-once data: a crash inside the commit sequence can replay
    a batch whose stores partially landed, appending a second row with
    the same batch_id — dashboards aggregate with last-write-wins on
    batch_id, and the STORE commits themselves stay exactly-once via
    their anti-join guards."""
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


def _commit_batch(spark, state_dir: str, batch_id, batch: DataFrame,
                  delta: DataFrame, pairs: DataFrame, marker,
                  appends=lambda quiet: None, cached=()) -> None:
    """Commit one incremental batch of the text or the embedding
    ingest: ``delta`` holds the batch's exact-dedup survivors, ``pairs``
    their verified (id_a, id_b) near-dup pairs, ``appends(quiet)`` the
    caller's store appends and ``marker()`` its commit-marker append.
    ``delta``, ``cached`` and ``pairs`` are persisted in that order (so
    each plan reads the ones before it from cache) and unpersisted at
    the end. The order of the steps is load-bearing:

    1. Counts before any write. A write to a path recaches every plan
       that reads it (Spark's recacheByPath; ``persist()`` does not
       protect, the cached frame is refreshed with the new file list),
       so a ``delta`` count after the marker append would see the
       batch's own rows in the store and report 0. Each frame is
       counted once: an empty delta is a pure replay and returns
       before any write; an empty pair set is a quiet batch, whose
       closure is unchanged by construction (``incremental_components``
       returns labels ∪ the new edges' endpoints), so it is not run.
    2. Labels swap first: it reads the old labels and must complete
       before any store changes.
    3. The caller's appends, in dependency order: a store is appended
       only after every frame that reads it has been written. Each is
       guarded by an anti-join on its key, so a redelivered batch
       appends nothing twice.
    4. Metrics before the marker: a crash in between replays the batch
       and appends a second row with the same batch_id (at-least-once,
       which last-write-wins dashboards absorb); after the marker, the
       replay would take the pure-replay return and lose the row. No
       in-batch frame reads metrics/.
    5. The marker last: a crash before it replays the whole batch,
       after it the replay dedups to empty."""
    frames = [f.persist() for f in (delta, *cached, pairs)]
    try:
        n_delta = delta.count()
        if n_delta == 0:
            return
        n_pairs = pairs.count()
        rows_in = batch.count()
        quiet = n_pairs == 0
        if not quiet:
            labels_dir = os.path.join(state_dir, "labels")
            _swap_write(incremental_components(
                _read_store(spark, live_store(labels_dir)),
                pairs.select("id_a", "id_b")), labels_dir)
        appends(quiet)
        _append_metrics(spark, state_dir, batch_id, rows_in, n_delta,
                        n_pairs, quiet, False)
        marker()
    finally:
        for f in frames:
            f.unpersist()


def _ingest_batch_locked(spark, batch: DataFrame, state_dir: str,
                         id_col: str, text_col: str, threshold: float,
                         num_hashes: int, bands: int,
                         batch_id: int | None = None) -> None:
    _check_no_pending_delete(state_dir, "ingest_batch")
    corpus_dir = os.path.join(state_dir, "corpus")
    bootstrap = not store_exists(corpus_dir)
    if bootstrap:
        _check_bootstrap_kind(state_dir, "text", "ingest_batch")
    else:
        _check_layout(state_dir, _text_layout(), "ingest_batch")
    _recover_swaps(state_dir)
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

    if bootstrap:
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
        # consumers below read blocks instead of racing to compute them;
        # memb has one row per batch doc, so this is the metrics row's
        # doc count too
        n = memb.count()
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
        # The views (cbloom/hll/wfp/dhash/afp) depend only on `batch`,
        # never on the membership machinery — submit them to the pool
        # NOW so their jobs back-fill executor idle tails of the
        # verify/closure critical path below (guide §2.6) instead of
        # running as a sequential epilogue. Laps are recorded at
        # COMPLETION in completion order (wall segments: the sum of
        # all boot laps + :other still equals the bootstrap's true
        # wall — a view that finished entirely inside another phase's
        # segment records ~0, which is the honest number for
        # overlapped capital). Every future is joined before the
        # metrics row and the corpus commit marker, so a failed write
        # aborts the bootstrap before the marker and the retry redoes
        # every store.
        _done_at: dict[str, float] = {}

        def _tracked(name, fn, *a):
            def run():
                fn(*a)
                _done_at[name] = _time.time()
            return pool.submit(run)

        view_futs = _build_views(spark, state_dir, batch, submit=_tracked)
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
        # rep-level one ~2.6× smaller, and connected_components' star
        # rounds then contract the dense blobs until the driver
        # union-find finishes under its cap
        labels = components_from_rep_pairs(rep_pairs, mem)
        _swap_write(labels, labels_dir)
        for fut in store_futs:
            fut.result()
        _boot_lap(BOOT_PHASE_SECONDS, _marks, "membership")
        # join the overlapped view futures (submitted above); a
        # bootstrap retry redoes these overwrites with identical content
        for fut in view_futs:
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
        _append_metrics(spark, state_dir, batch_id, n, n,
                        pairs.count(), False, True)
        # the layout stamp goes in just before the marker: a committed
        # corpus always has one, and a bootstrap retry rewrites it
        _write_layout(state_dir, _text_layout())
        _swap_write(batch, corpus_dir)
        # the views were built from `batch`, which the new corpus epoch
        # holds file for file
        _commit_views(state_dir)
        _boot_lap(BOOT_PHASE_SECONDS, _marks, "corpus")
        pairs.unpersist()
        rep_pairs.unpersist()
        bb.unpersist()
        memb.unpersist()
        return

    fr = _incremental_frames(spark, state_dir, batch, threshold,
                             num_hashes, bands)

    def appends(quiet: bool) -> None:
        # dependency order (_commit_batch, step 3): pairs first, because
        # its source frame new_pairs reads buckets, members and reps and
        # nothing reads pairs/; reps after buckets and members, which
        # read it through dmemb's key probe (reps appended first emptied
        # new_reps, and every novel group lost its band rows)
        if not quiet:
            fr["pairs_append"].write.mode("append").parquet(live_store(pairs_dir))
        fr["buckets_append"].write.mode("append").parquet(live_store(buckets_dir))
        _append_id_store(fr["members_append"], members_dir, "id")
        fr["reps_append"].write.mode("append").parquet(live_store(reps_dir))

    _commit_batch(
        spark, state_dir, batch_id, batch, fr["delta"], fr["new_pairs"],
        lambda: fr["delta"].write.mode("append").parquet(live_store(corpus_dir)),
        appends, cached=(fr["dmemb"],))


def _incremental_frames(spark, state_dir: str, batch: DataFrame,
                        threshold: float, num_hashes: int,
                        bands: int) -> dict:
    """Build (without writing or running) every frame of the
    incremental path: ``delta`` (exact-dedup survivors), ``dmemb``
    (delta membership), ``new_pairs`` and the four guarded store
    appends; :func:`_commit_batch` runs them and updates the labels.
    Split out of :func:`ingest_batch` so the no-corpus-text contract is
    assertable on the PLANS themselves: tests walk every returned
    frame's executed plan and require that any scan of ``corpus/``
    reads the doc_id column alone (tests/test_incremental_e2e.py)."""
    def read(name):
        return _read_store(spark, live_store(os.path.join(state_dir, name)))

    corpus_ids = read("corpus").select("doc_id")
    members = read("members").drop("bucket")
    reps = read("reps")
    buckets = read("buckets")
    pairs_store = read("pairs")
    delta = batch.join(corpus_ids, "doc_id", "left_anti")
    deleted_dir = os.path.join(state_dir, "deleted")
    if store_exists(deleted_dir):
        # tombstones win: a redelivered DELETED doc must not re-enter
        # the corpus (takedown contract, delete_docs) — the corpus
        # anti-join alone would re-admit it, since deletion removed
        # its corpus row
        delta = delta.join(read("deleted").select("doc_id"), "doc_id",
                           "left_anti")
    dmemb = dedup.delta_membership(delta, reps)
    new_pairs, dmemb, new_reps = dedup.incremental_near_dup_pairs_from_store(
        delta, members, reps, buckets, threshold=threshold,
        num_hashes=num_hashes, bands=bands, dmemb=dmemb)
    return {
        "delta": delta,
        "dmemb": dmemb,
        "new_pairs": new_pairs,
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


def compact_state(spark, state_dir: str,
                  target_files: int | None = None) -> None:
    """Maintenance for the append-only stores: every ingest batch adds
    one small parquet file to each store, and at production batch
    cadence the file count — not the byte count — is what degrades scan
    planning (per-file open cost, tiny row groups). Rewrites corpus/,
    buckets/, members/, reps/ and pairs/ into ``target_files``
    balanced files (members/ one file per bucket) via the same epoch
    swap the labels update uses, and the one-row-per-call ledgers
    (metrics/, deleted/) to one file each. ``labels/`` is swap-written
    whole each batch and never needs compaction. After the corpus swap
    the views are rebuilt from the compacted corpus
    (:func:`_build_views`), so their tail is empty again. A state dir
    with no committed corpus has nothing to compact (a bootstrap retry
    rewrites every store).

    One writer per state dir, ENFORCED: this takes the same fencing
    lock as ``ingest_batch``, so compacting against a live ingest (the
    race whose directory swaps would corrupt the in-flight batch's
    reads and appends) raises :class:`StateLockError` naming the live
    holder instead of proceeding."""
    with _state_lock(state_dir, "compact_state"):
        _compact_state_locked(spark, state_dir, target_files)


def _compact_state_locked(spark, state_dir: str,
                          target_files: int | None) -> None:
    _check_no_pending_delete(state_dir, "compact_state")
    if not store_exists(os.path.join(state_dir, "corpus")):
        return
    _check_layout(state_dir, _text_layout(), "compact_state")
    _recover_swaps(state_dir)
    n = target_files or spark.sparkContext.defaultParallelism
    for name, parts in (("corpus", n), ("buckets", n), ("members", n),
                        ("reps", n), ("pairs", n), ("metrics", 1),
                        ("deleted", 1)):
        d = os.path.join(state_dir, name)
        if name == "deleted" and not store_exists(d):
            continue  # written by the first delete_docs
        df = _read_store(spark, live_store(d))
        if name == "members":
            # the bucketed writer repartitions on the key -> one file
            # per bucket
            _swap_write_bucketed(df, d, "id")
        else:
            _swap_write(df.repartition(parts), d)
    _build_views(spark, state_dir, _read_store(
        spark, live_store(os.path.join(state_dir, "corpus"))))
    _commit_views(state_dir)


def delete_docs(spark, state_dir: str, doc_ids) -> None:
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
    - the views (``cbloom/``, ``hll/``, ``wfp/``, ``dhash/``,
      ``afp/``) — rebuilt from the surviving corpus after the corpus
      swap (:func:`_build_views`; one corpus pass, the same order of
      cost as the corpus rewrite itself).

    Crash safety: the ``_DELETE_PENDING`` marker is written first and
    cleared last; every mutating op refuses while it exists
    (:func:`_check_no_pending_delete`). The deletion is IDEMPOTENT —
    it always re-applies the FULL tombstone set (existing ∪ new) to
    every store — so re-running ``delete_docs(spark, state_dir, [])``
    after a crash completes the interrupted deletion; per-store swap
    crashes heal through the usual :func:`_recover_swaps`. Until the
    retry rewrites the ``_VIEWS`` manifest, view readers build from the
    live corpus.

    ``doc_ids``: an iterable of ids or a single-column DataFrame."""
    with _state_lock(state_dir, "delete_docs"):
        _delete_docs_locked(spark, state_dir, doc_ids)


def _delete_docs_locked(spark, state_dir: str, doc_ids) -> None:
    corpus_dir = os.path.join(state_dir, "corpus")
    if not store_exists(corpus_dir):
        raise ValueError(
            f"delete_docs: {state_dir!r} has no corpus store — nothing "
            f"to delete from (bootstrap a corpus with ingest_batch "
            f"first)")
    _check_layout(state_dir, _text_layout(), "delete_docs")
    _recover_swaps(state_dir)
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
        # labels; corpus reads only corpus+deleted. The views are
        # rebuilt last, from the committed survivors.
        _swap_write(new_labels, labels_dir)
        _swap_write(new_reps, reps_dir)
        _swap_write(new_buckets, buckets_dir)
        _swap_write(surv_pairs, pairs_dir)
        _swap_write_bucketed(new_members, members_dir, "id")
        _swap_write(corpus.join(tomb, "doc_id", "left_anti"), corpus_dir)
        _build_views(spark, state_dir,
                     _read_store(spark, live_store(corpus_dir)))
        _commit_views(state_dir)
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
    appears under ``state_dir`` (the stores of ``_STORES``, the
    ``_LAYOUT`` stamp and the ``_VIEWS`` manifest)."""

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
