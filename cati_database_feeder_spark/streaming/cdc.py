"""CDC current-state snapshot as maintained parquet state (E115).

The batch operator ``cdc_apply_changes`` (queryset E103) folds a FULL
changelog into its current snapshot; this module maintains that fold
INCREMENTALLY: :func:`apply_changes_batch` merges one micro-batch of
keyed insert/update/delete changes into a snapshot store under the
ingest family's crash discipline (``_state_lock`` fencing,
``_swap_write`` atomic replace, ``_recover_swaps`` healing) — the
lakehouse APPLY CHANGES INTO, restated over plain parquet state.

Semantics (matching E103 exactly, property-pinned in tests):

- **Latest wins** per key by a caller-declared TOTAL sequence order
  (``seq_cols`` — e.g. ``("ts", "event_id")``; must be unique per key
  or the fold is ambiguous by construction).
- **Deletes are tombstones, kept in the store**: a delete row stays as
  the key's current record (filtered out by :func:`read_snapshot`), so
  a LATE update carrying an OLDER sequence than the delete cannot
  resurrect the key — the classic out-of-order CDC hazard. A genuinely
  newer insert re-creates the key, as it should.
- **Idempotence is algebraic, not ledger-based**: the fold is per-key
  max-by-sequence over (stored row ∪ batch rows). Re-applying any
  subset of already-applied changes is a fixed point, so at-least-once
  redelivery, replayed shards, and arbitrary arrival order are all
  safe with NO replay guard, NO batch ledger, NO sentinel — the one
  ingest store in this repo whose crash story needs no bookkeeping
  (compare streaming/ingest.py's fingerprint sentinels). A crash
  mid-swap is healed by ``_recover_swaps``; a crash after partial
  application just re-folds.

Scale shape: the snapshot is PARTITIONED by a key-hash bucket; the
per-batch fold SHUFFLES only the touched buckets' rows (the untouched
remainder passes through as a scan — filter-pruned, no shuffle). The
store rewrite here is whole-table (one atomic swap keeps the crash
story one line); at production scale the same algebra lets each
touched bucket swap independently — partial bucket application + a
redelivered batch converge to the identical snapshot, which is the
property the tests pin."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cati_database_feeder_spark.streaming.ingest import (
    _recover_swaps, _state_lock, _swap_write, live_store, store_exists)

_CDC_STORES = ("snapshot",)
N_BUCKETS = 64


def _fold(df: DataFrame, key_col: str, seq_cols) -> DataFrame:
    """Per-key latest row by the total (seq_cols) order — ONE
    max_by(struct, struct) aggregate with map-side partials; never a
    per-key window."""
    others = [c for c in df.columns if c != key_col]
    seq = F.struct(*[F.col(c) for c in seq_cols])
    return (df.groupBy(key_col)
            .agg(F.max_by(F.struct(*[F.col(c) for c in others]), seq)
                 .alias("__r"))
            .select(key_col, "__r.*"))


def _with_bucket(df: DataFrame, key_col: str) -> DataFrame:
    return df.withColumn(
        "__bucket", F.pmod(F.hash(F.col(key_col)), F.lit(N_BUCKETS)))


def apply_changes_batch(spark: SparkSession, batch: DataFrame,
                        state_dir: str, key_col: str,
                        seq_cols, op_col: str = "op") -> None:
    """Merge one batch of keyed changes into the snapshot store.
    ``batch`` must carry ``key_col``, every ``seq_cols`` member, and
    ``op_col``; its schema is the snapshot schema and must stay stable
    across batches (the declared-schema discipline of the JSONL
    source). Multiple changes for one key within a batch are folded
    here first — the store merge then sees at most one row per key."""
    if op_col not in batch.columns:
        raise ValueError(
            f"apply_changes_batch: batch is missing op column "
            f"{op_col!r} — deletes would be indistinguishable")
    with _state_lock(state_dir, "apply_changes_batch"):
        _recover_swaps(state_dir, _CDC_STORES)
        snap_dir = os.path.join(state_dir, "snapshot")
        folded = _with_bucket(_fold(batch, key_col, seq_cols), key_col)
        if not store_exists(snap_dir):
            _swap_write(folded.repartition("__bucket"), snap_dir)
            return
        snap = spark.read.parquet(live_store(snap_dir))
        touched = [int(r["__bucket"]) for r in
                   folded.select("__bucket").distinct().collect()]
        merged = _fold(
            snap.filter(F.col("__bucket").isin(touched))
            .unionByName(folded), key_col, seq_cols)
        out = (snap.filter(~F.col("__bucket").isin(touched))
               .unionByName(merged))
        _swap_write(out.repartition("__bucket"), snap_dir)


def read_snapshot(spark: SparkSession, state_dir: str,
                  op_col: str = "op", delete_op: str = "D") -> DataFrame:
    """The current state: tombstoned keys excluded, bucket column
    stripped."""
    return (spark.read.parquet(
        live_store(os.path.join(state_dir, "snapshot")))
            .filter(F.col(op_col) != delete_op)
            .drop("__bucket"))
