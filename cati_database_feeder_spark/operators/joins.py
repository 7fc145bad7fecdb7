"""Join operators (SURVEY.md §2.4: op #17 + extensions E1-E5).

The reference's only join semantics are the hand-rolled anti-join
(phone-in-list dedup, feeder.py:157-160) and its semi-join complement
(skipped report, feeder.py:245-246). Here the full join surface is
exposed, with the scale decisions made explicit:

- ``dedup_anti_join`` / ``skipped_semi_join`` broadcast the key side:
  an existing-keys snapshot is a key-only projection — even 10^9 keys
  × 8 bytes is broadcastable at cluster scale, and broadcasting turns
  the anti-join shuffle-free. If the key side outgrows broadcast,
  Spark falls back to sort-merge automatically when the hint is
  dropped (``broadcast_keys=False``).
- Big-big joins rely on AQE (enabled in session.py) for skew split and
  strategy switch; we do not hand-schedule them.
- ``range_join`` broadcasts the bucket table: a theta-join's only sane
  physical plan is broadcast-nested-loop, so keep the build side tiny.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dedup_anti_join(new: DataFrame, existing_keys: DataFrame, on: str | list[str],
                    broadcast_keys: bool = True) -> DataFrame:
    """Op #17 done right: rows of ``new`` whose key is not already loaded."""
    keys = F.broadcast(existing_keys) if broadcast_keys else existing_keys
    return new.join(keys, on=on, how="left_anti")


def skipped_semi_join(new: DataFrame, existing_keys: DataFrame, on: str | list[str],
                      broadcast_keys: bool = True) -> DataFrame:
    """Op #17 complement: the reference's skipped-rows report."""
    keys = F.broadcast(existing_keys) if broadcast_keys else existing_keys
    return new.join(keys, on=on, how="left_semi")


def range_join(probe: DataFrame, buckets: DataFrame, cond: Column) -> DataFrame:
    """E4: theta/range join; build side broadcast → nested-loop without
    a shuffle of the probe side."""
    return probe.join(F.broadcast(buckets), on=cond, how="inner")


def asof_join_backward(left: DataFrame, right: DataFrame, on: str,
                       ts_col: str, tie_col: str, carry_cols: list[str],
                       prefix: str = "asof_",
                       tolerance_us: int | None = None) -> DataFrame:
    """As-of join (backward): for each left row, the most recent right
    row with ``right.ts <= left.ts`` for the same key; equal timestamps
    DO match, ties resolved toward the larger ``tie_col``.

    ``tolerance_us`` (pandas ``merge_asof(tolerance=...)``): when set,
    a match older than the tolerance is nulled out — the carry columns
    AND the carried timestamp go NULL together, exactly as if no right
    row existed. Implemented as a row-local CASE after the window (the
    carried ``{prefix}{ts_col}`` is compared to the left ``ts_col``),
    so the plan cost is identical to the untolerated join.

    Physical shape: tag both sides, union, ONE shuffle on the key, and
    a running ``last(ignorenulls)`` window — the merge-ordered plan.
    Never a range join (whose candidate set explodes quadratically on
    hot keys) and never a per-key collect. At 100 TB this is the only
    shape that survives: cost is one sort per key group, same as any
    windowed aggregate.

    ``on``/``ts_col``/``tie_col`` must exist under the same names on
    both sides; ``carry_cols`` are taken from the right side and must
    be non-null there (NULL carries would pull an older row's value —
    coalesce first if the source is nullable).
    """
    from pyspark.sql import Window

    ldt, rdt = dict(left.dtypes), dict(right.dtypes)
    l2 = left.select(
        *left.columns,
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(rdt[c]).alias(f"__carry_{c}") for c in carry_cols])
    r2 = right.select(
        *[(F.col(c) if c in (on, ts_col, tie_col)
           else F.lit(None).cast(ldt[c])).alias(c) for c in left.columns],
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__carry_{c}") for c in carry_cols])
    w = (Window.partitionBy(on)
         .orderBy(F.col(ts_col), F.col("__side"), F.col(tie_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    u = l2.unionByName(r2)
    for c in carry_cols:
        u = u.withColumn(f"{prefix}{c}",
                         F.last(F.col(f"__carry_{c}"), ignorenulls=True).over(w))
    out = (u.filter(F.col("__side") == 1)
           .drop("__side", *[f"__carry_{c}" for c in carry_cols]))
    if tolerance_us is not None:
        assert ts_col in carry_cols, (
            "tolerance needs the carried timestamp: include ts_col in "
            "carry_cols so the match age is known")
        ok = (F.col(ts_col) - F.col(f"{prefix}{ts_col}")
              <= F.lit(tolerance_us))
        for c in carry_cols:
            out = out.withColumn(f"{prefix}{c}",
                                 F.when(ok, F.col(f"{prefix}{c}")))
    return out


def asof_join_forward(left: DataFrame, right: DataFrame, on: str,
                      ts_col: str, tie_col: str, carry_cols: list[str],
                      prefix: str = "asof_") -> DataFrame:
    """As-of join (forward): for each left row, the EARLIEST right row
    with ``right.ts >= left.ts`` for the same key — the
    time-to-next-event / lead-attribution twin of
    :func:`asof_join_backward`, same merge-ordered physical shape
    (tag, union, ONE shuffle on the key, a running
    ``first(ignorenulls)`` over the FOLLOWING frame). Equal timestamps
    match; at equal (ts), right rows sort AFTER left rows in the
    window order (side 0 for left, 1 for right) so the current-row-
    inclusive following frame sees them; ties among right rows resolve
    toward the smaller ``tie_col``. Same column/nullability contract
    as the backward form."""
    from pyspark.sql import Window

    ldt, rdt = dict(left.dtypes), dict(right.dtypes)
    l2 = left.select(
        *left.columns,
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(rdt[c]).alias(f"__carry_{c}") for c in carry_cols])
    r2 = right.select(
        *[(F.col(c) if c in (on, ts_col, tie_col)
           else F.lit(None).cast(ldt[c])).alias(c) for c in left.columns],
        F.lit(1).alias("__side"),
        *[F.col(c).alias(f"__carry_{c}") for c in carry_cols])
    w = (Window.partitionBy(on)
         .orderBy(F.col(ts_col), F.col("__side"), F.col(tie_col))
         .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    u = l2.unionByName(r2)
    for c in carry_cols:
        u = u.withColumn(f"{prefix}{c}",
                         F.first(F.col(f"__carry_{c}"), ignorenulls=True).over(w))
    return (u.filter(F.col("__side") == 0)
            .drop("__side", *[f"__carry_{c}" for c in carry_cols]))
