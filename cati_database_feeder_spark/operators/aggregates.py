"""Aggregation operators (extension surface, SURVEY.md §2.5).

The reference has no aggregations (its only 'aggregate' is a first-row
peek, add_q5011_2t.py:28); this module is the engine's group-by surface.
Everything is ``groupBy().agg()`` — Spark plans partial (map-side)
aggregation then a final merge after a hash-partitioned shuffle, which
is exactly the 100 TB-safe shape: the shuffle carries one row per
(partition, group), not per input row.

Determinism: double sums go through exact DECIMAL accumulation and are
cast back to DOUBLE at the end (``dsum``). Decimal addition is
associative, so the result is independent of partition count and
merge order — bit-identical between a 1-thread DuckDB oracle and a
1000-executor Spark job. This is a correctness property, not a
performance hack; Tungsten aggregates decimals natively.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 28 digits, 6 decimal places: fits ~1e22 in the integral part, far
# beyond any 100 TB sum of prices. Scale 6 (not more) because the
# source values sit on a ≤2-decimal grid, so any product of up to
# three of them has ≤6 true decimals — every cast input is at a grid
# point, never near a rounding tie, and Spark (BigDecimal shortest
# repr, HALF_UP) and DuckDB (scaled-double rounding) agree exactly.
# At scale 10 the two engines round the double's trailing binary
# noise differently ~1/1e3 rows and sums drift.
_DEC = "decimal(28,6)"


def dsum(col: Column) -> Column:
    """Order-insensitive double sum: exact decimal accumulate → double."""
    return F.sum(col.cast(_DEC)).cast("double")


def davg(col: Column) -> Column:
    """Order-insensitive double mean: exact decimal sum / count."""
    return F.sum(col.cast(_DEC)).cast("double") / F.count(col)
