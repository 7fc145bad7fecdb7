"""Table catalog: load the canonical parquet tables.

The reference reads one Excel sheet at a time into pandas
(feeder.py:121-122); the engine's canonical storage is parquet on
distributed storage — columnar, splittable, predicate-pushdown-able.
At 100 TB the same ``spark.read.parquet`` call fans out to thousands
of tasks; nothing here is driver-bound.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Event-time contract: these columns are ALWAYS TIMESTAMP (LTZ, µs)
# after load_table, whatever the parquet file's physical type is. The
# upstream generator has shipped both timestamp[ns] (Spark: epoch-ns
# bigint under nanosAsLong) and timestamp[us] (Spark: TIMESTAMP_NTZ);
# downstream event-time code — unix_micros(), withWatermark(), window()
# — requires TIMESTAMP, so the normalization happens once, here, not in
# every consumer. Under the pinned UTC session zone (session.py) the
# NTZ→LTZ cast is value-identical, matching DuckDB's naive-µs reads.
_EVENT_TIME_COLS = {"events": ["ts"]}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one canonical table. Column pruning + filter pushdown are
    Catalyst's job — callers just ``select``/``filter`` declaratively."""
    if name in _EVENT_TIME_COLS:
        # Runtime-settable; makes TIMESTAMP(NANOS) parquet readable (as
        # epoch-ns bigints) on ANY session, not just session.get_session's.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _EVENT_TIME_COLS.get(name, []):
        dt = dict(df.dtypes).get(col)
        if dt == "bigint":  # physical timestamp[ns] → epoch-ns long
            # integer div, no double roundtrip — same floor-truncation
            # DuckDB applies narrowing ns to its native µs
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif dt == "timestamp_ntz":  # physical timestamp[us], no tz
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every canonical table as a dict of DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
