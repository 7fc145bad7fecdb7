"""survey_load: the CATI feeder's own traffic, one survey wave per operation.

A wave's export lands as one bare .xlsx and one .zip; the operation reads
them (sources.excel), applies the feeder's scalar pack (functions.scalar),
anti-joins against the phones already loaded for the wave
(operators.joins, keys read back through sinks.jdbc), appends the rows to
an embedded Derby table, and then runs an add_q5010-style keyed backfill
through a staging MERGE (sinks.jdbc). Wave time runs from files landed to
rows committed.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cati_database_feeder_spark.functions import scalar
from cati_database_feeder_spark.operators import joins
from cati_database_feeder_spark.sinks import jdbc
from cati_database_feeder_spark.sources import excel

import checks
import gen

MAX_WAVES = 16  # waves preloaded in set-up; a run loads at most this many

_TARGET_DDL = """CREATE TABLE RECRUITS (
  ID BIGINT, WAVE INTEGER, STATUS VARCHAR(20), PHONE VARCHAR(20),
  RESULT VARCHAR(20), EXT_ID VARCHAR(40), REGION_NAME VARCHAR(60),
  OPERATOR_NAME VARCHAR(60), REGION INTEGER, OPERATOR INTEGER,
  CALL_INTERVAL_BEGIN VARCHAR(10), CALL_INTERVAL_END VARCHAR(10),
  TIME_DIFFERENCE INTEGER, Q3_LABEL VARCHAR(100), Q3_1 INTEGER,
  Q3_1_LABEL VARCHAR(100), Q3_2 INTEGER, Q3_2_LABEL VARCHAR(100),
  S_SEX INTEGER, S_SEX_LABEL VARCHAR(20), NAME_REC VARCHAR(100),
  AGE_REC1 SMALLINT, AGE_REC2 VARCHAR(20), Q9_1 INTEGER, Q10 INTEGER,
  Q11 INTEGER, Q11_LABEL VARCHAR(100), Q11_8T VARCHAR(20), Q_REGION INTEGER,
  Q_REGION_LABEL VARCHAR(60), Q_OPER_CODE INTEGER, Q_OPER_NAME VARCHAR(60),
  DB_REWARD DOUBLE, DB_REW DOUBLE, REWARD DOUBLE, Q_CITY VARCHAR(100),
  Q_OBRAZOVANIE VARCHAR(100), Q_RABOTA VARCHAR(100), Q_DOHOD VARCHAR(100),
  IV_DATE VARCHAR(10), Q5010 INTEGER)"""
_STAGING = "STG_Q5010"

# per-layer metrics, each read from the operation (wave) spans
PER_LAYER = (
    "sources.excel.busy_s", "sources.excel.rows_out", "sources.excel.error_rows",
    "sources.excel.spark_jobs", "sources.excel.tasks",
    "functions.scalar.busy_s", "functions.scalar.rows_rejected",
    "operators.joins.busy_s", "operators.joins.rows_skipped",
    "sinks.jdbc.read_s", "sinks.jdbc.append_s", "sinks.jdbc.merge_s",
    "sinks.jdbc.rows_appended", "sinks.jdbc.rows_merged", "sinks.jdbc.spark_jobs",
)


class JdbcConnection:
    """The DB-API surface ``merge_upsert`` drives (``execute``), over a
    java.sql.Connection opened in the driver JVM. ``rowcount`` holds the
    update count of the last statement."""

    def __init__(self, spark, url: str):
        self._conn = spark._jvm.java.sql.DriverManager.getConnection(url)
        self.rowcount = -1

    def execute(self, sql: str) -> None:
        stmt = self._conn.createStatement()
        try:
            stmt.execute(sql)
            self.rowcount = stmt.getUpdateCount()
        finally:
            stmt.close()

    def close(self) -> None:
        self._conn.close()


class Workload:
    items_name = "rows committed"
    warmup_ops = 2  # untimed waves in set-up, the first of them cold
    measured_ops = 6  # timed waves per run, at least

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tr, self.seed, self.work = spark, tracer, seed, work
        self.conn = None
        self.recall_hits = self.recall_total = 0

    def prepare(self, rep: int) -> None:
        """(Re)create the target tables and preload, for every wave the run
        may touch, the phones the generator marks as already loaded."""
        if self.conn is None:
            self.url = f"jdbc:derby:{os.path.join(self.work, 'db')};create=true"
            self.conn = JdbcConnection(self.spark, self.url)
        else:
            self.conn.execute("DROP TABLE RECRUITS")
            self.conn.execute(f"DROP TABLE {_STAGING}")
        self.conn.execute(_TARGET_DDL)
        self.conn.execute(f"CREATE TABLE {_STAGING} (ID BIGINT, Q5010 INTEGER)")
        self.records = {w: gen.survey_wave_records(self.seed, w) for w in range(MAX_WAVES)}
        # one multi-row statement: values are generated integers and digit strings
        preload = [f"({-int(r['cells']['ID'])}, {w}, '{int(r['cells']['Phone'])}', 'preloaded')"
                   for w, recs in self.records.items() for r in recs if r["loaded"]]
        self.conn.execute("INSERT INTO RECRUITS (ID, WAVE, PHONE, STATUS) VALUES "
                          + ", ".join(preload))

    def can_run(self, i: int) -> bool:
        return i < MAX_WAVES

    def land(self, i: int) -> str:
        landing = os.path.join(self.work, "landing", f"wave{i:03d}")
        gen.write_survey_wave(self.seed, i, landing)
        return landing

    def op(self, i: int, landing: str) -> None:
        tr, spark = self.tr, self.spark
        with tr.span("sources.excel") as sp:
            decoded = tr.materialize(excel.read_excel_glob(spark, os.path.join(landing, "*")))
            wide = tr.materialize(excel.pivot_wave(decoded, gen.SURVEY_COLUMNS))
        if sp:
            sp.counts["rows_out"] = wide.count()
            sp.counts["error_rows"] = decoded.filter(F.col("col_name") == "__error__").count()

        with tr.span("functions.scalar") as sp:
            rows = tr.materialize(_transform(wide, i))
        if sp:
            sp.counts["rows_rejected"] = wide.count() - rows.count()

        with tr.span("sinks.jdbc/read"):
            loaded = tr.materialize(
                jdbc.jdbc_read(spark, self.url, "RECRUITS")
                .filter(F.col("WAVE") == i).select("PHONE"))

        with tr.span("operators.joins") as sp:
            fresh = tr.materialize(joins.dedup_anti_join(rows, loaded, on="PHONE"))
        if sp:
            sp.counts["rows_skipped"] = rows.count() - fresh.count()

        with tr.span("sinks.jdbc/append") as sp:
            jdbc.jdbc_append(fresh, self.url, "RECRUITS")
        if sp:
            sp.counts["rows_appended"] = fresh.count()

        backfill = [(int(r["cells"]["ID"]), r["q5010"])
                    for r in self.records[i] if r["q5010"] is not None]
        updates = spark.createDataFrame(backfill, "ID long, Q5010 int")
        with tr.span("sinks.jdbc/merge") as sp:
            jdbc.merge_upsert(updates, self.conn, "RECRUITS", ["ID"], ["Q5010"],
                              staging=_STAGING, insert_missing=False, dialect="merge",
                              write_staging=self._stage)
        if sp:
            sp.counts["rows_merged"] = self.conn.rowcount

    def _stage(self, df, table: str) -> None:
        self.conn.execute(f"DELETE FROM {table}")
        jdbc.jdbc_append(df, self.url, table)

    def check(self, i: int) -> tuple[list[str], int]:
        """Compare the wave's committed rows with the generator's
        expectation. Returns (problems, rows committed)."""
        committed = [r.asDict() for r in (
            self.spark.read.format("jdbc").option("url", self.url)
            .option("dbtable", f"(SELECT * FROM RECRUITS WHERE WAVE = {i} AND ID > 0) t")
            .load().collect())]
        expected = checks.expected_survey_rows(self.records[i], i)
        problems = checks.check_survey_wave(expected, committed)
        self.recall_total += len(expected)
        self.recall_hits += 0 if problems else len(expected)
        return problems, len(committed)

    def recall(self) -> float:
        """Share of expected rows in waves committed exactly (1.0 on a
        correct run)."""
        return self.recall_hits / self.recall_total if self.recall_total else 0.0

    def per_layer(self, medians) -> dict[str, float]:
        return {name: medians("op", name) for name in PER_LAYER}

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()


def _transform(wide, wave: int):
    """The feeder's row transform (feeder.py:163-225) over the export."""
    q = lambda name: F.col(f"`{name}`")
    as_int = lambda name: q(name).cast("int")
    kept = wide.filter(scalar.reject_predicate(q("Result")))
    return kept.select(
        q("ID").cast("long").alias("ID"),
        F.lit(wave).alias("WAVE"),
        scalar.status_case(q("Result")).alias("STATUS"),
        q("Phone").alias("PHONE"),
        q("Result").alias("RESULT"),
        q("ExtID").alias("EXT_ID"),
        q("DB_RegionName").alias("REGION_NAME"),
        q("DB_OperatorName").alias("OPERATOR_NAME"),
        as_int("DB_Region").alias("REGION"),
        as_int("DB_Operator").alias("OPERATOR"),
        q("DB_CallIntervalBegin").alias("CALL_INTERVAL_BEGIN"),
        q("DB_CallIntervalEnd").alias("CALL_INTERVAL_END"),
        as_int("DB_TimeDifference").alias("TIME_DIFFERENCE"),
        q("Q3_label").alias("Q3_LABEL"),
        as_int("Q3.1").alias("Q3_1"),
        q("Q3.1_label").alias("Q3_1_LABEL"),
        as_int("Q3.2").alias("Q3_2"),
        q("Q3.2_label").alias("Q3_2_LABEL"),
        as_int("S_SEX").alias("S_SEX"),
        q("S_SEX_label").alias("S_SEX_LABEL"),
        scalar.truncate_str(q("Q2"), 100).alias("NAME_REC"),
        scalar.clamp_smallint(as_int("AGE")).alias("AGE_REC1"),
        q("S_AGE_label").alias("AGE_REC2"),
        as_int("Q9.1").alias("Q9_1"),
        as_int("Q10").alias("Q10"),
        as_int("Q11").alias("Q11"),
        q("Q11_label").alias("Q11_LABEL"),
        q("Q11_8T").alias("Q11_8T"),
        as_int("QREGION").alias("Q_REGION"),
        q("QREGION_label").alias("Q_REGION_LABEL"),
        as_int("Q4").alias("Q_OPER_CODE"),
        q("Q4_label").alias("Q_OPER_NAME"),
        scalar.optional_column(wide.columns, "DB_Reward").cast("double").alias("DB_REWARD"),
        scalar.optional_column(wide.columns, "DB_Rew").alias("DB_REW"),
        scalar.optional_column(wide.columns, "Reward").alias("REWARD"),
        q("d2006_label").alias("Q_CITY"),
        q("d2003_label").alias("Q_OBRAZOVANIE"),
        q("d2005_label").alias("Q_RABOTA"),
        q("q84_label").alias("Q_DOHOD"),
        scalar.iso_date(scalar.parse_ru_timestamp(q("IVDate1"))).alias("IV_DATE"),
    )
