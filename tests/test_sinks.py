"""Sinks: MERGE-based keyed upsert validated against a real database
(DuckDB through its DB-API connection — same MERGE the Postgres path
runs), plus SQL generation."""

import duckdb
import pytest

from cati_database_feeder_spark.sinks import jdbc


def test_merge_sql_update_only():
    sql = jdbc.merge_sql("recruits_log", "stg", ["id"], ["q5010"])
    assert sql == ("MERGE INTO recruits_log t USING stg s ON t.id = s.id "
                   "WHEN MATCHED THEN UPDATE SET q5010 = s.q5010")


def test_merge_sql_upsert_multi_key():
    sql = jdbc.merge_sql("t1", "s1", ["phone", "wave"], ["status"],
                         insert_cols=["phone", "wave", "status"])
    assert "t.phone = s.phone AND t.wave = s.wave" in sql
    assert sql.endswith("WHEN NOT MATCHED THEN INSERT (phone, wave, status) "
                        "VALUES (s.phone, s.wave, s.status)")


def test_merge_upsert_against_real_db(spark):
    con = duckdb.connect()
    con.execute("CREATE TABLE recruits_log (id BIGINT, q5010 VARCHAR, status VARCHAR)")
    con.execute("INSERT INTO recruits_log VALUES (1, NULL, 'old'), (2, NULL, 'old')")

    updates = spark.createDataFrame(
        [(1, "answer-1", "new"), (3, "answer-3", "new")],
        ["id", "q5010", "status"])
    # DuckDB 1.0 has no MERGE — exercise the pre-MERGE two-statement
    # dialect live; the MERGE string itself is asserted above.
    stmts = jdbc.merge_upsert(updates, con, "recruits_log",
                              key_cols=["id"], update_cols=["q5010", "status"],
                              dialect="update_insert")
    assert stmts[0].startswith("UPDATE recruits_log")
    assert stmts[1].startswith("INSERT INTO recruits_log")

    rows = dict((r[0], (r[1], r[2])) for r in
                con.execute("SELECT * FROM recruits_log ORDER BY id").fetchall())
    assert rows[1] == ("answer-1", "new")     # matched → updated
    assert rows[2] == (None, "old")           # untouched
    assert rows[3] == ("answer-3", "new")     # not matched → inserted


def test_merge_upsert_update_only_mode(spark):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, v VARCHAR)")
    con.execute("INSERT INTO t VALUES (1, 'a')")
    updates = spark.createDataFrame([(1, "b"), (9, "z")], ["id", "v"])
    jdbc.merge_upsert(updates, con, "t", ["id"], ["v"], insert_missing=False,
                      dialect="update_insert")
    assert con.execute("SELECT * FROM t ORDER BY id").fetchall() == [(1, "b")]


def test_jdbc_append_read_roundtrip_embedded_derby(spark):
    """Ops #7/#8 END-TO-END over a real JDBC endpoint: Spark bundles
    embedded Derby, so the executor-side batched append and the
    (optionally range-partitioned) JDBC scan both run for real —
    no mocking, same code path a Postgres URL takes."""
    url = "jdbc:derby:memory:jdbctest_rt;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.range(100).selectExpr(
        "id", "cast(id % 5 as int) as grp", "cast(id * 1.5 as double) as val")

    jdbc.jdbc_append(df, url, "apptable", properties=props, batchsize=50)
    back = jdbc.jdbc_read(spark, url, "apptable", properties=props)
    assert back.count() == 100
    assert {f.name.lower() for f in back.schema.fields} == {"id", "grp", "val"}

    # append mode appends (no truncate/replace semantics)
    jdbc.jdbc_append(df, url, "apptable", properties=props)
    assert jdbc.jdbc_read(spark, url, "apptable", properties=props).count() == 200

    # range-partitioned parallel scan: 4 concurrent range cursors
    part = jdbc.jdbc_read(spark, url, "apptable", properties=props,
                          partition_column="id", num_partitions=4,
                          lower_bound=0, upper_bound=100)
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 200

    # an upper bound of 0 is a bound, not "unset": a range over negative
    # ids spreads over the partitions instead of landing in one
    jdbc.jdbc_append(spark.range(-100, 0), url, "negtable", properties=props)
    neg = jdbc.jdbc_read(spark, url, "negtable", properties=props,
                         partition_column="id", num_partitions=4,
                         lower_bound=-100, upper_bound=0)
    sizes = [len(p) for p in neg.rdd.glom().collect()]
    assert sum(sizes) == 100 and sum(1 for n in sizes if n) > 1, sizes

    # predicate pushdown reaches the remote SQL (op #7's whole point)
    filtered = back.filter("grp = 3")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "grp" in plan.lower()
    assert filtered.count() == 40


def test_merge_upsert_production_shape_jdbc_staging_real_merge(spark):
    """E12's production shape fully live: staging moves through the
    parallel JDBC batched append (not the driver), and the keyed upsert
    is ONE server-side MERGE — executed on embedded Derby (which has
    ANSI MERGE) through a real java.sql connection. Identifiers are
    uppercase because Spark's JDBC writer quotes column names while the
    MERGE references them unquoted; Derby folds unquoted to uppercase,
    so uppercase is the name both sides agree on (Postgres folds to
    lowercase — same rule, opposite case)."""
    url = "jdbc:derby:memory:merge_e2e;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    class JvmConn:  # DB-API-ish adapter over java.sql for the one MERGE
        def __init__(self):
            self._c = spark._jvm.java.sql.DriverManager.getConnection(url)

        def execute(self, stmt, *args):
            s = self._c.createStatement()
            try:
                s.execute(stmt)
            finally:
                s.close()

    con = JvmConn()
    con.execute("CREATE TABLE recruits_log "
                "(ID BIGINT, Q5010 VARCHAR(100), STATUS VARCHAR(10))")
    con.execute("INSERT INTO recruits_log VALUES (1, NULL, 'old'), (2, NULL, 'old')")

    updates = spark.createDataFrame(
        [(1, "answer-1", "new"), (3, "answer-3", "new")],
        ["ID", "Q5010", "STATUS"])
    stmts = jdbc.merge_upsert(
        updates, con, "recruits_log", key_cols=["ID"],
        update_cols=["Q5010", "STATUS"], dialect="merge",
        staging="staging_upsert",
        write_staging=lambda d, t: jdbc.jdbc_append(d, url, t, properties=props))
    assert len(stmts) == 1 and stmts[0].startswith("MERGE INTO recruits_log")

    rows = {r["ID"]: (r["Q5010"], r["STATUS"]) for r in
            jdbc.jdbc_read(spark, url, "recruits_log", properties=props).collect()}
    assert rows[1] == ("answer-1", "new")     # matched -> updated
    assert rows[2] == (None, "old")           # untouched
    assert rows[3] == ("answer-3", "new")     # not matched -> inserted
