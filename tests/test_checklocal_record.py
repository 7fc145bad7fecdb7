"""The evidence recorder itself (tools/check.py:compare_query_record):
the round-10 advice asked for the three comparison outcomes recorded
SEPARATELY with an oracle row count fetched from DuckDB independently
of the Spark count — this pins that contract on synthetic
agreements and disagreements, so a checklocal row can never again
assert less than the driver row shape it mimics."""

import duckdb

from check import compare_query_record


def _con():
    con = duckdb.connect()
    con.execute("CREATE TABLE t(a BIGINT, b VARCHAR)")
    con.execute("INSERT INTO t VALUES (1, 'x'), (2, 'y')")
    return con


def test_record_all_green_on_agreement(spark):
    rec = compare_query_record(
        spark, _con(), "", "q",
        lambda s, _sf: s.createDataFrame([(1, "x"), (2, "y")],
                                         "a long, b string"),
        "SELECT a, b FROM t")
    assert rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
    assert rec["spark_rows"] == 2 and rec["oracle_rows"] == 2
    assert rec["err"] is None


def test_record_outcomes_are_independent(spark):
    # same row count and schema, ONE divergent value: rows/schema stay
    # True while hash flips — a collapsed pass boolean could not say this
    rec = compare_query_record(
        spark, _con(), "", "q",
        lambda s, _sf: s.createDataFrame([(1, "x"), (2, "DIFFERENT")],
                                         "a long, b string"),
        "SELECT a, b FROM t")
    assert rec["rows_match"] is True
    assert rec["schema_match"] is True
    assert rec["hash_match"] is False
    assert "values differ" in rec["err"]
    # row-count divergence: oracle_rows must come from DuckDB (2), not
    # be copied from the Spark side (1)
    rec2 = compare_query_record(
        spark, _con(), "", "q",
        lambda s, _sf: s.createDataFrame([(1, "x")], "a long, b string"),
        "SELECT a, b FROM t")
    assert rec2["rows_match"] is False
    assert rec2["spark_rows"] == 1 and rec2["oracle_rows"] == 2


def test_record_no_oracle_is_never_green(spark):
    rec = compare_query_record(
        spark, _con(), "", "q",
        lambda s, _sf: s.createDataFrame([(1, "x")], "a long, b string"),
        None)
    assert not (rec["rows_match"] or rec["schema_match"]
                or rec["hash_match"])
    assert rec["spark_rows"] == 1 and rec["oracle_rows"] is None
    assert "no oracle" in rec["err"]


def test_record_engine_errors_are_descriptive(spark):
    def boom(s, _sf):
        raise RuntimeError("spark side exploded")

    rec = compare_query_record(spark, _con(), "", "q", boom, "SELECT 1")
    assert not rec["hash_match"] and "spark error" in rec["err"]
    rec2 = compare_query_record(
        spark, _con(), "", "q",
        lambda s, _sf: s.createDataFrame([(1,)], "a long"),
        "SELECT FROM nonsense syntax")
    assert not rec2["hash_match"] and "duckdb error" in rec2["err"]
