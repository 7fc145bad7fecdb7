"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark at a given SF
dir, runs the matching ``oracle_sql()`` in DuckDB over the same parquet
files, and compares: row count, column names, and order-insensitive
values (sorted columns, sorted rows, exact equality — floats compared
bit-for-bit after canonicalization). Strictly harsher than any sane
hash, so passing here should pass the driver.

Usage: python tools/check.py [sf_dir] [only_query_prefix]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from pyspark.sql import SparkSession
from cati_database_feeder_spark.catalog import TABLES


def plain_session():
    """A deliberately PLAIN session, mirroring the driver's harness —
    no engine-side configs, so any query that depends on session.py
    setup fails here the way it fails in CORRECTNESS_r{N}.json."""
    return (
        SparkSession.builder.master("local[8]")
        .appName("check")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )


def canon(v):
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NaN>"
        return repr(v)  # full precision — bitwise comparison for doubles
    return str(v)


def frame_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    return out


def oracle_connection(sf_dir: str):
    """DuckDB connection with every canonical table registered as a
    view over the same parquet files Spark reads."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def compare_query_record(spark, con, sf_dir: str, name: str, fn,
                         oracle: str | None) -> dict:
    """Run one query on Spark and (if it has an oracle) in DuckDB, and
    return a CORRECTNESS-row-shaped record with the THREE comparison
    outcomes recorded separately and ``oracle_rows`` counted from the
    DuckDB result itself — never copied from the Spark side (round-10
    advice: a collapsed pass boolean with spark-derived oracle_rows
    asserts less than the driver row it mimics). ``hash_match`` is the
    order-insensitive exact-value comparison; a query without an
    oracle gets all three False plus a descriptive ``err`` (the weaker
    rows-only evidence is visible as such, never a silent green)."""
    rec = {"rows_match": False, "schema_match": False,
           "hash_match": False, "spark_rows": None, "oracle_rows": None,
           "err": None}
    try:
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
    except Exception:
        rec["err"] = f"spark error: {traceback.format_exc()}"
        return rec
    rec["spark_rows"] = len(srows)
    if oracle is None:
        rec["err"] = f"rows={len(srows)} (no oracle, rows-only check)"
        return rec
    try:
        rel = con.execute(oracle)
        ocols = [d[0] for d in rel.description]
        orows = rel.fetchall()
    except Exception:
        rec["err"] = f"duckdb error: {traceback.format_exc()}"
        return rec
    rec["oracle_rows"] = len(orows)
    rec["rows_match"] = len(srows) == len(orows)
    rec["schema_match"] = (
        sorted(scols) == sorted(c.lower() for c in ocols)
        or sorted(c.lower() for c in scols)
        == sorted(c.lower() for c in ocols))
    problems = []
    if not rec["rows_match"]:
        problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if not rec["schema_match"]:
        problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
    sk = frame_key(srows, [c.lower() for c in scols])
    ok = frame_key(orows, [c.lower() for c in ocols])
    rec["hash_match"] = sk == ok
    if not rec["hash_match"] and not problems:
        ndiff = sum(1 for a, b in zip(sk, ok) if a != b)
        problems.append(
            f"values differ ({ndiff} rows); first: "
            f"spark={next((a for a, b in zip(sk, ok) if a != b), None)} "
            f"oracle={next((b for a, b in zip(sk, ok) if a != b), None)}")
    if problems:
        rec["err"] = "; ".join(problems)
    return rec


def compare_query(spark, con, sf_dir: str, name: str, fn, oracle: str | None):
    """(status, problems) view over :func:`compare_query_record`:
    status in {'pass','weak','fail'}; problems is human-readable
    detail. Importable so the pytest suite can run the identical
    comparison the CLI gate runs."""
    rec = compare_query_record(spark, con, sf_dir, name, fn, oracle)
    if oracle is None and rec["spark_rows"] is not None:
        return "weak", [rec["err"]]
    if rec["rows_match"] and rec["schema_match"] and rec["hash_match"]:
        return "pass", [f"{rec['spark_rows']} rows"]
    return "fail", [rec["err"] or "mismatch"]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2] if len(sys.argv) > 2 else ""

    spark = plain_session()
    con = oracle_connection(sf_dir)

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    passed = failed = weak = 0
    for name, fn in queries.items():
        if only and not name.startswith(only):
            continue
        t0 = time.time()
        status, detail = compare_query(spark, con, sf_dir, name, fn, oracles.get(name))
        if status == "fail":
            print(f"FAIL {name}: {'; '.join(detail)}")
            failed += 1
        elif status == "weak":
            print(f"weak {name}: {detail[0]} [{time.time()-t0:.1f}s]")
            weak += 1
        else:
            print(f"PASS {name} ({detail[0]}) [{time.time()-t0:.1f}s]")
            passed += 1
    print(f"\n{passed} passed, {failed} failed, {weak} weak (rows-only)")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
