"""Sources: Excel/zip decode via binaryFile+mapInPandas, paginated REST
via mapInPandas with a hermetic fake fetch, export-job polling."""

import os
import io
import json
import zipfile

import pandas as pd
import pytest

from cati_database_feeder_spark.sources import excel, rest


@pytest.fixture(scope="module")
def xlsx_dir(tmp_path_factory):
    # hand-built OOXML fixture (conftest.make_xlsx): decodes via openpyxl
    # when present, else through the dependency-free minimal reader —
    # either way the decode kernel actually executes
    from conftest import make_xlsx
    d = tmp_path_factory.mktemp("xlsx")
    payload = make_xlsx(["ID", "Phone", "Result"],
                        [["1", "79001", "Полное"], ["2", "79002", "Брак"]])
    (d / "wave1.xlsx").write_bytes(payload)
    with zipfile.ZipFile(d / "wave2.zip", "w") as zf:
        zf.writestr("export.xlsx", payload)
    return str(d)


def test_zip_unwrap_and_degraded_decode(spark, tmp_path):
    """Zip-unwrap (op #2, first member — feeder.py:120) reaches the Excel
    decode; without openpyxl on executors the row degrades to a marked
    error instead of crashing the job."""
    with zipfile.ZipFile(tmp_path / "batch.zip", "w") as zf:
        zf.writestr("export.xlsx", b"not really an xlsx")
    out = excel.read_excel_glob(spark, f"{tmp_path}/*.zip").collect()
    assert len(out) == 1
    assert out[0]["col_name"] == "__error__"
    assert out[0]["path"].endswith("batch.zip")


def test_read_excel_glob_xlsx_and_zip(spark, xlsx_dir):
    out = excel.read_excel_glob(spark, f"{xlsx_dir}/*").collect()
    assert not any(r["col_name"] == "__error__" for r in out), out[:3]
    paths = {r["path"].rsplit("/", 1)[-1] for r in out}
    assert paths == {"wave1.xlsx", "wave2.zip"}
    # reference semantics: zip's first member decoded (feeder.py:120)
    wave2 = [r for r in out if r["path"].endswith("wave2.zip")]
    assert {r["col_name"] for r in wave2} == {"ID", "Phone", "Result"}
    assert len(wave2) == 6  # 2 rows × 3 cols, long form


def test_pivot_wave_rewiden(spark, xlsx_dir):
    decoded = excel.read_excel_glob(spark, f"{xlsx_dir}/*.xlsx")
    wide = excel.pivot_wave(decoded, ["ID", "Phone", "Result"]).collect()
    assert len(wide) == 2
    assert {r["Result"] for r in wide} == {"Полное", "Брак"}


def _generic_pivot(decoded, columns):
    # a checkpoint of the decode is not read_excel_glob's own frame, so
    # pivot_wave takes the groupBy-pivot over the long form
    return excel.pivot_wave(decoded.localCheckpoint(), columns)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_wide_equals_generic(spark, glob, columns):
    decoded = excel.read_excel_glob(spark, glob)
    wide = excel.pivot_wave(decoded, columns)
    generic = _generic_pivot(decoded, columns)
    assert wide.schema == generic.schema
    got = _rows(wide)
    assert got == _rows(generic)
    return got


def test_minimal_reader_names_headers_like_pandas(spark, tmp_path):
    """A repeated header is mangled X, X.1, … and a blank one is
    'Unnamed: {i}', as pd.read_excel names them, so the long form holds
    one cell per (path, row_idx, col_name)."""
    payload = excel.write_xlsx_bytes(
        ["ID", "X", "X", None, "X.1", "Y"],
        [("1", "a", "b", "c", "d", "e"), ("2", "f", "g", None, "h", "i")])
    frame = excel._read_xlsx_minimal(payload)
    assert list(frame.columns) == ["ID", "X", "X.1", "Unnamed: 3", "X.1.1", "Y"]
    assert list(frame.iloc[0]) == ["1", "a", "b", "c", "d", "e"]
    (tmp_path / "dup.xlsx").write_bytes(payload)
    cells = [(r["row_idx"], r["col_name"]) for r in
             excel.read_excel_glob(spark, f"{tmp_path}/*").collect()]
    assert len(cells) == len(set(cells)) == 12
    got = _assert_wide_equals_generic(spark, f"{tmp_path}/*", ["ID", "X", "X.1"])
    assert [r[2:] for r in got] == [("1", "a", "b"), ("2", "f", "g")]


def test_pivot_wave_wide_equals_generic(spark, xlsx_dir, tmp_path):
    """The re-planned wide decode returns the generic pivot's schema
    and rows on the bare .xlsx + .zip fixture and on the pinned excel
    fixture (numeric cells, blanks, Cyrillic dotted headers)."""
    got = _assert_wide_equals_generic(
        spark, f"{xlsx_dir}/*", ["ID", "Phone", "Result"])
    assert len(got) == 4
    d = excel.ensure_excel_fixture(str(tmp_path / "xl"))
    got = _assert_wide_equals_generic(spark, f"{d}/*", excel.EXCEL_WAVE_COLUMNS)
    want = [(os.path.join(d, f), i, *r)
            for f, rows in excel.excel_fixture_rows().items()
            for i, r in enumerate(rows)]
    assert sorted(((p.removeprefix("file:"), i, *r) for p, i, *r in got),
                  key=repr) == sorted(want, key=repr)


def test_pivot_wave_missing_column_is_null(spark, xlsx_dir):
    got = _assert_wide_equals_generic(
        spark, f"{xlsx_dir}/*", ["ID", "Absent", "Result"])
    assert len(got) == 4
    assert all(r[3] is None and r[2] in ("1", "2") for r in got)


def test_pivot_wave_corrupt_file_gives_no_wide_rows(spark, tmp_path):
    from conftest import make_xlsx
    (tmp_path / "good.xlsx").write_bytes(
        make_xlsx(["ID", "Result"], [["1", "Полное"]]))
    with zipfile.ZipFile(tmp_path / "bad.zip", "w") as zf:
        zf.writestr("export.xlsx", b"not really an xlsx")
    errors = [r["path"] for r in
              excel.read_excel_glob(spark, f"{tmp_path}/*").collect()
              if r["col_name"] == "__error__"]
    assert len(errors) == 1 and errors[0].endswith("bad.zip")
    got = _assert_wide_equals_generic(spark, f"{tmp_path}/*", ["ID", "Result"])
    assert [r[0].rsplit("/", 1)[-1] for r in got] == ["good.xlsx"]


def test_pivot_wave_file_without_requested_columns_gives_no_rows(spark, tmp_path):
    from conftest import make_xlsx
    (tmp_path / "other.xlsx").write_bytes(make_xlsx(["A", "B"], [["1", "2"]]))
    assert _assert_wide_equals_generic(spark, f"{tmp_path}/*", ["ID", "Result"]) == []


def test_pivot_wave_plans_no_exchange(spark, xlsx_dir):
    """Handed read_excel_glob's own frame, pivot_wave plans one
    mapInPandas over the file scan and no shuffle; the generic pivot
    needs one."""
    decoded = excel.read_excel_glob(spark, f"{xlsx_dir}/*")
    plan = lambda df: df._jdf.queryExecution().executedPlan().toString()
    wide = plan(excel.pivot_wave(decoded, ["ID", "Phone", "Result"]))
    assert "MapInPandas" in wide and "Exchange" not in wide, wide
    assert "Exchange" in plan(_generic_pivot(decoded, ["ID", "Phone", "Result"]))


def test_fetch_paginated_parallel(spark):
    def fake_fetch(url):
        page = int(url.split("PageNumber=")[1])
        return json.dumps({"body": [{"id": page * 10, "name": f"proj{page}"}]})

    df = rest.fetch_paginated(spark, "http://fake/projects", n_pages=5, fetch=fake_fetch)
    rows = sorted(df.collect(), key=lambda r: r["page"])
    assert [r["page"] for r in rows] == [0, 1, 2, 3, 4]
    assert json.loads(rows[0]["body"])["body"][0]["name"] == "proj1"


def test_fetch_collection(spark):
    body = json.dumps({"body": [{"id": 7, "name": "--------РЕКРУТ"}]})
    df = rest.fetch_collection(spark, "http://fake/counters", fetch=lambda u: body)
    assert df.collect()[0]["name"] == "--------РЕКРУТ"


def test_poll_export_job_polls_until_state_3():
    states = iter([{"state": 1}, {"state": 2}, {"state": 3, "fileUrl": "http://f/x.zip"}])
    got = rest.poll_export_job(
        create=lambda: 42,
        get_status=lambda rid: next(states),
        download=lambda url: f"/tmp/{url.rsplit('/', 1)[-1]}",
        poll_interval_s=0.0)
    assert got == "/tmp/x.zip"


def test_poll_export_job_timeout():
    with pytest.raises(TimeoutError):
        rest.poll_export_job(create=lambda: 1, get_status=lambda r: {"state": 1},
                             download=lambda u: u, poll_interval_s=0.0, timeout_s=-1)


def test_export_request_payload_preserves_reference_options():
    # the reference's create-export body (feeder.py:52-84): 29 flags +
    # the injected counterId, defaults preserved verbatim
    body = json.loads(rest.export_request_payload(counter_id=77))
    assert body["counterId"] == 77
    assert len(body) == 30
    assert body["exportFormat"] == 2 and body["spssEncoding"] == 0
    assert body["dateFrom"] is None and body["dateTo"] is None
    true_flags = {k for k, v in body.items() if v is True}
    assert true_flags == {"exportLabelsAndCodeValues", "ignoreErrors",
                          "exportInterviewResult", "exportContactData",
                          "archiveSingleXlsxResultFile"}


def test_export_request_payload_flows_through_create():
    # a create-callable that POSTs the payload sees the full options
    # dict, and an override dict passes through untouched
    posted = []

    def create():
        posted.append(rest.export_request_payload(9, options={"exportFormat": 1}))
        return 1

    rest.poll_export_job(create=create,
                         get_status=lambda r: {"state": 3, "fileUrl": "u"},
                         download=lambda u: u, poll_interval_s=0.0)
    assert json.loads(posted[0]) == {"counterId": 9, "exportFormat": 1}


def test_poll_export_job_streams_log_tail():
    # reference behavior (feeder.py:107-111): each poll prints the last
    # non-empty server-log line while waiting for state 3
    states = iter([
        {"state": 1, "log": "started\n"},
        {"state": 2, "log": "started\nvalidating\n"},
        {"state": 3, "log": "started\nvalidating\ndone\n", "fileUrl": "u"},
    ])
    seen = []
    rest.poll_export_job(create=lambda: 1, get_status=lambda r: next(states),
                         download=lambda u: u, poll_interval_s=0.0,
                         on_log=seen.append)
    assert seen == ["started", "validating", "done"]


# ---------------------------------------------------------------------
# E114 JSONL source: declared schema, corrupt-record quarantine
# ---------------------------------------------------------------------

def _jsonl_fixture(tmp_path):
    good = ['{"doc_id": 1, "text": "alpha beta", "n": 3}',
            '{"doc_id": 2, "text": "gamma", "n": 5}']
    bad = ['{"doc_id": 3, "text": "unterminated',
           'not json at all']
    p1 = tmp_path / "shard-000.jsonl"
    p1.write_text("\n".join(good[:1] + bad[:1]) + "\n")
    p2 = tmp_path / "shard-001.jsonl"
    p2.write_text("\n".join(good[1:] + bad[1:]) + "\n")
    return str(tmp_path / "shard-*.jsonl")


def test_jsonl_declared_schema_and_quarantine(spark, tmp_path):
    from pyspark.sql.types import (IntegerType, LongType, StringType,
                                   StructField, StructType)
    from cati_database_feeder_spark.sources import jsonl
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType()),
                         StructField("n", IntegerType())])
    raw = jsonl.read_jsonl(spark, _jsonl_fixture(tmp_path), schema)
    try:
        good = jsonl.jsonl_good_rows(raw)
        assert sorted((r["doc_id"], r["text"], r["n"])
                      for r in good.collect()) == [
            (1, "alpha beta", 3), (2, "gamma", 5)]
        assert good.schema.fieldNames() == ["doc_id", "text", "n"]
        quarantined = {r["raw_line"] for r in
                       jsonl.jsonl_quarantine(raw).collect()}
        assert quarantined == {'{"doc_id": 3, "text": "unterminated',
                               'not json at all'}
        assert jsonl.jsonl_scan_report(raw) == {"good": 2, "corrupt": 2}
    finally:
        raw.unpersist()


def test_jsonl_type_mismatch_quarantines_line(spark, tmp_path):
    """A line that IS valid JSON but violates the declared schema
    (string where a long is declared) lands in quarantine, not as a
    silently-nulled row — the schema-drift guard."""
    from pyspark.sql.types import LongType, StructField, StructType
    from cati_database_feeder_spark.sources import jsonl
    p = tmp_path / "drift.jsonl"
    p.write_text('{"doc_id": 7}\n{"doc_id": "seven"}\n')
    raw = jsonl.read_jsonl(
        spark, str(p), StructType([StructField("doc_id", LongType())]))
    try:
        assert jsonl.jsonl_scan_report(raw) == {"good": 1, "corrupt": 1}
    finally:
        raw.unpersist()


def test_jsonl_rejects_reserved_column(spark):
    import pytest as _pytest
    from pyspark.sql.types import StringType, StructField, StructType
    from cati_database_feeder_spark.sources import jsonl
    with _pytest.raises(ValueError, match="corrupt column is appended"):
        jsonl.read_jsonl(spark, "/nonexistent", StructType(
            [StructField(jsonl.CORRUPT_COL, StringType())]))


def test_jsonl_schema_object_reusable_across_batches(spark, tmp_path):
    """read_jsonl must not mutate the caller's schema: the per-shard-
    batch pattern reuses one declared StructType across calls, and
    StructType.add() mutates in place — a second call on the same
    object used to raise the reserved-column ValueError."""
    from pyspark.sql.types import LongType, StructField, StructType
    from cati_database_feeder_spark.sources import jsonl
    p = tmp_path / "batch.jsonl"
    p.write_text('{"doc_id": 1}\n')
    schema = StructType([StructField("doc_id", LongType())])
    for _ in range(2):  # second call failed before the copy fix
        raw = jsonl.read_jsonl(spark, str(p), schema, persist=False)
        assert raw.count() == 1
    assert schema.fieldNames() == ["doc_id"]  # caller's object untouched


def test_jsonl_pinned_fixture_accounting(spark):
    """The registered jsonl_scan shard: 44 good / 6 corrupt lines,
    PERMISSIVE partial retention counted per bucket (the corrupt rows
    keep the fields that parsed), and the quarantine column holds the
    raw lines verbatim."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)
    from cati_database_feeder_spark import queryset
    from cati_database_feeder_spark.sources import jsonl
    path = queryset.ensure_jsonl_fixture()
    sch = StructType([StructField("doc_id", LongType()),
                      StructField("text", StringType()),
                      StructField("lang", StringType())])
    raw = jsonl.read_jsonl(spark, path, sch)
    try:
        assert jsonl.jsonl_scan_report(raw) == {"good": 44, "corrupt": 6}
        quarantined = {r["raw_line"] for r in
                       jsonl.jsonl_quarantine(raw).collect()}
        assert quarantined == set(jsonl._CORRUPT_LINES)
    finally:
        raw.unpersist()


def test_parquet_evolution_generation_accounting(spark):
    """E125: the merged-schema scan recovers the three pinned
    generations exactly — 10 rows with neither added column, 15 with
    lang only, 15 with both; NULL backfill never leaks across files
    (the fixture has no explicit nulls, so presence == generation)."""
    from cati_database_feeder_spark import queryset
    queryset.ensure_jsonl_fixture()
    rows = {(r["has_lang"], r["has_quality"]): r for r in
            queryset.QUERIES["parquet_evolution"](spark, "unused")
            .collect()}
    assert set(rows) == {(False, False), (True, False), (True, True)}
    assert rows[(False, False)]["n_rows"] == 10
    assert rows[(True, False)]["n_rows"] == 15
    assert rows[(True, True)]["n_rows"] == 15
    assert rows[(False, False)]["n_langs"] == 0
    assert rows[(True, False)]["sum_quality"] is None


def test_excel_fixture_writer_round_trip():
    """The OOXML writer and the dependency-free reader are exact
    inverses on the pinned fixture (typed numeric cells back as
    canonical strings, blanks as missing, Cyrillic/dotted headers
    intact), and the bytes are deterministic."""
    import pandas as pd
    got = {}
    for fname, rows in excel.excel_fixture_rows().items():
        b = excel.write_xlsx_bytes(excel.EXCEL_WAVE_COLUMNS, rows)
        assert b == excel.write_xlsx_bytes(excel.EXCEL_WAVE_COLUMNS, rows)
        frame = excel._read_xlsx_minimal(b)
        assert list(frame.columns) == excel.EXCEL_WAVE_COLUMNS
        got[fname] = [tuple(None if pd.isna(v) else v for v in r)
                      for r in frame.itertuples(index=False)]
    assert got == excel.excel_fixture_rows()


def test_excel_fixture_stale_content_rewritten(tmp_path):
    """ensure_excel_fixture byte-compares (the jsonl ensure_fixture
    discipline): a corrupted same-length file is rewritten, a
    pristine one is left alone (same mtime)."""
    d = excel.ensure_excel_fixture(str(tmp_path / "xl"))
    p = os.path.join(d, "wave1.xlsx")
    with open(p, "rb") as f:
        data = f.read()
    with open(p, "wb") as f:
        f.write(b"\0" * len(data))
    excel.ensure_excel_fixture(d)
    with open(p, "rb") as f:
        assert f.read() == data


def test_excel_scan_registered_query(spark):
    """The registered excel_scan: glob over one bare .xlsx + one
    zip-wrapped .xlsx, decoded through the real mapInPandas ladder,
    pivoted and renamed — every pinned cell recovered, blanks NULL,
    zero decode errors in the accounting twin."""
    from cati_database_feeder_spark import queryset
    wide = queryset.QUERIES["excel_scan"](spark, "unused").collect()
    by_key = {(r["file"], r["row_idx"]): r for r in wide}
    assert len(by_key) == 7
    r = by_key[("wave1.xlsx", 2)]
    assert (r["respondent_code"], r["status"], r["quota"]) == \
        ("103", "Комплит", "8.25")
    assert by_key[("wave1.xlsx", 1)]["comment"] is None
    assert by_key[("wave2.zip", 0)]["comment"] == "строка из архива"
    rep = {r["file"]: r for r in
           queryset.QUERIES["excel_scan_report"](spark, "unused")
           .collect()}
    assert rep["wave1.xlsx"]["n_rows"] == 4
    assert rep["wave2.zip"]["n_rows"] == 3
    assert all(r["n_errors"] == 0 and r["n_cols"] == 5
               for r in rep.values())
    assert rep["wave1.xlsx"]["n_blank"] == 1


# ---------------------------------------------------------------------
# CSV source (E126): pinned fixture + PERMISSIVE declared-schema scan
# ---------------------------------------------------------------------

def test_csv_fixture_stale_content_rewritten(tmp_path):
    """ensure_csv_fixture compares BYTES, not size: a same-length
    corruption is rewritten (the ADVICE class the jsonl fixture fixed
    in round 13)."""
    from cati_database_feeder_spark.sources import csvfile
    p = str(tmp_path / "f" / "csv_scan.csv")
    csvfile.ensure_csv_fixture(p)
    with open(p, "rb") as f:
        data = f.read()
    with open(p, "wb") as f:
        f.write(b"\0" * len(data))
    csvfile.ensure_csv_fixture(p)
    with open(p, "rb") as f:
        assert f.read() == data


def test_csv_scan_reader_contract(spark, tmp_path):
    """The PERMISSIVE CSV reader pins: RFC 4180 doubled quotes decode
    (escape='\"'), embedded delimiter survives quoting, bare empty ->
    NULL, and a type-corrupt cell quarantines the raw line while the
    row's parseable cells are retained — never a silent zero-out."""
    from cati_database_feeder_spark.sources.csvfile import (
        CORRUPT_COL, ensure_csv_fixture, read_csv_report)
    p = ensure_csv_fixture(str(tmp_path / "csv_scan.csv"))
    rows = {r["respondent_code"]: r
            for r in read_csv_report(spark, p).collect()}
    assert rows[102]["comment"] == "has, comma"
    assert rows[103]["comment"] == 'quoted "word" inside'
    assert rows[103]["quota"] is None
    assert rows[104]["score"] is None and rows[104]["comment"] is None
    bad = rows[105]
    assert bad[CORRUPT_COL] == (
        "105,complete,09.03.2024,not_a_number,1.5,trailing")
    assert bad["quota"] is None and bad["score"] == 1.5
    assert rows[106]["comment"] == "  padded  "
    assert sum(r[CORRUPT_COL] is not None for r in rows.values()) == 1


# ---------------------------------------------------------------------
# Fixed-width source (E148): character-position layout over real bytes
# ---------------------------------------------------------------------

def test_fixedwidth_fixture_stale_content_rewritten(tmp_path):
    """ensure_fixture compares BYTES: a same-length corruption is
    rewritten, a pristine file left alone."""
    from cati_database_feeder_spark.sources import fixedwidth
    p = str(tmp_path / "f" / "fw.txt")
    fixedwidth.ensure_fixture(p)
    with open(p, "rb") as f:
        data = f.read()
    with open(p, "wb") as f:
        f.write(b"\0" * len(data))
    fixedwidth.ensure_fixture(p)
    with open(p, "rb") as f:
        assert f.read() == data


def test_fixedwidth_reader_contract(spark, tmp_path):
    """Character-position slicing: right-aligned numerics trim+cast,
    all-blank fields are NULL (not 0 / ''), trailing-padded and
    multibyte Cyrillic text slice by CHARACTER count, and a comment
    that itself ends in spaces comes back rtrimmed (the layout cannot
    distinguish payload spaces from padding — documented contract)."""
    from cati_database_feeder_spark.sources.fixedwidth import (
        ensure_fixture, read_fixedwidth)
    p = ensure_fixture(str(tmp_path / "fw.txt"))
    rows = {r["respondent_code"]: r
            for r in read_fixedwidth(spark, p).collect()}
    assert rows[201]["score"] == 4.5
    assert rows[202]["comment"] == "Бланк анкеты"
    assert rows[203]["quota"] is None and rows[203]["score"] is None
    assert rows[203]["comment"] == "padded"
    assert rows[204]["comment"] is None
    assert rows[205]["comment"] == "кв. 7, дом 9"
    assert rows[205]["quota"] == 8


def test_fixedwidth_overwide_value_fails_loud():
    """The fixture writer refuses a value wider than its field —
    truncation would silently corrupt the pinned contract."""
    import pytest as _pytest
    from cati_database_feeder_spark.sources.fixedwidth import _pad
    with _pytest.raises(ValueError):
        _pad("x" * 7, 6)


# ---------------------------------------------------------------------
# ORC source (E149): pinned rows through Spark's native ORC writer
# ---------------------------------------------------------------------

def test_orc_fixture_marker_staleness(spark, tmp_path):
    """The marker-file freshness contract: a matching rows-hash skips
    the rewrite; a mutated marker (≈ edited ORC_ROWS) forces one."""
    from cati_database_feeder_spark.sources import orcfile
    d = str(tmp_path / "orc")
    orcfile.ensure_orc_fixture(spark, d)
    files = sorted(os.listdir(d))
    m0 = os.path.getmtime(os.path.join(d, "_ROWS_MD5"))
    orcfile.ensure_orc_fixture(spark, d)
    assert os.path.getmtime(os.path.join(d, "_ROWS_MD5")) == m0
    assert sorted(os.listdir(d)) == files
    with open(os.path.join(d, "_ROWS_MD5"), "w") as f:
        f.write("0" * 32 + "\n")
    orcfile.ensure_orc_fixture(spark, d)
    with open(os.path.join(d, "_ROWS_MD5")) as f:
        assert f.read().strip() == orcfile._rows_hash()


def test_orc_typed_round_trip(spark, tmp_path):
    """Every pinned value — bigint, Cyrillic varchar, binary-exact
    double, boolean, NULL — survives the ORC write/read round trip
    through the native vectorized reader."""
    from cati_database_feeder_spark.sources import orcfile
    d = orcfile.ensure_orc_fixture(spark, str(tmp_path / "orc"))
    got = sorted((tuple(r) for r in
                  orcfile.read_orc(spark, d).collect()))
    assert got == sorted(orcfile.ORC_ROWS)


# ---------------------------------------------------------------------
# XML source (E168): native Spark 4 reader, declared schema
# ---------------------------------------------------------------------

def test_xml_fixture_stale_content_rewritten(tmp_path):
    from cati_database_feeder_spark.sources import xmlfile
    p = str(tmp_path / "f" / "x.xml")
    xmlfile.ensure_xml_fixture(p)
    with open(p, "rb") as f:
        data = f.read()
    with open(p, "wb") as f:
        f.write(b"\0" * len(data))
    xmlfile.ensure_xml_fixture(p)
    with open(p, "rb") as f:
        assert f.read() == data


def test_xml_reader_contract(spark, tmp_path):
    """Declared-schema XML: missing optional elements are NULL (the
    reference's row.get semantics), Cyrillic survives, doubles typed
    per the declared schema — never inference."""
    from cati_database_feeder_spark.sources.xmlfile import (
        ensure_xml_fixture, read_xml)
    p = ensure_xml_fixture(str(tmp_path / "x.xml"))
    rows = {r["id"]: r for r in read_xml(spark, p).collect()}
    assert rows[1]["note"] == "первый" and rows[1]["score"] == 4.5
    assert rows[2]["note"] is None
    assert rows[4]["score"] is None and rows[4]["status"] == "refused"
    assert rows[5]["score"] == 4.125
