import pytest

from cati_database_feeder_spark.session import get_session

SF_DIR = "/root/testdata/sf0.001"

# Fast/slow lanes (round-10 verdict item 8): the full suite is ~30 min
# on a builder-class box and grows with every e2e/crash/streaming
# test, which degrades the per-commit feedback loop — not the tests.
# The SLOW lane is the modules dominated by multi-batch ingest e2e,
# streaming micro-batch twins, crash/concurrency fences — and, since
# round 12, the dual-SF scaling measurements and the heavy dedup
# property sweeps (measured r12 on a mid-speed shared box: fast lane
# 25m45s with them, test_dedup_similarity 4m24 + test_scale 2m12
# standalone; the remaining fast lane is dominated by the 185-query
# oracle gate at 6m39, which IS the per-commit correctness value and
# stays). Run `pytest -m fast` per commit, the full suite before a
# round close. Every test is in exactly one lane; `pytest` with no
# marker runs both.
_SLOW_MODULES = {"test_incremental_e2e", "test_streaming",
                 "test_scale", "test_dedup_similarity"}


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: ingest e2e / streaming twins / crash fences")
    config.addinivalue_line(
        "markers", "fast: oracle gate + units + properties + plan pins")


def pytest_collection_modifyitems(config, items):
    for item in items:
        # a test that chose its own lane (the oracle gate demotes
        # current-round-green queries to slow — test_oracle_gate.py)
        # keeps it; everything else is assigned by module
        if item.get_closest_marker("slow") or \
                item.get_closest_marker("fast"):
            continue
        mod = item.module.__name__.rsplit(".", 1)[-1]
        lane = "slow" if mod in _SLOW_MODULES else "fast"
        item.add_marker(getattr(pytest.mark, lane))


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def make_xlsx(header, rows):
    """Minimal hand-built xlsx (zip of OOXML parts, inline strings) so
    Excel-decode tests run without openpyxl. Returns the file bytes."""
    import io
    import zipfile
    from xml.sax.saxutils import escape

    def row_xml(r_idx, values):
        cells = []
        for c_idx, v in enumerate(values):
            col = ""
            n = c_idx
            while True:
                col = chr(65 + n % 26) + col
                n = n // 26 - 1
                if n < 0:
                    break
            cells.append(
                f'<c r="{col}{r_idx}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>')
        return f'<row r="{r_idx}">{"".join(cells)}</row>'

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             f'<worksheet xmlns="{ns}"><sheetData>'
             + row_xml(1, header)
             + "".join(row_xml(i + 2, r) for i, r in enumerate(rows))
             + "</sheetData></worksheet>")
    ct = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
          '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
          '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
          '<Default Extension="xml" ContentType="application/xml"/>'
          '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
          '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
          '</Types>')
    rels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>')
    wb = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
          f'<workbook xmlns="{ns}" '
          'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
          '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>')
    wb_rels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
               '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
               '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
               '</Relationships>')
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", ct)
        zf.writestr("_rels/.rels", rels)
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    return buf.getvalue()
