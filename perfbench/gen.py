"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, ...)``: the same seed gives
byte-identical files. The program under test only ever sees the files
written here; the expected outcomes the checks compare against come from
the same generated records, never from the program.
"""

from __future__ import annotations

import io
import os
import random
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# survey_load: CATI export workbooks
# --------------------------------------------------------------------------

# The export columns the reference feeder reads (feeder.py:184-225),
# dotted ``Q3.1``-style headers included. DB_Rew and Reward are absent
# on purpose, as in real waves, so the optional-column path runs.
SURVEY_COLUMNS = [
    "ID", "Phone", "Result", "IVDate1", "ExtID", "DB_RegionName",
    "DB_OperatorName", "DB_Region", "DB_Operator", "DB_CallIntervalBegin",
    "DB_CallIntervalEnd", "DB_TimeDifference", "Q3_label", "Q3.1",
    "Q3.1_label", "Q3.2", "Q3.2_label", "S_SEX", "S_SEX_label", "Q2", "AGE",
    "S_AGE_label", "Q9.1", "Q10", "Q11", "Q11_label", "Q11_8T", "QREGION",
    "QREGION_label", "Q4", "Q4_label", "DB_Reward", "d2006_label",
    "d2003_label", "d2005_label", "q84_label",
]

SURVEY_ROWS_PER_WAVE = 240      # split over one .xlsx and one .zip
SURVEY_REJECT_SHARE = 0.10      # Result == "Брак"
SURVEY_LOADED_SHARE = 0.20      # phones already in the target table
SURVEY_OVER_RANGE_SHARE = 0.05  # AGE above the smallint maximum
SURVEY_LONG_NAME_SHARE = 0.05   # Q2 longer than the 100-char column
SURVEY_BACKFILL_SHARE = 0.25    # committed ids the q5010 backfill updates

_RESULTS = ["Полное", "Прервано", "Отказ"]
_REGIONS = ["Москва", "Санкт-Петербург", "Казань", "Новосибирск", "Екатеринбург"]
_OPERATORS = ["МТС", "Билайн", "МегаФон", "Tele2"]
_SYLLABLES = ["ан", "на", "ко", "ва", "ми", "ла", "ре", "то", "ся", "ин"]


def _ru_name(rng: random.Random, n_syl: int) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(n_syl)).capitalize()


def survey_wave_records(seed: int, wave: int) -> list[dict]:
    """The rows of one wave as generated, before any file encoding.

    Each record carries the export cells (strings, as a workbook holds
    them) plus generator-side truth: whether its phone is already loaded
    and the q5010 value a backfill would set (None when not backfilled).
    """
    rng = random.Random(f"survey:{seed}:{wave}")
    rows = []
    for i in range(SURVEY_ROWS_PER_WAVE):
        rid = wave * 100_000 + i + 1
        u = rng.random()
        result = "Брак" if u < SURVEY_REJECT_SHARE else rng.choice(_RESULTS)
        day, month = rng.randint(1, 28), rng.randint(1, 12)
        hh, mm, ss = rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59)
        age = (rng.randint(32_768, 60_000) if rng.random() < SURVEY_OVER_RANGE_SHARE
               else rng.randint(18, 90))
        name = " ".join(_ru_name(rng, rng.randint(2, 4)) for _ in range(3))
        if rng.random() < SURVEY_LONG_NAME_SHARE:
            name = (name + " ") * (100 // len(name) + 2)
        region = rng.randrange(len(_REGIONS))
        oper = rng.randrange(len(_OPERATORS))
        q31, q32, q11 = rng.randint(1, 5), rng.randint(1, 3), rng.randint(1, 11)
        sex = rng.randint(1, 2)
        cells = {
            "ID": str(rid),
            "Phone": str(79_000_000_000 + wave * 1_000_000 + rng.randrange(10**6)),
            "Result": result,
            "IVDate1": f"{day:02d}.{month:02d}.2024 {hh:02d}:{mm:02d}:{ss:02d}",
            "ExtID": f"ext-{rid}",
            "DB_RegionName": _REGIONS[region],
            "DB_OperatorName": _OPERATORS[oper],
            "DB_Region": str(region + 1),
            "DB_Operator": str(oper + 1),
            "DB_CallIntervalBegin": "09:00",
            "DB_CallIntervalEnd": "21:00",
            "DB_TimeDifference": str(rng.randint(-1, 9)),
            "Q3_label": f"вопрос {rng.randint(1, 9)}",
            "Q3.1": str(q31),
            "Q3.1_label": f"ответ {q31}",
            "Q3.2": str(q32),
            "Q3.2_label": f"вариант {q32}",
            "S_SEX": str(sex),
            "S_SEX_label": "Мужской" if sex == 1 else "Женский",
            "Q2": name,
            "AGE": str(age),
            "S_AGE_label": f"{(age // 10) * 10}+",
            "Q9.1": str(rng.randint(0, 3)),
            "Q10": str(rng.randint(0, 9)),
            "Q11": str(q11),
            "Q11_label": f"доход {q11}",
            "Q11_8T": f"t-{rng.randint(0, 12)}",
            "QREGION": str(rng.randint(1, 83)),
            "QREGION_label": _REGIONS[region],
            "Q4": str(oper + 1),
            "Q4_label": _OPERATORS[oper],
            "DB_Reward": f"{rng.randint(0, 50000) / 4:.2f}",
            "d2006_label": f"город {rng.randint(1, 40)}",
            "d2003_label": f"образование {rng.randint(1, 5)}",
            "d2005_label": f"работа {rng.randint(1, 6)}",
            "q84_label": f"доход {rng.randint(1, 7)}",
        }
        rows.append({
            "cells": cells,
            "loaded": rng.random() < SURVEY_LOADED_SHARE,
            "q5010": rng.randint(1, 99) if rng.random() < SURVEY_BACKFILL_SHARE else None,
        })
    # phones are unique within a wave: the anti-join key must not collide
    seen: set[str] = set()
    for r in rows:
        while r["cells"]["Phone"] in seen:
            r["cells"]["Phone"] = str(int(r["cells"]["Phone"]) + 1)
        seen.add(r["cells"]["Phone"])
    return rows


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _col_letter(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(65 + rem) + out
    return out


def _is_number(s: str) -> bool:
    try:
        float(s)
    except ValueError:
        return False
    return True


_OOXML_MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_OOXML_REL = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_PKG_REL = "http://schemas.openxmlformats.org/package/2006/relationships"
_XML_HEAD = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'


def xlsx_bytes(header: list[str], rows: list[list[str]]) -> bytes:
    """A one-sheet .xlsx: number-shaped cells as numeric cells, the rest
    as inline strings. Fixed member order and timestamps, so the bytes
    depend only on the cell values."""
    body = []
    for rn, vals in enumerate([header] + rows, start=1):
        cells = []
        for cn, v in enumerate(vals):
            ref = f"{_col_letter(cn)}{rn}"
            if rn > 1 and _is_number(v):
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                cells.append(f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                             f'{_xml_escape(v)}</t></is></c>')
        body.append(f'<row r="{rn}">{"".join(cells)}</row>')
    sheet = (f'{_XML_HEAD}<worksheet xmlns="{_OOXML_MAIN}"><sheetData>'
             + "".join(body) + "</sheetData></worksheet>")
    members = [
        ("[Content_Types].xml",
         f'{_XML_HEAD}<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
         'content-types"><Default Extension="rels" ContentType="application/'
         'vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" '
         'ContentType="application/xml"/><Override PartName="/xl/workbook.xml" '
         'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.'
         'sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" '
         'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.'
         'worksheet+xml"/></Types>'),
        ("_rels/.rels",
         f'{_XML_HEAD}<Relationships xmlns="{_PKG_REL}"><Relationship Id="rId1" '
         f'Type="{_OOXML_REL}/officeDocument" Target="xl/workbook.xml"/></Relationships>'),
        ("xl/workbook.xml",
         f'{_XML_HEAD}<workbook xmlns="{_OOXML_MAIN}" xmlns:r="{_OOXML_REL}"><sheets>'
         '<sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'),
        ("xl/_rels/workbook.xml.rels",
         f'{_XML_HEAD}<Relationships xmlns="{_PKG_REL}"><Relationship Id="rId1" '
         f'Type="{_OOXML_REL}/worksheet" Target="worksheets/sheet1.xml"/></Relationships>'),
        ("xl/worksheets/sheet1.xml", sheet),
    ]
    return _zip_bytes([(name, text.encode("utf-8")) for name, text in members])


def _zip_bytes(members: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members:
            zf.writestr(zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0)), data)
    return buf.getvalue()


def write_survey_wave(seed: int, wave: int, dirpath: str) -> list[dict]:
    """Land one wave's export as two files under ``dirpath``: the first
    half of the rows as a bare ``.xlsx``, the second half as a ``.zip``
    whose first member is the workbook (the reference's download shape).
    Returns the wave's records."""
    records = survey_wave_records(seed, wave)
    table = [[r["cells"][c] for c in SURVEY_COLUMNS] for r in records]
    half = len(table) // 2
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, f"wave{wave:03d}_a.xlsx"), "wb") as f:
        f.write(xlsx_bytes(SURVEY_COLUMNS, table[:half]))
    inner = xlsx_bytes(SURVEY_COLUMNS, table[half:])
    with open(os.path.join(dirpath, f"wave{wave:03d}_b.zip"), "wb") as f:
        f.write(_zip_bytes([(f"export_w{wave:03d}.xlsx", inner)]))
    return records


# --------------------------------------------------------------------------
# corpus_dedup: documents with planted near-dup clusters
# --------------------------------------------------------------------------

DOC_TOKENS = 40
CORPUS_VOCAB = 50_000
CORPUS_CLUSTER_SHARE = 0.30   # share of docs that are near-dup variants
CORPUS_EXACT_SHARE = 0.10     # share of docs that are exact copies
CORPUS_MAX_EDITS = 4          # a variant replaces 1..4 of its base's 40 tokens


def corpus_records(seed: int, n_docs: int) -> list[dict]:
    """Documents as (doc_id, text, score, cluster). Base documents draw
    40 distinct tokens; a near-dup variant replaces 1..4 tokens of a base
    (Jaccard 0.82-0.95), an exact copy repeats a base's text. ``cluster``
    is the base's id for planted members and None for singletons."""
    rng = random.Random(f"corpus:{seed}:{n_docs}")
    n_variants = int(n_docs * CORPUS_CLUSTER_SHARE)
    n_copies = int(n_docs * CORPUS_EXACT_SHARE)
    n_bases = n_docs - n_variants - n_copies
    docs: list[dict] = []
    for i in range(n_bases):
        toks = rng.sample(range(CORPUS_VOCAB), DOC_TOKENS)
        docs.append({"toks": toks, "cluster": None})
    hubs = rng.sample(range(n_bases), max(1, n_variants // 3))
    for _ in range(n_variants):
        b = rng.choice(hubs)
        base = docs[b]["toks"]
        toks = list(base)
        for pos in rng.sample(range(DOC_TOKENS), rng.randint(1, CORPUS_MAX_EDITS)):
            toks[pos] = CORPUS_VOCAB + rng.randrange(10 * CORPUS_VOCAB)
        docs[b]["cluster"] = b
        docs.append({"toks": toks, "cluster": b})
    for _ in range(n_copies):
        b = rng.choice(hubs)
        docs[b]["cluster"] = b
        docs.append({"toks": list(docs[b]["toks"]), "cluster": b})
    order = list(range(len(docs)))
    rng.shuffle(order)
    out = []
    for new_id, old in enumerate(order):
        d = docs[old]
        out.append({"doc_id": new_id + 1,
                    "text": " ".join(f"t{t}" for t in d["toks"]),
                    "score": round(rng.random(), 3),
                    "cluster": d["cluster"]})
    return out


def write_corpus(records: list[dict], path: str) -> None:
    table = pa.table({
        "doc_id": pa.array([r["doc_id"] for r in records], pa.int64()),
        "text": pa.array([r["text"] for r in records], pa.string()),
        "score": pa.array([r["score"] for r in records], pa.float64()),
    })
    pq.write_table(table, path)


# --------------------------------------------------------------------------
# vector_topk: clustered float32 embeddings
# --------------------------------------------------------------------------

VEC_DIM = 64
VEC_CLUSTERS = 24
VEC_CELLS = 16
VEC_NOISE = 0.35
QUERY_NOISE = 0.10


def vector_data(seed: int, n_vecs: int, n_queries: int):
    """(vectors float32 [n, 64], cells [(cell, centroid)], queries float32).
    Vectors scatter around 24 Gaussian cluster centres; the 16 IVF
    centroids are a seeded sample of the vectors themselves; each query
    perturbs a random corpus vector."""
    rng = np.random.default_rng([seed, 7, n_vecs])
    centres = rng.normal(size=(VEC_CLUSTERS, VEC_DIM))
    member = rng.integers(0, VEC_CLUSTERS, size=n_vecs)
    vecs = (centres[member] + VEC_NOISE * rng.normal(size=(n_vecs, VEC_DIM))).astype(np.float32)
    picks = rng.choice(n_vecs, size=VEC_CELLS, replace=False)
    cells = [(int(c), [float(x) for x in vecs[p]]) for c, p in enumerate(picks)]
    src = rng.integers(0, n_vecs, size=n_queries)
    queries = (vecs[src] + QUERY_NOISE * rng.normal(size=(n_queries, VEC_DIM))).astype(np.float32)
    return vecs, cells, queries


def write_vectors(vecs: np.ndarray, path: str, id_name: str, vec_name: str) -> None:
    pq.write_table(pa.table({
        id_name: pa.array(np.arange(len(vecs), dtype=np.int64)),
        vec_name: pa.array(list(vecs), pa.list_(pa.float32())),
    }), path)
