"""Independent correctness checks, in plain Python and numpy.

Each check recomputes the expected outcome from the generator's records
and compares it with what the program committed. None of them calls the
program's modules. A check returns a list of problems; empty means pass.
"""

from __future__ import annotations

from datetime import datetime

import numpy as np

SMALLINT_MAX = 32767
JACCARD_TOL = 1e-6
COSINE_TOL = 1e-5

# --------------------------------------------------------------------------
# survey_load
# --------------------------------------------------------------------------

# target column -> (export column, kind); kind says how the feeder maps it
SURVEY_TARGET = [
    ("STATUS", "Result", "status"), ("PHONE", "Phone", "str"),
    ("RESULT", "Result", "str"), ("EXT_ID", "ExtID", "str"),
    ("REGION_NAME", "DB_RegionName", "str"), ("OPERATOR_NAME", "DB_OperatorName", "str"),
    ("REGION", "DB_Region", "int"), ("OPERATOR", "DB_Operator", "int"),
    ("CALL_INTERVAL_BEGIN", "DB_CallIntervalBegin", "str"),
    ("CALL_INTERVAL_END", "DB_CallIntervalEnd", "str"),
    ("TIME_DIFFERENCE", "DB_TimeDifference", "int"), ("Q3_LABEL", "Q3_label", "str"),
    ("Q3_1", "Q3.1", "int"), ("Q3_1_LABEL", "Q3.1_label", "str"),
    ("Q3_2", "Q3.2", "int"), ("Q3_2_LABEL", "Q3.2_label", "str"),
    ("S_SEX", "S_SEX", "int"), ("S_SEX_LABEL", "S_SEX_label", "str"),
    ("NAME_REC", "Q2", "name"), ("AGE_REC1", "AGE", "age"),
    ("AGE_REC2", "S_AGE_label", "str"), ("Q9_1", "Q9.1", "int"),
    ("Q10", "Q10", "int"), ("Q11", "Q11", "int"), ("Q11_LABEL", "Q11_label", "str"),
    ("Q11_8T", "Q11_8T", "str"), ("Q_REGION", "QREGION", "int"),
    ("Q_REGION_LABEL", "QREGION_label", "str"), ("Q_OPER_CODE", "Q4", "int"),
    ("Q_OPER_NAME", "Q4_label", "str"), ("DB_REWARD", "DB_Reward", "float"),
    ("DB_REW", None, "null"), ("REWARD", None, "null"),
    ("Q_CITY", "d2006_label", "str"), ("Q_OBRAZOVANIE", "d2003_label", "str"),
    ("Q_RABOTA", "d2005_label", "str"), ("Q_DOHOD", "q84_label", "str"),
    ("IV_DATE", "IVDate1", "date"),
]


def _map_cell(kind: str, v):
    if kind == "str":
        return v
    if kind == "int":
        return int(v)
    if kind == "float":
        return float(v)
    if kind == "null":
        return None
    if kind == "status":
        return "Комплит" if v == "Полное" else "Прервано"
    if kind == "name":
        return v[:100]
    if kind == "age":
        return min(int(v), SMALLINT_MAX)
    if kind == "date":
        return datetime.strptime(v, "%d.%m.%Y %H:%M:%S").strftime("%Y-%m-%d")
    raise ValueError(kind)


def expected_survey_rows(records: list[dict], wave: int) -> dict[int, dict]:
    """id -> target row after reject, anti-join, clamp, truncate, date
    reformat and the q5010 backfill, for one wave."""
    out = {}
    for r in records:
        cells = r["cells"]
        if cells["Result"] == "Брак" or r["loaded"]:
            continue
        rid = int(cells["ID"])
        row = {"ID": rid, "WAVE": wave, "Q5010": r["q5010"]}
        for col, src, kind in SURVEY_TARGET:
            row[col] = _map_cell(kind, cells[src] if src else None)
        out[rid] = row
    return out


def check_survey_wave(expected: dict[int, dict], committed: list[dict]) -> list[str]:
    problems = []
    got: dict[int, dict] = {}
    for row in committed:
        if row["ID"] in got:
            problems.append(f"id {row['ID']} committed twice")
        got[row["ID"]] = row
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    if missing:
        problems.append(f"{len(missing)} expected rows missing, e.g. id {min(missing)}")
    if extra:
        problems.append(f"{len(extra)} unexpected rows, e.g. id {min(extra)}")
    for rid in sorted(expected.keys() & got.keys()):
        exp, row = expected[rid], got[rid]
        bad = [c for c in exp if row.get(c) != exp[c]]
        if bad:
            problems.append(f"id {rid}: columns {bad[:4]} differ, e.g. "
                            f"{bad[0]}={row.get(bad[0])!r} expected {exp[bad[0]]!r}")
            if len(problems) > 5:
                break
    return problems


# --------------------------------------------------------------------------
# corpus_dedup
# --------------------------------------------------------------------------


def token_sets(records: list[dict]) -> dict[int, frozenset]:
    return {r["doc_id"]: frozenset(r["text"].split()) for r in records}


def jaccard(a: frozenset, b: frozenset) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def set_groups(sets: dict[int, frozenset]) -> dict[int, int]:
    """doc id -> smallest id with the identical token set."""
    first: dict[frozenset, int] = {}
    for i in sorted(sets):
        first.setdefault(sets[i], i)
    return {i: first[s] for i, s in sets.items()}


def check_rep_pairs(sets: dict[int, frozenset], gid: dict[int, int],
                    pairs: list[tuple[int, int, float]], threshold: float) -> list[str]:
    problems = []
    seen = set()
    for a, b, j in pairs:
        if gid[a] != a or gid[b] != b:
            problems.append(f"pair ({a},{b}) is not between set representatives")
        key = (min(a, b), max(a, b))
        if key in seen:
            problems.append(f"pair {key} emitted twice")
        seen.add(key)
        truth = jaccard(sets[a], sets[b])
        if abs(j - truth) > JACCARD_TOL:
            problems.append(f"pair {key}: jaccard {j} != recomputed {truth:.9f}")
        if j < threshold:
            problems.append(f"pair {key}: jaccard {j} below threshold {threshold}")
        if len(problems) > 5:
            break
    return problems


def expected_labels(gid: dict[int, int], pairs: list[tuple[int, int, float]]) -> dict[int, int]:
    """Union-find over the verified set-representative pairs plus one edge
    from every member of a multi-member set group to its representative:
    node -> smallest id in its component, for every node on an edge."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b, _ in pairs:
        union(a, b)
    for i, g in gid.items():
        if i != g:
            union(i, g)
    return {x: find(x) for x in parent}


def check_keep_list(rows: list[tuple[int, int, int, bool]], labels: dict[int, int],
                    scores: dict[int, float]) -> list[str]:
    """Each labelled doc appears once with its component; each component
    keeps exactly one survivor — its highest score, ties to the smallest id."""
    problems = []
    ids = [r[0] for r in rows]
    if len(ids) != len(set(ids)):
        problems.append("a document carries more than one label")
    got = {r[0]: r for r in rows}
    if got.keys() != labels.keys():
        problems.append(f"labelled docs differ: {len(got)} emitted, {len(labels)} expected")
        return problems
    members: dict[int, list[int]] = {}
    for doc, comp in labels.items():
        members.setdefault(comp, []).append(doc)
        if got[doc][1] != comp:
            problems.append(f"doc {doc}: component {got[doc][1]} expected {comp}")
            return problems
    for comp, docs in members.items():
        best = min(docs, key=lambda d: (-scores[d], d))
        kept = [d for d in docs if got[d][3]]
        if kept != [best] or any(got[d][2] != best for d in docs):
            problems.append(f"component {comp}: kept {kept}, expected [{best}]")
            if len(problems) > 5:
                break
    return problems


def planted_recall(records: list[dict], sets: dict[int, frozenset], gid: dict[int, int],
                   pairs: list[tuple[int, int, float]], threshold: float) -> tuple[int, int]:
    """(found, planted): planted pairs are pairs of one generated cluster
    whose true Jaccard is at or above the threshold; one is found when both
    docs share a token set or their representatives form a verified pair."""
    verified = {(min(a, b), max(a, b)) for a, b, _ in pairs}
    clusters: dict[int, list[int]] = {}
    for r in records:
        if r["cluster"] is not None:
            clusters.setdefault(r["cluster"], []).append(r["doc_id"])
    found = planted = 0
    for docs in clusters.values():
        for i, x in enumerate(docs):
            for y in docs[i + 1:]:
                if jaccard(sets[x], sets[y]) < threshold:
                    continue
                planted += 1
                gx, gy = gid[x], gid[y]
                if gx == gy or (min(gx, gy), max(gx, gy)) in verified:
                    found += 1
    return found, planted


# --------------------------------------------------------------------------
# vector_topk
# --------------------------------------------------------------------------


def unit_rows(m: np.ndarray) -> np.ndarray:
    m = m.astype(np.float64)
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def exact_topk(corpus_unit: np.ndarray, q_unit: np.ndarray, k: int) -> np.ndarray:
    sims = q_unit @ corpus_unit.T
    return np.argsort(-sims, axis=1, kind="stable")[:, :k]


def check_topk(rows: list[tuple[int, int, float, int]], q_ids: list[int],
               corpus_unit: np.ndarray, q_unit_by_id: dict[int, np.ndarray],
               exact_by_id: dict[int, np.ndarray], k: int) -> tuple[list[str], int]:
    """Exactly ``k`` results per query, ranks 1..k, each score equal to the
    numpy cosine within 1e-5. Returns (problems, hits against exact top-k)."""
    problems = []
    per_q: dict[int, list[tuple[int, float, int]]] = {q: [] for q in q_ids}
    for q, vid, cos, rank in rows:
        if q not in per_q:
            problems.append(f"result for unknown query {q}")
            continue
        per_q[q].append((vid, cos, rank))
    hits = 0
    for q, res in per_q.items():
        if len(res) != k or sorted(r[2] for r in res) != list(range(1, k + 1)):
            problems.append(f"query {q}: {len(res)} results, expected {k}")
            continue
        vids = np.array([r[0] for r in res])
        truth = corpus_unit[vids] @ q_unit_by_id[q]
        err = np.abs(truth - np.array([r[1] for r in res]))
        if err.max() > COSINE_TOL:
            problems.append(f"query {q}: cosine off by {err.max():.2e}")
        hits += len(set(vids.tolist()) & set(exact_by_id[q].tolist()))
        if len(problems) > 5:
            break
    return problems, hits
