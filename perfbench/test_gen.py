"""The generators are pure functions of the seed.

    python3 -m pytest perfbench/test_gen.py -q -m ""
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def _write_all(seed: int, root: str) -> None:
    gen.write_survey_wave(seed, 3, os.path.join(root, "landing"))
    gen.write_corpus(gen.corpus_records(seed, 300), os.path.join(root, "corpus.parquet"))
    vecs, _, queries = gen.vector_data(seed, 500, 32)
    gen.write_vectors(vecs, os.path.join(root, "vectors.parquet"), "vec_id", "embedding")
    gen.write_vectors(queries, os.path.join(root, "queries.parquet"), "q_id", "q_vec")


def test_same_seed_gives_identical_bytes(tmp_path):
    _write_all(7, str(tmp_path / "a"))
    _write_all(7, str(tmp_path / "b"))
    a, b = _tree_bytes(str(tmp_path / "a")), _tree_bytes(str(tmp_path / "b"))
    assert len(a) == 5 and a == b


def test_other_seed_gives_other_bytes(tmp_path):
    _write_all(7, str(tmp_path / "a"))
    _write_all(8, str(tmp_path / "b"))
    a, b = _tree_bytes(str(tmp_path / "a")), _tree_bytes(str(tmp_path / "b"))
    assert all(a[k] != b[k] for k in a)


def test_survey_wave_has_the_stated_shapes():
    recs = gen.survey_wave_records(1, 2)
    cells = [r["cells"] for r in recs]
    assert len({c["Phone"] for c in cells}) == len(cells)
    assert any(c["Result"] == "Брак" for c in cells)
    assert any(r["loaded"] for r in recs)
    assert any(int(c["AGE"]) > checks.SMALLINT_MAX for c in cells)
    assert any(len(c["Q2"]) > 100 for c in cells)
    expected = checks.expected_survey_rows(recs, 2)
    assert 0 < len(expected) < len(recs)
    assert all(row["AGE_REC1"] <= checks.SMALLINT_MAX for row in expected.values())


def test_corpus_plants_exact_and_near_duplicates():
    recs = gen.corpus_records(1, 1000)
    sets = checks.token_sets(recs)
    gid = checks.set_groups(sets)
    assert sum(1 for i, g in gid.items() if i != g) >= 0.9 * 1000 * gen.CORPUS_EXACT_SHARE
    found, planted = checks.planted_recall(recs, sets, gid, [], 0.7)
    assert planted > found > 0  # exact copies only, before any near-dup pair


def test_vector_queries_stay_near_the_corpus():
    vecs, cells, queries = gen.vector_data(1, 400, 20)
    assert vecs.dtype == np.float32 and vecs.shape == (400, gen.VEC_DIM)
    assert len(cells) == gen.VEC_CELLS
    top = checks.exact_topk(checks.unit_rows(vecs), checks.unit_rows(queries), 1)
    sims = np.sum(checks.unit_rows(vecs)[top[:, 0]] * checks.unit_rows(queries), axis=1)
    assert sims.min() > 0.9
