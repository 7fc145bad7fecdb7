"""Layout contract of the streaming ingest state dirs
(streaming/ingest.py, streaming/ingest_embeddings.py): bootstrap stamps
the dir with its store kind and every pinned value, and every mutating
entry and serving reader refuses a dir whose stamp is missing or
differs from the configuration — before it writes anything."""

import json
import os

import pytest

from cati_database_feeder_spark.sources import multimodal as mm
from cati_database_feeder_spark.streaming import ingest as ing
from cati_database_feeder_spark.streaming import ingest_embeddings as ie


@pytest.fixture(scope="module")
def text_state(spark, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("layout") / "text")
    ing.ingest_batch(spark, spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "one two three")],
        ["doc_id", "text"]), state, batch_id=0)
    return state


@pytest.fixture(scope="module")
def emb_state(spark, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("layout") / "emb")
    ie.ingest_embeddings_batch(spark, spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 2)]) for i in range(4)],
        "vec_id long, embedding array<double>"), state,
        centroid_rows=[(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        threshold=0.8, batch_id=0)
    return state


def _text_entries(spark):
    batch = spark.createDataFrame([(3, "a new document")],
                                  ["doc_id", "text"])
    return {
        "ingest_batch": lambda s: ing.ingest_batch(spark, batch, s,
                                                   batch_id=1),
        "compact_state": lambda s: ing.compact_state(spark, s),
        "delete_docs": lambda s: ing.delete_docs(spark, s, [1]),
        "cbloom_gate": lambda s: ing.cbloom_gate(spark, s),
    }


def _emb_entries(spark):
    batch = spark.createDataFrame([(9, [0.5, 0.5, 0.5])],
                                  "vec_id long, embedding array<double>")
    return {
        "ingest_embeddings_batch": lambda s: ie.ingest_embeddings_batch(
            spark, batch, s, threshold=0.8, batch_id=1),
        "compact_embeddings_state": lambda s: ie.compact_embeddings_state(
            spark, s),
        "delete_embeddings": lambda s: ie.delete_embeddings(spark, s, [0]),
        "retrain_embeddings_centroids":
            lambda s: ie.retrain_embeddings_centroids(spark, s),
        "quantized_serving_frames": lambda s: ie.quantized_serving_frames(
            spark, s),
        "projected_serving_frames": lambda s: ie.projected_serving_frames(
            spark, s),
        "pq_serving_frames": lambda s: ie.pq_serving_frames(spark, s),
    }


def _listing(state):
    return {os.path.relpath(os.path.join(d, f), state):
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(state) for f in fs}


def _assert_every_entry_refuses(entries, state, match):
    before = _listing(state)
    for op, call in entries.items():
        with pytest.raises(ing.StateLockError, match=match):
            call(state)
        assert _listing(state) == before, op


def _read_stamp(state):
    with open(os.path.join(state, ing._LAYOUT_NAME)) as fh:
        return json.load(fh)


def test_bootstrap_writes_layout_stamps(text_state, emb_state):
    assert _read_stamp(text_state) == {
        "kind": "text", "cbloom": [65536, 2],
        "hll_lgk": 12, "wfp": [4, 4], "dhash_grid": [7, 10],
        "afp_bits": 60, "n_id_buckets": 64}
    assert _read_stamp(emb_state) == {"kind": "embeddings"}


_TEXT_PINS = [(ing, "CBLOOM_K", 3),
              (ing, "HLL_LGK", 11), (ing, "WFP_K", 5),
              (mm, "_DHASH_GRID_W", 9), (mm, "AUDIO_HASH_BITS", 48),
              (ing, "N_ID_BUCKETS", 32)]


@pytest.mark.parametrize("module,attr,value", _TEXT_PINS,
                         ids=[attr for _, attr, _ in _TEXT_PINS])
def test_text_pin_change_refuses_every_entry(spark, text_state,
                                             monkeypatch, module, attr,
                                             value):
    monkeypatch.setattr(module, attr, value)
    _assert_every_entry_refuses(_text_entries(spark), text_state,
                                "geometry.*pinned at bootstrap")


@pytest.mark.parametrize("family", ["text", "embeddings"])
def test_missing_stamp_refuses_every_entry(spark, text_state, emb_state,
                                           family):
    state, entries = ((text_state, _text_entries(spark))
                      if family == "text"
                      else (emb_state, _emb_entries(spark)))
    path = os.path.join(state, ing._LAYOUT_NAME)
    os.rename(path, path + ".away")
    try:
        _assert_every_entry_refuses(entries, state,
                                    "no readable layout stamp")
    finally:
        os.rename(path + ".away", path)


def test_other_kind_stamp_refuses_every_embeddings_entry(spark, emb_state):
    """The embeddings stamp pins the store kind: a text stamp in an
    embeddings dir refuses like any other differing pin."""
    path = os.path.join(emb_state, ing._LAYOUT_NAME)
    with open(path) as fh:
        kept = fh.read()
    ing._write_layout(emb_state, ing._text_layout())
    try:
        _assert_every_entry_refuses(_emb_entries(spark), emb_state,
                                    "kind=text.*pinned at bootstrap")
    finally:
        with open(path, "w") as fh:
            fh.write(kept)


def test_bootstrap_over_other_kind_refuses(spark, text_state, emb_state):
    """Bootstrap runs whenever the kind's commit-marker store is absent,
    and a text dir has no ``vectors/`` (an embeddings dir no
    ``corpus/``). A bootstrap of one kind into a dir stamped for the
    other refuses before it writes, in both directions."""
    emb_boot = {"ingest_embeddings_batch":
                lambda s: ie.ingest_embeddings_batch(
                    spark, spark.createDataFrame(
                        [(0, [1.0, 0.0, 0.0])],
                        "vec_id long, embedding array<double>"), s,
                    centroid_rows=[(0, [1.0, 0.0, 0.0])], threshold=0.8,
                    batch_id=0)}
    _assert_every_entry_refuses(emb_boot, text_state,
                                "stamped kind=text.*bootstrap embeddings")
    text_boot = {"ingest_batch": lambda s: ing.ingest_batch(
        spark, spark.createDataFrame([(1, "alpha beta gamma")],
                                     ["doc_id", "text"]), s, batch_id=0)}
    _assert_every_entry_refuses(text_boot, emb_state,
                                "stamped kind=embeddings.*bootstrap text")
    assert _read_stamp(text_state)["kind"] == "text"
    assert _read_stamp(emb_state) == {"kind": "embeddings"}
