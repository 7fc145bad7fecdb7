"""Connected components (operators/graph.py) and BM25 (operators/search.py)."""

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from cati_database_feeder_spark.operators import graph
from cati_database_feeder_spark.operators.graph import connected_components
from cati_database_feeder_spark.operators.search import bm25_topk


# K4 on {1..4} plus the pair {10, 11}: 7 edges
_K4_AND_PAIR = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [(10, 11)]


def test_connected_components_basic(spark):
    # two components: {1,2,3,4} via a chain, {10,11}; 20-20 self-pair-free
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"])
    got = {r["id"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark, monkeypatch):
    # path graph 0-1-2-...-9: the longest diameter for its size, which
    # the star rounds must still close to one component
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"])
    # cap 0: this test pins the DISTRIBUTED path (the default cap would
    # route a 9-edge graph to the driver)
    monkeypatch.setattr(graph, "_DRIVER_EDGE_CAP", 0)
    got = connected_components(pairs).collect()
    assert all(r["component"] == 0 for r in got)
    assert len(got) == 10


def test_connected_components_deterministic_min_canonical(spark):
    # edges listed high-to-low; canonical id is still the min
    pairs = spark.createDataFrame([(9, 5), (5, 7)], ["id_a", "id_b"])
    got = {r["id"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == {5: 5, 7: 5, 9: 5}


def test_connected_components_contraction_preserves_chains(spark, monkeypatch):
    # a path graph is the adversarial shape for contraction (nothing
    # collapses to a star in one hop) — the rounds must stay
    # component-exact whether the driver finishes them under the cap
    # or they run to convergence
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["id_a", "id_b"])
    for cap in (3, 4, 5):
        monkeypatch.setattr(graph, "_DRIVER_EDGE_CAP", cap)
        got = {r["id"]: r["component"]
               for r in connected_components(pairs).collect()}
        assert got == {i: 0 for i in range(7)}, f"cap={cap}: {got}"


_UNDER_CAP = [(1, 2), (2, 3), (10, 11), (7, 3), (20, 21), (21, 22), (5, 30)]


@pytest.mark.parametrize("id_type,edges,cap", [
    ("int", _UNDER_CAP, graph._DRIVER_EDGE_CAP),
    ("bigint", _UNDER_CAP, graph._DRIVER_EDGE_CAP),
    # over the cap: one star round brings the 7 edges down to 4,
    # {(2,1),(3,1),(4,1),(11,10)}, and the driver finishes mid-star
    ("int", _K4_AND_PAIR, 4),
    ("bigint", _K4_AND_PAIR, 4)],
    ids=["int", "bigint", "mid_star-int", "mid_star-bigint"])
def test_connected_components_driver_labels_are_jvm_frame(
        spark, monkeypatch, id_type, edges, cap):
    # the driver path's labels keep the input id dtype, equal the
    # union-find, and scanning them runs no Python worker. The lineage
    # is read off the frame _driver_components returns: the star path
    # checkpoints its output, which hides the finish's lineage
    from cati_database_feeder_spark.operators.graph import _driver_union_find
    finishes = []

    def recording(*a, **kw):
        finishes.append(real(*a, **kw))
        return finishes[-1]

    real = graph._driver_components
    monkeypatch.setattr(graph, "_driver_components", recording)
    pairs = spark.createDataFrame(edges, f"id_a {id_type}, id_b {id_type}")
    monkeypatch.setattr(graph, "_DRIVER_EDGE_CAP", cap)
    out = connected_components(pairs)
    assert out.schema.simpleString() == (
        f"struct<id:{id_type},component:{id_type}>")
    nodes, labels = _driver_union_find(*zip(*edges))
    assert {r["id"]: r["component"] for r in out.collect()} == dict(
        zip(nodes.tolist(), labels.tolist()))
    assert len(finishes) == 1
    assert "PythonRDD" not in (
        finishes[0]._jdf.queryExecution().toRdd().toDebugString())


def test_connected_components_under_cap_runs_one_job(spark):
    # an under-cap closure is ONE pull of the persisted edges: the pull
    # that answers "under the cap?" is the table the driver solves, so
    # a size probe or a second transfer added back shows up here as an
    # extra job. Jobs are counted by job-id range: the closure is eager,
    # its labels frame is not.
    pairs = spark.createDataFrame(pa.table({
        "id_a": pa.array([1, 2, 4, 7, 8], pa.int64()),
        "id_b": pa.array([2, 3, 5, 8, 9], pa.int64())}))
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    out = connected_components(pairs)
    assert dag.nextJobId() - j0 == 1
    assert {r["id"]: r["component"] for r in out.collect()} == {
        1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 7: 7, 8: 7, 9: 7}


def test_components_from_rep_pairs_matches_expanded_closure(spark):
    # membership: group 1 = {1, 2, 3}, group 5 = {5, 6}, singletons 8, 9;
    # verified rep pairs 1—5 and 8—9. Contracted closure must equal the
    # closure of the expanded member-pair graph.
    from cati_database_feeder_spark.operators.dedup import expand_group_pairs
    from cati_database_feeder_spark.operators.graph import (
        components_from_rep_pairs)
    mem = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3), (5, 5), (5, 6), (8, 8), (9, 9)],
        ["gid", "id"])
    rep_pairs = spark.createDataFrame(
        [(1, 5, 0.9), (8, 9, 0.8)], ["id_a", "id_b", "jaccard"])
    expanded = expand_group_pairs(rep_pairs, mem, {"jaccard": F.lit(1.0)})
    want = {r["id"]: r["component"]
            for r in connected_components(expanded).collect()}
    got = {r["id"]: r["component"]
           for r in components_from_rep_pairs(rep_pairs, mem).collect()}
    assert got == want == {1: 1, 2: 1, 3: 1, 5: 1, 6: 1, 8: 8, 9: 8}


def test_bm25_ranks_term_frequency(spark):
    docs = spark.createDataFrame(
        [(1, "spark spark spark filler filler"),
         (2, "spark filler filler filler filler"),
         (3, "filler filler filler filler filler")],
        ["doc_id", "text"])
    rows = bm25_topk(docs, terms=["spark"], k=10).collect()
    # doc 3 has no match → absent; doc 1 outranks doc 2 on tf
    assert [r["doc_id"] for r in rows] == [1, 2]
    assert rows[0]["score"] > rows[1]["score"] > 0


def test_bm25_length_normalization(spark):
    # same tf, longer doc scores lower (b > 0)
    docs = spark.createDataFrame(
        [(1, "query short"),
         (2, "query " + "pad " * 50)],
        ["doc_id", "text"])
    rows = {r["doc_id"]: r["score"]
            for r in bm25_topk(docs, terms=["query"], k=10).collect()}
    assert rows[1] > rows[2]


def test_bm25_no_corpus_wide_shuffle_of_nonmatches(spark):
    # plan property: the exploded side is filtered before the explode
    docs = spark.createDataFrame(
        [(1, "vector stuff"), (2, "nothing here")], ["doc_id", "text"])
    plan = bm25_topk(docs, terms=["vector"], k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Generate explode" in plan or "Generate" in plan


def test_with_doc_profile_columns(spark):
    from cati_database_feeder_spark.functions.text import with_doc_profile
    docs = spark.createDataFrame(
        [(1, "the cat and the hat mailed cat@example.com on 12345678"),
         (2, ""),
         (3, "der hund und die katze ist ein tier")],
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in with_doc_profile(docs).collect()}
    assert rows[1]["n_tokens"] == 9
    assert rows[1]["n_stopwords"] == 3  # the, and, the
    assert rows[1]["pii_emails"] == 1
    assert rows[1]["pii_digit_runs"] == 1
    assert rows[1]["detected_lang"] == "en"
    assert rows[3]["detected_lang"] == "de"
    # empty text: no tokens, quality from zero-guards, no crash
    assert rows[2]["n_tokens"] == 0 and rows[2]["detected_lang"] == "und"


def test_chunk_documents_windows(spark):
    from cati_database_feeder_spark.functions.text import chunk_documents
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))),   # 10 tokens, 2 chunks
         (2, "only three tokens"),                     # shorter than chunk
         (3, "")],                                     # empty -> one empty chunk
        ["doc_id", "text"])
    rows = chunk_documents(docs, chunk_tokens=8, overlap=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk_idx"] for r in c1] == [0, 1, 2]
    assert c1[0]["chunk_text"].split() == [f"t{i}" for i in range(8)]
    assert c1[1]["chunk_text"].split() == [f"t{i}" for i in range(4, 10)]
    assert c1[1]["n_chunk_tokens"] == 6
    assert c1[2]["chunk_text"].split() == [f"t{i}" for i in range(8, 10)]
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_chunk_tokens"] == 3
    assert len(by_doc[3]) == 1 and by_doc[3][0]["chunk_text"] == ""


def test_connected_components_star_rounds_close_long_path(spark, monkeypatch):
    """Above the cap the closure is large-star/small-star (Kiveris et
    al. SoCC'14), which converges in O(log²n) rounds whatever the
    diameter: here a 121-node chain with the driver finish off."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], ["id_a", "id_b"])
    monkeypatch.setattr(graph, "_DRIVER_EDGE_CAP", 0)
    got = connected_components(pairs).collect()
    assert len(got) == 121
    assert all(r["component"] == 0 for r in got)


def test_connected_components_star_rounds_match_driver(spark, monkeypatch):
    """Star rounds run to convergence (cap 0) or finished on the driver
    after a round (caps 3, 6, 10) must agree with the under-cap driver
    labels exactly on a mixed graph: several components, listed
    high-to-low, plus a self-loop singleton."""
    import random
    rng = random.Random(6)
    edges = [(i, i + 1) for i in range(0, 8)]              # chain 0..8
    edges += [(20 + rng.randrange(10), 20 + rng.randrange(10))
              for _ in range(15)]                          # blob 20..29
    edges += [(40, 41), (99, 99)]                          # pair + self-loop
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    want = {(r["id"], r["component"])
            for r in connected_components(pairs).collect()}
    assert (99, 99) in want
    for cap in (0, 3, 6, 10):
        monkeypatch.setattr(graph, "_DRIVER_EDGE_CAP", cap)
        got = {(r["id"], r["component"])
               for r in connected_components(pairs).collect()}
        assert got == want, f"cap={cap}"


def test_connected_components_string_ids_distributed(spark):
    # string ids never take the driver path: star rounds over a mixed
    # graph (chain, clique, self-loop singleton, pair) must equal a
    # Python union-find with the lexicographic minimum as the label
    edges = [("n3", "n1"), ("n1", "n2"), ("n2", "n0"),
             ("b", "c"), ("c", "d"), ("b", "d"),
             ("z", "z"), ("y", "x")]
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in list(parent)}
    out = connected_components(
        spark.createDataFrame(edges, "id_a string, id_b string"))
    assert out.schema.simpleString() == "struct<id:string,component:string>"
    assert {r["id"]: r["component"] for r in out.collect()} == want


def test_connected_components_releases_per_round_storage(spark, monkeypatch):
    # per-round localCheckpoint frames must not accumulate in the block
    # manager: after the run, live persisted RDDs return to (near) the
    # pre-run count — the path graph forces ~9 rounds, so a leak would
    # show up as ~9 extra persisted RDDs
    sc = spark.sparkContext

    def persisted():
        return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}

    baseline = len(persisted())
    pairs = spark.createDataFrame([(i, i + 1) for i in range(9)], ["id_a", "id_b"])
    monkeypatch.setattr(graph, "_DRIVER_EDGE_CAP", 0)
    out = connected_components(pairs)
    assert out.count() == 10
    leaked = len(persisted()) - baseline
    # the returned frame's own checkpoint (and nothing else) may remain
    assert leaked <= 2, f"{leaked} persisted RDDs leaked across rounds"


def test_incremental_components_equals_full_recompute(spark):
    """Contraction correctness: for an ARBITRARY split of the edge list
    into old/new, updating CC(old) with the new edges must equal CC over
    the union — including components merged across the split, new-only
    nodes, and edges internal to existing components."""
    from cati_database_feeder_spark.operators.graph import (
        connected_components, incremental_components)
    edges = [(1, 2), (2, 3), (4, 5), (6, 7), (8, 9),
             (3, 4),      # merges {1,2,3} with {4,5}
             (1, 2),      # internal to an existing component
             (9, 10),     # extends {8,9} with a brand-new node
             (11, 12)]    # entirely new component
    old, new = edges[:5], edges[5:]
    base = connected_components(
        spark.createDataFrame(old, ["id_a", "id_b"]))
    got = {(r["id"], r["component"]) for r in incremental_components(
        base, spark.createDataFrame(new, ["id_a", "id_b"])).collect()}
    want = {(r["id"], r["component"]) for r in connected_components(
        spark.createDataFrame(edges, ["id_a", "id_b"])).collect()}
    assert got == want


def test_incremental_components_no_new_edges_is_identity(spark):
    from cati_database_feeder_spark.operators.graph import (
        connected_components, incremental_components)
    base = connected_components(
        spark.createDataFrame([(1, 2), (3, 4)], ["id_a", "id_b"]))
    empty = spark.createDataFrame([], "id_a long, id_b long")
    got = {(r["id"], r["component"])
           for r in incremental_components(base, empty).collect()}
    assert got == {(1, 1), (2, 1), (3, 3), (4, 3)}


def test_incremental_components_empty_base_is_full_cc(spark):
    from cati_database_feeder_spark.operators.graph import (
        connected_components, incremental_components)
    empty = spark.createDataFrame([], "id long, component long")
    pairs = spark.createDataFrame([(5, 6), (6, 7)], ["id_a", "id_b"])
    got = {(r["id"], r["component"])
           for r in incremental_components(empty, pairs).collect()}
    want = {(r["id"], r["component"])
            for r in connected_components(pairs).collect()}
    assert got == want == {(5, 5), (6, 5), (7, 5)}


def test_hybrid_rrf_fusion_hand_computed(spark):
    """RRF fusion (operators/search.py:hybrid_rrf_topk) against a
    hand-computed fixture: 4 docs where lexical and semantic rankers
    disagree. doc_id == vec_id convention; query vector = vec 0."""
    from cati_database_feeder_spark.operators.search import hybrid_rrf_topk
    docs = spark.createDataFrame(
        [(0, "filler filler filler"),
         (1, "spark spark spark"),          # lex rank 1
         (2, "spark filler filler"),        # lex rank 2
         (3, "filler pad pad")],
        ["doc_id", "text"])
    # embeddings chosen so cosine vs v0 ranks: 0 (self), 3, 2 — doc 1
    # is orthogonal and still ranks 4th (brute force keeps everything
    # up to k_each)
    embs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]),
         (2, [0.6, 0.8]), (3, [0.9, 0.1])],
        ["vec_id", "embedding"])
    got = {r["doc_id"]: (r["lex_rank"], r["sem_rank"], r["rrf"])
           for r in hybrid_rrf_topk(docs, embs, terms=["spark"],
                                    query_vec_id=0, k=10, k_each=3,
                                    rrf_k=60).collect()}
    # lex list (k_each=3, only matching docs): [1, 2]; sem list: [0, 3, 2]
    assert got[1][0] == 1 and got[1][1] is None
    assert got[2] == (2, 3, round(1 / 62 + 1 / 63, 6))
    assert got[0][1] == 1 and got[0][0] is None
    assert got[3][1] == 2 and got[3][0] is None
    # doc 2 (in both lists) must outrank every single-list doc here
    assert got[2][2] == max(v[2] for v in got.values())


def test_hybrid_rrf_equal_scores_tiebreak_by_id(spark):
    """Two docs appearing in exactly one list at the same rank position
    tie on rrf; the output order (and any downstream LIMIT) must break
    the tie on doc_id, not partition luck."""
    from cati_database_feeder_spark.operators.search import hybrid_rrf_topk
    docs = spark.createDataFrame(
        [(0, "filler"), (5, "spark"), (7, "filler pad")],
        ["doc_id", "text"])
    embs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (5, [0.0, 1.0]), (7, [0.8, 0.6])],
        ["vec_id", "embedding"])
    rows = hybrid_rrf_topk(docs, embs, terms=["spark"], query_vec_id=0,
                           k=10, k_each=1, rrf_k=60).collect()
    # lex list: [5] at rank 1; sem list: [0] at rank 1 → equal rrf,
    # doc 0 must sort before doc 5
    tied = [r["doc_id"] for r in rows if r["rrf"] == round(1 / 61, 6)]
    assert tied == [0, 5]
