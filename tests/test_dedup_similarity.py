"""Dedup + similarity operators: semantic properties on tiny literal
data (the oracle queries check engine-vs-DuckDB; these check the math)."""

import pytest
from pyspark.sql import functions as F

from cati_database_feeder_spark.catalog import load_table
from cati_database_feeder_spark.functions import text as T
from cati_database_feeder_spark.functions import vectors as V
from cati_database_feeder_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "completely different text about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_content_dedup_groups_exact_copies(docs):
    out = {r["canonical_id"]: r["n_copies"]
           for r in dedup.exact_content_dedup(docs).collect()}
    assert out[1] == 2       # docs 1 and 4 collapse, min id wins
    assert out[2] == 1 and out[3] == 1


def test_minhash_similarity_ordering(docs):
    sig = docs.select("doc_id", dedup.minhash_signature(
        dedup.token_hashes(F.col("text")), 32).alias("s"))
    sigs = {r["doc_id"]: r["s"] for r in sig.collect()}
    agree_12 = sum(a == b for a, b in zip(sigs[1], sigs[2]))
    agree_13 = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert sigs[1] == sigs[4]           # exact dup → identical signature
    assert agree_12 > agree_13          # near-dup agrees more than unrelated


def test_lsh_candidates_find_near_dups_without_crossjoin(docs):
    pairs = {(r["id_a"], r["id_b"])
             for r in dedup.minhash_lsh_candidates(docs, num_hashes=16, bands=8).collect()}
    assert (1, 4) in pairs              # exact dup always a candidate
    assert (1, 2) in pairs or (2, 4) in pairs  # near-dup caught by some band


def test_near_dup_pairs_threshold(docs):
    out = dedup.near_dup_pairs(docs, threshold=0.7, num_hashes=16, bands=8).collect()
    ids = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 4) in ids
    assert all(r["jaccard"] >= 0.7 for r in out)
    assert not any(3 in p for p in ids)


def test_word_shingles_edges(spark):
    r = spark.range(1).select(
        T.word_shingles(F.lit("a b c d"), 3).alias("s"),
        T.word_shingles(F.lit("a b"), 3).alias("short"),
        T.word_shingles(F.lit(""), 3).alias("empty")).first()
    assert r["s"] == ["a b c", "b c d"]
    assert r["short"] == [] and r["empty"] == []


def test_simhash_near_dup_pairs_pigeonhole(docs):
    out = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in dedup.simhash_near_dup_pairs(docs, max_hamming=3).collect()}
    assert out.get((1, 4)) == 0          # exact dup → distance 0
    assert all(h <= 3 for h in out.values())


def test_simhash_hamming_near_vs_far(spark, docs):
    h = docs.select("doc_id", dedup.simhash(F.col("text"), bits=16).alias("h"))
    hs = {r["doc_id"]: r["h"] for r in h.collect()}
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert hs[1] == hs[4]
    assert ham(hs[1], hs[2]) < ham(hs[1], hs[3])


def test_cosine_identity_and_orthogonal(spark):
    df = spark.createDataFrame([([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])],
                               ["a", "b"])
    out = [r["c"] for r in df.select(V.cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert out[0] == pytest.approx(1.0)
    assert out[1] == pytest.approx(0.0)


def test_brute_force_topk_rank1_is_self(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = similarity.brute_force_topk(q, emb, k=5).collect()
    rank1 = [r for r in out if r["rank"] == 1][0]
    assert rank1["vec_id"] == 0 and rank1["cosine"] == pytest.approx(1.0)


def test_gaussian_hyperplanes_deterministic_and_balanced(spark, sf_dir):
    """Fixed seed ⇒ identical plane matrix on every call (the property
    the shared Spark/oracle literals rely on); Gaussian bucketing must
    actually split the corpus (no near-degenerate bucket holding most
    vectors at 8 bits)."""
    p1 = similarity.gaussian_hyperplanes(64, 8)
    p2 = similarity.gaussian_hyperplanes(64, 8)
    assert p1 == p2
    assert similarity.gaussian_hyperplanes(64, 8, seed=11) != p1
    emb = load_table(spark, sf_dir, "embeddings")
    counts = [r["n"] for r in
              similarity.with_lsh_bucket(emb, "embedding", 8, hyperplanes=p1)
              .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()]
    assert max(counts) / sum(counts) < 0.2


def test_lsh_signature_kernels_agree(spark, sf_dir):
    """The Arrow signature kernel must produce exactly the (id, tbl,
    bucket) rows of the sequential-fold Column form it replaced (one
    ``V.dot >= 0`` bit per plane, sliced per table) on the test
    corpus: both fold in the same order, so not even a knife-edge dot
    may differ."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = similarity.gaussian_hyperplanes(64, 4 * 8)
    bits = F.transform(
        V.lit_nested(planes),
        lambda p: F.when(V.dot(F.col("embedding"), p) >= 0,
                         F.lit("1")).otherwise(F.lit("0")))
    column_form = {
        (r["vec_id"], t): "".join(r["bits"][t * 4:(t + 1) * 4])
        for r in emb.select("vec_id", bits.alias("bits")).collect()
        for t in range(8)}
    kernel = {(r["vec_id"], r["tbl"]): r["bucket"]
              for r in similarity.with_lsh_table_buckets(
                  emb, "embedding", "vec_id", planes, 4, 8).collect()}
    assert kernel == column_form
    with pytest.raises(ValueError, match="n_bits\\*n_tables"):
        similarity.with_lsh_table_buckets(
            emb, "embedding", "vec_id", planes, 4, 4)


def test_arrow_lsh_kernel_partition_independent(spark, sf_dir):
    """The Arrow signature kernel computes per-row folds, so Arrow
    batch boundaries (hence input partitioning) must not change any
    bucket — pinned at partitions ∈ {1, 7}."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = similarity.gaussian_hyperplanes(64, 4 * 4)

    def run(df):
        return sorted((r["vec_id"], r["tbl"], r["bucket"])
                      for r in similarity.with_lsh_table_buckets(
                          df, "embedding", "vec_id", planes, 4,
                          4).collect())

    assert run(emb.coalesce(1)) == run(emb.repartition(7))


def test_lsh_tables_recall_beats_single_table(spark, sf_dir):
    """The L-tables amplifier: every query finds itself (self collides
    in every table), and recall@5 with 16 4-bit tables beats a single
    8-bit signature on the same corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 200 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    exact = similarity.brute_force_topk(q, emb, k=5).collect()
    planes = similarity.gaussian_hyperplanes(64, 4 * 16)
    multi = similarity.lsh_topk_tables(q, emb, planes, k=5,
                                       n_bits=4, n_tables=16).collect()
    single = similarity.lsh_topk(
        q, emb, k=5, n_bits=8,
        hyperplanes=similarity.gaussian_hyperplanes(64, 8)).collect()

    def recall(rows):
        want, got = {}, {}
        for r in exact:
            want.setdefault(r["q_id"], set()).add(r["vec_id"])
        for r in rows:
            got.setdefault(r["q_id"], set()).add(r["vec_id"])
        return sum(len(want[k] & got.get(k, set())) / 5 for k in want) / len(want)

    for r in multi:
        if r["rank"] == 1 and r["q_id"] == r["vec_id"]:
            assert r["cosine"] == pytest.approx(1.0)
    assert {r["q_id"] for r in multi if r["rank"] == 1 and
            r["q_id"] == r["vec_id"]} == {r["q_id"] for r in exact if r["rank"] == 1}
    assert recall(multi) >= 0.75
    assert recall(multi) > recall(single)


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 200 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    exact = similarity.brute_force_topk(q, emb, k=5).collect()
    cents = similarity.train_ivf_centroids(emb, n_cells=8, iterations=1)
    assigned = similarity.assign_cells(emb, cents)
    approx = similarity.ivf_topk(q, assigned, cents, k=5, nprobe=4).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["q_id"], set()).add(r["vec_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["q_id"], set()).add(r["vec_id"])
    recalls = [len(exact_sets[q_] & approx_sets.get(q_, set())) / 5 for q_ in exact_sets]
    assert sum(recalls) / len(recalls) >= 0.4  # nprobe=4 of 8 cells


def test_ivf_cell_partition_pruning(spark, sf_dir, tmp_path):
    """The IVF write-time-layout claim made concrete: corpus parquet
    partitioned by cell; probing nprobe cells prunes the SCAN to those
    partitions (PartitionFilters on cell in the plan; only the probed
    cells' files are listed), so a query touches nprobe/n_cells of the
    corpus bytes — the property the 100 TB design depends on."""
    import re

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [(int(r["vec_id"]), list(r["embedding"]))
             for r in emb.filter(F.col("vec_id") < 8)
                         .select("vec_id", "embedding").collect()]
    assigned = similarity.assign_cells(emb, cents, by="ip")
    out = str(tmp_path / "ivf_corpus")
    assigned.write.partitionBy("cell").parquet(out)
    corpus = spark.read.parquet(out)
    n_cells = corpus.select("cell").distinct().count()
    assert n_cells > 2
    probe = corpus.filter(F.col("cell").isin(0, 1))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    # pruning is real, not cosmetic: execute and read the scan's
    # numFiles metric — the count of files actually opened
    got = len(probe.collect())  # collect() drives THIS df's own
    # QueryExecution, so the scan metrics below belong to this run
    want = assigned.filter(F.col("cell").isin(0, 1)).count()
    assert got == want > 0
    leaves = probe._jdf.queryExecution().executedPlan().collectLeaves()
    num_files = None
    for i in range(leaves.size()):
        node = leaves.apply(i)
        if "FileSourceScan" in node.getClass().getSimpleName():
            num_files = node.metrics().apply("numFiles").value()
    total_files = len(corpus.inputFiles())
    assert num_files is not None and 0 < num_files < total_files, (
        num_files, total_files)


def test_incremental_semdedup_prunes_cell_store_partitions(
        spark, sf_dir, tmp_path):
    """The 100 TB claim of incremental SemDeDup: with the cell store
    written partitioned by cell, the delta×corpus probe must reach the
    store through a runtime partition filter (dynamic partition
    pruning off the broadcast delta side) — the scan touches the
    batch's own cells, not the corpus."""
    import re

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [(int(r["vec_id"]), list(r["embedding"]))
             for r in emb.filter(F.col("vec_id") < 8)
                         .select("vec_id", "embedding").collect()]
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    out = str(tmp_path / "cell_store")
    (similarity.assign_cells(corpus, cents, by="ip")
     .write.partitionBy("cell").parquet(out))
    store = spark.read.parquet(out)
    assert store.select("cell").distinct().count() > 2
    delta = emb.filter(F.col("vec_id") % 100 == 7).limit(5)
    pairs = similarity.incremental_semdedup_pairs(
        delta, store, cents, threshold=0.3, by="ip")
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any(re.search(r"dynamicpruningexpression\(cell#\d+ IN", f)
               for f in filters), filters


def test_quantize_int8_roundtrip_bounds(spark):
    """Codes clamp to [0,255], boundary values land exactly (lo→0,
    hi→255 after clamp), midpoint reconstruction error is within half
    a bucket for in-range values, and out-of-range values (a vector
    quantized against a NARROWER range than its own min/max) clamp
    instead of overflowing."""
    df = spark.createDataFrame(
        [(1, [0.0, 1.0, 0.5, 0.25]), (2, [-2.0, 3.0, 0.999, 0.001])],
        "vec_id long, embedding array<double>")
    lo, hi = F.lit(0.0), F.lit(1.0)
    out = df.select(
        "vec_id",
        V.quantize_int8(F.col("embedding"), lo, hi).alias("codes"),
        V.dequantize_int8(
            V.quantize_int8(F.col("embedding"), lo, hi), lo, hi).alias("deq"),
        F.col("embedding")).collect()
    rows = {r["vec_id"]: r for r in out}
    assert rows[1]["codes"] == [0, 255, 127, 63]
    assert all(0 <= c <= 255 for c in rows[2]["codes"])
    assert rows[2]["codes"][0] == 0 and rows[2]["codes"][1] == 255
    bucket = 1.0 / 255.0
    for x, d in zip(rows[1]["embedding"], rows[1]["deq"]):
        assert abs(d - x) <= bucket / 2 + 1e-12


def test_quantize_int8_degenerate_range_all_zero_exact(spark):
    """hi == lo (constant-valued corpus): the documented all-zero-code
    convention — codes are 0, not the silent NaN→null the raw
    255/(hi-lo) division emits, and the midpoint reconstruction
    lo + 0.5·(hi-lo)/255 collapses to lo, so the round trip is EXACT
    (ADVICE round 9: degenerate ranges fail loud or round-trip, never
    propagate nulls)."""
    df = spark.createDataFrame(
        [(1, [3.5, 3.5, 3.5])], "vec_id long, embedding array<double>")
    lo, hi = F.lit(3.5), F.lit(3.5)
    out = df.select(
        V.quantize_int8(F.col("embedding"), lo, hi).alias("codes"),
        V.dequantize_int8(
            V.quantize_int8(F.col("embedding"), lo, hi), lo, hi).alias("deq"),
    ).collect()[0]
    assert out["codes"] == [0, 0, 0]
    assert out["deq"] == [3.5, 3.5, 3.5]


def test_lang_id_scripts(spark):
    df = spark.createDataFrame(
        [("the cat sat on the mat",), ("der hund ist ein tier",),
         ("你好世界",), ("привет мир",), ("xyzzy plugh",)], ["text"])
    out = [r["l"] for r in df.select(T.lang_id_heuristic(F.col("text")).alias("l")).collect()]
    assert out == ["en", "de", "zh", "ru", "und"]


def test_tokset_groups_separator_token_no_collision(spark):
    """Regression (advisor r4): the group key must distinguish {'a\x1fb'}
    from {'a','b'} — a concat_ws('\x1f') string encoding collides them
    into one group and emits a false jaccard=1.0 pair."""
    rows = [(1, "a\u001fb"), (2, "a b")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    memb = dedup.tokset_groups(df).collect()
    gids = {r["id"]: r["gid"] for r in memb}
    assert gids[1] != gids[2] or gids == {1: 1, 2: 2}
    assert gids[1] == 1 and gids[2] == 2
    # and the exact-Jaccard join must NOT pair them
    pairs = dedup.jaccard_similarity_join(df, threshold=0.5).collect()
    assert pairs == []


def test_expand_group_pairs_missing_default_is_descriptive(spark):
    """A rep-pair frame with extra columns but no within-group default
    must fail with an actionable ValueError, not a bare KeyError."""
    rep = spark.createDataFrame([(1, 2, 0.9)], ["id_a", "id_b", "jaccard"])
    mem = spark.createDataFrame([(1, 1), (2, 2)], ["gid", "id"])
    with pytest.raises(ValueError, match="jaccard"):
        dedup.expand_group_pairs(rep, mem)
    with pytest.raises(ValueError, match="within_defaults"):
        dedup.expand_group_pairs(rep, mem, {})


def test_incremental_near_dup_equals_filtered_full_run(spark, sf_dir):
    """The incremental operator's contract: exactly the full-corpus
    verified pair set restricted to pairs touching the delta."""
    from cati_database_feeder_spark.catalog import load_table
    d = load_table(spark, sf_dir, "documents")
    full = {(r["id_a"], r["id_b"], r["jaccard"])
            for r in dedup.near_dup_pairs(d, threshold=0.7).collect()}
    want = {(a, b, j) for a, b, j in full if a % 10 == 0 or b % 10 == 0}
    got = {(r["id_a"], r["id_b"], r["jaccard"])
           for r in dedup.incremental_near_dup_pairs(
               corpus=d.filter(F.col("doc_id") % 10 != 0),
               delta=d.filter(F.col("doc_id") % 10 == 0),
               threshold=0.7).collect()}
    assert got == want and len(want) > 0


def test_incremental_near_dup_empty_delta_and_corpus_only_clusters(spark):
    rows = [
        (1, "alpha beta gamma delta"),    # cluster the delta doc joins
        (2, "alpha beta gamma delta"),
        (3, "alpha beta gamma delta"),
        (4, "foo bar baz qux"),           # corpus-only exact-dup cluster
        (5, "foo bar baz qux"),
        (10, "delta gamma beta alpha"),   # delta: same token SET as 1-3
        (20, "totally unrelated text here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    corpus = df.filter(F.col("doc_id") < 10)
    delta = df.filter(F.col("doc_id") >= 10)
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.incremental_near_dup_pairs(corpus, delta,
                                                     threshold=0.6).collect()}
    # exactly the delta-touching pairs: the 1-2-3 internal pairs and the
    # corpus-only 4-5 cluster are absent, the delta twin matches all of
    # its group at jaccard 1.0
    assert got == {(1, 10): 1.0, (2, 10): 1.0, (3, 10): 1.0}
    # empty delta -> empty output
    empty = dedup.incremental_near_dup_pairs(
        corpus, delta.filter(F.col("doc_id") < 0), threshold=0.6)
    assert empty.count() == 0


def test_keep_best_per_cluster_policy(spark):
    """One survivor per cluster: highest score wins, score ties go to
    the smallest id, every clustered doc gets a row, unclustered docs
    are implicitly kept (absent)."""
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)], ["id", "component"])
    scores = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (7, 5), (8, 5), (99, 100)],
        ["doc_id", "score"])
    out = {r["doc_id"]: (r["component"], r["kept_id"], r["keep"])
           for r in dedup.keep_best_per_cluster(labels, scores).collect()}
    # cluster 1: scores 10/30/30 — 2 beats 3 on the id tie-break
    assert out[1] == (1, 2, False)
    assert out[2] == (1, 2, True)
    assert out[3] == (1, 2, False)
    # cluster 7: tie 5/5 — min id 7 survives
    assert out[7] == (7, 7, True)
    assert out[8] == (7, 7, False)
    assert 99 not in out  # unclustered → not emitted


def test_keep_best_per_cluster_unscored_labeled_id_raises(spark):
    """ADVICE round 9: a labeled doc with NO score row must fail loud
    — the old inner join silently dropped it, and if it would have
    been the survivor a lower-scoring member was kept with nothing
    marking the omission."""
    labels = spark.createDataFrame(
        [(1, 1), (2, 1)], ["id", "component"])
    scores = spark.createDataFrame([(1, 10)], ["doc_id", "score"])
    with pytest.raises(Exception, match="has no score row"):
        dedup.keep_best_per_cluster(labels, scores).collect()


def test_subsplit_hot_cells_degenerate_centroids_guard_reacts(spark):
    """Round-8 verdict item 1, 'Done =' condition: a deliberately
    degenerate centroid set (ONE centroid — every vector lands in one
    cell) must make the guard react. The diagnostic flags the cell hot
    with the exact quadratic pair count; on_hot='error' refuses
    descriptively; on_hot='subsplit' splits the cell into enough
    subcells that no (cell, subcell) key exceeds the quadratic blowup
    the flat cell had, and the guarded pair set is EXACTLY the
    unguarded pair set restricted to same-subcell members (the
    documented recall contract — nothing else changes)."""
    from cati_database_feeder_spark.operators.skew import (
        key_occupancy_report)

    n = 80
    rows = [(i, [float((i * 13) % 7) - 3.0, float((i * 5) % 11) - 5.0,
                 float(i % 3) - 1.0]) for i in range(n)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    degenerate = [(0, [1.0, 0.0, 0.0])]  # one cell catches everything
    assigned = similarity.assign_cells(corpus, degenerate, by="ip")

    # 1. diagnostic: the single cell is hot, est_pairs is exact m(m-1)/2
    rep = key_occupancy_report(
        assigned.select("vec_id", "cell"), ["cell"], cap=10).collect()
    assert len(rep) == 1
    assert rep[0]["occupancy"] == n
    assert rep[0]["est_pairs"] == n * (n - 1) // 2
    assert rep[0]["hot"] is True

    # 2. descriptive refusal names the cell, occupancy and pair count
    with pytest.raises(ValueError, match=rf"occupancy {n}.*{n * (n - 1) // 2} pairs"):
        similarity.subsplit_hot_cells(assigned, cap=10, on_hot="error")

    # 3. sub-split reacts: >1 subcell, occupancy spread, and the
    #    guarded pairs == unguarded pairs restricted to same subcell
    split = similarity.subsplit_hot_cells(assigned, cap=10)
    occ = {r["subcell"]: r["cnt"]
           for r in split.groupBy("subcell")
           .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert len(occ) > 1                  # genuinely split
    assert max(occ.values()) < n         # the flat hot cell is gone
    sub_of = {r["vec_id"]: r["subcell"] for r in split.collect()}
    unguarded = {(r["id_a"], r["id_b"], r["cosine"])
                 for r in similarity.semdedup_pairs(
                     corpus, degenerate, threshold=0.5, by="ip").collect()}
    guarded = {(r["id_a"], r["id_b"], r["cosine"])
               for r in similarity.semdedup_pairs_guarded(
                   corpus, degenerate, threshold=0.5, cap=10,
                   by="ip").collect()}
    want = {(a, b, c) for (a, b, c) in unguarded if sub_of[a] == sub_of[b]}
    assert guarded == want
    assert guarded < unguarded           # some cross-subcell pairs lost


def test_subsplit_hot_cells_no_hot_cells_passthrough(spark):
    """Below the cap nothing changes: subcell is 0 everywhere and the
    guarded operator returns exactly the unguarded pair set."""
    rows = [(i, [float(i % 5), 1.0]) for i in range(12)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0]), (1, [-1.0, 0.5])]
    assigned = similarity.assign_cells(corpus, cents, by="ip")
    split = similarity.subsplit_hot_cells(assigned, cap=100)
    assert split.filter(F.col("subcell") != 0).count() == 0
    unguarded = {(r["id_a"], r["id_b"]) for r in similarity.semdedup_pairs(
        corpus, cents, threshold=0.5, by="ip").collect()}
    guarded = {(r["id_a"], r["id_b"]) for r in similarity.semdedup_pairs_guarded(
        corpus, cents, threshold=0.5, cap=100, by="ip").collect()}
    assert guarded == unguarded


def test_subsplit_hot_cells_bounded_driver_state(spark):
    """The seed collect is bounded by max_seeds and fails loud past it
    — driver model state stays bounded by design, like the IVF
    centroid collects."""
    rows = [(i, [1.0, float(i)]) for i in range(40)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned = similarity.assign_cells(corpus, [(0, [1.0, 0.0])], by="ip")
    with pytest.raises(ValueError, match="max_seeds"):
        similarity.subsplit_hot_cells(assigned, cap=2, max_seeds=3)


def test_bucket_pairs_max_occupancy_guard(spark):
    """Opt-in hot-bucket cap in _bucket_pairs: a (band, bucket) key
    over the cap fails loud with its occupancy and pair count (the
    templated-text pile-up no plan pin can see); under the cap the
    guard is invisible — identical pairs, and the default path has no
    guard at all."""
    rows = ([(i, 0, "hot") for i in range(12)]
            + [(100 + i, 0, f"cold{i % 3}") for i in range(6)])
    buckets = spark.createDataFrame(rows, ["id", "band", "bucket"])
    with pytest.raises(Exception, match="occupancy 12 exceeds max_occupancy=10"):
        dedup._bucket_pairs(buckets, ["band", "bucket"], "id",
                            max_occupancy=10).collect()
    capped = {(r["id_a"], r["id_b"])
              for r in dedup._bucket_pairs(buckets, ["band", "bucket"], "id",
                                           max_occupancy=12).collect()}
    plain = {(r["id_a"], r["id_b"])
             for r in dedup._bucket_pairs(buckets, ["band", "bucket"],
                                          "id").collect()}
    assert capped == plain
    assert len(plain) == 12 * 11 // 2 + 3  # hot bucket + 3 cold pairs


def test_train_ivf_centroids_max_share_splits_degenerate_cell(spark):
    """Round-8 verdict item 8: occupancy-aware centroid training. A
    deliberately clustered corpus whose id-hash seeding MIXES two
    lobes makes both initial centroids coincide at the global mean —
    assignment then tie-breaks every vector into cell 0 (share 1.0),
    the degenerate quantizer the downstream occupancy guard would
    have to mop up. With max_share set, training detects the hot cell
    from the per-iteration mass diagnostic (which rides the existing
    aggregate) and SPLITS it on its own min-id/max-id members; the
    next iteration separates the lobes and the final max cell share
    lands below the stated bound. Without max_share the same corpus
    trains to share 1.0 — the hook, not luck, fixes it."""
    n = 40
    rows = [(i, [10.0, 0.0] if (i // 2) % 2 else [0.0, 0.0])
            for i in range(n)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # unbalanced without the hook: everything collapses into one cell
    cents0, stats0 = similarity.train_ivf_centroids(
        corpus, n_cells=2, iterations=3, return_stats=True)
    assert max(stats0[-1].values()) == pytest.approx(1.0)

    cents, stats = similarity.train_ivf_centroids(
        corpus, n_cells=2, iterations=3, max_share=0.6, return_stats=True)
    # iteration 1 observed the degenerate share and split it ...
    assert max(stats[0].values()) == pytest.approx(1.0)
    # ... and after the split the trained quantizer is balanced
    assert max(stats[-1].values()) <= 0.6
    assert len(cents) == 2
    # the trained centroids actually separate the lobes
    assigned = similarity.assign_cells(corpus, cents)
    occ = {r["cell"]: r["n"] for r in
           assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sorted(occ.values()) == [20, 20]


def test_jl_topk_identity_planes_equals_brute_force(spark):
    """jl_topk (operators/similarity.py, E59) with coordinate-basis
    planes and full coarse width degenerates to exact search: the
    projection is the identity, so coarse order == exact order and
    the rerank returns brute_force_topk bit-for-bit — pins both the
    projection arithmetic and the two-stage candidate plumbing."""
    import random
    rng = random.Random(31)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(4)])
            for i in range(24)]
    corpus = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = (corpus.filter(F.col("vec_id") % 6 == 0)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    identity = [[1.0 if j == i else 0.0 for j in range(4)]
                for i in range(4)]
    got = sorted(similarity.jl_topk(q, corpus, identity, k=5,
                                    coarse_k=len(vecs)).collect())
    want = sorted(similarity.brute_force_topk(q, corpus, k=5).collect())
    assert got == want


def test_jl_topk_coarse_restricts_candidates(spark):
    """With coarse_k=1 every query returns exactly one row — its
    reduced-space argmax reranked — pinning that the rerank never
    sees rows outside the coarse candidate set."""
    import random
    rng = random.Random(37)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(6)])
            for i in range(20)]
    corpus = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = (corpus.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    planes = similarity.gaussian_hyperplanes(6, 3, seed=5)
    out = similarity.jl_topk(q, corpus, planes, k=5, coarse_k=1).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["q_id"], []).append(r)
    assert set(per_q) == {0, 1, 2}
    assert all(len(v) == 1 and v[0]["rank"] == 1 for v in per_q.values())


def test_jl_topk_two_level_coarse_rank_plan_and_partition_invariance(spark):
    """The JL coarse ranking must be the TWO-LEVEL top-k (round-9
    verdict item 2a): a per-(query, input-partition) prune before the
    per-query rank, so no task ever sorts the full corpus for one
    query. Pins (1) the plan: exactly one window partitioned by
    (q_id, spark_partition_id) upstream, and the q_id-only windows
    operate only on pruned survivors; (2) the semantics: the result
    is identical across input partition counts — the superset
    argument (any global top-coarse_k row has local rank <= its
    global rank in EVERY slice of the input) made executable."""
    import random
    import re
    rng = random.Random(53)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(6)])
            for i in range(60)]
    planes = similarity.gaussian_hyperplanes(6, 3, seed=5)

    results = []
    for nparts in (2, 7, 32):
        corpus = spark.createDataFrame(
            vecs, ["vec_id", "embedding"]).repartition(nparts)
        q = (corpus.filter(F.col("vec_id") % 20 == 0)
             .select(F.col("vec_id").alias("q_id"),
                     F.col("embedding").alias("q_vec")))
        out = similarity.jl_topk(q, corpus, planes, k=5, coarse_k=9)
        results.append(sorted(map(tuple, out.collect())))
    assert results[0] == results[1] == results[2]

    plan = out._jdf.queryExecution().executedPlan().toString()
    # the same spec can print more than once per WindowExec — count
    # DISTINCT specs (expr-ids make distinct windows distinct strings)
    specs = set(re.findall(r"windowspecdefinition\(([^)]*)\)", plan))
    two_level = [s for s in specs if "__part" in s]
    per_query = [s for s in specs if "__part" not in s]
    # one level-1 prune window keyed on (q_id, partition id) ...
    assert len(two_level) == 1 and "q_id" in two_level[0]
    # ... and every per-query window (coarse level 2 + final rerank)
    # runs downstream of it — never a full-corpus single-task sort
    assert len(per_query) == 2


def test_semantic_decontaminate_tiebreak_and_reference(spark):
    """semantic_decontaminate (operators/similarity.py, E63) against a
    driver brute-force reference, including the tie-break: two
    IDENTICAL benchmark vectors must arg-max to the SMALLER bench id,
    and zero-norm vectors drop from both sides."""
    import math
    import random
    rng = random.Random(41)
    corpus = [(i, [rng.uniform(-1, 1) for _ in range(4)])
              for i in range(1, 30)] + [(99, [0.0, 0.0, 0.0, 0.0])]
    shared = [0.5, -0.25, 0.125, 1.0]
    bench = [(100, shared), (101, shared),
             (102, [rng.uniform(-1, 1) for _ in range(4)]),
             (103, [0.0, 0.0, 0.0, 0.0])]
    cdf = spark.createDataFrame(corpus, ["vec_id", "embedding"])
    bdf = spark.createDataFrame(bench, ["vec_id", "embedding"])
    got = {r["vec_id"]: r for r in similarity.semantic_decontaminate(
        cdf, bdf, threshold=0.5).collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    assert 99 not in got                       # zero-norm corpus row
    for vid, v in corpus:
        if vid == 99:
            continue
        best = max(((cos(v, bv), -bid) for bid, bv in bench if any(bv)))
        assert got[vid]["best_bench_id"] == -best[1]
        assert got[vid]["max_cos"] == round(best[0], 6)
        assert got[vid]["contaminated"] == (round(best[0], 6) >= 0.5)
        # ties on the duplicated benchmark vector resolve to id 100
        if -best[1] in (100, 101):
            assert got[vid]["best_bench_id"] == 100


def test_semantic_decontaminate_plan_broadcasts_and_aggregates(spark):
    """The 100 TB shape contract: benchmark side broadcast (no
    shuffle-side cross product), arg-max via partial aggregate — the
    plan holds a broadcast nested-loop join and a HashAggregate, and
    NO Window/CartesianProduct/SortMergeJoin."""
    cdf = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 50)],
        ["vec_id", "embedding"])
    bdf = spark.createDataFrame(
        [(100, [1.0, 2.0]), (101, [2.0, 1.0])], ["vec_id", "embedding"])
    plan = (similarity.semantic_decontaminate(cdf, bdf, threshold=0.3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" in plan
    for bad in ("Window", "CartesianProduct", "SortMergeJoin"):
        assert bad not in plan, f"{bad} in plan:\n{plan}"


def test_winnow_guarantee_and_boilerplate_cap(spark):
    """E73: (a) the winnowing GUARANTEE — two docs sharing a token run
    of length >= w+k-1 (= 7 here) share a fingerprint, wherever the
    run sits in otherwise-disjoint text; (b) docs with NO shared run
    of that length produce no pair; (c) max_df drops a fingerprint
    planted in many docs before pairing (the boilerplate/hot-key
    guard)."""
    from cati_database_feeder_spark.operators.dedup import (
        winnow_fingerprint_pairs, winnow_fingerprints)
    run = "alpha beta gamma delta epsilon zeta eta"       # 7 tokens
    docs = [
        (1, "p1 p2 p3 " + run + " s1 s2"),
        (2, "q1 q2 " + run + " t1 t2 t3 t4"),
        (3, "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 r11"),        # disjoint
    ]
    boiler = "fixed header line common to every doc here"  # 8 tokens
    docs += [(10 + i, boiler + f" body{i} x{i} y{i} z{i}")
             for i in range(4)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    fps = {r["doc_id"]: set() for r in df.collect()}
    for r in winnow_fingerprints(df, k=4, w=4).collect():
        fps[r["doc_id"]].add(r["fp"])
    assert fps[1] & fps[2], "shared 7-token run must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"]
             for r in winnow_fingerprint_pairs(
                 df, k=4, w=4, min_shared=1).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)
    # boilerplate docs all pair with each other via the header run...
    assert (10, 11) in pairs
    # ...until max_df drops fingerprints present in >2 docs — the
    # header fps sit in 4 docs, so the boilerplate pairs vanish while
    # the organic (1,2) overlap survives
    capped = {(r["id_a"], r["id_b"])
              for r in winnow_fingerprint_pairs(
                  df, k=4, w=4, min_shared=1, max_df=2).collect()}
    assert (1, 2) in capped and (10, 11) not in capped


# ---------------------------------------------------------------------
# E102 product quantization
# ---------------------------------------------------------------------

def test_pq_encode_codes_shape_and_range(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    seeds = [list(r["embedding"]) for r in
             emb.filter(F.col("vec_id") < 16).collect()]
    cbs = similarity.pq_codebooks_from_seeds(seeds, 8)
    assert len(cbs) == 8 and len(cbs[0]) == 16 and len(cbs[0][0]) == 8
    rows = similarity.pq_encode(emb, cbs).select("codes").collect()
    for r in rows:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])


def test_pq_adc_score_equals_reconstructed_dot(spark, sf_dir):
    """ADC(q, v) must equal <q, reconstruct(codes(v))> — the defining
    identity of asymmetric distance: the LUT path and the explicit
    decode-then-dot path are the same sum grouped differently, so they
    agree to float tolerance (not bit-exactly: different add order)."""
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = [list(r["embedding"]) for r in
             emb.filter(F.col("vec_id") < 16).collect()]
    cbs = similarity.pq_codebooks_from_seeds(seeds, 8)
    coded = similarity.pq_encode(emb.limit(20), cbs).collect()
    qrow = emb.filter(F.col("vec_id") == 0).collect()[0]
    q = [float(x) for x in qrow["embedding"]]
    qdf = spark.createDataFrame([(0, q)], "q_id int, q_vec array<double>")
    codes_df = spark.createDataFrame(
        [(int(r["vec_id"]), [int(c) for c in r["codes"]]) for r in coded],
        "vec_id int, codes array<int>")
    adc = {r["vec_id"]: r["adc"] for r in
           similarity.pq_adc_topk(qdf, codes_df, cbs, k=20).collect()}
    for r in coded:
        recon = [x for s, c in enumerate(r["codes"]) for x in cbs[s][c]]
        want = sum(qi * xi for qi, xi in zip(q, recon))
        if r["vec_id"] in adc:
            assert abs(adc[r["vec_id"]] - want) < 1e-6


def test_pq_trained_recall_with_rerank(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 200 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    exact = similarity.brute_force_topk(q, emb, k=5).collect()
    books = similarity.train_pq_codebooks(emb, 64, 8, 16, iterations=2)
    codes = similarity.pq_encode(emb, books).select("vec_id", "codes")
    approx = similarity.pq_adc_topk(
        q, codes, books, k=5, budget=64, corpus=emb).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["q_id"], set()).add(r["vec_id"])
    for r in approx:
        approx_sets.setdefault(r["q_id"], set()).add(r["vec_id"])
    recalls = [len(exact_sets[k] & approx_sets.get(k, set())) / 5
               for k in exact_sets]
    assert sum(recalls) / len(recalls) >= 0.45


def test_pq_geometry_refusals(spark):
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_codebooks_from_seeds([[0.0] * 10], 4)
    df = spark.createDataFrame([(1, [0.0] * 10)],
                               "vec_id int, embedding array<double>")
    with pytest.raises(ValueError, match="not divisible"):
        similarity.train_pq_codebooks(df, 10, 4, 2)
    qdf = spark.createDataFrame([(0, [0.0] * 8)],
                                "q_id int, q_vec array<double>")
    cdf = spark.createDataFrame([(1, [0, 0])],
                                "vec_id int, codes array<int>")
    cbs = [[[0.0] * 4] * 2] * 2
    with pytest.raises(ValueError, match="no corpus"):
        similarity.pq_adc_topk(qdf, cdf, cbs, k=1, budget=8)


def test_edit_distance_pairs_planted_typo_twin(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight", "en"),
        (2, "the quick brown fox jumps over the lazy cat tonight", "en"),
        # same head but different lang — blocked apart
        (3, "the quick brown fox jumps over the lazy dog tonight", "de"),
        # different head — different block, never compared
        (4, "a completely different document about other things", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, lang string")
    got = {(r["id_a"], r["id_b"]): r["lev"]
           for r in dedup.edit_distance_pairs(df, max_dist=8).collect()}
    assert (1, 2) in got and got[(1, 2)] == 3  # dog->cat = 3 edits
    assert all(3 not in p and 4 not in p for p in got)


def test_edit_distance_pairs_whitespace_case_normalized(spark):
    rows = [(1, "Hello   World Example Text", "en"),
            (2, "hello world example text", "en")]
    df = spark.createDataFrame(rows, "doc_id int, text string, lang string")
    got = dedup.edit_distance_pairs(df, max_dist=0).collect()
    assert len(got) == 1 and got[0]["lev"] == 0


def test_ivfpq_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = [(int(r["vec_id"]), list(r["embedding"])) for r in
             emb.filter(F.col("vec_id") < 16).collect()]
    cbs = similarity.pq_codebooks_from_seeds([v for _, v in cents], 8)
    codes = (similarity.pq_encode(
        similarity.assign_cells(emb, cents, by="ip"), cbs)
        .select("vec_id", "cell", "codes"))
    q = emb.filter(F.col("vec_id") % 200 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    exact = similarity.brute_force_topk(q, emb, k=5).collect()
    approx = similarity.ivfpq_topk(q, codes, emb, cbs, cents, k=5,
                                   nprobe=6, budget=128, by="ip").collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["q_id"], set()).add(r["vec_id"])
    for r in approx:
        approx_sets.setdefault(r["q_id"], set()).add(r["vec_id"])
    recalls = [len(exact_sets[k] & approx_sets.get(k, set())) / 5
               for k in exact_sets]
    assert sum(recalls) / len(recalls) >= 0.35
    # every returned rank block is a contiguous 1..n per query
    ranks = {}
    for r in approx:
        ranks.setdefault(r["q_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in ranks.values())


def test_lit_nested_matches_f_lit(spark):
    """lit_nested (one-parse nested literal, functions/vectors.py) must
    be value- AND schema-identical to the element-wise F.lit it
    replaced — including empty-array entries, int vs double element
    types, and the non-finite fallback."""
    from pyspark.sql import functions as F
    from cati_database_feeder_spark.functions import vectors as V

    cases = [
        [[1.5, -2.25e-7], [0.0, 3.0]],              # 2-D doubles
        [[[1.5, 2.5]], []],                          # 3-D, empty entry
        [[1, 2], []],                                # 2-D ints, empty entry
        [7, 8, 9],                                   # 1-D ints
        [float("nan"), 1.0],                         # fallback path
    ]
    sel = []
    for i, v in enumerate(cases):
        sel.append(V.lit_nested(v).alias(f"n{i}"))
        sel.append(F.lit(v).alias(f"l{i}"))
    df = spark.range(1).select(*sel)
    schema = {f.name: f.dataType for f in df.schema.fields}
    row = df.collect()[0]
    for i in range(len(cases)):
        assert schema[f"n{i}"] == schema[f"l{i}"], f"case {i} schema"
        a, b = row[f"n{i}"], row[f"l{i}"]
        assert str(a) == str(b), f"case {i} values"  # str: NaN-safe
    # memo returns the identical Column object for an equal value
    assert V.lit_nested([[1.5]]) is V.lit_nested([[1.5]])
