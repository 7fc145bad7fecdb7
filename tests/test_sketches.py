"""Sketch-primitive contracts (functions/sketches.py, E60–E61):
Bloom no-false-negatives / effective rejection, count-min
overestimation / exactness-without-collisions / mergeability, and the
Bloom-gated decontamination query's equivalence to the exact path."""

import pytest
from pyspark.sql import functions as F

from cati_database_feeder_spark.functions import sketches


def _keys_df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], ["k"])


def test_bloom_no_false_negatives(spark):
    """Every inserted key tests TRUE — the property the downstream
    exact-verify join's correctness rests on (a false negative would
    silently drop a true contamination hit)."""
    keys = [f"shingle-{i}-{i * i}" for i in range(300)]
    words = sketches.bloom_build(_keys_df(spark, keys), "k",
                                 m_bits=65536, k=2)
    got = (_keys_df(spark, keys)
           .filter(sketches.bloom_might_contain(F.col("k"), words, 65536, k=2))
           .count())
    assert got == len(keys)


def test_bloom_rejects_most_non_members(spark):
    """At ~10 bits/key the false-positive rate is a few percent — the
    gate must reject the overwhelming majority of non-inserted keys or
    it isn't buying anything at scale."""
    inserted = [f"in-{i}" for i in range(500)]
    probes = [f"out-{i}" for i in range(2000)]
    words = sketches.bloom_build(_keys_df(spark, inserted), "k",
                                 m_bits=65536, k=2)
    passed = (_keys_df(spark, probes)
              .filter(sketches.bloom_might_contain(F.col("k"), words,
                                                   65536, k=2))
              .count())
    assert passed <= 100, f"fp rate {passed / 2000:.3f} — bitmap broken?"


def test_bloom_build_rejects_bad_m_bits(spark):
    with pytest.raises(ValueError, match="multiple of 64"):
        sketches.bloom_build(_keys_df(spark, ["a"]), "k", m_bits=100)


def test_cms_overestimates_and_is_exact_without_collisions(spark):
    """est ≥ true for every key always (the count-min guarantee), and
    with width ≫ distinct keys (no bucket collisions on this fixture)
    est == true exactly."""
    rows = [("a",)] * 7 + [("b",)] * 3 + [("c",)] * 1
    items = spark.createDataFrame(rows, ["k"])
    table = sketches.cms_table(items, "k", depth=4, width=8192)
    true = items.groupBy("k").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = {r["k"]: (r["true_cnt"], r["cms_est"])
           for r in sketches.cms_estimate(true, "k", table,
                                          depth=4, width=8192).collect()}
    assert est == {"a": (7, 7), "b": (3, 3), "c": (1, 1)}


def test_cms_overestimates_under_forced_collisions(spark):
    """width=2 forces every key into ~2 buckets per row: estimates
    inflate but NEVER dip below truth — the one-sided error bound."""
    rows = ([("x",)] * 50 + [("y",)] * 20
            + [(f"noise-{i}",) for i in range(100)])
    items = spark.createDataFrame(rows, ["k"])
    table = sketches.cms_table(items, "k", depth=4, width=2)
    true = items.groupBy("k").agg(F.count(F.lit(1)).alias("true_cnt"))
    out = sketches.cms_estimate(true, "k", table, depth=4, width=2).collect()
    assert out and all(r["cms_est"] >= r["true_cnt"] for r in out)


def test_cms_tables_merge_by_cellwise_sum(spark):
    """The property that makes the sketch the multi-shard/streaming
    answer: table(A ⊎ B) == cell-wise sum of table(A) and table(B)."""
    rows_a = [(f"k{i % 17}",) for i in range(200)]
    rows_b = [(f"k{i % 23}",) for i in range(150)]
    da = spark.createDataFrame(rows_a, ["k"])
    db = spark.createDataFrame(rows_b, ["k"])
    full = sketches.cms_table(da.unionAll(db), "k", depth=4, width=64)
    merged = (sketches.cms_table(da, "k", depth=4, width=64)
              .unionAll(sketches.cms_table(db, "k", depth=4, width=64))
              .groupBy("r", "bucket").agg(F.sum("cnt").alias("cnt")))
    assert sorted(map(tuple, full.collect())) == \
        sorted(map(tuple, merged.collect()))


def test_bloom_gate_result_transparent_vs_exact_join(spark):
    """End-to-end false-negative-freedom: the Bloom-prefiltered
    overlap pipeline returns the IDENTICAL result as the exact join
    without the gate, on a fixture with real hits and misses."""
    bench_keys = [f"s{i}" for i in range(0, 50, 5)]
    corpus = spark.createDataFrame(
        [(i, f"s{i % 60}") for i in range(300)], ["doc_id", "shingle"])
    bench = _keys_df(spark, bench_keys).select(F.col("k").alias("shingle"))
    exact = (corpus.join(bench, "shingle")
             .groupBy("doc_id")
             .agg(F.countDistinct("shingle").alias("n")))
    words = sketches.bloom_build(bench, "shingle", m_bits=4096, k=2)
    gated = (corpus.filter(sketches.bloom_might_contain(
                 F.col("shingle"), words, 4096, k=2))
             .join(bench, "shingle")
             .groupBy("doc_id")
             .agg(F.countDistinct("shingle").alias("n")))
    assert sorted(map(tuple, gated.collect())) == \
        sorted(map(tuple, exact.collect()))


def test_bloom_gate_plan_is_map_only_before_verify(spark):
    """The gate itself must be a zero-shuffle codegen projection: the
    filtered corpus frame (before any join) plans with no Exchange, no
    Python, no join — the property that makes it free at 100 TB."""
    corpus = spark.createDataFrame(
        [(i, f"s{i}") for i in range(100)], ["doc_id", "shingle"])
    words = sketches.bloom_build(
        corpus.limit(10).select("shingle"), "shingle", m_bits=4096, k=2)
    plan = (corpus.filter(sketches.bloom_might_contain(
                F.col("shingle"), words, 4096, k=2))
            ._jdf.queryExecution().executedPlan().toString())
    for bad in ("Exchange", "Join", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, f"{bad} in bloom-gate plan:\n{plan}"


def test_bloom_might_contain_rejects_mismatched_bitmap(spark):
    """A words/m_bits mismatch would produce silent FALSE NEGATIVES
    (out-of-range element_at → NULL → row dropped) — must refuse."""
    words = sketches.bloom_build(_keys_df(spark, ["a", "b"]), "k",
                                 m_bits=4096, k=2)
    with pytest.raises(ValueError, match="false negatives"):
        sketches.bloom_might_contain(F.col("k"), words, 2 ** 20, k=2)


def test_cms_heavy_hitters_equals_exact_and_prunes(spark):
    """cms_heavy_hitters ≡ the plain exact HAVING query on a Zipf-ish
    fixture where the prune does real work (few heavies, a long tail
    of singletons), and the candidate prune is demonstrably smaller
    than the vocabulary."""
    rows = ([("hot",)] * 200 + [("warm",)] * 60
            + [(f"tail-{i}",) for i in range(500)])
    items = spark.createDataFrame(rows, ["k"])
    got = sorted(map(tuple, sketches.cms_heavy_hitters(
        items, "k", min_count=50).collect()))
    assert got == [("hot", 200), ("warm", 60)]
    # the prune itself: distinct keys surviving est >= 50 is far below
    # the 502-key vocabulary (collisions at width 2048 are rare here)
    t = sketches.cms_table(items, "k")
    cand = (sketches.cms_estimate(items.select("k").distinct(), "k", t)
            .filter(F.col("cms_est") >= 50).count())
    assert cand < 50, f"prune ineffective: {cand} candidates survive"


def test_cms_heavy_hitters_injected_table(spark):
    """A prebuilt sketch table can be injected; the result still equals
    the exact query."""
    rows = [("a",)] * 9 + [("b",)] * 2
    items = spark.createDataFrame(rows, ["k"])
    t = sketches.cms_table(items, "k")
    got = sorted(map(tuple, sketches.cms_heavy_hitters(
        items, "k", min_count=3, table=t).collect()))
    assert got == [("a", 9)]


def test_cms_heavy_hitters_rejects_mismatched_injected_table(spark):
    """An injected table built with LARGER dims than the call's would
    silently miss cells and drop true heavy hitters — the catchable
    half of the dims contract must refuse."""
    rows = [("a",)] * 9
    items = spark.createDataFrame(rows, ["k"])
    big = sketches.cms_table(items, "k", depth=8, width=8192)
    with pytest.raises(ValueError, match="dims\\s*mismatch|dims "):
        sketches.cms_heavy_hitters(items, "k", min_count=2,
                                   depth=4, width=2048, table=big)


def test_counting_bloom_words_equal_plain_bloom_bitmap(spark):
    """counting_bloom_cells positions come from the identical hash
    family as bloom_build, so cnt>0 packs to the BIT-IDENTICAL word
    list — the deletable store serves the same gate."""
    keys = spark.createDataFrame(
        [(f"shingle {i} text",) for i in range(50)], ["k"])
    m = 1024
    plain = sketches.bloom_build(keys, "k", m_bits=m, k=2)
    counted = sketches.counting_bloom_words(
        sketches.counting_bloom_cells(keys, "k", m_cells=m, k=2), m)
    assert counted == plain


def test_counting_bloom_subtract_preserves_shared_keys(spark):
    """Cell-wise subtraction of one holder's (doc, key) rows leaves a
    key positive while ANY other holder survives — the per-occurrence
    counting that makes takedown exact: after subtracting doc A's
    cells, every key doc B still holds tests positive, and a key held
    ONLY by doc A drops out of the survivor-rebuilt cells entirely."""
    m = 1024
    rows = [("A", "shared key"), ("A", "only in a"), ("B", "shared key"),
            ("B", "only in b")]
    df = spark.createDataFrame(rows, ["doc", "k"])
    full = sketches.counting_bloom_cells(df, "k", m_cells=m, k=2)
    a_cells = sketches.counting_bloom_cells(
        df.filter(F.col("doc") == "A"), "k", m_cells=m, k=2)
    after = (full.unionByName(a_cells.withColumn("cnt", -F.col("cnt")))
             .groupBy("cell").agg(F.sum("cnt").alias("cnt"))
             .filter(F.col("cnt") > 0))
    survivors_only = sketches.counting_bloom_cells(
        df.filter(F.col("doc") == "B"), "k", m_cells=m, k=2)
    assert (sorted(map(tuple, after.collect()))
            == sorted(map(tuple, survivors_only.collect())))
    words = sketches.counting_bloom_words(after, m)
    b_keys = df.filter(F.col("doc") == "B").select("k")
    assert b_keys.filter(~sketches.bloom_might_contain(
        F.col("k"), words, m, k=2)).count() == 0


def test_ingest_fingerprint_family_contract(spark, tmp_path, monkeypatch):
    """The ingest fingerprint family (the wfp/, dhash/ and afp/ views of
    streaming/ingest.py): after a bootstrap, each holds exactly one
    row per document — a doc shorter than one winnowing window
    included — read_wfp serves exactly winnow_fingerprints over the
    docs, the layout stamp pins each store's geometry, and a geometry
    change refuses for every store."""
    import json
    import os
    from cati_database_feeder_spark.operators.dedup import (
        winnow_fingerprints)
    from cati_database_feeder_spark.sources import multimodal as mm
    from cati_database_feeder_spark.streaming import ingest as ing
    short = "too short"
    assert len(short.split()) < ing.WFP_K + ing.WFP_W - 1
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "one two three alpha beta gamma delta epsilon iota"),
         (3, short)], ["doc_id", "text"])
    state = str(tmp_path / "state")
    ing.ingest_batch(spark, docs, state, batch_id=0)
    for name in ("wfp", "dhash", "afp"):
        ids = [r["doc_id"] for r in spark.read.parquet(
            ing.live_store(os.path.join(state, name)))
            .select("doc_id").collect()]
        assert sorted(ids) == [1, 2, 3], name
    assert (sorted(map(tuple, ing.read_wfp(spark, state).collect()))
            == sorted(map(tuple, winnow_fingerprints(
                docs, k=ing.WFP_K, w=ing.WFP_W).collect())))
    with open(os.path.join(state, "_LAYOUT")) as fh:
        stamp = json.load(fh)
    assert (stamp["wfp"], stamp["dhash_grid"], stamp["afp_bits"]) == (
        [ing.WFP_K, ing.WFP_W], [mm._DHASH_GRID_W, mm._DHASH_GRID_H],
        mm.AUDIO_HASH_BITS)
    for module, attr, value in ((ing, "WFP_W", ing.WFP_W + 1),
                                (mm, "_DHASH_GRID_H", 9),
                                (mm, "AUDIO_HASH_BITS", 48)):
        with monkeypatch.context() as m:
            m.setattr(module, attr, value)
            with pytest.raises(ing.StateLockError,
                               match="geometry.*pinned at bootstrap"):
                ing.ingest_batch(spark, docs, state, batch_id=1)


def test_ingest_sketch_family_contract(spark, tmp_path):
    """The views of the corpus (streaming/ingest.py ``_VIEWS``: cbloom/,
    hll/, wfp/, dhash/, afp/) across a bootstrap, a batch, a delete, a
    redelivery, a second batch and a compaction:

    - an incremental batch writes files only under corpus/, members/,
      reps/, buckets/, labels/, pairs/ and metrics/, so every view
      dir's listing is unchanged by it, and a redelivery writes
      nothing;
    - every reader equals a from-scratch build over the live corpus,
      with a non-empty tail (after each batch) and with an empty one
      (after the bootstrap, the delete and compact_state, which
      rebuild the views and rewrite the manifest)."""
    import json
    import os
    from cati_database_feeder_spark.operators.dedup import (
        winnow_fingerprints)
    from cati_database_feeder_spark.streaming import ingest as ing
    state = str(tmp_path / "state")
    corpus_dir = os.path.join(state, "corpus")
    batch_stores = {"corpus", "members", "reps", "buckets", "labels",
                    "pairs", "metrics"}

    def listing():
        return {os.path.relpath(os.path.join(d, f), state):
                os.stat(os.path.join(d, f)).st_mtime_ns
                for d, _, fs in os.walk(state) for f in fs}

    def stores_touched_by_ingest(rows, batch_id):
        before = listing()
        ing.ingest_batch(spark, spark.createDataFrame(
            rows, ["doc_id", "text"]), state, batch_id=batch_id)
        after = listing()
        return {p.split(os.sep)[0].split("__e")[0].split(".")[0]
                for p in before.keys() | after.keys()
                if before.get(p) != after.get(p)}

    def tail():
        with open(os.path.join(state, ing._MANIFEST)) as fh:
            manifest = json.load(fh)
        live = ing.live_store(corpus_dir)
        assert manifest["corpus"] == os.path.basename(live)
        return set(ing._part_files(live)) - set(manifest["files"])

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def assert_views_equal_scratch():
        corpus = spark.read.parquet(ing.live_store(corpus_dir))
        cells = rows(ing.read_cbloom(spark, state))
        assert cells and cells == rows(ing._cbloom_of(corpus))
        est = (ing._hll_of(corpus).select(F.hll_sketch_estimate("sk"))
               .collect()[0][0])
        assert ing.read_hll(spark, state) == (est, ing.HLL_LGK)
        assert rows(ing.read_wfp(spark, state)) == rows(
            winnow_fingerprints(corpus, k=ing.WFP_K, w=ing.WFP_W))
        assert rows(ing.read_dhash(spark, state)) \
            == rows(ing._dhash_of(corpus))
        assert rows(ing.read_afp(spark, state)) \
            == rows(ing._afp_of(corpus))

    batch1 = [(4, "eight nine ten eleven twelve thirteen"),
              (5, "one two three four")]
    ing.ingest_batch(spark, spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon"),
         (3, "one two three four five six seven")],
        ["doc_id", "text"]), state, batch_id=0)
    assert not tail()
    touched = stores_touched_by_ingest(batch1, 1)
    assert "corpus" in touched and touched <= batch_stores
    assert tail()
    assert_views_equal_scratch()
    ing.delete_docs(spark, state, [2])
    assert not tail()
    assert_views_equal_scratch()
    # redelivery of batch 1 and of the deleted doc: a pure replay
    assert not stores_touched_by_ingest(
        batch1 + [(2, "alpha beta gamma delta epsilon")], 1)
    touched = stores_touched_by_ingest(
        [(6, "alpha beta gamma delta epsilon zeta eta theta")], 2)
    assert "corpus" in touched and touched <= batch_stores
    assert tail()
    assert_views_equal_scratch()
    ing.compact_state(spark, state, target_files=2)
    assert not tail()
    assert_views_equal_scratch()
    assert sorted(r["doc_id"] for r in spark.read.parquet(
        ing.live_store(corpus_dir)).collect()) == [1, 3, 4, 5, 6]
