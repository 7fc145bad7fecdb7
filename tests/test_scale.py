"""Scale-posture mechanics: skew salting and bucketed co-located joins.

These don't add semantics — they pin the PHYSICAL properties the 100 TB
design depends on: salted plans produce bit-identical results to their
unsalted twins, and bucketed tables join without a shuffle exchange.
"""

import re

import pytest
from pyspark.sql import functions as F

from cati_database_feeder_spark.catalog import load_table
from cati_database_feeder_spark.operators import skew


def test_salted_agg_matches_direct(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    direct = {r["l_returnflag"]: (r["s"], r["n"]) for r in
              li.groupBy("l_returnflag")
                .agg(F.sum(F.col("l_quantity").cast("decimal(28,6)"))
                      .cast("double").alias("s"),
                     F.count(F.lit(1)).alias("n")).collect()}
    salted = {r["l_returnflag"]: (r["s"], r["n"]) for r in
              skew.salted_agg(
                  li, ["l_returnflag"],
                  partial_aggs=[F.sum(F.col("l_quantity").cast("decimal(28,6)"))
                                 .alias("p_s"),
                                F.count(F.lit(1)).alias("p_n")],
                  aggs=[F.sum("p_s").cast("double").alias("s"),
                        F.sum("p_n").alias("n")],
                  n_salts=16).collect()}
    assert salted == direct


def test_replicate_salt_join_matches_plain(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = (load_table(spark, sf_dir, "customer")
            .select(F.col("c_custkey").alias("o_custkey"), "c_name"))
    plain = skew.replicate_salt_join(orders, cust, "o_custkey", n_salts=4)
    want = orders.join(cust, "o_custkey")
    assert plain.count() == want.count()
    got = {(r["o_orderkey"], r["c_name"]) for r in plain.collect()}
    exp = {(r["o_orderkey"], r["c_name"]) for r in want.collect()}
    assert got == exp


def test_salting_spreads_zipf_hot_key_across_partitions(spark):
    """The evidence the 100 TB skew claim rests on: on a Zipf-skewed key
    (one key owns half the rows) the plain hash shuffle concentrates the
    hot key in ONE partition, while the salted shuffle spreads it over
    n_salts partitions — max task input drops by ~the replication
    factor. Measured on the real partitioning (repartition by the same
    expressions the salted phase-1 groupBy shuffles on), so the test
    fails if salting is dropped or the salt stops reaching the shuffle
    key."""
    n, n_salts = 100_000, 8
    # Zipf-ish fixture: key 0 gets 50% of rows, the rest spread evenly
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
         .otherwise((F.col("id") % 1000) + 1).alias("grp"),
        (F.col("id") % 97).alias("v"))

    def max_partition_rows(frame, *cols):
        parts = (frame.repartition(32, *[F.col(c) for c in cols])
                 .select(F.spark_partition_id().alias("pid"))
                 .groupBy("pid").count().collect())
        return max(r["count"] for r in parts)

    plain = max_partition_rows(df, "grp")
    salted_frame = df.withColumn(
        "__salt", (F.rand(42) * n_salts).cast("int"))
    salted = max_partition_rows(salted_frame, "grp", "__salt")
    assert plain >= n // 2, "fixture lost its hot key"
    # ~8x spreading in bucket terms; two (grp, salt) buckets may still
    # hash-collide into one of the 32 partitions, so assert 3x on the
    # partition max and assert the bucket-level spread directly below
    assert salted * 3 <= plain, (
        f"salting stopped spreading the hot key: plain max {plain}, "
        f"salted max {salted}")
    hot_partitions = (salted_frame.repartition(32, F.col("grp"), F.col("__salt"))
                      .filter(F.col("grp") == 0)
                      .select(F.spark_partition_id()).distinct().count())
    assert hot_partitions >= n_salts - 2, (
        f"hot key landed in only {hot_partitions} partitions")


def test_salted_agg_phase1_shuffles_on_salt(spark):
    """Plan property: salted_agg's first aggregate must shuffle on
    (keys, __salt) — if the salt column disappears from the plan, the
    operator has silently degraded to a plain (straggler-prone) agg."""
    df = spark.range(1000).select((F.col("id") % 3).alias("grp"),
                                  F.col("id").alias("v"))
    out = skew.salted_agg(df, ["grp"],
                          aggs=[F.sum("c").alias("c")],
                          partial_aggs=[F.count(F.lit(1)).alias("c")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan
    direct = {r["grp"]: r["c"] for r in
              df.groupBy("grp").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert {r["grp"]: r["c"] for r in out.collect()} == direct


def test_shared_stage_evicts_stale_sessions_and_clears(spark):
    from cati_database_feeder_spark import queryset

    built = []

    def build():
        built.append(1)
        return spark.range(3)

    queryset.shared_stage(spark, "t_stage", build)
    queryset.shared_stage(spark, "t_stage", build)
    assert len(built) == 1  # second call served from cache

    # an entry keyed by a stopped session's applicationId must be
    # evicted on the next access, not held for the process lifetime
    queryset._STAGE_CACHE[("app-from-a-dead-session", "t_stage")] = spark.range(1)
    queryset.shared_stage(spark, "t_stage", build)
    assert not any(k[0] == "app-from-a-dead-session"
                   for k in queryset._STAGE_CACHE)

    queryset.clear_stage_cache()
    assert queryset._STAGE_CACHE == {}
    queryset.shared_stage(spark, "t_stage", build)
    assert len(built) == 2  # rebuilt after clear
    queryset.clear_stage_cache()


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """Write-time partitioning by a coarse key → reads with a filter on
    that key scan only matching directories (PartitionFilters in the
    scan, not a post-scan Filter). The 100 TB layout for time-series:
    partition by date, prune by date."""
    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_by_type")
    events.write.partitionBy("event_type").mode("overwrite").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "event_type" in m.group(1)
    want = events.filter(F.col("event_type") == "click").count()
    assert back.count() == want


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_cust")
    (orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
           .option("path", str(tmp_path / "b_orders"))
           .mode("overwrite").saveAsTable("b_orders"))
    (cust.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
         .option("path", str(tmp_path / "b_cust"))
         .mode("overwrite").saveAsTable("b_cust"))
    bo, bc = spark.table("b_orders"), spark.table("b_cust")
    j = bo.hint("merge").join(bc, bo.o_custkey == bc.c_custkey)
    plan = j._jdf.queryExecution().executedPlan().toString()
    # bucket layout replaces the shuffle: no hash-partitioning exchange
    assert "Exchange hashpartitioning" not in plan
    assert j.count() == orders.join(cust, orders.o_custkey == cust.c_custkey).count()
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_cust")


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_doc_profile_single_pass_no_shuffle(spark, sf_dir):
    """The per-doc profile must stay one scan + projection chain:
    zero exchanges, zero Python — the 100 TB profiling contract."""
    from cati_database_feeder_spark.queryset import QUERIES
    plan = _plan(QUERIES["text_doc_profile"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "FileScan parquet" in plan and plan.count("FileScan parquet") == 1
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_bm25_topk_is_heap_not_global_sort(spark, sf_dir):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-
    partition heap + driver merge), never a full Sort of the corpus."""
    from cati_database_feeder_spark.queryset import QUERIES
    plan = _plan(QUERIES["bm25_topk_search"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_top_k_orders_is_heap_not_global_sort(spark, sf_dir):
    from cati_database_feeder_spark.queryset import QUERIES
    plan = _plan(QUERIES["top_k_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_flagship_feeder_zero_exchange(spark, sf_dir):
    """Scan → broadcast joins only at THIS scale: the plan carries no
    forced broadcast hints (the snapshot and customer are fact-derived
    and would OOM a forced broadcast at 100 TB); Catalyst/AQE picks
    broadcast here because the measured sides are under the threshold,
    so the small-scale plan must still be shuffle-free."""
    from cati_database_feeder_spark.queryset import QUERIES
    plan = _plan(QUERIES["flagship_feeder"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastHashJoin" in plan


def test_global_shuffle_ordinals_equals_global_rank(spark):
    from pyspark.sql import functions as F
    from cati_database_feeder_spark.operators.sampling import global_shuffle_ordinals

    df = spark.createDataFrame([(i,) for i in range(500)], ["doc_id"])
    key = F.md5(F.col("doc_id").cast("string"))
    got = {r["doc_id"]: r["pos"] for r in
           global_shuffle_ordinals(df, key, ["doc_id"], partitions=7).collect()}
    rows = sorted((format(__import__("hashlib").md5(str(i).encode()).hexdigest()), i)
                  for i in range(500))
    want = {doc: pos + 1 for pos, (_, doc) in enumerate(rows)}
    assert got == want
    # deterministic under a different input partitioning AND partition count
    got2 = {r["doc_id"]: r["pos"] for r in
            global_shuffle_ordinals(df.repartition(13), key, ["doc_id"],
                                    partitions=3).collect()}
    assert got2 == want
    # ordinals are a dense 1..N permutation
    assert sorted(got.values()) == list(range(1, 501))
    # the non-hex (sampled-boundary) path must agree exactly — same
    # global rank, any monotone bucketing
    got3 = {r["doc_id"]: r["pos"] for r in
            global_shuffle_ordinals(df, key, ["doc_id"], partitions=7,
                                    hex_key=False).collect()}
    assert got3 == want


def test_global_shuffle_ordinals_pinned_across_executions(spark):
    """Advisor repro (round 4): with partition assignment derived from a
    live RangePartitioner, the counts job and the consumer job each
    re-sample boundaries (seeded from the shuffle RDD id) and can
    disagree once inputs are large enough for reservoir sampling to
    engage — at 200k rows in 2 input partitions the unpinned round-4
    plan produced 175,772 wrong ordinals. Boundary LITERALS (round 6)
    make every execution deterministic by construction, with no cache:
    pos must be exactly a permutation of 1..n, and a second, separate
    action must agree."""
    from pyspark.sql import functions as F
    from cati_database_feeder_spark.operators.sampling import global_shuffle_ordinals

    n = 200_000
    df = spark.range(n).select(F.col("id").alias("doc_id")).coalesce(2)
    sc = spark.sparkContext
    pinned_before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    out = global_shuffle_ordinals(
        df, F.md5(F.col("doc_id").cast("string")), ["doc_id"], partitions=16)
    pos1 = sorted(r["pos"] for r in out.collect())
    assert pos1 == list(range(1, n + 1))
    # a second query execution over the same returned frame must derive
    # the same partition assignment (literals in the plan, not state)
    pos2 = sorted(r["pos"] for r in out.collect())
    assert pos2 == pos1
    # nothing pinned: the operator must leave no new persisted blocks
    pinned_after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    assert pinned_after <= pinned_before


def test_global_order_operators_lockstep_across_partition_counts(
        spark, sf_dir):
    """Round-7 verdict item 8: the literal-bucket argument says the
    global-order operators' OUTPUT is independent of the bucket count —
    this pins it across refactors by running the registered queries'
    exact operator forms over the real documents table at partitions ∈
    {2, 8, 32} (and both bucketing paths) and requiring identical full
    outputs, row for row."""
    from pyspark.sql import functions as F
    from cati_database_feeder_spark.catalog import load_table
    from cati_database_feeder_spark.functions import text as T
    from cati_database_feeder_spark.operators.sampling import (
        global_shuffle_ordinals, pack_sequences)

    d = (load_table(spark, sf_dir, "documents")
         .select("doc_id", T.token_count(F.col("text")).alias("n_tokens")))
    key = F.md5(F.col("doc_id").cast("string"))

    base_ord = None
    base_pack = None
    for parts in (2, 8, 32):
        got_ord = sorted(
            (r["doc_id"], r["pos"]) for r in global_shuffle_ordinals(
                d, key, ["doc_id"], partitions=parts).collect())
        got_pack = sorted(
            (r["doc_id"], r["seq_id"], r["seq_offset"], r["n_seqs"])
            for r in pack_sequences(d, key, ["doc_id"], "n_tokens", 2048,
                                    partitions=parts).collect())
        if base_ord is None:
            base_ord, base_pack = got_ord, got_pack
            assert len(base_ord) == d.count()
        else:
            assert got_ord == base_ord, f"ordinals drift at partitions={parts}"
            assert got_pack == base_pack, f"packing drift at partitions={parts}"
    # the sampled-boundary (hex_key=False) path must agree with the
    # hex path too — any monotone bucketing, same global rank
    got_nh = sorted(
        (r["doc_id"], r["pos"]) for r in global_shuffle_ordinals(
            d, key, ["doc_id"], partitions=8, hex_key=False).collect())
    assert got_nh == base_ord


def test_round8_operator_plan_shapes(spark, sf_dir):
    """Plan-shape pins for the round-8 operators — the properties the
    100 TB argument depends on, asserted so refactors can't silently
    lose them: epoch_repeat is map-only (zero exchanges before any
    aggregation), incremental SemDeDup has no cartesian product and
    no corpus-wide window, and the multi-table LSH candidate path is
    equi-join only."""
    from cati_database_feeder_spark.catalog import load_table
    from cati_database_feeder_spark.operators.sampling import epoch_repeat
    from cati_database_feeder_spark.operators.similarity import (
        assign_cells, gaussian_hyperplanes, incremental_semdedup_pairs,
        lsh_topk_tables)
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    rep = epoch_repeat(d, "lang", "doc_id", {"en": 2.3, "de": 0.5})
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "epoch_repeat must be map-only"
    assert "CartesianProduct" not in plan

    e = load_table(spark, sf_dir, "embeddings")
    cents = [(int(r["vec_id"]), list(r["embedding"]))
             for r in e.filter(F.col("vec_id") < 8)
                       .select("vec_id", "embedding").collect()]
    corpus = e.filter(F.col("vec_id") % 10 != 0)
    delta = e.filter(F.col("vec_id") % 10 == 0)
    sem = incremental_semdedup_pairs(
        delta, assign_cells(corpus, cents, by="ip"), cents,
        threshold=0.3, by="ip")
    plan = sem._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, "assignment must be per-row, not windowed"

    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    topk = lsh_topk_tables(q, e, gaussian_hyperplanes(64, 4 * 8),
                           k=5, n_bits=4, n_tables=8)
    plan = topk._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, (
        "candidates must come from the (tbl,bucket) equi-join")


def test_mixture_fractions_temperature_properties():
    import pytest
    from cati_database_feeder_spark.operators.sampling import mixture_fractions

    sizes = {"en": 1_000_000, "de": 100_000, "sw": 1_000}
    # alpha=1: natural proportions — keep everything (c binds at the
    # largest stratum's fraction hitting 1 simultaneously for all)
    f1 = mixture_fractions(sizes, alpha=1.0)
    assert all(f == pytest.approx(1.0) for f in f1.values())
    # alpha=0.5 flattens: the smallest stratum keeps 100%, bigger ones
    # are down-sampled, and EXPECTED KEPT follows size^0.5 exactly
    f = mixture_fractions(sizes, alpha=0.5)
    assert f["sw"] == pytest.approx(1.0)
    kept = {k: f[k] * sizes[k] for k in sizes}
    assert kept["en"] / kept["de"] == pytest.approx((10.0) ** 0.5, rel=1e-9)
    assert kept["de"] / kept["sw"] == pytest.approx((100.0) ** 0.5, rel=1e-9)
    # target_fraction caps expected total
    fc = mixture_fractions(sizes, alpha=0.5, target_fraction=0.01)
    assert sum(fc[k] * sizes[k] for k in sizes) == pytest.approx(
        0.01 * sum(sizes.values()))
    # zero-size strata come back 0.0, never a division error
    assert mixture_fractions({"a": 0, "b": 10}, alpha=0.5)["a"] == 0.0
    with pytest.raises(ValueError, match="target_fraction"):
        mixture_fractions(sizes, target_fraction=1.5)


def test_pack_sequences_matches_single_partition_reference(spark):
    """Packing invariants vs a driver-side reference over the exact
    global order: start offsets are the exclusive running sum, seq_id /
    seq_offset are integer div/mod, spans cover zero-token docs and
    budget-straddling docs. Exercises both bucketing paths."""
    import hashlib

    from pyspark.sql import functions as F
    from cati_database_feeder_spark.operators.sampling import pack_sequences

    rows = [(i, (i * 7) % 23) for i in range(300)]   # token counts 0..22
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    key = F.md5(F.col("doc_id").cast("string"))
    order = sorted(rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))
    want, acc = {}, 0
    for doc, nt in order:
        seq = acc // 10
        span = 1 if nt == 0 else (acc + nt - 1) // 10 - seq + 1
        want[doc] = (seq, acc % 10, span)
        acc += nt
    for hex_key in (True, False):
        got = {r["doc_id"]: (r["seq_id"], r["seq_offset"], r["n_seqs"])
               for r in pack_sequences(df, key, ["doc_id"], "n_tokens", 10,
                                       partitions=7, hex_key=hex_key).collect()}
        assert got == want
    # budget-straddling really occurred (token counts up to 22 > 10)
    assert any(v[2] >= 2 for v in want.values())
    # no single-partition sort in the plan
    out = pack_sequences(df, key, ["doc_id"], "n_tokens", 10, partitions=7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "singlepartition" not in plan.lower()


def test_pack_sequences_pluggable_counter_matches_reference(spark):
    """Round-8 verdict item 5: the packing budget counter is pluggable
    — a column NAME or a column EXPRESSION (e.g. bpe_ish_token_count)
    both drive the same literal-bucket machinery. For each counter the
    packed index must equal the single-partition driver reference over
    that counter's token stream, and the two counters must genuinely
    DIFFER on this corpus (punctuation-heavy text splits into more
    word-pieces than whitespace words — otherwise the parametrization
    proves nothing). The staged expression column must not leak into
    the output schema."""
    import hashlib
    import re

    from pyspark.sql import functions as F
    from cati_database_feeder_spark.functions import text as TX
    from cati_database_feeder_spark.operators.sampling import pack_sequences

    texts = [(i, f"doc {i}: alpha, beta; gamma-delta " * (i % 5))
             for i in range(120)]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    key = F.md5(F.col("doc_id").cast("string"))

    def ws_count(t):
        return len(t.split()) if t.strip() else 0

    def bpe_count(t):
        return len(re.findall(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]", t))

    assert any(ws_count(t) != bpe_count(t) for _, t in texts)

    counters = [
        (TX.token_count(F.col("text")), ws_count),
        (TX.bpe_ish_token_count(F.col("text")), bpe_count),
    ]
    order = sorted(texts, key=lambda r: (
        hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))
    for col_expr, py_count in counters:
        want, acc = {}, 0
        for doc, t in order:
            nt = py_count(t)
            seq = acc // 16
            span = 1 if nt == 0 else (acc + nt - 1) // 16 - seq + 1
            want[doc] = (seq, acc % 16, span)
            acc += nt
        out = pack_sequences(df, key, ["doc_id"], col_expr, 16, partitions=5)
        assert "__ntokens" not in out.columns  # staged column dropped
        got = {r["doc_id"]: (r["seq_id"], r["seq_offset"], r["n_seqs"])
               for r in out.collect()}
        assert got == want


def test_write_training_shards_layout(spark, tmp_path):
    """Shard export contract: parquet partitioned by shard = pos DIV
    rows_per_shard, one file per shard, rows inside each file sorted by
    pos — a loader streams any shard in training order with no further
    sort and resumes at an arbitrary global step by shard + skip."""
    import glob
    import os

    from pyspark.sql import functions as F
    from cati_database_feeder_spark.operators.sampling import (
        global_shuffle_ordinals, write_training_shards)

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    ordered = global_shuffle_ordinals(
        df, F.md5(F.col("doc_id").cast("string")), ["doc_id"], partitions=7)
    out = str(tmp_path / "shards")
    write_training_shards(ordered, out, rows_per_shard=100)

    shard_dirs = sorted(glob.glob(os.path.join(out, "shard=*")))
    assert [os.path.basename(d) for d in shard_dirs] == [
        f"shard={i}" for i in range(5)]
    seen = set()
    for d in shard_dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1  # repartition("shard") → one file per shard
        rows = spark.read.parquet(files[0]).select("doc_id", "pos").collect()
        pos = [r["pos"] for r in rows]
        assert pos == sorted(pos)  # in-file training order
        assert len(pos) == 100
        seen.update(r["doc_id"] for r in rows)
    assert len(seen) == 500  # every doc in exactly one shard


def test_global_order_null_key_guard(spark):
    """Null/non-hex keys must fail loudly (ValueError naming the
    contract), not silently drop rows via the NULL bucket id; null
    token counts are coalesced to 0 instead of poisoning offsets."""
    import pytest
    from pyspark.sql import functions as F
    from cati_database_feeder_spark.operators.sampling import (
        global_shuffle_ordinals, pack_sequences)

    df = spark.createDataFrame(
        [(1, "a1b2"), (2, None), (3, "c3d4")], ["doc_id", "k"])
    with pytest.raises(ValueError, match="key contract"):
        global_shuffle_ordinals(df, F.col("k"), ["doc_id"], partitions=3)
    with pytest.raises(ValueError, match="key contract"):
        global_shuffle_ordinals(
            df.withColumn("k", F.lit("not hex!")), F.col("k"),
            ["doc_id"], partitions=3)
    with pytest.raises(ValueError, match="key contract"):
        global_shuffle_ordinals(df, F.col("k"), ["doc_id"],
                                partitions=3, hex_key=False)
    toks = spark.createDataFrame(
        [(1, 5), (2, None), (3, 7)], "doc_id long, n_tokens int")
    got = {r["doc_id"]: (r["seq_id"], r["seq_offset"], r["n_seqs"])
           for r in pack_sequences(
               toks, F.md5(F.col("doc_id").cast("string")), ["doc_id"],
               "n_tokens", 4, partitions=2).collect()}
    assert len(got) == 3  # the null-count row keeps its slot
    assert sum(1 for v in got.values() if v[2] == 1) >= 1


def test_global_shuffle_ordinals_no_single_partition_sort(spark):
    """Plan property: the ordinal assignment must not contain a global
    (single-partition) sort — the window sorts within literal-bounded
    key partitions only."""
    from pyspark.sql import functions as F
    from cati_database_feeder_spark.operators.sampling import global_shuffle_ordinals
    df = spark.range(100).withColumnRenamed("id", "doc_id")
    out = global_shuffle_ordinals(
        df, F.md5(F.col("doc_id").cast("string")), ["doc_id"], partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the window shuffle hashes on the literal-derived bucket id
    assert "hashpartitioning(__pid" in plan
    # no Exchange SinglePartition feeding a Sort (the global-sort shape)
    assert "singlepartition" not in plan.lower()


def test_registered_query_persists_release_via_stage_cache(spark, sf_dir):
    """Round-10 hygiene pin: the four registered queries that used to
    call a bare per-query persist() (dup-span profile, store-backed
    incremental near-dup, the Bloom-gate benchmark set, the
    heavy-hitter token stream) now route through shared_stage — so a
    long multi-query session can release EVERY cached block with
    clear_stage_cache() instead of accumulating orphans until LRU
    eviction."""
    from cati_database_feeder_spark import queryset

    sc = spark.sparkContext
    queryset.clear_stage_cache()
    pinned_before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    for name in ("text_dup_span_profile", "near_dup_incremental_store",
                 "decontaminate_bloom_gate", "text_heavy_hitters"):
        queryset.QUERIES[name](spark, sf_dir).count()
    queryset.clear_stage_cache()
    pinned_after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    assert pinned_after <= pinned_before


def _plan_shape(df):
    """The executed plan without expression ids, whose digit counts
    grow with every plan the session builds."""
    return re.sub(r"#\d+", "", _plan(df))


def test_nearest_cell_kernel_model_scale(spark):
    """Round-10 verdict item 2 (the literal-centroid ceiling): the
    centroid model travels as a broadcast numpy array, never in the
    plan, so (a) the assignment plan at 512 cells is no longer than at
    16, (b) the assignment is one map-only kernel with no corpus-side
    exchange, and (c) IVF trains AND serves at n_cells = 4096, the
    model size where a literal plan became the analyzer hazard the
    verdict flagged. Bit-equality with the Column form is pinned in
    tests/test_kernels.py."""
    import random
    from cati_database_feeder_spark.operators.similarity import (
        assign_cells, ivf_topk, train_ivf_centroids)
    rnd = random.Random(11)
    corpus = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(300)],
        "vec_id long, embedding array<double>")

    def model(n_cells):
        return [(c, [rnd.uniform(-1, 1) for _ in range(16)])
                for c in range(n_cells)]

    small = assign_cells(corpus, model(16), by="ip")
    large = assign_cells(corpus, model(512), by="ip")
    plan = _plan_shape(large)
    assert len(plan) <= len(_plan_shape(small))
    assert "Exchange hashpartitioning" not in plan
    assert large.filter(F.col("cell").isNull()).count() == 0

    big = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(6000)],
        "vec_id long, embedding array<double>")
    trained = train_ivf_centroids(big, n_cells=4096, iterations=1)
    assert len(trained) >= 2048  # most seed cells survive re-centering
    q = (big.filter(F.col("vec_id") % 1000 == 0)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    served = ivf_topk(q, assign_cells(big, trained), trained,
                      k=5, nprobe=8)
    assert len(served.collect()) == 6 * 5  # 6 queries x top-5


def test_jl_project_plan_independent_of_model(spark):
    """E84 applied to the JL projection model: the planes travel as a
    broadcast numpy array, so the projection plan with 32 planes is no
    longer than with 2, and the projection adds no exchange.
    Bit-equality with the Column form is pinned in
    tests/test_kernels.py."""
    import random
    from cati_database_feeder_spark.operators.similarity import (
        gaussian_hyperplanes, jl_project)
    rnd = random.Random(7)
    dim = 256
    df = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(80)],
        "vec_id long, embedding array<double>")
    few = jl_project(df, "embedding", gaussian_hyperplanes(dim, n_bits=2))
    many = jl_project(df, "embedding", gaussian_hyperplanes(dim, n_bits=32))
    plan = _plan_shape(many)
    assert len(plan) <= len(_plan_shape(few))
    assert "Exchange hashpartitioning" not in plan
    assert {len(r["proj"]) for r in many.collect()} == {32}


def test_zorder_bucket_partition_pruning(spark, sf_dir, tmp_path):
    """The E105 write-time-layout claim made concrete (the IVF
    cell-pruning argument applied to Z-order): events parquet
    partitioned by the Morton bucket; a 2-D probe rectangle restricted
    to the buckets its manifest flags reads ONLY those partitions
    (PartitionFilters in the plan, numFiles < total), so a range scan
    touches the flagged fraction of the corpus bytes."""
    import re

    from cati_database_feeder_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    # probe rectangle derived from the data so the test holds at any
    # SF (the registered query's fixed probe and fixed 16-bit bucket
    # shift assume the sf0.01+ domain): middle half of the user
    # domain × days 10-14
    hi_u = ev.agg(F.max("user_id")).collect()[0][0]
    x_lo, x_hi = hi_u // 4, hi_u // 2

    def spread16(c):
        x = c.cast("long").bitwiseAND(F.lit(65535))
        for sh, mask in ((8, 16711935), (4, 252645135),
                         (2, 858993459), (1, 1431655765)):
            x = x.bitwiseOR(F.shiftleft(x, sh)).bitwiseAND(F.lit(mask))
        return x

    y = F.datediff(F.col("ts").cast("date"),
                   F.lit("2024-01-01").cast("date"))
    zv = spread16(F.col("user_id")).bitwiseOR(F.shiftleft(spread16(y), 1))
    # data-adaptive bucket width: top-4-ish bits of the OCCUPIED
    # z-range (the fixed 26 of the registered query needs the full
    # 16-bit domains) → ~16 non-empty buckets at any SF
    zmax = ev.select(zv.alias("z")).agg(F.max("z")).collect()[0][0]
    shift = max(int(zmax).bit_length() - 4, 1)
    out = str(tmp_path / "z_events")
    (ev.withColumn("zbucket", F.shiftright(zv, shift).cast("int"))
     .write.partitionBy("zbucket").parquet(out))
    man = (ev.select(F.col("user_id").alias("x"), y.alias("yy"),
                     F.shiftright(zv, shift).cast("int").alias("bucket"))
           .groupBy("bucket")
           .agg(F.min("x").alias("min_x"), F.max("x").alias("max_x"),
                F.min("yy").alias("min_y"), F.max("yy").alias("max_y"))
           .collect())
    flagged = [int(r["bucket"]) for r in man
               if r["min_x"] <= x_hi and r["max_x"] >= x_lo
               and r["min_y"] <= 14 and r["max_y"] >= 10]
    all_buckets = len(man)
    assert 0 < len(flagged) < all_buckets  # the probe must PRUNE
    laid = spark.read.parquet(out)
    probe = laid.filter(F.col("zbucket").isin(flagged))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "zbucket" in m.group(1), plan
    got = len(probe.collect())  # drives THIS df's own QueryExecution
    leaves = probe._jdf.queryExecution().executedPlan().collectLeaves()
    num_files = None
    for i in range(leaves.size()):
        node = leaves.apply(i)
        if "FileSourceScan" in node.getClass().getSimpleName():
            num_files = node.metrics().apply("numFiles").value()
    total_files = len(laid.inputFiles())
    assert num_files is not None and 0 < num_files < total_files
    # and the flagged buckets really contain every probe-rectangle row
    in_rect = ev.filter(F.col("user_id").between(x_lo, x_hi)
                        & y.between(10, 14)).count()
    rect_in_flagged = probe.filter(
        F.col("user_id").between(x_lo, x_hi)
        & F.datediff(F.col("ts").cast("date"),
                     F.lit("2024-01-01").cast("date")).between(10, 14)
    ).count()
    assert in_rect == rect_in_flagged and got > 0
