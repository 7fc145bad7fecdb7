"""Bigram-LM familiarity (operators/quality.py, extension E52)."""

from pyspark.sql import functions as F

from cati_database_feeder_spark.operators.quality import bigram_familiarity


def test_bigram_familiarity_hand_computed(spark):
    # corpus bigrams: (a,b) x2 [docs 1,2], (b,c) x1, (b,a) x1
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "A b"), (3, "b a"), (4, "solo")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in bigram_familiarity(docs, rare_max=1)
           .collect()}
    # doc 4 has one token → no transitions → absent
    assert set(got) == {1, 2, 3}
    # doc 1: bigrams (a,b) c=2, (b,c) c=1 → fam_sum 3, rare_occ 1
    assert got[1]["n_bigrams"] == 2 and got[1]["fam_sum"] == 3
    assert got[1]["familiarity"] == 1.5 and got[1]["rare_frac"] == 0.5
    # doc 2: lowercased (a,b) c=2 → familiar, nothing rare
    assert got[2]["fam_sum"] == 2 and got[2]["rare_frac"] == 0.0
    # doc 3: (b,a) c=1 → all rare
    assert got[3]["familiarity"] == 1.0 and got[3]["rare_frac"] == 1.0


def test_bigram_familiarity_mass_conservation(spark, sf_dir):
    """Σ n_bigrams over docs == Σ corpus bigram counts == Σ fam-weighted
    occurrences' own count — the exact-integer bookkeeping the oracle
    relies on, checked on real testdata."""
    from cati_database_feeder_spark.catalog import load_table
    from cati_database_feeder_spark.functions import text as textfn
    d = load_table(spark, sf_dir, "documents")
    out = bigram_familiarity(d)
    total_bigrams = out.agg(F.sum("n_bigrams")).collect()[0][0]
    expect = (d.select(textfn.token_count(F.col("text")).alias("n"))
              .filter(F.col("n") >= 2)
              .agg(F.sum(F.col("n") - 1)).collect()[0][0])
    assert total_bigrams == expect


def test_bigram_familiarity_plan_has_no_window_or_cartesian(spark, sf_dir):
    """The 100 TB shape: model build + scoring is groupBy/join on the
    bigram key only — no corpus-wide window, no cartesian product."""
    from cati_database_feeder_spark.catalog import load_table
    d = load_table(spark, sf_dir, "documents")
    plan = (bigram_familiarity(d)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_remove_duplicate_spans_hand_computed(spark):
    """Lee-et-al span removal (operators/dedup.py:remove_duplicate_spans,
    k=2 for a readable fixture): globally-first occurrence survives,
    every other occurrence's span is cut, within-doc repeats count,
    short docs pass through."""
    from cati_database_feeder_spark.operators.dedup import (
        remove_duplicate_spans)
    docs = spark.createDataFrame(
        [(1, "a b c d"),        # owns first occurrences of all its 2-grams
         (2, "a b x y"),        # "a b" duplicated (doc 1 pos 1 is first)
         (3, "a b c d"),        # whole doc duplicated -> cleaned empty
         (4, "p q p q p"),      # within-doc repeat: "p q" at pos 1 and 3
         (5, "solo")],          # < k tokens: untouched
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           remove_duplicate_spans(docs, k=2).collect()}
    assert len(got) == 5
    assert got[1]["cleaned_text"] == "a b c d" and got[1]["n_removed"] == 0
    # doc 2: span (pos 1,2) cut -> "x y" survives
    assert got[2]["cleaned_text"] == "x y" and got[2]["n_removed"] == 2
    # doc 3: every 2-gram first occurs in doc 1 -> everything cut
    assert got[3]["cleaned_text"] == "" and got[3]["n_removed"] == 4
    # doc 4: "p q" first at (4,1); repeats at pos 3 cover tokens 3-4;
    # "q p" occurs at pos 2 and 4 -> first (4,2) survives, pos 4 covers
    # tokens 4-5 -> kept = tokens 1,2 ("p q")
    assert got[4]["cleaned_text"] == "p q" and got[4]["n_removed"] == 3
    assert got[5]["cleaned_text"] == "solo" and got[5]["n_removed"] == 0


def test_remove_duplicate_spans_plan_has_no_window(spark, sf_dir):
    """The global-first selection must be an aggregate (map-side
    partials), never a corpus-wide window, and nothing cartesian."""
    from cati_database_feeder_spark.catalog import load_table
    from cati_database_feeder_spark.operators.dedup import (
        remove_duplicate_spans)
    d = load_table(spark, sf_dir, "documents")
    plan = (remove_duplicate_spans(d, k=8)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_token_budget_prefix_equals_driver_reference(spark):
    """token_budget_prefix (operators/sampling.py) ≡ a driver-computed
    strict prefix under (key, id) order, for any partition count —
    including budget boundaries (a doc exactly filling the budget is
    kept; the first overflowing doc and everything after drop)."""
    import random
    from cati_database_feeder_spark.operators.sampling import (
        token_budget_prefix)
    rng = random.Random(9)
    # include ZERO-token rows: a zero-token row whose cum_tokens lands
    # exactly ON the budget must be kept even when a bucket boundary
    # falls right before it (the driver-prune <= fix; review finding)
    rows = [(i, rng.uniform(0.0, 5.0), rng.randint(1, 40))
            for i in range(300)] + [(300 + j, rng.uniform(0.0, 5.0), 0)
                                    for j in range(20)]
    from pyspark.sql import functions as F
    expect_order = sorted(rows, key=lambda r: (-r[1], r[0]))
    for budget in (1, 173, 2000, 10 ** 9):
        acc, expect = 0, {}
        for i, q, n in expect_order:
            if acc + n > budget:
                break
            acc += n
            expect[i] = acc
        assert any(n == 0 for _, _, n in expect_order)
        for parts in (2, 8):
            df = spark.createDataFrame(rows, ["id", "q", "n"]) \
                      .repartition(parts)
            got = {r["id"]: r["cum_tokens"]
                   for r in token_budget_prefix(
                       df, key=-F.col("q"), tie_cols=["id"],
                       n_tokens_col="n", budget=budget,
                       partitions=parts).collect()}
            assert got == expect, f"budget={budget} parts={parts}"


def test_per_group_rank_buckets_equals_driver_reference(spark):
    """per_group_rank_buckets (operators/sampling.py) ≡ a driver
    row_number-per-group reference for any partition count, including
    tiny groups (n < n_buckets) and a group of one."""
    import random
    from pyspark.sql import functions as F
    from cati_database_feeder_spark.operators.sampling import (
        per_group_rank_buckets)
    rng = random.Random(11)
    rows = [(i, ["a", "b", "c", "solo"][min(rng.randrange(8), 3)]
             if i != 0 else "solo", rng.randrange(1000))
            for i in range(200)]
    # driver reference: rank within group by (v asc, id asc)
    expect = {}
    for g in {r[1] for r in rows}:
        grp = sorted((v, i) for i, gg, v in rows if gg == g)
        n = len(grp)
        for r, (v, i) in enumerate(grp, start=1):
            expect[i] = (r, n, (3 * (r - 1)) // n)
    wk = F.concat(F.format_string("%020d", F.col("v")),
                  F.format_string("%020d", F.col("id")))
    for parts in (2, 8):
        df = spark.createDataFrame(rows, ["id", "g", "v"]).repartition(parts)
        got = {r["id"]: (r["grp_rank"], r["grp_n"], r["bucket"])
               for r in per_group_rank_buckets(df, "g", wk, n_buckets=3,
                                               partitions=parts).collect()}
        assert got == expect, f"parts={parts}"


def test_per_group_rank_hybrid_tiny_and_giant_groups(spark):
    """The round-10 hybrid split (operators/sampling.py:
    per_group_rank_buckets): a fixture with 10^4 one-row groups plus 2
    giant ones must equal the driver row_number reference at EVERY
    split point — heavy_threshold below all groups (everything rides
    the literal-bucket global-rank path), between (mixed: giants on
    the ordinal path, the tail on the plain window), and above all
    (pure window path, zero driver state). The mixed setting is the
    production shape E57 is pitched for: a web corpus where a handful
    of giant domains would serialize a per-group window AND tens of
    millions of tiny domains would blow up a per-group broadcast."""
    import random
    from pyspark.sql import functions as F
    from cati_database_feeder_spark.operators.sampling import (
        cap_per_group, per_group_rank_buckets)
    rng = random.Random(47)
    rows = [(i, f"tiny{i:05d}", rng.randrange(10 ** 6))
            for i in range(10 ** 4)]
    nxt = 10 ** 4
    for g in ("giant_a", "giant_b"):
        for _ in range(500):
            rows.append((nxt, g, rng.randrange(10 ** 6)))
            nxt += 1
    expect = {}
    for g in {r[1] for r in rows}:
        grp = sorted((v, i) for i, gg, v in rows if gg == g)
        n = len(grp)
        for r, (v, i) in enumerate(grp, start=1):
            expect[i] = (r, n, (3 * (r - 1)) // n)
    wk = F.concat(F.format_string("%020d", F.col("v")),
                  F.format_string("%020d", F.col("id")))
    df = spark.createDataFrame(rows, ["id", "g", "v"]).repartition(8)
    for thresh in (1, 100, 10 ** 6):
        got = {r["id"]: (r["grp_rank"], r["grp_n"], r["bucket"])
               for r in per_group_rank_buckets(
                   df, "g", wk, n_buckets=3, partitions=8,
                   heavy_threshold=thresh).collect()}
        assert got == expect, f"heavy_threshold={thresh}"
    # cap_per_group on the mixed split: ranks survive the hybrid union
    capped = cap_per_group(df, "g", wk, cap=3, partitions=8,
                           heavy_threshold=100).collect()
    want = {i: (r, n) for i, (r, n, _) in expect.items() if r <= 3}
    assert {r["id"]: (r["grp_rank"], r["grp_n"])
            for r in capped} == want


def test_lsh_multiprobe_supersets_single_probe(spark, sf_dir):
    """Multi-probe candidates include the base bucket, so per-query
    hits against brute force can never drop below single-probe; with
    n_flip=0 the output equals lsh_topk exactly."""
    from pyspark.sql import functions as F
    from cati_database_feeder_spark.catalog import load_table
    from cati_database_feeder_spark.operators.similarity import (
        gaussian_hyperplanes, lsh_topk, lsh_topk_multiprobe)
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    planes = gaussian_hyperplanes(64, 8)
    sp = {(r["q_id"], r["vec_id"]): r["rank"] for r in
          lsh_topk(q, e, k=10, n_bits=8, hyperplanes=planes).collect()}
    mp0 = {(r["q_id"], r["vec_id"]): r["rank"] for r in
           lsh_topk_multiprobe(q, e, planes, k=10, n_flip=0).collect()}
    assert mp0 == sp
    mp2 = lsh_topk_multiprobe(q, e, planes, k=10, n_flip=2).collect()
    # every single-probe result survives unless pushed out by a BETTER
    # candidate: per query, the multiprobe rank of a shared id never
    # worsens relative to candidates it already beat
    by_q = {}
    for r in mp2:
        by_q.setdefault(r["q_id"], set()).add(r["vec_id"])
    for (qid, vid), rk in sp.items():
        if rk <= 10 - 2:  # ids comfortably inside the cut stay in
            assert vid in by_q.get(qid, set()), (qid, vid)


def test_lsh_multiprobe_candidates_are_equi_join(spark, sf_dir):
    """Probe candidates must come from the bucket equi-join — no
    cartesian, no nested-loop fallback."""
    from pyspark.sql import functions as F
    from cati_database_feeder_spark.catalog import load_table
    from cati_database_feeder_spark.operators.similarity import (
        gaussian_hyperplanes, lsh_topk_multiprobe)
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    plan = (lsh_topk_multiprobe(q, e, gaussian_hyperplanes(64, 8),
                                k=10, n_flip=2)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_token_budget_prefix_zero_token_row_at_exact_boundary(spark):
    """A zero-token row whose cum_tokens equals the budget exactly must
    be kept regardless of bucket boundaries — the driver prune uses
    <= so the bucket STARTING at the budget is not dropped."""
    from pyspark.sql import functions as F
    from cati_database_feeder_spark.operators.sampling import (
        token_budget_prefix)
    rows = [(1, 10, 100), (2, 5, 0), (3, 1, 50)]
    for parts in (1, 2, 3):
        got = {r["id"]: r["cum_tokens"] for r in token_budget_prefix(
            spark.createDataFrame(rows, ["id", "q", "n"]),
            key=-F.col("q"), tie_cols=["id"], n_tokens_col="n",
            budget=100, partitions=parts).collect()}
        # order: id1 (q=10, fills budget), id2 (q=5, zero tokens, cum
        # stays 100 -> kept), id3 (q=1, 50 tokens -> overflow, dropped)
        assert got == {1: 100, 2: 100}, f"parts={parts}: {got}"


def test_dsir_importance_hand_computed(spark):
    """dsir_importance (operators/quality.py, E58): exact BIGINT
    bookkeeping on a corpus small enough to hand-compute; empty doc
    absent; lowercasing folds tokens."""
    from cati_database_feeder_spark.operators.quality import dsir_importance
    docs = spark.createDataFrame(
        [(1, "a B", "en"), (2, "A c", "de"), (3, "b b", "en"),
         (4, "   ", "de")],
        ["doc_id", "text", "lang"])
    got = {r["doc_id"]: r
           for r in dsir_importance(
               docs, target_pred=F.col("lang") == "en").collect()}
    # vocab: a → all 2 / tgt 1; b → all 3 / tgt 3; c → all 1 / tgt 0
    assert set(got) == {1, 2, 3}        # doc 4 has no tokens
    assert (got[1]["n_tokens"], got[1]["tgt_sum"], got[1]["all_sum"],
            got[1]["importance"]) == (2, 4, 5, 0.8)
    assert (got[2]["tgt_sum"], got[2]["all_sum"]) == (1, 3)
    assert got[2]["importance"] == 0.333333
    assert got[3]["importance"] == 1.0


def test_dsir_importance_plan_has_no_window_or_cartesian(spark, sf_dir):
    """Same 100 TB shape contract as bigram_familiarity: one vocab
    groupBy + one re-join on the word key + one per-doc aggregate —
    no corpus window, no cartesian."""
    from cati_database_feeder_spark.catalog import load_table
    from cati_database_feeder_spark.operators.quality import dsir_importance
    d = load_table(spark, sf_dir, "documents")
    plan = (dsir_importance(d, target_pred=F.col("lang") == "en")
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_cap_per_group_equals_driver_reference(spark):
    """cap_per_group (operators/sampling.py, E57) ≡ a driver
    row_number-then-filter reference across partition counts,
    including groups below the cap and a group of one."""
    import random
    from cati_database_feeder_spark.operators.sampling import cap_per_group
    rng = random.Random(23)
    rows = [(i, ["a", "b", "c", "solo"][min(rng.randrange(8), 3)]
             if i != 0 else "solo", rng.randrange(1000))
            for i in range(200)]
    cap = 5
    expect = {}
    for g in {r[1] for r in rows}:
        grp = sorted((v, i) for i, gg, v in rows if gg == g)
        for r, (v, i) in enumerate(grp, start=1):
            if r <= cap:
                expect[i] = (r, len(grp))
    wk = F.concat(F.format_string("%020d", F.col("v")),
                  F.format_string("%020d", F.col("id")))
    for parts in (2, 8):
        df = spark.createDataFrame(rows, ["id", "g", "v"]).repartition(parts)
        got = {r["id"]: (r["grp_rank"], r["grp_n"])
               for r in cap_per_group(df, "g", wk, cap=cap,
                                      partitions=parts).collect()}
        assert got == expect, f"parts={parts}"


def test_pps_systematic_equals_driver_reference(spark):
    """pps_systematic_sample (operators/sampling.py, E64) ≡ a driver
    running-sum ticket walk, across partition counts; ≤ k rows; a row
    heavier than T/k is always selected; zero-weight rows never are."""
    import hashlib
    from cati_database_feeder_spark.operators.sampling import (
        pps_systematic_sample)
    import random
    rng = random.Random(61)
    rows = [(i, rng.randrange(0, 40)) for i in range(200)]
    rows.append((900, 10_000))                       # heavy row
    rows.append((901, 0))                            # zero weight
    k = 12
    order = sorted(rows, key=lambda r: (
        hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))
    total = sum(w for _, w in rows)
    expect, cum = {}, 0
    for i, w in order:
        prev = cum
        cum += w
        if (k * cum) // total > (k * prev) // total:
            expect[i] = cum
    assert 900 in expect            # heavy row crosses with certainty
    assert 901 not in expect        # zero weight never crosses
    assert len(expect) <= k
    for parts in (2, 8):
        df = spark.createDataFrame(rows, ["id", "w"]).repartition(parts)
        got = {r["id"]: r["cum_weight"]
               for r in pps_systematic_sample(
                   df, F.md5(F.col("id").cast("string")), ["id"], "w",
                   k=k, partitions=parts, hex_key=True).collect()}
        assert got == expect, f"parts={parts}"


def test_pps_systematic_negative_weight_fails_loud(spark):
    from cati_database_feeder_spark.operators.sampling import (
        pps_systematic_sample)
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    df = spark.createDataFrame([(1, 5), (2, -3), (3, 7)], ["id", "w"])
    with pytest.raises((Py4JJavaError, SparkRuntimeException),
                       match="negative weight"):
        pps_systematic_sample(
            df, F.md5(F.col("id").cast("string")), ["id"], "w",
            k=2, hex_key=True).collect()


def test_vocab_oov_rate_hand_computed(spark):
    """vocab_oov_rate (operators/quality.py, E65): top-V selection with
    the token-ascending tie-break, OOV bookkeeping, empty doc absent."""
    from cati_database_feeder_spark.operators.quality import vocab_oov_rate
    docs = spark.createDataFrame(
        [(1, "a a b z"), (2, "b b c"), (3, "   ")], ["doc_id", "text"])
    # counts: a=2? no: doc1 has a a b z; doc2 b b c -> a:2, b:3, c:1, z:1
    # V=2 -> vocab {b (3), a (2)}; ties none at the boundary here
    got = {r["doc_id"]: r for r in
           vocab_oov_rate(docs, vocab_size=2).collect()}
    assert set(got) == {1, 2}
    assert (got[1]["n_tokens"], got[1]["n_oov"]) == (4, 1)   # z OOV
    assert got[1]["oov_rate"] == 0.25
    assert (got[2]["n_tokens"], got[2]["n_oov"]) == (3, 1)   # c OOV
    # boundary tie: V=3 over {c:1, z:1} picks 'c' (token asc)
    got3 = {r["doc_id"]: r for r in
            vocab_oov_rate(docs, vocab_size=3).collect()}
    assert (got3[1]["n_oov"], got3[2]["n_oov"]) == (1, 0)    # z still OOV


def test_collocation_lift_hand_computed(spark):
    """E69: exact lift over a hand-counted corpus. Tokens: 'x y' ×5
    docs plus noise. With min_count=1: pair (x,y) c=5, u(x)=5,
    u(y)=6, n_tokens=13 → lift = 5·13/(5·6) = 2.166667."""
    from cati_database_feeder_spark.operators.quality import (
        collocation_lift)
    docs = spark.createDataFrame(
        [(i, "x y") for i in range(5)] + [(10, "y z w")],
        ["doc_id", "text"])
    rows = {(r["w1"], r["w2"]): r
            for r in collocation_lift(docs, min_count=1, k=10).collect()}
    xy = rows[("x", "y")]
    assert xy["pair_count"] == 5 and xy["w1_count"] == 5
    assert xy["w2_count"] == 6
    assert xy["lift"] == round(5 * 13 / (5 * 6), 6)
    # support floor: min_count=2 drops the singleton bigrams
    kept = collocation_lift(docs, min_count=2, k=10).collect()
    assert [(r["w1"], r["w2"]) for r in kept] == [("x", "y")]


def test_robust_outlier_profile_hand_computed(spark):
    """E71: median/MAD/outlier-count on a fixture with one planted
    outlier. Values 10,12,14,16,1000 → med 14... recompute: sorted
    [10,12,14,16,1000] med=14; |x-med| = [4,2,0,2,986] sorted
    [0,2,2,4,986] MAD=2; 3·MAD=6 → only 1000 (dev 986) flags."""
    from cati_database_feeder_spark.operators.quality import (
        robust_outlier_profile)
    rows = spark.createDataFrame(
        [("a", v) for v in (10, 12, 14, 16, 1000)]
        + [("b", v) for v in (5, 5, 5)],
        ["source", "n_chars"])
    got = {r["source"]: r
           for r in robust_outlier_profile(
               rows, "source", "n_chars", k_mad=3.0).collect()}
    assert got["a"]["med_value"] == 14.0 and got["a"]["mad_value"] == 2.0
    assert got["a"]["n_outliers"] == 1 and got["a"]["n_rows"] == 5
    # constant group: MAD 0 → nothing exceeds 3·0 strictly? |x-med|=0
    # is NOT > 0 → zero outliers (strict inequality is the contract)
    assert got["b"]["mad_value"] == 0.0 and got["b"]["n_outliers"] == 0


def test_sessionize_matches_driver_reference(spark):
    """E68: break iff gap > threshold, sessions partition each user's
    events — checked against a driver-side reference over an
    irregular fixture (gaps straddling the threshold, ties on ts
    broken by event_id, sub-second components)."""
    import datetime as dt
    from cati_database_feeder_spark.operators.windows import sessionize
    base = dt.datetime(2024, 1, 1, 0, 0, 0, 500000)
    rows = []
    # user 1: gaps 100s, 3601s (break), 10s
    offs = [0, 100, 100 + 3601, 100 + 3601 + 10]
    rows += [(1, i, base + dt.timedelta(seconds=o), 1.0)
             for i, o in enumerate(offs)]
    # user 2: gap exactly == threshold → NO break (strict >)
    rows += [(2, 10, base, 2.0),
             (2, 11, base + dt.timedelta(seconds=3600), 2.0)]
    # user 3: same ts twice → tie broken by event_id, one session
    rows += [(3, 21, base, 0.5), (3, 20, base, 0.5)]
    df = spark.createDataFrame(
        rows, ["user_id", "event_id", "ts", "value"])
    got = sorted(
        (r["user_id"], r["session_id"], r["n_events"], r["duration_sec"])
        for r in sessionize(df, gap_sec=3600).collect())
    assert got == [(1, 1, 2, 100), (1, 2, 2, 10),
                   (2, 1, 2, 3600), (3, 1, 2, 0)]
    # sessions partition the input: event counts sum to the input size
    assert sum(g[2] for g in got) == len(rows)


def test_nfc_normalized_dedup_catches_unicode_twins(spark):
    """E82 fixture pin (round-10 verdict item 3): composed/decomposed
    + case + whitespace variants that RAW exact dedup misses must
    collapse under the NFC+lower+collapse fingerprint - and the key
    must agree bit-for-bit with DuckDB's nfc_normalize replay on the
    same non-ASCII strings (the cross-engine contract the registered
    query exercises only on ASCII corpora)."""
    import duckdb
    from cati_database_feeder_spark.functions.text import (
        fingerprint_md5, fingerprint_nfc)
    rows = [
        (1, "Caf\u00e9 d\u00e9j\u00e0 vu"),              # composed
        (2, "Cafe\u0301 de\u0301ja\u0300 vu"),           # decomposed twin
        (3, "CAF\u00c9 D\u00c9J\u00c0 VU"),              # case twin
        (4, "\u041f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440"),
        (5, "\u041f\u0420\u0418\u0412\u0415\u0422   \u043c\u0438\u0440"),
        (6, "totally different"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = df.select(
        "doc_id",
        fingerprint_md5(F.col("text")).alias("raw"),
        fingerprint_nfc(F.col("text")).alias("norm")).collect()
    raw = {r["doc_id"]: r["raw"] for r in out}
    norm = {r["doc_id"]: r["norm"] for r in out}
    assert len(set(raw.values())) == 6      # raw keys miss every twin
    assert norm[1] == norm[2] == norm[3]    # form + case collapse
    assert norm[4] == norm[5]               # Cyrillic case + whitespace
    assert len(set(norm.values())) == 3
    con = duckdb.connect()
    for doc_id, t in rows:
        got = con.execute(
            r"SELECT md5(nfc_normalize(lower("
            r"regexp_replace(trim(?), '\s+', ' ', 'g'))))",
            [t]).fetchone()[0]
        assert got == norm[doc_id], f"engine divergence on doc {doc_id}"


def test_lang_id_probe_separates_real_languages(spark, sf_dir):
    """The capability claim behind E120b: on genuinely multilingual
    text the trigram scorer classifies every held-out probe sentence
    correctly (10/10 — 2 eval sentences x 5 languages)."""
    from cati_database_feeder_spark import queryset
    rows = queryset.QUERIES["text_lang_id_probe"](spark, sf_dir).collect()
    assert len(rows) == 5
    assert all(r["probe_ok"] for r in rows)
    assert all(r["n_correct"] == r["n_docs"] == 2 for r in rows)
    assert rows[0]["overall_ppm"] == 1000000


def test_lang_id_fixture_labels_are_noise_but_above_random(spark, sf_dir):
    """E120 on the fixture corpus: agreement must clear the mechanism
    floor (above the 200000-ppm five-class random baseline) yet stay
    far below a real-language ceiling — the documents.lang column is
    label noise, which is exactly what the operator should report."""
    from cati_database_feeder_spark import queryset
    rows = queryset.QUERIES["text_lang_id"](spark, sf_dir).collect()
    ppm = rows[0]["overall_ppm"]
    assert all(r["agree_ok"] for r in rows)
    assert 210000 <= ppm < 600000, ppm
    assert {r["lang"] for r in rows} == {"en", "zh", "es", "de", "fr"}


def test_corpus_release_composition_accounting(spark, sf_dir):
    """E121 invariants: survivors + (deleted ∪ quarantined) partition
    the corpus; both splits present; governance counts constant on
    every row and strictly positive on this fixture."""
    from cati_database_feeder_spark import queryset
    rows = queryset.QUERIES["corpus_release_e2e"](spark, sf_dir).collect()
    n_corpus = queryset.T(spark, sf_dir, "documents").count()
    n_surv = sum(r["n_docs"] for r in rows)
    nd = {r["n_deleted"] for r in rows}
    nq = {r["n_quarantined"] for r in rows}
    assert len(nd) == 1 and len(nq) == 1  # constant across rows
    nd, nq = nd.pop(), nq.pop()
    assert nd > 0 and nq > 0
    # deleted/quarantined may overlap, so the union bound brackets it
    assert n_corpus - nd - nq <= n_surv < n_corpus
    assert {r["split"] for r in rows} == {"train", "holdout"}


def test_lang_confusion_matrix_consistent_with_summary(spark, sf_dir):
    """E120c row sums per true lang equal E120's per-lang doc counts,
    and the diagonal equals its n_correct — the two queries must tell
    one story (they share the prediction stage AND the oracle CTEs)."""
    from cati_database_feeder_spark import queryset
    conf = queryset.QUERIES["text_lang_confusion"](spark, sf_dir).collect()
    summ = queryset.QUERIES["text_lang_id"](spark, sf_dir).collect()
    by_lang = {}
    diag = {}
    for r in conf:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + r["n_docs"]
        if r["lang"] == r["pred"]:
            diag[r["lang"]] = r["n_docs"]
    for r in summ:
        assert by_lang[r["lang"]] == r["n_docs"]
        assert diag.get(r["lang"], 0) == r["n_correct"]
