"""Deduplication operators (north-star E6/E7 — SURVEY.md §2.10).

Generalizes the reference's only dedup (phone-in-list anti-join,
feeder.py:157-160) into the family a pretraining-data pipeline needs:

- exact content dedup (hash-groupBy),
- MinHash signatures + LSH banding (near-dup at 100 TB without a
  cross join: candidates come from equality on band buckets, which is
  a plain shuffle join),
- SimHash (bit-signature near-dup),
- n-gram / token Jaccard verification.

Scale posture: every candidate-generation step is an equi-join on a
derived key (fingerprint, band hash, shared rare token) — never an
O(n²) crossJoin. MinHash banding (``rep_band_buckets``) runs as one
vectorized Arrow kernel per batch (functions/kernels.py), the only
Python in this module; everything else is JVM expressions.

Hash portability: signatures use md5-derived 60-bit ints
(functions/text.py:hash64) so the DuckDB oracle can reproduce them
exactly; xxhash64 would be faster but engine-private.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cati_database_feeder_spark.functions import kernels as K
from cati_database_feeder_spark.functions import text as T


# (keep-first-per-key dedup lives in operators/windows.py:
# first_occurrence_dedup — the window form with a deterministic order;
# use dropDuplicates(keys) when the representative doesn't matter)


def exact_content_dedup(documents: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", normalized: bool = True) -> DataFrame:
    """E6 at content level: group by text fingerprint, keep the lowest
    id as the canonical representative, count the duplicates."""
    fp = (T.fingerprint_normalized if normalized else T.fingerprint_md5)(F.col(text_col))
    return (documents
            .withColumn("fingerprint", fp)
            .groupBy("fingerprint")
            .agg(F.min(id_col).alias("canonical_id"),
                 F.count(F.lit(1)).alias("n_copies")))


# Universal-hash family for MinHash perturbations: h_i = (a_i·h + b_i) mod P.
# P = 2^31-1 (Mersenne prime) keeps every product < 2^62 — no bigint
# overflow in either engine (DuckDB errors on overflow, Spark wraps; we
# must never rely on wrap). Constants are fixed LCG-derived so the
# DuckDB oracle can regenerate them from i alone.
MINHASH_P = 2_147_483_647


def minhash_coeffs(i: int) -> tuple[int, int]:
    a = (1103515245 * (i + 1) + 12345) % MINHASH_P
    b = (69069 * (i + 1) + 1) % MINHASH_P
    return (a or 1), b


def token_hashes(text_col: Column) -> Column:
    """Distinct tokens → base hashes in [0, P): ONE md5 per token; all
    MinHash seeds derive from this by cheap arithmetic (16× fewer md5
    calls than hashing per seed — the dominant cost at scale)."""
    toks = F.array_distinct(T.tokens(text_col))
    return F.transform(toks, lambda t: T.hash64(t) % F.lit(MINHASH_P))


def tokset_groups(documents: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(id, gid, toks): exact distinct-token-set membership — gid is the
    min id among docs whose token SETS are identical (md5 of the sorted
    set). This is the collapse key for MinHash candidate generation and
    verification: identical sets get identical signatures, so a cluster
    of m exact copies would put m ids in every band bucket (O(m²)
    candidate rows from one cluster) and cost m² verifications; reps
    make both linear, and group expansion afterwards restores the exact
    pair set (identical sets ⇒ identical Jaccard vs any third set, and
    1.0 vs each other)."""
    toks = documents.select(F.col(id_col).alias("id"),
                            F.array_distinct(T.tokens(F.col(text_col))).alias("toks"))
    # partition by the sorted array itself, not a string encoding of it:
    # concat_ws with any separator is ambiguous when a token can contain
    # the separator (tokens come from a \\s+ split and U+001F is not
    # regex whitespace, so e.g. {'a\x1fb'} vs {'a','b'} would collide
    # into one group), while array equality is collision-free by
    # construction and skips the concat+md5 pass entirely. sort_array,
    # not array_sort: array_sort's default comparator is an interpreted
    # lambda, sort_array is codegen, and the two agree on null-free
    # arrays (a token array never holds a null).
    fp = F.sort_array("toks")
    return toks.withColumn("gid", F.min("id").over(Window.partitionBy(fp)))


def expand_group_pairs(rep_pairs: DataFrame, mem: DataFrame,
                       within_defaults: dict[str, Column] | None = None) -> DataFrame:
    """Member-pair expansion after rep-collapse: every rep-level pair
    becomes |A|×|B| member pairs (least/greatest-normalized, carrying
    the rep pair's extra columns — value-correct because members' sets
    are identical to their rep's), and every multi-member group emits
    its internal pairs with ``within_defaults`` for the extra columns
    (e.g. jaccard=1.0, hamming=0). ``mem`` is (gid, id); within and
    cross sets are disjoint (same gid vs different gids), so the union
    is duplicate-free."""
    extra = [c for c in rep_pairs.columns if c not in ("id_a", "id_b")]
    missing = [c for c in extra if c not in (within_defaults or {})]
    if missing:
        raise ValueError(
            f"expand_group_pairs: rep_pairs carries extra column(s) {missing} "
            f"with no within-group default; pass within_defaults entries for "
            f"{sorted(extra)} (the value each within-group pair should get, "
            f"e.g. jaccard=lit(1.0), hamming=lit(0))")
    ma = mem.select(F.col("gid").alias("id_a"), F.col("id").alias("x"))
    mb = mem.select(F.col("gid").alias("id_b"), F.col("id").alias("y"))
    cross = (rep_pairs.join(ma, "id_a").join(mb, "id_b")
             .select(F.least("x", "y").alias("id_a"),
                     F.greatest("x", "y").alias("id_b"), *extra))
    # dedupe=False: membership keys hold each id exactly once, so
    # within pairs are distinct by construction — the distinct's whole
    # extra exchange over the (cluster-m²-sized) within set is waste
    within = _bucket_pairs(mem.select("gid", "id"), ["gid"], "id",
                           dedupe=False)
    for c in extra:
        within = within.withColumn(c, (within_defaults or {})[c])
    return within.unionByName(cross)


def minhash_signature(hashes_col: Column, num_hashes: int = 16) -> Column:
    """MinHash signature from pre-computed base hashes (``token_hashes``
    materialized as a column so the md5s run once, not once per seed):
    element i = min over tokens of (a_i·h + b_i) mod P.
    P[sig_i(A) == sig_i(B)] = Jaccard(A,B) — Broder 1997.

    Interpreted, not codegen: ``transform`` is ``CodegenFallback``, so
    each array element goes through the expression interpreter.
    Banding uses the Arrow kernel behind ``rep_band_buckets`` instead;
    this Column form stays for ``minhash_calibration_check`` (queryset)
    and as the oracle the kernel is tested against."""

    # closure factory, NOT a default-arg lambda (a 2-param lambda makes
    # Spark pass (element, index))
    def _minhash(i):
        a, b = minhash_coeffs(i)
        return F.array_min(F.transform(
            hashes_col, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)))

    return F.array(*[_minhash(i) for i in range(num_hashes)])


def minhash_lsh_candidates(documents: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", num_hashes: int = 16,
                           bands: int = 4, groups: DataFrame | None = None,
                           expand: bool = True) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``num_hashes//bands`` rows; docs sharing any band bucket are
    candidates. Candidate generation is groupBy-equality on
    (band_idx, band_hash) — a single shuffle, no crossJoin, which is
    the whole point at 100 TB.

    Banding runs over exact-token-set REPRESENTATIVES (tokset_groups):
    identical sets have identical signatures, so they land together in
    every band — a cluster of m copies would emit O(m²) pairs from each
    of its buckets. Collapse first, expand after: same output, cluster
    cost linear. ``groups`` injects a precomputed (persisted) membership
    frame; ``expand=False`` returns rep-level pairs only, for pipelines
    that verify before expanding (near_dup_pairs)."""
    memb = groups if groups is not None else tokset_groups(documents, id_col, text_col)
    buckets = rep_band_buckets(memb, num_hashes, bands)
    rep_cands = _bucket_pairs(buckets, ["band", "bucket"], "id")
    if not expand:
        return rep_cands
    return expand_group_pairs(rep_cands, memb.select("gid", "id"))


def rep_band_buckets(memb: DataFrame, num_hashes: int = 16,
                     bands: int = 4) -> DataFrame:
    """(id, band, bucket) for every exact-token-set representative in a
    ``tokset_groups`` membership frame — the LSH banding table. In a
    production pipeline this is the frame you MATERIALIZE per corpus
    snapshot: every future batch probes it instead of re-signing the
    corpus (the ``buckets`` store of
    incremental_near_dup_pairs_from_store)."""
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)

    # one Arrow kernel signs and bands each batch of representatives —
    # bit-identical to md5 of the joined band values of
    # minhash_signature(token_hashes(...)), which Spark would interpret
    # element by element (transform is CodegenFallback)
    coeffs = [minhash_coeffs(i) for i in range(num_hashes // bands * bands)]
    schema = StructType([StructField("id", memb.schema["id"].dataType),
                         StructField("band", IntegerType(), False),
                         StructField("bucket", StringType(), False)])

    def kernel(batches):
        for batch in batches:
            yield K.minhash_band_buckets(batch, coeffs, bands, MINHASH_P)

    return (memb.filter(F.col("id") == F.col("gid"))
            .select("id", "toks").mapInArrow(kernel, schema))


def _bucket_pairs(buckets: DataFrame, key_cols: list[str], id_col: str,
                  max_occupancy: int | None = None,
                  dedupe: bool = True) -> DataFrame:
    """(id_a, id_b) pairs of ids sharing a bucket key, id_a < id_b,
    distinct. Self-equi-join on the bucket key: both sides are the same
    subplan, so ReuseExchange computes the upstream once, and pair
    emission streams out of the join instead of materializing per-bucket
    id arrays (an in-bucket array explode allocates O(m²) per bucket in
    ONE task — measurably worse when near-dup clusters make buckets
    large, which is exactly when this operator matters).

    ``max_occupancy`` is the opt-in hot-key guard (round-8 verdict
    item 1): within-key pair emission is O(m²) in key occupancy, the
    one 100 TB hazard the plan SHAPE cannot show (the join is a
    perfectly linear equi-join; the DATA makes it quadratic —
    templated near-identical text piling into one (band, bucket)).
    With a cap set, a per-key count rides the SAME exchange the
    self-join shuffles on (one extra aggregate, reused exchange, no
    new scan) and any key over the cap fails LOUD with its occupancy
    and exact pair count — a descriptive refusal an operator answers
    by capping upstream (rep collapse, sub-splitting, dropping the
    degenerate bucket), never a silent straggler. Diagnose first with
    skew.key_occupancy_report over the same keys."""
    from functools import reduce
    if max_occupancy is not None:
        # the guard is a FILTER condition, not a projected-then-dropped
        # column: a dropped column is pruned by Catalyst and its
        # raise_error would never evaluate — a filter predicate cannot
        # be pruned, so every key's count passes through the check
        guard = (buckets.groupBy(*key_cols)
                 .agg(F.count(F.lit(1)).alias("__m"))
                 .filter(F.when(
                     F.col("__m") > max_occupancy,
                     F.raise_error(F.concat(
                         F.lit("_bucket_pairs: hot key ("),
                         F.concat_ws(",", *[F.col(k).cast("string")
                                            for k in key_cols]),
                         F.lit(") occupancy "),
                         F.col("__m").cast("string"),
                         F.lit(f" exceeds max_occupancy={max_occupancy}"
                               " — "),
                         F.expr("(__m * (__m - 1)) DIV 2").cast("string"),
                         F.lit(" pairs from one key is quadratic work a "
                               "linear-looking plan cannot show; cap or "
                               "sub-split the key upstream"))
                     ).cast("boolean")).otherwise(F.lit(True)))
                 .drop("__m"))
        buckets = buckets.join(guard, key_cols)
    # shuffle_hash hint, NOT broadcast: a broadcast build side is a
    # separate full recompute of the upstream plan, while two identical
    # shuffle exchanges canonicalize equal and AQE reuses the first
    # (ReusedExchange — verified in the final adaptive plan). On a real
    # cluster the bucket table wouldn't fit the broadcast threshold
    # anyway, so this also makes local plans match cluster plans.
    #
    # Pin the self-join's partitioning: the bucket table is tiny in
    # BYTES (a few key columns + one id per row) while within-key pair
    # emission is O(m²) COMPUTE — AQE's size-based coalescing folds the
    # exchange into ONE task and serializes the emission (measured at
    # sf0.1: join output ran on 1 partition, 3.0 s → 2.0 s pinned; the
    # verify consumers inherit the parallelism downstream). The
    # explicit key-repartition REPLACES the join's ENSURE_REQUIREMENTS
    # exchange (no extra shuffle; both sides canonicalize equal and
    # reuse one exchange) and never shrinks the configured shuffle
    # width — max(cores, spark.sql.shuffle.partitions), so at-scale
    # sessions that size shuffle.partitions for data volume keep it.
    from cati_database_feeder_spark.session import shuffle_width
    buckets = buckets.repartition(shuffle_width(buckets.sparkSession),
                                  *key_cols)
    a = buckets.alias("a").hint("shuffle_hash")
    b = buckets.alias("b").hint("shuffle_hash")
    cond = reduce(lambda x, y: x & y,
                  [F.col(f"a.{k}") == F.col(f"b.{k}") for k in key_cols]
                  + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
    # plain distinct, deliberately NOT pinned on id_a: an id_a-keyed
    # dedup (repartition(pin, id_a) + dropDuplicates) was measured and
    # REJECTED — it helps an unpersisted verify consumer (4.85 → 3.43 s
    # at sf0.1: the verify inherits 32-way id_a partitioning), but when
    # the candidate frame is PERSISTED as a stage (the bench/production
    # shape) the id_a output partitioning makes the verify joins
    # shuffle-reuse on id_a instead of broadcasting the small rep side,
    # and the full verify+expand pipeline regressed 3.48 → 6.46 s.
    pairs = (a.join(b, cond)
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b")))
    # ``dedupe=False`` skips the distinct — and its full extra exchange
    # over the emitted pair set — for callers whose keys hold each id
    # exactly ONCE (group membership: one gid per id), where every pair
    # arises from exactly one key by construction. Multi-bucket keyings
    # (LSH bands, prefix tokens) keep the distinct: the same pair
    # collides in several buckets there.
    return pairs.distinct() if dedupe else pairs


def jaccard_similarity_join(documents: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", threshold: float = 0.6,
                            block_col: str | None = None,
                            tokens_of=None) -> DataFrame:
    """Exact set-similarity self-join with prefix filtering (AllPairs —
    Bayardo, Ma & Srikant, WWW 2007): returns every pair with token-set
    Jaccard >= threshold, WITHOUT enumerating all O(n²) pairs.

    Tokens are globally ordered by ascending document frequency; a doc
    of n tokens keeps only its prefix of n - ceil(t·n) + 1 rarest
    tokens. Two docs with Jaccard >= t must share >= ceil(t·max(|A|,|B|))
    tokens, so under a consistent total order they share at least one
    PREFIX token — candidates are exactly the pairs colliding on a
    (block, prefix-token) bucket, then verified with the exact Jaccard.
    No false negatives; identical output to the brute-force join.

    At 100 TB this is the difference between O(block²) array
    intersections and a candidate set proportional to rare-token
    collisions. Three shuffles (token df agg, per-doc re-sort, bucket
    pair-gen), all on bounded keys; prefixes keep the rarest tokens so
    buckets stay small even when the corpus shares boilerplate.

    ``tokens_of`` swaps the set element. It receives the STAGED
    whitespace-token array column (so the split runs once per row) and
    returns the element array; default identity (token Jaccard). Pass
    ``lambda tk: text.shingles_from_tokens(tk, 3)`` for n-gram
    (shingle) Jaccard — the algorithm is element-agnostic.

    Identical token SETS are collapsed to one representative before
    pairing (group = md5 of the sorted set) and group pairs are
    expanded back afterwards: a cluster of m exact copies would
    otherwise put m ids in every one of its prefix buckets — O(m²)
    candidates per bucket — which is precisely the corpus shape
    (boilerplate, mirrored pages) a dedup pipeline meets. Within-group
    pairs are emitted with Jaccard exactly 1.0; cross-group Jaccard
    equals the representative pair's value because members' sets are
    identical. Output stays bit-identical to brute force."""
    blk = [F.col(block_col).alias("blk")] if block_col else []
    blk_cols = ["blk"] if block_col else []
    tok_stage = documents.select(F.col(id_col).alias("id"), *blk,
                                 T.tokens(F.col(text_col)).alias("__tk"))
    elems = tokens_of(F.col("__tk")) if tokens_of else F.col("__tk")
    all_toks = (tok_stage
                .select("id", *blk_cols, F.array_distinct(elems).alias("toks"))
                .filter(F.size("toks") > 0))

    # --- collapse identical sets (within block) to one representative
    # (partition by the sorted array itself — see tokset_groups for why
    # a concat_ws string encoding would be collision-prone, and for
    # sort_array over array_sort)
    fp = F.sort_array("toks")
    wg = Window.partitionBy(*blk_cols, fp)
    memb = all_toks.withColumn("gid", F.min("id").over(wg))
    toks = (memb.filter(F.col("id") == F.col("gid"))
            .select(F.col("gid").alias("id"), *blk_cols, "toks"))

    tok_df = (toks.select(F.explode("toks").alias("tok"))
                  .groupBy("tok").agg(F.count(F.lit(1)).alias("df")))

    exploded = toks.select("id", *blk_cols, F.size("toks").alias("n"),
                           F.explode("toks").alias("tok"))
    # re-assemble each doc's tokens rarest-first ((df, tok) lexicographic
    # — any consistent total order works, this one shrinks buckets most)
    ordered = (exploded.join(tok_df, "tok")
               .groupBy("id", *blk_cols, "n")
               .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("ord")))
    plen = (F.col("n") - F.ceil(F.lit(float(threshold)) * F.col("n")) + 1).cast("int")
    prefix = ordered.select(
        "id", *blk_cols,
        F.explode(F.transform(F.slice("ord", F.lit(1), plen),
                              lambda s: s["tok"])).alias("tok"))

    # Verification below is COMPUTE-bound per row (array_intersect over
    # the two element arrays) while candidate id-pairs are tiny in
    # BYTES — AQE's size-based partition coalescing folds them into 1-2
    # tasks and serializes the verify (measured 4.1 → 2.7 s at sf0.1
    # for the char-8-gram variant; the incremental ingest path pins the
    # same way for the same reason). Repartition on id_a: spreads the
    # verify across the cluster AND pre-partitions for the join on
    # id_a, so the exchange is reused, not added.
    cands = (_bucket_pairs(prefix, blk_cols + ["tok"], "id")
             .repartition(documents.sparkSession.sparkContext
                          .defaultParallelism, "id_a"))

    # Each verify side recomputes the tokenize/shingle projection (the
    # branches prune differently, so their exchanges rarely canonicalize
    # equal and AQE reuse only partially applies). persist() was tried
    # and rejected — columnar (de)serialization of the array columns
    # cost more than the recompute it saved; routing verification
    # through ``ordered`` was tried and rejected too (its join+agg
    # upstream is heavier than re-tokenizing).
    t_a = toks.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"))
    t_b = toks.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"))
    rep_pairs = (cands.join(t_a, "id_a").join(t_b, "id_b")
                 .withColumn("jaccard", token_jaccard(F.col("toks_a"), F.col("toks_b")))
                 .filter(F.col("jaccard") >= threshold)
                 .select("id_a", "id_b", "jaccard"))

    # --- expand group pairs back to member pairs
    return expand_group_pairs(rep_pairs, memb.select("gid", "id"),
                              {"jaccard": F.lit(1.0)})


def sorted_neighborhood_pairs(documents: DataFrame, window: int = 4,
                              threshold: float = 0.5, key_len: int = 16,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              partitions: int | None = None) -> DataFrame:
    """Sorted-Neighborhood dedup (Hernández & Stolfo, SIGMOD 1995 —
    extension E93): sort records under a BLOCKING KEY (here the first
    ``key_len`` chars of the lowercased, whitespace-collapsed text),
    slide a window of ``window`` consecutive records, verify every
    window pair with exact token Jaccard. The classic entity-
    resolution complement to hashing-based blocking: near-dups whose
    shingles/minhashes diverge (heavy edits late in the doc) still
    sort adjacently when their PREFIXES agree.

    Scale shape — the two classic SNM bottlenecks, both avoided:

    1. The global sort. ``row_number() OVER (ORDER BY key)`` is a
       single-partition sort of the corpus; ranks come instead from
       the literal-bucket ordinal machinery
       (operators/sampling.py:global_shuffle_ordinals — per-bucket
       local sort + broadcast offsets, driver state bounded by the
       bucket count). The rank key is made UNIQUE by the fixed-width
       zero-padded id suffix (the engine-wide rank-key contract), so
       the ordering replays identically on any engine.
    2. The window self-join. |pos_a − pos_b| < window as a THETA join
       is corpus × corpus; instead side A explodes to its
       ``window−1`` successor positions and the join is an EQUI-join
       on the successor ordinal — n·(window−1) rows, bucketed,
       shuffle-partitioned like any other key join.

    Output: (id_a, id_b, jaccard) for window pairs at or above
    ``threshold``, ids ordered ascending. Pairs found by BOTH a
    window slot and similarity — SNM recall is bounded by the key's
    clustering quality by design (the multi-pass remedy is running
    this operator again under a second key and unioning)."""
    from cati_database_feeder_spark.operators.sampling import (
        global_shuffle_ordinals)
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                            r"\s+", " ")
    key = F.concat(F.rpad(F.substring(norm, 1, key_len),
                          key_len, " "),
                   F.lpad(F.col(id_col).cast("string"), 20, "0"))
    staged = documents.select(
        F.col(id_col).alias("id"),
        F.array_distinct(T.tokens(F.col(text_col))).alias("toks"))
    ranked = global_shuffle_ordinals(
        documents.select(F.col(id_col).alias("id"),
                         key.alias("__snm_key")),
        F.col("__snm_key"), [], partitions=partitions, hex_key=False
    ).select("id", "pos")
    lead = (ranked.select(F.col("id").alias("id_a"),
                          F.explode(F.array(*[
                              F.col("pos") + F.lit(d)
                              for d in range(1, window)])).alias("pos")))
    cand = (lead.join(ranked.select(F.col("id").alias("id_b"), "pos"),
                      "pos")
            .select("id_a", "id_b"))
    a = staged.select(F.col("id").alias("id_a"),
                      F.col("toks").alias("__ta"))
    b = staged.select(F.col("id").alias("id_b"),
                      F.col("toks").alias("__tb"))
    return (cand.join(a, "id_a").join(b, "id_b")
            .withColumn("jaccard", F.round(
                token_jaccard(F.col("__ta"), F.col("__tb")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select(F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"),
                    "jaccard"))


def tfidf_features(documents: DataFrame, max_df: int | None = None,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """The unit-normalized tf/df feature table (id, token, df, nw) —
    E94's INDEX, split out so callers can materialize it once: four
    consumers read it (maxweight table, suffix bounds, both verify
    sides), and without staging each re-derives tokenize→tf→df→norm
    from the corpus (measured 24 scans / 46 exchanges in the plan).
    At 100 TB this is a table written at ingest, exactly like the
    minhash banding store."""
    toks = documents.select(F.col(id_col).alias("id"),
                            F.explode(T.tokens(F.col(text_col)))
                            .alias("token"))
    tf = toks.groupBy("id", "token").agg(
        F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = tf.join(df_, "token")
    if max_df is not None:
        # boilerplate vocabulary cap — and the prefix filter's teeth:
        # without it, NORMALIZATION defeats the maxweight bound (a
        # short doc dominated by one common token gives that token a
        # normalized weight ≈ 1, so maxw('the') ≈ 1 and every doc's
        # trailing common tokens keep suffix bounds above any useful
        # threshold — measured 12.3M candidates on 5k template-heavy
        # docs at t=0.9 uncapped). Capping df bounds BOTH the bound's
        # slack and the per-token collision count: an indexed token
        # touches ≤ max_df docs. Vectors live over the capped
        # vocabulary; the oracle replays the identical cap.
        w = w.filter(F.col("df") <= max_df)
    w = w.withColumn("w", F.col("tf").cast("double") / F.col("df"))
    norm = (w.groupBy("id")
            .agg(F.sqrt(F.sum((F.col("w") * F.col("w"))
                              .cast("decimal(38,30)"))
                        .cast("double")).alias("nrm")))
    return (w.join(norm, "id")
            .withColumn("nw", F.col("w") / F.col("nrm"))
            .select("id", "token", "df", "nw"))


def tfidf_cosine_pairs(documents: DataFrame | None,
                       threshold: float = 0.6,
                       max_df: int | None = None,
                       id_col: str = "doc_id",
                       text_col: str = "text",
                       features: DataFrame | None = None) -> DataFrame:
    """TF-IDF cosine AllPairs similarity join (Bayardo, Ma & Srikant,
    WWW 2007 — extension E94): document pairs whose unit-normalized
    tf·idf vectors have cosine ≥ ``threshold``, found COMPLETELY by
    maxweight prefix filtering — the cosine sibling of the Jaccard
    prefix filter (:func:`jaccard_similarity_join`).

    Weighting is deliberately transcendental-free so both engines
    compute bit-identical doubles (the PPS/E64 rule): w = tf / df
    (document-frequency reciprocal — the idf family's exact-rational
    member), normalized by ‖w‖₂ with the squared norm accumulated in
    DECIMAL (order-free exact) and one correctly-rounded sqrt.

    Completeness argument: fix the global token order df ASC (rare
    first; ties on token). For a doc's features sorted by that order,
    ``suffix_bound(i) = Σ_{j≥i} w_j · maxw(token_j)`` (maxw = the
    corpus-wide max normalized weight of the token) bounds the cosine
    achievable using only features from position i on — against ANY
    other vector, since every other weight is ≤ maxw and ‖other‖ = 1.
    A doc INDEXES feature i iff suffix_bound(i) ≥ t. If two docs
    shared only non-indexed tokens, their cosine ≤ min of their
    suffix bounds < t — so every qualifying pair collides on an
    indexed token. Rare-first ordering makes the non-indexed suffix
    the COMMON tokens (large df → small maxw), so prefixes are short
    AND built from rare tokens — few, low-collision candidates
    (pinned ≡ brute force in tests/test_properties.py).

    ``max_df`` drops tokens present in more than that many docs
    BEFORE weighting (vectors live over the capped vocabulary, both
    engines identically) — see :func:`tfidf_features` for why the cap
    is what makes prefix filtering effective on template-heavy
    corpora. ``features``: a pre-built (ideally MATERIALIZED)
    :func:`tfidf_features` frame — four consumers read it, so staging
    it is the difference between 1 corpus scan and 24.

    Plan shape: tokenize → (doc, token, tf) counts → df join → decimal
    norm aggregate → per-doc suffix sums via a window over the doc's
    own features (bounded by doc length — the sessionize partition
    argument) → prefix self-equi-join on token → candidate pairs
    verified by ONE shared-token join with a decimal-accumulated dot.
    No crossJoin, no corpus window; candidate volume is bounded by
    rare-token collisions instead of O(n²)."""
    feat = (features if features is not None
            else tfidf_features(documents, max_df, id_col, text_col))
    maxw = feat.groupBy("token").agg(F.max("nw").alias("mw"))
    # suffix bound: running sum of nw·maxw from the END of the doc's
    # rare-first feature order = a window ordered rare-LAST (df desc)
    # from unbounded preceding to current row
    wspec = (Window.partitionBy("id")
             .orderBy(F.desc("df"), F.desc("token"))
             .rowsBetween(Window.unboundedPreceding, 0))
    bounded = (feat.join(maxw, "token")
               .withColumn("sfx", F.sum((F.col("nw") * F.col("mw"))
                                        .cast("decimal(38,30)"))
                           .over(wspec).cast("double")))
    # 1e-9 slack: the bound itself is exact decimal, but nw/mw carry
    # double rounding — a pair sitting exactly ON the threshold must
    # never lose its indexed token to a last-ulp wobble (candidate
    # over-generation is harmless; under-generation is a recall bug)
    prefix = bounded.filter(F.col("sfx") >= threshold - 1e-9) \
                    .select("id", "token")
    cand = (prefix.select(F.col("id").alias("id_a"), "token")
            .join(prefix.select(F.col("id").alias("id_b"), "token"),
                  "token")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    fa = feat.select(F.col("id").alias("id_a"), "token",
                     F.col("nw").alias("wa"))
    fb = feat.select(F.col("id").alias("id_b"), "token",
                     F.col("nw").alias("wb"))
    dots = (cand.join(fa, "id_a").join(fb, ["id_b", "token"])
            .groupBy("id_a", "id_b")
            .agg(F.round(F.sum((F.col("wa") * F.col("wb"))
                               .cast("decimal(38,30)"))
                         .cast("double"), 6).alias("cosine")))
    return dots.filter(F.col("cosine") >= threshold)


def token_jaccard(a_tokens: Column, b_tokens: Column) -> Column:
    """Exact token-set Jaccard (JVM-side). PRECONDITION: both arrays
    hold distinct elements (every caller applies ``array_distinct``
    upstream) — then |A∪B| = |A|+|B|-|A∩B|, so one intersection pass
    replaces intersect+union. Integer sizes divide to the identical
    double as the two-pass form."""
    inter = F.size(F.array_intersect(a_tokens, b_tokens)).cast("double")
    union = (F.size(a_tokens) + F.size(b_tokens)).cast("double") - inter
    return inter / F.nullif(union, F.lit(0.0))


def near_dup_rep_pairs(documents: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", threshold: float = 0.7,
                       num_hashes: int = 16, bands: int = 4,
                       groups: DataFrame | None = None,
                       rep_candidates: DataFrame | None = None) -> DataFrame:
    """The pre-expansion phase of :func:`near_dup_pairs`: verified
    rep-level pairs (id_a, id_b, jaccard) over exact-token-set
    representatives only. Exposed separately because the CONTRACTED
    graph (these pairs plus the gid→member star edges of the
    membership frame) has the same connected components as the
    expanded member-pair graph at a fraction of the edge count — the
    closure consumer (graph.components_from_rep_pairs) never needs the
    |A|×|B| expansion a dense dup corpus blows up into."""
    memb = groups if groups is not None else tokset_groups(documents, id_col, text_col)
    cands = rep_candidates if rep_candidates is not None else minhash_lsh_candidates(
        documents, id_col, text_col, num_hashes, bands, groups=memb, expand=False)
    reps = memb.filter(F.col("id") == F.col("gid")).select("id", "toks")
    return _verified_rep_pairs(cands, reps, threshold)


def _verified_rep_pairs(cands: DataFrame, rep_toks: DataFrame,
                        threshold: float) -> DataFrame:
    """The rep-pair verify tail shared by the batch and store paths:
    (id_a, id_b) candidates joined to both reps' token arrays
    (``rep_toks``: id, toks), exact Jaccard rounded to 6 places, kept
    at >= ``threshold`` — (id_a, id_b, jaccard)."""
    t_a = rep_toks.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"))
    t_b = rep_toks.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"))
    return (cands.join(t_a, "id_a").join(t_b, "id_b")
            .withColumn("jaccard", F.round(token_jaccard(F.col("toks_a"), F.col("toks_b")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def near_dup_pairs(documents: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", threshold: float = 0.7,
                   num_hashes: int = 16, bands: int = 4,
                   groups: DataFrame | None = None,
                   rep_candidates: DataFrame | None = None) -> DataFrame:
    """MinHash-LSH candidates verified with exact token Jaccard — the
    standard two-phase near-dup pipeline, with verification run at REP
    level: docs with identical token sets verify once (cross pairs
    inherit the rep pair's Jaccard exactly, within pairs are 1.0 by
    identity), so a cluster of m copies costs one verification instead
    of m². ``groups``/``rep_candidates`` inject persisted stage frames
    — the production shape, where membership and candidates are written
    once and every consumer (verify, clustering, reporting) reads them.
    Output is bit-identical to verifying every expanded pair."""
    memb = groups if groups is not None else tokset_groups(documents, id_col, text_col)
    rep_pairs = near_dup_rep_pairs(documents, id_col, text_col, threshold,
                                   num_hashes, bands, groups=memb,
                                   rep_candidates=rep_candidates)
    # empty-token groups never verify (Jaccard undefined → NULL →
    # filtered), so their within-pairs must not shortcut to 1.0 either
    mem = memb.filter(F.size("toks") > 0).select("gid", "id")
    return expand_group_pairs(rep_pairs, mem, {"jaccard": F.lit(1.0)})


def tokset_key(toks: Column) -> Column:
    """Fixed-width string key of a token SET for store lookups: md5 of
    the ``to_json`` of the sorted array. The JSON step makes the
    pre-hash encoding injective (the concat_ws separator ambiguity
    tokset_groups' docstring warns about cannot occur: a token
    containing a quote/backslash is escaped), so the only collision
    source is md5 itself — the same accepted idiom as
    ``exact_content_dedup``'s fingerprint grouping. NULL arrays hash
    the literal ``'null'`` sentinel — no JSON array encoding starts
    with anything but ``[``, so the sentinel cannot collide either.
    32 hex chars regardless of document size: the reps store's key
    column (scanned by every per-batch membership probe) stays
    narrow no matter how large documents get."""
    return F.md5(F.coalesce(F.to_json(F.sort_array(toks)), F.lit("null")))


def delta_membership(delta: DataFrame, reps: DataFrame,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(id, gid, toks, key, known) token-set membership for a DELTA
    against a persisted ``reps`` store ((gid, toks, key) — one row per
    existing group) — the batch-bounded replacement for
    ``tokset_groups(corpus ∪ delta)`` that reads NO corpus text: the
    only corpus-derived input is the reps store's key column.

    gid is STABLE: a delta doc whose token set matches a stored group
    keeps that group's gid even when the doc's id is smaller than it —
    so a group's representative NEVER changes after the group is
    created, band rows in a banding store are never superseded, and
    every append-only store stays valid without repair. (Pair output
    is unchanged by the rep choice: grouping is a property of the sets,
    members' sets are identical to their rep's, so verified Jaccards
    and expanded pairs are the same for any member chosen as rep — see
    tokset_groups for the expansion argument.) Delta docs with novel
    sets group among themselves by min delta id.

    Scale shape: tokenize + window over the BATCH only; one equi-join
    of the batch keys against the store keys (AQE broadcasts the batch
    side; at 100 TB the reps store is written bucketed by ``key`` so
    the probe co-locates without a store-side shuffle)."""
    dt = (delta.select(F.col(id_col).alias("id"),
                       F.array_distinct(T.tokens(F.col(text_col))).alias("toks"))
          .withColumn("key", tokset_key(F.col("toks"))))
    dt = dt.withColumn("lgid", F.min("id").over(Window.partitionBy("key")))
    rk = reps.select(F.col("gid").alias("sgid"), "key",
                     F.col("toks").alias("__rtoks"))
    # known-branch verification: a key match is confirmed by ONE sorted
    # array-equality check against the stored rep's tokens (tokset_groups
    # partitions by the array precisely to be collision-free; the md5
    # store key alone would silently merge two distinct sets on a hash
    # collision). A mismatch is an invariant violation — md5 collision
    # or a corrupted reps store — and silently splitting the group would
    # corrupt the store just as badly (duplicate key rows), so it fails
    # loud instead. Cost: one sort_array pair per MATCHED delta doc —
    # batch-bounded, store rows are only ever read, never sorted en masse.
    collision = (F.col("sgid").isNotNull()
                 & (F.sort_array("toks") != F.sort_array("__rtoks")))
    known = (F.when(F.col("sgid").isNull(), F.lit(False))
             .when(~collision, F.lit(True))
             .otherwise(F.raise_error(F.concat(
                 F.lit("delta_membership: tokset_key collision — stored "
                       "group gid="),
                 F.col("sgid").cast("string"),
                 F.lit(" shares its 128-bit set key with delta doc id="),
                 F.col("id").cast("string"),
                 F.lit(" whose token SET differs (md5 collision or "
                       "corrupted reps store)"))).cast("boolean")))
    return (dt.join(rk, "key", "left")
            .select("id",
                    F.coalesce("sgid", "lgid").alias("gid"),
                    "toks", "key",
                    known.alias("known")))


def incremental_near_dup_pairs_from_store(
        delta: DataFrame, members: DataFrame, reps: DataFrame,
        buckets: DataFrame, id_col: str = "doc_id",
        text_col: str = "text", threshold: float = 0.7,
        num_hashes: int = 16, bands: int = 4,
        dmemb: DataFrame | None = None):
    """Near-dup pairs of a new batch against a corpus summarized ONLY
    by its derived stores — the engine's one delta-vs-corpus near-dup
    path, whose per-batch cost never includes a corpus tokenize pass
    (:func:`incremental_near_dup_pairs` builds the stores from a corpus
    frame and calls this). Inputs:

    - ``members``: (id, gid) for every corpus doc (append-only store);
    - ``reps``:    (gid, toks, key) one row per group (append-only);
    - ``buckets``: (id, band, bucket) banding rows for every rep.

    Returns ``(pairs, dmemb, new_reps)``: the delta-touching verified
    pairs — exactly ``near_dup_pairs(corpus ∪ delta)`` restricted to
    pairs with >= 1 delta member: Jaccard >= threshold,
    within-identical-set pairs at 1.0 — the delta membership frame, and
    the rep rows of the
    groups this batch CREATES — exactly what the caller appends to the
    stores after committing (streaming/ingest.ingest_batch).

    Per-batch cost, term by term: tokenize/window over the batch;
    key-probe of the reps store (batch side broadcasts); band-bucket
    probe of the banding store restricted to delta-touching gids;
    verification joins against rep token arrays pulled by candidate id
    (candidates broadcast, store scanned — no store-side shuffle when
    the stores are written bucketed by their join keys, which is the
    100 TB layout). NO input is the corpus text, so batch cost cannot
    regress to a corpus scan no matter the corpus size. gid stability
    (see :func:`delta_membership`) means no stale-rep repair exists on
    this path at all."""
    spark = delta.sparkSession
    if dmemb is None:
        dmemb = delta_membership(delta, reps, id_col, text_col)
    new_reps = (dmemb.filter(~F.col("known") & (F.col("id") == F.col("gid")))
                .select("gid", "toks", "key"))
    new_buckets = rep_band_buckets(
        new_reps.select(F.col("gid").alias("id"), "gid", "toks"),
        num_hashes, bands)
    buckets_all = buckets.unionByName(new_buckets)
    gnew = dmemb.select("gid").distinct()
    probe = (buckets_all.join(gnew.withColumnRenamed("gid", "id"), "id")
             .select(F.col("id").alias("na"), "band", "bucket"))
    rep_cands = (probe.hint("shuffle_hash")
                 .join(buckets_all.select(F.col("id").alias("nb"),
                                          "band", "bucket"),
                       ["band", "bucket"])
                 .filter(F.col("na") != F.col("nb"))
                 .select(F.least("na", "nb").alias("id_a"),
                         F.greatest("na", "nb").alias("id_b"))
                 .distinct()
                 # verification is COMPUTE-bound per row (array intersect
                 # over ~|doc| tokens), while the candidate id-pairs are
                 # tiny in BYTES — AQE's size-based coalescing folds them
                 # into 1-2 tasks and serializes the verify (measured 2 s
                 # of the sf0.1 demo). Pin the verify parallelism; the
                 # join on id_a reuses this exchange.
                 .repartition(spark.sparkContext.defaultParallelism, "id_a"))
    reps_all = (reps.select("gid", "toks")
                .unionByName(new_reps.select("gid", "toks")))
    rep_pairs = _verified_rep_pairs(
        rep_cands, reps_all.withColumnRenamed("gid", "id"), threshold)
    # Expansion (not expand_group_pairs): every emitted pair touches
    # the delta BY CONSTRUCTION, never by overgenerate-then-filter —
    # expanding full member products and dropping the old×old majority
    # would reintroduce the cluster-m² term this operator exists to
    # avoid (measured 1.15M expanded rows for ~30k kept at sf0.1).
    # Empty-token groups never verify (NULL Jaccard), so only the
    # within-branch needs the explicit nonempty filter.
    #
    # Three joins: the rep edges are directed both ways first, so cross
    # is ONE two-join pipeline — d=0 edges emit new(src)×all(dst), the
    # reversed d=1 edges new(src)×store(dst), so nothing is emitted
    # twice — and within is one (new ⋈ store∪new) join with a
    # per-branch filter. The src side is always delta membership, and
    # the only generated-then-dropped rows are delta-bounded new×new
    # products, never the old×old term.
    mem_new = dmemb.select("gid", "id")
    directed = (rep_pairs.select(F.col("id_a").alias("g_src"),
                                 F.col("id_b").alias("g_dst"),
                                 "jaccard", F.lit(0).alias("d"))
                .unionByName(
                    rep_pairs.select(F.col("id_b").alias("g_src"),
                                     F.col("id_a").alias("g_dst"),
                                     "jaccard", F.lit(1).alias("d"))))
    src_new = mem_new.select(F.col("gid").alias("g_src"),
                             F.col("id").alias("x"))
    # __ynew marks which half of the store∪delta union a dst row came
    # from; on an at-least-once redelivery a doc may sit in BOTH halves
    # (duplicate rows are harmless downstream: the closure is
    # set-semantics)
    dst_all = (members.select(F.col("gid").alias("g_dst"),
                              F.col("id").alias("y"),
                              F.lit(False).alias("__ynew"))
               .unionByName(mem_new.select(F.col("gid").alias("g_dst"),
                                           F.col("id").alias("y"),
                                           F.lit(True).alias("__ynew"))))
    cross = (directed.join(src_new, "g_src").join(dst_all, "g_dst")
             .filter((F.col("d") == 0) | ~F.col("__ynew"))
             .select(F.least("x", "y").alias("id_a"),
                     F.greatest("x", "y").alias("id_b"), "jaccard"))
    wg = (gnew.join(reps_all.filter(F.size("toks") > 0).select("gid"), "gid")
          .select("gid"))
    # x != y on the store branch: delta and members are disjoint in a
    # clean run, but an at-least-once redelivery after a crash between
    # the members/ append and the corpus/ commit marker replays delta
    # docs that are ALREADY in members — without the filter the retry
    # would emit self-pairs (id_a == id_b, jaccard 1.0) whose singleton
    # label rows a no-crash run would never contain, breaking
    # labels ≡ full-recompute for that crash window.
    dst_w = (members.select("gid", F.col("id").alias("y"),
                            F.lit(False).alias("__ynew"))
             .unionByName(mem_new.select("gid", F.col("id").alias("y"),
                                         F.lit(True).alias("__ynew"))))
    within = (mem_new.join(wg, "gid").select("gid", F.col("id").alias("x"))
              .join(dst_w, "gid")
              .filter((~F.col("__ynew") & (F.col("x") != F.col("y")))
                      | (F.col("__ynew") & (F.col("x") < F.col("y"))))
              .select(F.least("x", "y").alias("id_a"),
                      F.greatest("x", "y").alias("id_b"),
                      F.lit(1.0).alias("jaccard")))
    return within.unionByName(cross), dmemb, new_reps


def incremental_near_dup_pairs(corpus: DataFrame, delta: DataFrame,
                               id_col: str = "doc_id", text_col: str = "text",
                               threshold: float = 0.7, num_hashes: int = 16,
                               bands: int = 4) -> DataFrame:
    """Near-dup pairs for a NEW batch against a corpus frame: exactly
    ``near_dup_pairs(corpus ∪ delta)`` restricted to pairs with at
    least one delta member — verified token Jaccard >= ``threshold``,
    within-identical-set pairs at 1.0.

    Builds the three stores of
    :func:`incremental_near_dup_pairs_from_store` (members, reps keyed
    by :func:`tokset_key`, banding rows) from ``tokset_groups(corpus)``
    and returns that function's pairs — one delta-vs-corpus path, with
    its batch-bounded candidate probe and by-construction expansion.
    The pair set does not depend on which member represents a group
    (see :func:`delta_membership`), so it equals the pairs of a
    tokenize over corpus ∪ delta. Ingest (streaming/ingest) reads
    materialized stores instead of re-tokenizing the corpus each batch.

    A delta doc whose id is already in the corpus with the same text
    (an at-least-once redelivery) yields no self-pair; ids that collide
    with DIFFERENT text are the caller's contract to avoid."""
    memb = tokset_groups(corpus, id_col, text_col)
    reps = (memb.filter(F.col("id") == F.col("gid"))
            .select("gid", "toks", tokset_key(F.col("toks")).alias("key")))
    pairs, _, _ = incremental_near_dup_pairs_from_store(
        delta, memb.select("id", "gid"), reps,
        rep_band_buckets(memb, num_hashes, bands), id_col, text_col,
        threshold, num_hashes, bands)
    return pairs


def keep_best_per_cluster(labels: DataFrame, scores: DataFrame,
                          id_col: str = "doc_id",
                          score_col: str = "score") -> DataFrame:
    """The final DELETE-LIST step of a dedup pipeline: given the
    cluster labeling (``labels``: (id, component) from
    graph.connected_components) and a per-document quality score,
    select ONE survivor per cluster — the highest-scoring member, ties
    to the smallest id (the standard keep-best policy: among near-dup
    variants keep the most complete one, not an arbitrary minimum id).
    Emits (doc_id, component, kept_id, keep) for every clustered doc;
    docs outside any cluster are implicitly kept and not emitted.

    Scale shape: one equi-join of the labeling with the score column,
    then ONE window over ``component`` ordered by score descending, id
    ascending, whose ``first(id)`` is the survivor — a single exchange
    and sort, no aggregate joined back (with a partitioned write of
    the result, 4 Spark jobs for a 2,000-doc dedup pass). Ties follow
    Spark's ordering of the score type: -0.0 and 0.0 compare equal
    (smallest id wins), NaN sorts above every number, as with
    ``F.max``. Nothing assumes a numeric id: string/date/any orderable
    id works. The trade-off is the window's: each component's members
    are sorted in one task, so a pathological million-member cluster
    is one task's sort, where an aggregate would have folded it
    map-side into one row.

    PRECONDITION, enforced loud: every labeled id must have a score
    row. The score join is a LEFT join with a ``raise_error`` on a
    null score — an inner join would silently drop the unscored doc,
    and if that doc would have been the survivor a lower-scoring
    member is kept with nothing distinguishing the omission from
    'unclustered, implicitly kept' (the same fail-loud discipline as
    the tokset_key collision guard above)."""
    sc = scores.select(F.col(id_col).alias("id"),
                       F.col(score_col).alias("__score"))
    lab = (labels.join(sc, "id", "left")
           .withColumn("__score", F.when(
               F.col("__score").isNull(),
               F.raise_error(F.concat(
                   F.lit("keep_best_per_cluster: labeled id "),
                   F.col("id").cast("string"),
                   F.lit(" has no score row — every clustered doc "
                         "must be scored (an unscored doc cannot "
                         "compete for survivor and silently dropping "
                         "it would keep the wrong member)")))
               ).otherwise(F.col("__score"))))
    best = Window.partitionBy("component").orderBy(F.desc("__score"),
                                                   F.asc("id"))
    return (lab.withColumn("kept_id", F.first("id").over(best))
            .select(F.col("id").alias(id_col), "component", "kept_id",
                    (F.col("id") == F.col("kept_id")).alias("keep")))


def simhash_from_hashes(hashes: Column, bits: int = 16) -> Column:
    """SimHash (Charikar 2002) from a pre-computed token-hash array:
    bit b of the signature is the sign of Σ_tokens (±1 by bit b of the
    token hash). Near-dup docs differ in few bits. Stage the hash array
    as its own column (like ``token_hashes`` for MinHash) so the md5
    pass runs once, not once per bit."""

    def _vote(b):
        return F.aggregate(hashes, F.lit(0).cast("long"),
                           lambda acc, h: acc + F.when(
                               F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                           ).otherwise(F.lit(-1)))

    bit_votes = [_vote(b) for b in range(bits)]
    out = F.lit(0).cast("long")
    for b, vote in enumerate(bit_votes):
        out = out + F.when(vote > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def simhash(text_col: Column, bits: int = 16) -> Column:
    """Single-expression SimHash over whitespace tokens (NON-distinct —
    repeated tokens vote repeatedly, per the original weighting). For
    pipelines prefer staging ``transform(tokens, hash64)`` into a column
    and calling ``simhash_from_hashes`` — this inline form recomputes
    the md5 pass once per bit."""
    return simhash_from_hashes(F.transform(T.tokens(text_col), T.hash64), bits)


def simhash_near_dup_pairs(documents: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", bits: int = 16,
                           max_hamming: int = 3, chunks: int = 4) -> DataFrame:
    """SimHash near-dup with pigeonhole banding: two signatures within
    Hamming distance ``max_hamming`` differ in at most ``max_hamming``
    of the ``chunks`` bit-chunks, so with chunks > max_hamming they
    MUST agree on at least one chunk. Candidates are equality on
    (chunk_idx, chunk_value) — an equi-join, no crossJoin — then exact
    Hamming verification. Same shape Google used for web-scale simhash
    dedup (Manku, Jain & Sarma, WWW 2007)."""
    if chunks <= max_hamming:
        raise ValueError("need chunks > max_hamming for exact recall")
    width = bits // chunks
    hashed = documents.select(
        F.col(id_col).alias("id"),
        F.transform(T.tokens(F.col(text_col)), T.hash64).alias("th"))
    sig = hashed.select("id", simhash_from_hashes(F.col("th"), bits).alias("sig"))

    # collapse identical signatures to one representative (exact-dup
    # clusters would otherwise fill every chunk bucket with m ids —
    # O(m²) candidates; see jaccard_similarity_join for the argument)
    wg = Window.partitionBy("sig")
    memb = sig.withColumn("gid", F.min("id").over(wg))
    reps = (memb.filter(F.col("id") == F.col("gid"))
            .select(F.col("gid").alias("id"), "sig"))

    chunked = (reps.select("id", F.explode(F.array(*[
        F.struct(F.lit(c).alias("chunk"),
                 F.shiftright(F.col("sig"), c * width)
                  .bitwiseAND(F.lit((1 << width) - 1)).alias("val"))
        for c in range(chunks)])).alias("cb"))
        .select("id", "cb.chunk", "cb.val"))
    cands = _bucket_pairs(chunked, ["chunk", "val"], "id")
    s_a = reps.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    s_b = reps.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    rep_pairs = (cands.join(s_a, "id_a").join(s_b, "id_b")
                 .withColumn("hamming",
                             simhash_hamming(F.col("sig_a"), F.col("sig_b"), bits).cast("bigint"))
                 .filter(F.col("hamming") <= max_hamming)
                 .select("id_a", "id_b", "hamming"))

    return expand_group_pairs(rep_pairs, memb.select("gid", "id"),
                              {"hamming": F.lit(0).cast("bigint")})


def simhash_hamming(a: Column, b: Column, bits: int = 16) -> Column:
    """Hamming distance between two simhash values."""
    x = a.bitwiseXOR(b)
    return F.bit_count(x) if hasattr(F, "bit_count") else sum(
        F.shiftright(x, i).bitwiseAND(F.lit(1)) for i in range(bits))


def remove_duplicate_spans(documents: DataFrame, k: int = 8,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Span-level exact dedup (Lee et al. 2022, extension E53): every
    OCCURRENCE of a word-``k``-gram that appears anywhere else in the
    corpus — another document or another position of the same
    document — is cut, except the globally-first occurrence (min
    ``(doc_id, pos)``; a token is removed iff ANY non-first duplicated
    span covers it). This is the substring-level companion to the
    `text_dup_span_profile` SIGNAL: the profile flags docs, this
    REMOVES the memorizable spans while keeping each doc's novel text.

    Returns (id, n_tokens, n_removed, cleaned_text) for EVERY input
    doc (docs with < k tokens, or nothing duplicated, pass through
    with n_removed = 0).

    Scale shape: occurrence-level shingle explode (corpus-token-linear,
    NOT distinct — within-doc repeats are occurrences too), ONE
    groupBy(shingle) computing (first occurrence, occurrence count)
    with map-side partials, one join back on the same shingle key, one
    per-doc aggregate collecting covered positions (bounded by the
    doc's own length), one id join to reconstruct. No window anywhere
    Spark-side (the global first is a min over a struct, not a
    row_number), no pair enumeration: the classic O(n^2)-looking
    "compare every span against every span" is an equi-join on the
    span VALUE.
    """
    tk = documents.select(F.col(id_col), T.tokens(F.col(text_col)).alias("tk"))
    occ = (tk.filter(F.size("tk") >= k)
           .select(id_col, F.posexplode(
               T.shingles_from_tokens(F.col("tk"), k))
               .alias("pos0", "sh"))
           .select(id_col, (F.col("pos0") + 1).alias("pos"), "sh"))
    firsts = (occ.groupBy("sh")
              .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("f"),
                   F.count(F.lit(1)).alias("cnt")))
    dup = (occ.join(firsts, "sh")
           .filter((F.col("cnt") > 1)
                   & ~((F.col(id_col) == F.col(f"f.{id_col}"))
                       & (F.col("pos") == F.col("f.pos"))))
           .select(id_col, F.sequence(
               F.col("pos"), F.col("pos") + F.lit(k - 1)).alias("span")))
    masks = (dup.groupBy(id_col)
             .agg(F.array_distinct(F.flatten(F.collect_list("span")))
                  .alias("ms")))
    out = tk.join(masks, id_col, "left")
    # mask is an attribute after the join (cheap per-element reference
    # inside the lambda — NOT the inlined-expression trap documented at
    # subsplit_hot_cells); collect_list order varies per run but only
    # MEMBERSHIP is consulted, so the output is deterministic
    kept = F.filter(
        F.col("tk"),
        lambda t, i: ~F.array_contains(
            F.coalesce(F.col("ms"), F.array().cast("array<int>")),
            i + 1))
    return (out
            .select(id_col,
                    F.size("tk").cast("bigint").alias("n_tokens"),
                    (F.size("tk") - F.size(kept)).cast("bigint")
                    .alias("n_removed"),
                    F.array_join(kept, " ").alias("cleaned_text")))


def hamming_near_dup_pairs(hashes: DataFrame, id_col: str = "media_id",
                           hash_col: str = "dhash", bits: int = 60,
                           max_hamming: int = 3,
                           chunks: int = 4) -> DataFrame:
    """Near-dup pairs over any precomputed integer fingerprint column
    (extension E72 — the perceptual-hash consumer; the text twin
    computes its signature inline in simhash_near_dup_pairs): pairs
    within Hamming distance ``max_hamming``, found COMPLETELY by
    pigeonhole banding — with ``chunks > max_hamming`` two hashes
    within the bound must agree on at least one chunk, so the banded
    equi-join provably equals brute force (pinned in
    tests/test_multimodal.py against a crossJoin reference).

    Same scale shape as the simhash/MinHash family: identical hashes
    collapse to one representative FIRST (an exact-dup cluster of m
    items would otherwise put m ids in every chunk bucket — O(m²)
    candidate rows), candidates are one equi-join on (chunk, value),
    verification is one JVM-side ``bit_count(xor)``, and member pairs
    expand back with hamming 0. No crossJoin, no window over the
    corpus, driver state zero."""
    if chunks <= max_hamming:
        raise ValueError("need chunks > max_hamming for exact recall")
    if bits % chunks:
        raise ValueError(f"bits={bits} not divisible by chunks={chunks}")
    width = bits // chunks
    sig = hashes.select(F.col(id_col).alias("id"),
                        F.col(hash_col).alias("sig"))
    wg = Window.partitionBy("sig")
    memb = sig.withColumn("gid", F.min("id").over(wg))
    reps = (memb.filter(F.col("id") == F.col("gid"))
            .select(F.col("gid").alias("id"), "sig"))
    chunked = (reps.select("id", F.explode(F.array(*[
        F.struct(F.lit(c).alias("chunk"),
                 F.shiftright(F.col("sig"), c * width)
                  .bitwiseAND(F.lit((1 << width) - 1)).alias("val"))
        for c in range(chunks)])).alias("cb"))
        .select("id", "cb.chunk", "cb.val"))
    cands = _bucket_pairs(chunked, ["chunk", "val"], "id")
    s_a = reps.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    s_b = reps.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    rep_pairs = (cands.join(s_a, "id_a").join(s_b, "id_b")
                 .withColumn("hamming",
                             simhash_hamming(F.col("sig_a"),
                                             F.col("sig_b"), bits)
                             .cast("bigint"))
                 .filter(F.col("hamming") <= max_hamming)
                 .select("id_a", "id_b", "hamming"))
    return expand_group_pairs(rep_pairs, memb.select("gid", "id"),
                              {"hamming": F.lit(0).cast("bigint")})


def winnow_fingerprints(documents: DataFrame, k: int = 4, w: int = 4,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS scheme; extension E73): hash every word
    ``k``-gram, slide a window of ``w`` consecutive hashes, keep each
    window's MINIMUM — any two documents sharing a token run of length
    ≥ ``w + k − 1`` are GUARANTEED to share a selected fingerprint
    (every window inside the shared run picks the same local minimum),
    while the fingerprint density is ~2/(w+1) per position instead of
    one per k-gram. The robust, sample-rate-bounded span fingerprint a
    contamination/plagiarism scan runs where exact span dedup (E53)
    would index every occurrence.

    Output: distinct ``(doc_id, fp)`` rows — the VALUE set of selected
    minima, which equals the occurrence-based winnowing selection
    projected to values.

    Plan shape: map-only per document (tokenize → k shifted slices →
    per-element hash → window minima via sequence+slice+array_min,
    O(n·w) inside whole-stage codegen) + one explode; each stage is
    its OWN projection referencing plain columns — the CollapseProject
    HOF-inlining trap (SCALING.md round 9) re-evaluates an inlined
    array argument per element, turning O(n·w) into O(n²·w)."""
    # the short-doc filter tests TOKEN count, not hash count:
    # size(h) >= w ⟺ size(tk) >= w + k - 1 (h has size(tk)-k+1
    # elements when size(tk) >= k, else 0), so the row set is
    # identical — but a filter on `h` is pushed below the projections
    # with the whole shingle+md5 tree INLINED in the filter condition
    # (evaluated once in the Filter, again in the Project), while a
    # filter on `tk` inlines only the cheap tokenize (guide §2.3:
    # filter early on the narrow proxy, not the derived payload)
    tk = (documents.select(F.col(id_col), T.tokens(F.col(text_col))
                           .alias("tk"))
          .filter(F.size("tk") >= k + w - 1))
    # explode_outer, deliberately: plain explode makes the optimizer
    # infer `size(fps) > 0 AND isnotnull(fps)` (InferFiltersFromGenerate)
    # and push that filter below the projections with the ENTIRE
    # tokenize→shingle→md5→winnow tree inlined into the condition —
    # the whole fingerprint pass ran ~4× per row (measured 7.8 s vs
    # 1.0 s at sf0.1). After the token-count filter above, `fps` is
    # provably non-empty (≥ 1 window), so outer emits no null row and
    # the output is bit-identical.
    return (_winnow_sets(tk, k, w, id_col)
            .select(id_col, F.explode_outer("fps").alias("fp")))


def winnow_fingerprint_sets(documents: DataFrame, k: int = 4, w: int = 4,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """One ``(doc_id, fps)`` row per document: the distinct winnowing
    fingerprints of :func:`winnow_fingerprints` as one array, which
    exploded gives exactly that function's rows. A document shorter
    than ``k + w - 1`` tokens has no full window and gets an empty
    array (where :func:`winnow_fingerprints` emits no row), so every
    input document is represented — the shape an id-keyed store
    appends whole (streaming/ingest.py)."""
    return _winnow_sets(
        documents.select(F.col(id_col), T.tokens(F.col(text_col)).alias("tk")),
        k, w, id_col)


def _winnow_sets(tk: DataFrame, k: int, w: int, id_col: str) -> DataFrame:
    """(id, tk token array) → (id, fps distinct window minima); a row
    with fewer than ``k + w - 1`` tokens yields an empty array."""
    sh = tk.select(id_col, T.shingles_from_tokens(F.col("tk"), k)
                   .alias("sh"))
    h = sh.select(id_col, F.transform("sh", T.hash64).alias("h"))
    # window minima as a zip of w SHIFTED SLICES whose lambda touches
    # only its own struct element — NOT `array_min(slice(h, i, w))`
    # inside a transform over positions: `h` referenced inside a
    # lambda re-evaluates the whole hash-transform tree once PER
    # WINDOW (the CollapseProject HOF-inlining trap, SCALING.md round
    # 9), turning O(n·w) into O(n²) md5 calls — measured 92.9 s vs
    # 2.6 s at sf0.1 for this exact operator. The slices reference
    # `h` outside any lambda (≤ w evaluations, constant), the same
    # idiom shingles_from_tokens uses for the k-gram build.
    # greatest(..., 0): a short row (unfiltered here, or pruned by
    # winnow_fingerprints' filter but still EVALUATED inside the same
    # codegen stage) would give slice a negative length, which raises
    # — clamp instead of trusting evaluation order (reproduced: 5-token
    # docs crashed the stage); a clamped row gets an empty array
    m = F.greatest(F.size("h") - F.lit(w - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice("h", j + 1, m) for j in range(w)])
    return h.select(
        id_col,
        F.array_distinct(F.transform(
            zipped, lambda s: F.least(*[s[str(j)] for j in range(w)])))
        .alias("fps"))


def winnow_fingerprint_pairs(documents: DataFrame, k: int = 4,
                             w: int = 4, min_shared: int = 1,
                             max_df: int | None = None,
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             precomputed: bool = False) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints,
    with the shared count — the overlap-detection join over
    :func:`winnow_fingerprints`.

    ``max_df`` drops fingerprints present in more than that many
    documents BEFORE pairing, for two reasons that coincide at scale:
    an ultra-common fingerprint is boilerplate (headers, licenses —
    not meaningful overlap), and it is the quadratic hot key — a
    fingerprint in m docs emits m·(m−1)/2 pair rows. Same
    df-capping move as BM25's stopword effect and the LSH occupancy
    guard; the cap is a COUNT aggregate riding the same fp key the
    pair join shuffles on.

    ``precomputed=True``: ``documents`` already IS a (id, fp)
    fingerprint frame (typically persisted/materialized — this plan
    reads it three times); k/w are ignored."""
    fps = (documents if precomputed
           else winnow_fingerprints(documents, k, w, id_col, text_col))
    if max_df is not None:
        keep = (fps.groupBy("fp")
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") <= max_df)
                .select("fp"))
        fps = fps.join(keep, "fp", "left_semi")
    a = fps.alias("a").hint("shuffle_hash")
    b = fps.alias("b").hint("shuffle_hash")
    return (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def edit_distance_pairs(documents: DataFrame, max_dist: int = 8,
                        block_len: int = 12, cmp_len: int = 60,
                        id_col: str = "doc_id", text_col: str = "text",
                        lang_col: str = "lang") -> DataFrame:
    """Edit-distance-verified near-dup pairs under equi-join blocking
    (extension E103 — the Levenshtein rung of the dedup ladder):
    block on (lang, first ``block_len`` chars of the lowercased
    whitespace-collapsed text), emit within-block pairs (id_a < id_b)
    whose ``cmp_len``-char normalized prefixes are within ``max_dist``
    unit edits. The classic record-linkage verifier for SMALL in-place
    edits (typo twins, re-punctuated copies) whose token/shingle sets
    barely move — cheap where Jaccard is blunt, bounded because the
    comparison is prefix-capped (Levenshtein is O(cmp_len²) per pair,
    never O(doc²)).

    Scale shape: the blocking join is a plain equi-join (one shuffle
    on the block key, never a theta join), per-block pair emission is
    O(m²) in block occupancy — the same data-dependent hazard every
    blocked pair generator here has; profile with
    operators/skew.py:key_occupancy_report and tighten ``block_len``
    (longer key → smaller blocks) before running wide. Verification
    is JVM codegen (``levenshtein``), exact on both engines, so the
    operator is fully SQL-oracle-able."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    slim = documents.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("__lang"),
        F.substring(norm, 1, block_len).alias("__blk"),
        F.substring(norm, 1, cmp_len).alias("__pfx"))
    a = slim.select(F.col("id").alias("id_a"), "__lang", "__blk",
                    F.col("__pfx").alias("__pa"))
    b = slim.select(F.col("id").alias("id_b"), "__lang", "__blk",
                    F.col("__pfx").alias("__pb"))
    return (a.join(b, ["__lang", "__blk"])
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("lev", F.levenshtein("__pa", "__pb").cast("int"))
            .filter(F.col("lev") <= max_dist)
            .select("id_a", "id_b", "lev"))
