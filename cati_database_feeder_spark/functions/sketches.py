"""Bounded-memory sketch primitives (extensions E60–E61, SURVEY.md
§2.10): a Bloom filter for map-only membership gating and a count-min
sketch for heavy-hitter frequency estimation.

Both are the 100 TB answer to "the exact structure no longer fits":
the Bloom filter replaces an ever-growing broadcast set with a FIXED
``m_bits`` bitmap (false positives possible, false negatives
impossible — so an exact verify join on the survivors restores
exactness while the corpus-side test stays a zero-shuffle codegen
projection), and the count-min table replaces a corpus-sized
``groupBy(token)`` result with a FIXED depth×width integer grid built
by one aggregate (mergeable across shards/streams; estimates
deterministically over-count, never under).

Hash discipline: everything derives from :func:`functions.text.hash64`
(md5 → bigint — identical in Spark and DuckDB) pushed through the
MinHash universal-hash family ``(a_i·h + b_i) mod P`` of
operators/dedup.py with coefficient indices DISJOINT from the MinHash
seeds (Bloom from index 100, CMS from index 200), so the DuckDB oracle
replays every bit position, every bucket id, and every estimate
bit-for-bit. Products stay < 2^62 (P = 2^31−1) — no overflow in either
engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cati_database_feeder_spark.functions import text as T
from cati_database_feeder_spark.functions import vectors as V
from cati_database_feeder_spark.operators.dedup import MINHASH_P, minhash_coeffs

# coefficient-index bases: MinHash owns 0..15, Bloom 100.., CMS 200..
BLOOM_SEED_BASE = 100
CMS_SEED_BASE = 200


def _hash_positions(h: Column, modulus: int, k: int, seed_base: int) -> list[Column]:
    """k universal-hash values of a base hash, each in [0, modulus).
    ``h`` is reduced mod P FIRST so every product stays < 2^62 —
    hash64 emits up to 60 bits and a_i·h would overflow BIGINT under
    ANSI mode otherwise (the same discipline as token_hashes)."""
    hp = h % F.lit(MINHASH_P)
    out = []
    for i in range(k):
        a, b = minhash_coeffs(seed_base + i)
        out.append(((F.lit(a) * hp + F.lit(b)) % F.lit(MINHASH_P))
                   % F.lit(modulus))
    return out


def bloom_build(keys: DataFrame, key_col: str, m_bits: int,
                k: int = 2) -> list[int]:
    """Build a Bloom bitmap over ``keys[key_col]`` (strings) and return
    it as signed 64-bit words ready for :func:`bloom_might_contain`'s
    plan literal.

    The driver collect is the DISTINCT SET BIT POSITIONS — bounded by
    ``m_bits`` regardless of key count, the same bounded-model-state
    class as the IVF centroid collect. Sizing: ~10 bits per expected
    distinct key at k=2 gives ~3% false positives; the false-positive
    rate affects only how much the downstream exact verify join has to
    re-check, never the result."""
    if m_bits % 64 != 0 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    h = T.hash64(F.col(key_col))
    pos = F.array(*_hash_positions(h, m_bits, k, BLOOM_SEED_BASE))
    rows = keys.select(F.explode(pos).alias("p")).distinct().collect()
    words = [0] * (m_bits // 64)
    for r in rows:
        p = int(r["p"])
        words[p // 64] |= 1 << (p % 64)
    # pack unsigned bit patterns into Spark's signed BIGINT domain
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_might_contain(key: Column, words: list[int], m_bits: int,
                        k: int = 2) -> Column:
    """Map-only membership test against a :func:`bloom_build` bitmap:
    TRUE for every inserted key (no false negatives, so an exact join
    downstream restores exactness), FALSE for most others. The bitmap
    rides the plan as one array<bigint> literal (m_bits/64 elements —
    2^20 bits = 16 Ki longs, the same order as the hyperplane
    literals); the test is k element_at + bit_get calls inside
    whole-stage codegen — zero shuffle, zero Python."""
    if m_bits % 64 != 0 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    if len(words) != m_bits // 64:
        # a mismatch silently yields FALSE NEGATIVES (out-of-range
        # element_at returns NULL, NULL & ... drops the row) — the one
        # failure mode this design promises is impossible
        raise ValueError(
            f"bloom_might_contain: bitmap has {len(words)} words but "
            f"m_bits={m_bits} implies {m_bits // 64} — the test would "
            f"produce silent false negatives; pass the same m_bits the "
            f"bitmap was built with")
    # one-parse literal (vectors.lit_nested): F.lit on the word list
    # is one py4j call per element — 1 Ki longs here, 16 Ki at a
    # production 2^20-bit map — per plan build; element types match
    # F.lit exactly (bare int literals parse to INT/BIGINT by range)
    wl = V.lit_nested(words)
    h = T.hash64(key)
    test = F.lit(True)
    for pos in _hash_positions(h, m_bits, k, BLOOM_SEED_BASE):
        word = F.element_at(wl, (F.floor(pos / F.lit(64)) + 1).cast("int"))
        test = test & (F.bit_get(word, (pos % F.lit(64)).cast("int")) == 1)
    return test


def counting_bloom_cells(keys: DataFrame, key_col: str, m_cells: int,
                         k: int = 2) -> DataFrame:
    """``(cell, cnt)`` occurrence counts of the keys' Bloom positions —
    the DELETABLE form of :func:`bloom_build` (extension E60 at ingest,
    round-9 verdict item 5): positions come from the IDENTICAL
    universal-hash family and seed indices, so ``cnt > 0`` reproduces
    the bloom_build bitmap over the same keys bit-for-bit
    (:func:`counting_bloom_words` does the packing). Like the count-min
    table this is a LINEAR sketch: cell-wise ADD merges shards/streams,
    and cell-wise SUBTRACT of a subset's cells removes it exactly —
    callers feed one row per (document, distinct key), so a key shared
    by several documents keeps its cells positive until the LAST holder
    is subtracted (no false negatives for survivors, ever; a stale
    positive is just a Bloom false positive the downstream exact verify
    already absorbs). One aggregate with map-side partials; at most
    ``m_cells`` rows, so 8× the bits of the plain bitmap buys
    deletability — the classic counting-Bloom trade."""
    if m_cells % 64 != 0 or m_cells <= 0:
        raise ValueError(
            f"m_cells must be a positive multiple of 64, got {m_cells}")
    h = T.hash64(F.col(key_col))
    pos = F.array(*_hash_positions(h, m_cells, k, BLOOM_SEED_BASE))
    return (keys.select(F.explode(pos).alias("cell"))
            .groupBy("cell").agg(F.count(F.lit(1)).alias("cnt")))


def counting_bloom_words(cells: DataFrame, m_bits: int) -> list[int]:
    """Collapse counting-Bloom cells to the packed signed-64-bit word
    list :func:`bloom_might_contain` takes — the serving handoff from
    the maintained (deletable) counts to the zero-shuffle codegen
    membership test. ``cells``: (cell, cnt) rows; any cell with
    ``cnt > 0`` sets its bit. Driver collect bounded by ``m_bits``
    positions — the same bounded-model-state class as bloom_build's
    set-bit collect."""
    if m_bits % 64 != 0 or m_bits <= 0:
        raise ValueError(
            f"m_bits must be a positive multiple of 64, got {m_bits}")
    rows = (cells.filter(F.col("cnt") > 0)
            .select(F.col("cell").cast("bigint")).distinct().collect())
    words = [0] * (m_bits // 64)
    for r in rows:
        p = int(r["cell"])
        if not 0 <= p < m_bits:
            raise ValueError(
                f"counting_bloom_words: cell {p} outside [0, {m_bits}) "
                f"— the cells were built with different m_cells; a "
                f"mismatch would silently drop bits (false negatives)")
        words[p // 64] |= 1 << (p % 64)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def cms_buckets(key: Column, depth: int, width: int) -> Column:
    """array<bigint> of the key's ``depth`` count-min bucket ids (row r
    hashes with coefficient index CMS_SEED_BASE+r, bucket in
    [0, width))."""
    h = T.hash64(key)
    return F.array(*_hash_positions(h, width, depth, CMS_SEED_BASE))


def cms_table(items: DataFrame, key_col: str, depth: int = 4,
              width: int = 2048) -> DataFrame:
    """Count-min sketch table over item OCCURRENCES (one count per
    input row): ``(r, bucket, cnt)`` with at most depth×width rows —
    ONE aggregate with map-side partials, so at 100 TB each map task
    ships at most depth×width partial rows no matter how many tokens
    it saw, and tables from different shards/streams merge by adding
    cnt (the property exact per-token counts lack at this size)."""
    return (items
            .select(F.posexplode(cms_buckets(F.col(key_col), depth, width))
                    .alias("r", "bucket"))
            .groupBy("r", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_estimate(candidates: DataFrame, key_col: str, table: DataFrame,
                 depth: int = 4, width: int = 2048,
                 out_col: str = "cms_est") -> DataFrame:
    """Point-frequency estimates for ``candidates[key_col]``: min over
    the depth rows of the key's bucket counts — the count-min
    guarantee est ≥ true always, est ≤ true + εN with the usual
    (ε=e/width, δ=e^−depth) bound. The table is bounded (depth×width)
    so the join broadcasts; a bucket no candidate ever incremented
    coalesces to 0."""
    cand = (candidates
            .select("*", F.posexplode(
                cms_buckets(F.col(key_col), depth, width))
                .alias("r", "bucket")))
    keep = [c for c in candidates.columns]
    return (cand.join(F.broadcast(table), ["r", "bucket"], "left")
            .groupBy(*keep)
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .alias(out_col)))


def cms_heavy_hitters(items: DataFrame, key_col: str, min_count: int,
                      depth: int = 4, width: int = 2048,
                      table: DataFrame | None = None) -> DataFrame:
    """Exact heavy hitters (keys with occurrence count ≥ ``min_count``)
    with the count-min table as a RESULT-TRANSPARENT candidate prune —
    the same structure as the Bloom-gated decontamination: the sketch's
    one-sided error (est ≥ true, always) means filtering DISTINCT keys
    on ``cms_estimate ≥ min_count`` can never dismiss a true heavy
    hitter, so the exact count pass runs only over the surviving
    candidates and the output equals the plain exact query.

    Why this beats counting everything at 100 TB: the exact form
    shuffles one counted row per DISTINCT KEY (a web-scale token
    vocabulary is billions of rows, almost all of count 1); here the
    distinct-key stream is filtered map-side against the broadcast
    depth×width table, so only keys the sketch cannot rule out — the
    true heavy hitters plus the collision-inflated few — reach the
    exact count. The candidate count is bounded by
    n_true_heavy + O(depth-collision survivors), not the vocabulary.

    Output: (key_col, true_cnt) for every key with true_cnt ≥
    min_count. ``table`` injects a prebuilt sketch (e.g. the cell-wise
    sum of shard tables, as queryset.text_token_cms_store builds) — it
    MUST have been built with the same
    (depth, width): a mismatch silently misses cells and coalesces
    estimates to 0, i.e. silent false negatives, so the catchable half
    of the contract (any stored r ≥ depth or bucket ≥ width) is
    checked loudly; a STRICTLY SMALLER build is structurally
    indistinguishable from a sparse table and stays on the caller.

    Precondition on ``min_count``: the prune only prunes above the
    sketch noise floor ε·N ≈ e·N/width — below it (min_count=1 being
    the extreme) essentially every distinct key survives and the
    candidate set IS the vocabulary; the candidate join is therefore
    left to AQE (broadcast only when actually small) rather than
    force-broadcast."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    t = table if table is not None else cms_table(items, key_col,
                                                  depth, width)
    if table is not None:
        mx = table.agg(F.max("r").alias("mr"),
                       F.max("bucket").alias("mb")).collect()[0]
        if mx["mr"] is not None and (int(mx["mr"]) >= depth
                                     or int(mx["mb"]) >= width):
            raise ValueError(
                f"cms_heavy_hitters: injected table has cells up to "
                f"(r={int(mx['mr'])}, bucket={int(mx['mb'])}) but this "
                f"call uses (depth={depth}, width={width}) — a dims "
                f"mismatch silently drops true heavy hitters; pass the "
                f"dims the table was built with")
    cand = (cms_estimate(items.select(key_col).distinct(), key_col, t,
                         depth, width)
            .filter(F.col("cms_est") >= min_count)
            .drop("cms_est"))
    return (items.join(cand, key_col, "left_semi")
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("true_cnt"))
            .filter(F.col("true_cnt") >= min_count))
