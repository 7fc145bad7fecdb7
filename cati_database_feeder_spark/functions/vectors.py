"""Vector/embedding column expressions (extension op E7, SURVEY.md §2.10).

Dot product / norm / cosine over ``array<float>`` embedding columns as
built-in higher-order functions (``zip_with`` + ``aggregate``) — these
run JVM-side per row with no Python and no shuffle. Elements are cast
to double *before* accumulation and folded left-to-right, which makes
the result bit-deterministic and equal to the DuckDB oracle's
sequential ``list_dot_product`` on a DOUBLE[] cast.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double precision, sequential fold."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


# Memo for lit_nested below: its literals (the bloom word list in
# functions/sketches.py, the centroid and PQ codebook literals of
# queryset's cell-profile and PQ-distortion queries) are identical
# across every consumer's plan build in a session, so each distinct
# value is rendered and parsed exactly once per process. Columns wrap
# gateway-wide expression trees, not session state, so reuse across
# sessions in one process is safe. Bounded (round-13 advice): keys are
# deep copies of the nested values and the Columns pin JVM expression
# trees for process lifetime, so a long-lived driver feeding ever-new
# literals through here must not grow without bound — evict
# oldest-inserted past the cap (dict preserves insertion order; the
# working set per session is a few literals).
_LIT_CACHE: dict = {}
_LIT_CACHE_MAX = 256


def _lit_render(v) -> str:
    if isinstance(v, bool):  # bool is an int subclass — refuse, not cast
        raise TypeError("lit_nested: bool element")
    if isinstance(v, int):
        # a Python int outside int64 would PARSE successfully as a
        # DECIMAL literal and silently change the array element type;
        # F.lit would raise instead — refuse here so the caller falls
        # back to F.lit and keeps the prior behavior (round-13 advice)
        if not (-2**63 <= v < 2**63):
            raise ValueError("lit_nested: int outside signed-int64 range")
        return str(v)
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            raise ValueError("non-finite")
        # repr() is the shortest round-trip decimal; Spark's literal
        # parser reads it to the nearest double — the same double
        return repr(v) + "D"
    if isinstance(v, (list, tuple)):
        return "array(" + ",".join(_lit_render(x) for x in v) + ")"
    raise TypeError(f"lit_nested: unsupported element {type(v)}")


def _lit_key(v):
    return tuple(_lit_key(x) for x in v) if isinstance(v, (list, tuple)) \
        else (type(v).__name__, v)


def lit_nested(value) -> Column:
    """(Nested) numeric array literal built by ONE SQL parse instead of
    one py4j ``lit()`` call per element: PySpark's ``F.lit`` on a list
    recurses element-wise, so a 32×64 plane matrix is 2048 gateway
    round trips — measured ~1.0 s of pure driver time per plan build
    at sf0.1 vs ~4 ms for the parsed form, with bit-identical values
    and identical schemas (incl. empty-array sentinels, which Spark's
    type coercion resolves the same way — pinned by test). Memoized by
    value. Falls back to ``F.lit`` for anything the SQL literal
    grammar cannot express (non-finite floats, non-numeric elements,
    an all-empty structure with no scalar to type it)."""
    def has_scalar(v):
        if isinstance(v, (list, tuple)):
            return any(has_scalar(x) for x in v)
        return True

    if not has_scalar(value):
        return F.lit(value)  # nothing to type an all-empty structure by
    try:
        key = _lit_key(value)
    except Exception:
        return F.lit(value)
    hit = _LIT_CACHE.get(key)
    if hit is not None:
        return hit
    try:
        col = F.expr(_lit_render(value))
    except Exception:
        col = F.lit(value)
    while len(_LIT_CACHE) >= _LIT_CACHE_MAX:
        _LIT_CACHE.pop(next(iter(_LIT_CACHE)))
    _LIT_CACHE[key] = col
    return col


def norm(a: Column) -> Column:
    """Euclidean norm ‖a‖₂."""
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either side has zero norm."""
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def cosine_from_norms(a: Column, b: Column,
                      norm_a: Column, norm_b: Column) -> Column:
    """Cosine with pre-computed norms. In any pairwise plan, compute
    ‖v‖ once per VECTOR as a column and pass it here — the inline
    ``cosine`` recomputes both norms per PAIR (3 array folds instead
    of 1). Same arithmetic, bit-identical result."""
    return dot(a, b) / F.nullif(norm_a * norm_b, F.lit(0.0))


def l2_distance(a: Column, b: Column) -> Column:
    """Euclidean distance between two vectors."""
    diffs = F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double"))
    return F.sqrt(F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x * x))


def quantize_int8(vec: Column, lo: Column, hi: Column) -> Column:
    """Scalar int8 quantization against a corpus-global [lo, hi] range:
    code_i = clamp(floor((x_i - lo) · 255/(hi - lo)), 0, 255). The 4×
    storage cut every 100 TB embedding store takes; with lo/hi the
    corpus min/max every in-range element lands within half a bucket of
    its midpoint reconstruction. All arithmetic is plain double IEEE
    ops in a fixed expression order, so a SQL oracle computing the same
    formula gets bit-identical codes.

    Degenerate range (hi <= lo — a constant-valued corpus makes
    hi == lo): every code is 0 BY CONVENTION rather than the silent
    NaN→null the raw 255/(hi-lo) division would emit. With hi == lo
    every element equals lo, and :func:`dequantize_int8`'s midpoint
    lo + 0.5·(hi-lo)/255 collapses to lo — the round trip is EXACT, so
    the all-zero convention is not just total, it is the correct
    quantization of a zero-width range."""
    sc = F.when(hi > lo, F.lit(255.0) / (hi - lo)).otherwise(F.lit(0.0))
    return F.transform(
        vec, lambda x: F.least(F.lit(255), F.greatest(F.lit(0), F.floor(
            (x.cast("double") - lo) * sc).cast("int"))))


def dequantize_int8(codes: Column, lo: Column, hi: Column) -> Column:
    """Midpoint reconstruction of :func:`quantize_int8` codes:
    x̂_i = lo + (code_i + 0.5) · (hi - lo)/255."""
    s2 = (hi - lo) / F.lit(255.0)
    return F.transform(codes,
                       lambda c: lo + (c.cast("double") + F.lit(0.5)) * s2)


def simhash_sign(a: Column) -> Column:
    """Sign pattern of a vector as a bit string — the random-hyperplane
    LSH signature used to bucket embeddings before exact rerank."""
    bits = F.transform(a, lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.array_join(bits, "")
