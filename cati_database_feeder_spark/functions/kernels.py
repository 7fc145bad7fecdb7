"""Vectorized Arrow batch kernels for ``mapInArrow``.

Dense per-row math that Spark can only express as interpreted
higher-order functions (``transform`` is ``CodegenFallback``, so every
array element goes through the expression interpreter) runs here as
numpy over whole Arrow batches instead. Each kernel is a pure function
of one ``pyarrow.RecordBatch`` — testable without a Spark session — and
its output must be bit-identical to the Column form it replaces.

Vector kernels take their model (centroids, planes) as a float64 numpy
matrix, which callers ship to executors with ``sc.broadcast``: the plan
holds no model constants, whatever the model size.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

_EMPTY_MD5 = hashlib.md5(b"").hexdigest()


def _token_hashes(tokens: pa.Array, prime: int) -> np.ndarray:
    """functions/text.py:hash64 mod ``prime`` per token: the first 60
    bits of the token's md5, as int64. Each distinct token in the batch
    is hashed once. Tokens are hashed as their raw bytes, so the value
    matches Spark's md5 of the same string byte for byte."""
    enc = pc.dictionary_encode(tokens.cast(pa.binary()))
    uniq = np.fromiter(
        (int(hashlib.md5(t).hexdigest()[:15], 16) % prime
         for t in enc.dictionary.to_pylist()),
        dtype=np.int64, count=len(enc.dictionary))
    return uniq[enc.indices.to_numpy(zero_copy_only=False)]


def minhash_band_buckets(batch: pa.RecordBatch,
                         coeffs: list[tuple[int, int]], bands: int,
                         prime: int) -> pa.RecordBatch:
    """(id, band, bucket) rows for an (id, toks) batch: ``bands`` rows
    per document, documents in input order, bands ascending.

    Signature element i = min over the document's tokens of
    (a_i·h + b_i) mod ``prime`` with (a_i, b_i) = ``coeffs[i]`` and h
    the token hash; ``prime`` < 2^31 keeps every product below 2^62.
    The band's bucket is the md5 hex of its ``len(coeffs) // bands``
    signature values written as decimals and joined with ",". A null or
    empty token list (and null tokens) sign nothing, so every band of
    such a document gets md5("")."""
    ids, toks = batch.column(0), batch.column(1)
    n = batch.num_rows
    rows = len(coeffs) // bands
    parent = pc.list_parent_indices(toks).to_numpy()
    values = pc.list_flatten(toks)
    if values.null_count:
        keep = pc.is_valid(values)
        parent = parent[keep.to_numpy(zero_copy_only=False)]
        values = values.filter(keep)
    # tokens arrive grouped by document, so each non-empty document is
    # one contiguous segment starting at its first token
    counts = np.bincount(parent, minlength=n)
    signed = counts > 0
    starts = (np.cumsum(counts) - counts)[signed]
    sig = np.empty((int(signed.sum()), rows * bands), dtype=np.int64)
    if len(starts):
        h = _token_hashes(values, prime)
        for i in range(rows * bands):
            a, b = coeffs[i]
            sig[:, i] = np.minimum.reduceat((a * h + b) % prime, starts)
    sig_rows = iter(sig.tolist())
    buckets = []
    for s in signed.tolist():
        if not s:
            buckets.extend([_EMPTY_MD5] * bands)
            continue
        v = next(sig_rows)
        buckets.extend(
            hashlib.md5(",".join(map(str, v[k * rows:(k + 1) * rows]))
                        .encode()).hexdigest()
            for k in range(bands))
    return pa.RecordBatch.from_arrays(
        [pc.take(ids, pa.array(np.repeat(np.arange(n), bands))),
         pa.array(np.tile(np.arange(bands, dtype=np.int32), n)),
         pa.array(buckets, type=pa.string())],
        names=["id", "band", "bucket"])


# Bound on rows × model rows per fold: the float64 accumulator of one
# chunk stays at 32 MB, whatever the model size.
_FOLD_ELEMS = 1 << 22


def _vectors(vecs: pa.Array, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(rows × ``dim`` float64 matrix, valid mask) of a list<float|double>
    column. A row is valid when its list is non-null, holds exactly
    ``dim`` elements and none of them is null: the rows whose
    ``zip_with`` against a ``dim``-long model row has no null term.
    Invalid rows are all NaN, so every fold over them is NaN."""
    n = len(vecs)
    lengths = pc.fill_null(pc.list_value_length(vecs), 0).to_numpy()
    values = pc.list_flatten(vecs)
    valid = lengths == dim
    if values.null_count:
        parent = np.repeat(np.arange(n), lengths)
        valid[parent[values.is_null().to_numpy(zero_copy_only=False)]] = False
    x = np.full((n, dim), np.nan)
    keep = np.repeat(valid, lengths)
    x[valid] = (values.filter(pa.array(keep)).to_numpy(zero_copy_only=False)
                .astype(np.float64).reshape(-1, dim))
    return x, valid


def _folds(x: np.ndarray, model: np.ndarray, l2: bool = False):
    """(row slice, rows × model-rows sums) per chunk of ``x``: Σ_j of
    x_j·m_j (a dot product) or of (x_j − m_j)² (a squared L2 distance),
    folded left to right from 0.0 in float64. These are the IEEE
    operations, in order, of functions/vectors.py's
    ``aggregate(zip_with(...), 0.0, ...)`` (and, for the dot product,
    of DuckDB's ``list_dot_product``), so every sum is bit-identical
    to theirs."""
    step = max(1, _FOLD_ELEMS // max(1, len(model)))
    for lo in range(0, len(x), step):
        xs = x[lo:lo + step]
        acc = np.zeros((len(xs), len(model)))
        with np.errstate(over="ignore", invalid="ignore"):  # IEEE inf/NaN
            for j in range(model.shape[1]):
                if l2:
                    d = xs[:, j, None] - model[None, :, j]
                    acc += d * d
                else:
                    acc += xs[:, j, None] * model[None, :, j]
        yield slice(lo, lo + len(xs)), acc


def _lists(values: pa.Array, rows: int, width: int) -> pa.Array:
    """``rows`` lists of ``width`` consecutive ``values`` each."""
    offsets = np.arange(rows + 1, dtype=np.int32) * width
    return pa.ListArray.from_arrays(pa.array(offsets), values)


def cell_model(centroid_rows: list[tuple[int, list[float]]]
               ) -> tuple[np.ndarray, np.ndarray]:
    """(cell ids as int32, centroid matrix as float64), sorted by cell
    id: the form :func:`nearest_cells` ranks ties by."""
    rows = sorted(centroid_rows, key=lambda r: int(r[0]))
    return (np.array([int(c) for c, _ in rows], dtype=np.int32),
            np.array([v for _, v in rows], dtype=np.float64)
            .reshape(len(rows), -1))


def nearest_cells(batch: pa.RecordBatch, vec_col: str, cells: np.ndarray,
                  centroids: np.ndarray, n: int, by: str) -> pa.Array:
    """list<int32> of each row's ``n`` nearest cell ids, nearest first,
    for a :func:`cell_model` pair. ``by="ip"`` ranks by negated inner
    product, anything else by L2 distance (the sqrt of the fold). Ties
    go to the smaller cell id and NaN distances rank last — the
    (distance, cell) order of a struct ``array_sort``. A row whose
    vector is null, holds a null or has the wrong length gets the first
    ``n`` cell ids: its distances are all NaN, so the stable sort keeps
    cell order."""
    x, _ = _vectors(batch.column(vec_col), centroids.shape[1])
    k = min(n, len(cells))
    idx = np.empty((len(x), k), dtype=np.intp)
    for rows, acc in _folds(x, centroids, l2=by != "ip"):
        dist = -acc if by == "ip" else np.sqrt(acc)
        idx[rows] = np.argsort(dist, axis=1, kind="stable")[:, :k]
    return _lists(pa.array(cells[idx].ravel()), len(x), k)


def project(batch: pa.RecordBatch, vec_col: str,
            planes: np.ndarray) -> pa.Array:
    """list<double> of each row's dot product with every plane, in
    plane order. A row whose vector is null, holds a null or has the
    wrong length gets a list of nulls, as ``transform`` over the planes
    gives it."""
    x, valid = _vectors(batch.column(vec_col), planes.shape[1])
    out = np.empty((len(x), len(planes)))
    for rows, acc in _folds(x, planes):
        out[rows] = acc
    values = pa.array(out.ravel(), mask=np.repeat(~valid, len(planes)))
    return _lists(values, len(x), len(planes))


def sign_buckets(batch: pa.RecordBatch, planes: np.ndarray, n_bits: int,
                 n_tables: int) -> pa.RecordBatch:
    """(id, tbl, bucket) rows for an (id, vector) batch: ``n_tables``
    rows per input row, tables ascending. Table t's bucket is the
    ``n_bits`` characters "1" (dot product >= 0) or "0" of planes
    [t·n_bits, (t+1)·n_bits). A NaN dot product gives "1" (Spark orders
    NaN above every number); a null, short or null-holding vector gets
    all-"0" buckets, as a null dot product does."""
    ids = batch.column(0)
    x, valid = _vectors(batch.column(1), planes.shape[1])
    n = len(x)
    bits = np.empty((n, len(planes)), dtype=bool)
    for rows, acc in _folds(x, planes):
        bits[rows] = ~(acc < 0)
    bits[~valid] = False
    chars = np.where(bits, ord("1"), ord("0")).astype(np.uint8)
    offsets = np.arange(n * n_tables + 1, dtype=np.int32) * n_bits
    buckets = pa.StringArray.from_buffers(
        n * n_tables, pa.py_buffer(offsets), pa.py_buffer(chars.tobytes()))
    return pa.RecordBatch.from_arrays(
        [pc.take(ids, pa.array(np.repeat(np.arange(n), n_tables))),
         pa.array(np.tile(np.arange(n_tables, dtype=np.int32), n)),
         buckets],
        names=[batch.schema.names[0], "tbl", "bucket"])
