"""Vectorized Arrow batch kernels for ``mapInArrow``.

Dense per-row math that Spark can only express as interpreted
higher-order functions (``transform`` is ``CodegenFallback``, so every
array element goes through the expression interpreter) runs here as
numpy over whole Arrow batches instead. Each kernel is a pure function
of one ``pyarrow.RecordBatch`` — testable without a Spark session — and
its output must be bit-identical to the Column form it replaces.

Vector kernels take their model (centroids, planes, sub-split seeds,
PQ codebooks) as float64 numpy arrays, which callers ship to executors
with ``sc.broadcast``: the plan holds no model constants, whatever the
model size.
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
                .astype(np.float64).reshape(int(valid.sum()), dim))
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


def _dots(vecs: pa.Array, model) -> tuple[np.ndarray, np.ndarray]:
    """(rows × entries dot products, rows × entries null mask) of a
    list column against the entries of ``model`` — a matrix, or a list
    of entries of any lengths — each a :func:`_folds` sum. A dot
    product is null where ``zip_with`` of the row with the entry has a
    null term: the row is null, holds a null, or differs from the
    entry in length. Null dot products are NaN in the first array."""
    dots = np.empty((len(vecs), len(model)))
    null = np.empty(dots.shape, dtype=bool)
    lengths = np.array([len(e) for e in model])
    for dim in np.unique(lengths).tolist():
        cols = np.flatnonzero(lengths == dim)
        x, valid = _vectors(vecs, dim)
        entries = np.array([model[i] for i in cols]).reshape(len(cols), dim)
        for rows, acc in _folds(x, entries):
            dots[rows, cols] = acc
        null[:, cols] = ~valid[:, None]
    return dots, null


def project(batch: pa.RecordBatch, vec_col: str,
            planes: np.ndarray) -> pa.Array:
    """list<double> of each row's dot product with every plane, in
    plane order. A row whose vector is null, holds a null or has the
    wrong length gets a list of nulls, as ``transform`` over the planes
    gives it."""
    dots, null = _dots(batch.column(vec_col), planes)
    return _lists(pa.array(dots.ravel(), mask=null.ravel()), len(dots),
                  len(planes))


def _signs(vecs: pa.Array, planes: np.ndarray
           ) -> tuple[np.ndarray, np.ndarray]:
    """(rows × planes sign bits, rows × planes dot products). A bit is
    set when the dot product is >= 0 or NaN (Spark orders NaN above
    every number). A null, short or null-holding vector sets no bit, as
    a null dot product is not >= 0, and its dot products are all
    NaN."""
    dots, null = _dots(vecs, planes)
    return ~(dots < 0) & ~null, dots


def _bit_strings(bits: np.ndarray, width: int) -> pa.Array:
    """Strings of ``width`` characters, "1" for a set bit and "0" for a
    clear one, from ``bits`` read in row-major order."""
    n = bits.size // width
    chars = np.where(bits, ord("1"), ord("0")).astype(np.uint8)
    offsets = np.arange(n + 1, dtype=np.int32) * width
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(chars.tobytes()))


def sign_bucket(batch: pa.RecordBatch, vec_col: str,
                planes: np.ndarray) -> pa.Array:
    """string of each row's :func:`_signs` bits over every plane, one
    character per plane."""
    bits, _ = _signs(batch.column(vec_col), planes)
    return _bit_strings(bits, len(planes))


def sign_buckets(batch: pa.RecordBatch, planes: np.ndarray, n_bits: int,
                 n_tables: int) -> pa.RecordBatch:
    """(id, tbl, bucket) rows for an (id, vector) batch: ``n_tables``
    rows per input row, tables ascending. Table t's bucket is the
    :func:`_signs` bits of planes [t·n_bits, (t+1)·n_bits)."""
    ids = batch.column(0)
    bits, _ = _signs(batch.column(1), planes)
    n = len(bits)
    return pa.RecordBatch.from_arrays(
        [pc.take(ids, pa.array(np.repeat(np.arange(n), n_tables))),
         pa.array(np.tile(np.arange(n_tables, dtype=np.int32), n)),
         _bit_strings(bits, n_bits)],
        names=[batch.schema.names[0], "tbl", "bucket"])


def probe_buckets(batch: pa.RecordBatch, vec_col: str, planes: np.ndarray,
                  n_flip: int) -> pa.Array:
    """list<string> of 1 + ``n_flip`` buckets per row: the row's
    :func:`sign_bucket`, then that bucket with one bit flipped, for the
    ``n_flip`` bits of smallest |dot product| in turn. Ties go to the
    smaller bit index and NaN ranks last; a null, short or
    null-holding vector flips its first ``n_flip`` bits, as its margins
    all tie."""
    bits, dots = _signs(batch.column(vec_col), planes)
    n = len(bits)
    flip = np.argsort(np.abs(dots), axis=1, kind="stable")[:, :n_flip]
    probes = np.repeat(bits[:, None, :], 1 + n_flip, axis=1)
    probes[np.arange(n)[:, None], np.arange(1, n_flip + 1), flip] ^= True
    return _lists(_bit_strings(probes, len(planes)), n, 1 + n_flip)


def _first(key: np.ndarray, null: np.ndarray) -> np.ndarray:
    """Column of each row's first entry in the order a struct
    ``array_sort`` gives (key, column) pairs: null keys first, then
    keys ascending with -0.0 equal to 0.0 and NaN last, then the
    smaller column."""
    first = np.argsort(key, axis=1, kind="stable")[:, 0]
    return np.where(null.any(axis=1), null.argmax(axis=1), first)


def nearest_in_group(batch: pa.RecordBatch, vec_col: str, group_col: str,
                     groups: pa.Array,
                     models: list[tuple[np.ndarray, list[np.ndarray]]]
                     ) -> pa.Array:
    """int32 id of each row's nearest entry by inner product within its
    own group's model: a row whose ``group_col`` value is
    ``groups[g]`` ranks the entries of ``models[g]``, an (ascending
    ids, entry vectors) pair, by negated dot product in :func:`_first`
    order. A row whose group has no model (null included) gets 0."""
    col = batch.column(group_col)
    key = pc.fill_null(pc.index_in(col, value_set=groups.cast(col.type)),
                       -1).to_numpy()
    out = np.zeros(len(key), dtype=np.int32)
    vecs = batch.column(vec_col)
    for g in np.unique(key[key >= 0]).tolist():
        rows = np.flatnonzero(key == g)
        ids, entries = models[g]
        dots, null = _dots(vecs.take(pa.array(rows)), entries)
        out[rows] = ids[_first(-dots, null)]
    return pa.array(out)


def _subspace_dots(vecs: pa.Array, codebooks: list[list[np.ndarray]],
                   dsub: int):
    """(dot products, null mask) of each row's slice s, elements
    [s·dsub, (s+1)·dsub), against the entries of ``codebooks[s]``, per
    subspace s. A slice is valid or not on its own, as ``F.slice``
    cuts it: a short vector's leading slices still count, a long
    vector's trailing elements are never read, and a null element
    nulls only its own slice."""
    for s, entries in enumerate(codebooks):
        yield _dots(pc.list_slice(vecs, s * dsub, (s + 1) * dsub), entries)


def pq_codes(batch: pa.RecordBatch, vec_col: str,
             codebooks: list[list[np.ndarray]], dsub: int) -> pa.Array:
    """list<int32> of each row's PQ code word: code s is the index of
    the ``codebooks[s]`` entry of largest inner product with the row's
    slice s (:func:`_subspace_dots`), in :func:`_first` order — an
    invalid slice gets 0."""
    n = batch.num_rows
    codes = np.empty((n, len(codebooks)), dtype=np.int32)
    for s, (dots, null) in enumerate(
            _subspace_dots(batch.column(vec_col), codebooks, dsub)):
        codes[:, s] = _first(-dots, null)
    return _lists(pa.array(codes.ravel()), n, len(codebooks))


def pq_luts(batch: pa.RecordBatch, vec_col: str,
            codebooks: list[list[np.ndarray]], dsub: int) -> pa.Array:
    """list<list<double>> of each row's ADC lookup tables: table s holds
    the dot product of the row's slice s (:func:`_subspace_dots`) with
    every ``codebooks[s]`` entry, null where the slice is invalid."""
    n = batch.num_rows
    dots, null = zip(*_subspace_dots(batch.column(vec_col), codebooks, dsub))
    widths = np.tile([len(e) for e in codebooks], n)
    offsets = np.concatenate([[0], np.cumsum(widths)]).astype(np.int32)
    tables = pa.ListArray.from_arrays(
        pa.array(offsets),
        pa.array(np.concatenate(dots, axis=1).ravel(),
                 mask=np.concatenate(null, axis=1).ravel()))
    return _lists(tables, n, len(codebooks))
