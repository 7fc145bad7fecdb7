"""Vectorized Arrow batch kernels for ``mapInArrow``.

Dense per-row math that Spark can only express as interpreted
higher-order functions (``transform`` is ``CodegenFallback``, so every
array element goes through the expression interpreter) runs here as
numpy over whole Arrow batches instead. Each kernel is a pure function
of one ``pyarrow.RecordBatch`` — testable without a Spark session — and
its output must be bit-identical to the Column form it replaces.
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
