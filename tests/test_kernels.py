"""Arrow batch kernels (functions/kernels.py) against the Column forms
they replace: outputs must be bit-identical, not just close."""

import hashlib
import random

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from cati_database_feeder_spark.functions import kernels as K
from cati_database_feeder_spark.operators import dedup

_EDGE_TEXTS = [None, "", "   ", "\t \n", "a", "a a a b", "b a",
               "héllo wörld ñandú", "日本語 テキスト 日本語", "emoji 🙂 x",
               "  leading and trailing  ", "Ünïcödé ÜNÏCÖDÉ"]


def _reference_buckets(toks, num_hashes, bands):
    """Pure-Python MinHash banding: md5 60-bit token hash mod P, the
    universal-hash minimum per seed, md5 of the ','-joined band."""
    p = dedup.MINHASH_P
    r = num_hashes // bands
    hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % p
          for t in (toks or []) if t is not None]
    if not hs:
        return [hashlib.md5(b"").hexdigest()] * bands
    sig = [min((a * h + b) % p for h in hs)
           for a, b in map(dedup.minhash_coeffs, range(num_hashes))]
    return [hashlib.md5(",".join(map(str, sig[k * r:(k + 1) * r]))
                        .encode()).hexdigest() for k in range(bands)]


@pytest.mark.parametrize("list_type", [pa.list_(pa.string()),
                                       pa.large_list(pa.large_string())])
def test_minhash_band_buckets_batch_matches_reference(list_type):
    toks = [["a", "b"], None, [], ["x", None], [None], ["a"],
            ["é", "b", "日本"], ["b", "a", "b"]]
    batch = pa.RecordBatch.from_arrays(
        [pa.array([5, 3, 9, 1, 2, 8, 7, 4], pa.int32()),
         pa.array(toks, list_type)], names=["id", "toks"])
    coeffs = [dedup.minhash_coeffs(i) for i in range(16)]
    for part in (batch, batch.slice(2, 5)):
        out = K.minhash_band_buckets(part, coeffs, 4, dedup.MINHASH_P)
        assert out.schema.names == ["id", "band", "bucket"]
        assert out.column(0).type == pa.int32()
        assert out.column(0).to_pylist() == [
            i for i in part.column(0).to_pylist() for _ in range(4)]
        assert out.column(1).to_pylist() == [0, 1, 2, 3] * part.num_rows
        assert out.column(2).to_pylist() == [
            b for t in part.column(1).to_pylist()
            for b in _reference_buckets(t, 16, 4)]
    # "a b" and "b a b" share a token set, so every band agrees
    rows = K.minhash_band_buckets(batch, coeffs, 4, dedup.MINHASH_P)
    buckets = rows.column(2).to_pylist()
    assert buckets[0:4] == buckets[28:32]


def test_minhash_band_buckets_empty_batch():
    batch = pa.RecordBatch.from_arrays(
        [pa.array([], pa.int64()), pa.array([], pa.list_(pa.string()))],
        names=["id", "toks"])
    out = K.minhash_band_buckets(
        batch, [dedup.minhash_coeffs(i) for i in range(16)], 4,
        dedup.MINHASH_P)
    assert out.num_rows == 0


def _corpus(spark):
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)] + ["ä", "ß", "日本", "🙂"]
    texts = list(_EDGE_TEXTS)
    for _ in range(50):
        texts.append(" ".join(rng.choice(vocab)
                              for _ in range(rng.randint(1, 12))))
    texts += texts[20:26]   # exact copies: only their representative bands
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def _column_buckets(memb, docs, num_hashes, bands):
    """The Column form: token_hashes → minhash_signature → md5 of each
    band's values joined with ','."""
    r = num_hashes // bands
    reps = memb.filter(F.col("id") == F.col("gid")).select(
        F.col("id").alias("doc_id"))
    sig = docs.join(reps, "doc_id").select(
        F.col("doc_id").alias("id"),
        dedup.minhash_signature(dedup.token_hashes(F.col("text")),
                                num_hashes).alias("sig"))
    return sig.select("id", F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws(",", *[
            F.element_at("sig", b * r + j + 1).cast("string")
            for j in range(r)])).alias("bucket"))
        for b in range(bands)])).alias("bb")).select("id", "bb.band", "bb.bucket")


@pytest.mark.parametrize("num_hashes,bands", [(16, 4), (16, 8), (32, 8)])
def test_rep_band_buckets_equals_column_form(spark, num_hashes, bands):
    docs = _corpus(spark)
    memb = dedup.tokset_groups(docs).localCheckpoint(eager=True)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")   # every partition spans several batches
    try:
        got = dedup.rep_band_buckets(memb, num_hashes, bands).localCheckpoint(eager=True)
    finally:
        spark.conf.set(key, old)
    want = _column_buckets(memb, docs, num_hashes, bands)
    assert got.schema.simpleString() == "struct<id:bigint,band:int,bucket:string>"
    n_reps = memb.filter(F.col("id") == F.col("gid")).count()
    assert got.count() == n_reps * bands
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
