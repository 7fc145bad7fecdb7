"""Arrow batch kernels (functions/kernels.py) against the Column forms
they replace: outputs must be bit-identical, not just close."""

import hashlib
import random
import struct

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from cati_database_feeder_spark.functions import kernels as K
from cati_database_feeder_spark.functions import vectors as V
from cati_database_feeder_spark.operators import dedup, similarity

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


# ---------------------------------------------------------------------
# Vector kernels: nearest cells, JL projection, LSH sign buckets
# ---------------------------------------------------------------------

def _oracle_nearest(vec, centroid_rows, n, by):
    """The Column form the nearest-cell kernel replaced: (distance,
    cell) structs over a centroid literal, struct ``array_sort``
    (distance asc, cell asc), slice."""
    cents = F.zip_with(
        V.lit_nested([int(c) for c, _ in centroid_rows]),
        V.lit_nested([[float(x) for x in v] for _, v in centroid_rows]),
        lambda c, v: F.struct(c.alias("cell"), v.alias("centroid")))
    if by == "ip":
        dist = lambda c: -V.dot(vec, c["centroid"])
    else:
        dist = lambda c: V.l2_distance(vec, c["centroid"])
    pairs = F.transform(cents, lambda c: F.struct(dist(c).alias("d"),
                                                  c["cell"].alias("cell")))
    return F.transform(F.slice(F.array_sort(pairs), 1, n), lambda p: p["cell"])


def _oracle_project(vec, planes):
    """The Column form of the JL projection: one fold per plane."""
    return F.transform(V.lit_nested(planes), lambda p: V.dot(vec, p))


def _oracle_sign_bits(vec, planes):
    """The Column form of the LSH signature: "1" where the fold is >= 0."""
    return F.array_join(F.transform(
        V.lit_nested(planes),
        lambda p: F.when(V.dot(vec, p) >= 0, F.lit("1")).otherwise(F.lit("0"))),
        "")


_NAN = float("nan")
_EDGE_VECS = [
    [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
    [0.5, 0.5, 0.0, 0.0],             # equidistant from cells 2, 5, 9
    [0.0, 0.0, 0.0, 0.0], [-0.0, -0.0, -0.0, -0.0],
    [_NAN, 0.0, 0.0, 0.0], [_NAN] * 4,
    None, [1.0, None, 0.0, 0.0], [1.0, 0.0, 0.0], [1.0, 0.0, 0.0, 0.0, 0.0],
    [1e308, -1e308, 3.0, 4.0], [0.3, -1.7, 2.2, 0.1], [-2.5, 0.75, 0.0, 1.0],
]
# unsorted ids; 5 and 9 share a centroid, so they tie everywhere. From
# [1, 0, 0, 0], cell 1's squared L2 distance is 1 + 2^-52 and cell 4's
# is 1.0: only the sqrt makes them tie, so cell 1 ranks first.
_EDGE_CELLS = [(5, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0]),
               (9, [1.0, 0.0, 0.0, 0.0]), (4, [0.0, 0.0, 0.0, 0.0]),
               (7, [-1.0, 0.5, 0.0, 2.0]), (3, [0.25, -0.75, 1.5, 0.0]),
               (1, [0.0, 2.0 ** -26, 0.0, 0.0])]
# the third plane is orthogonal to the first two rows: a 0.0 dot is "1"
_EDGE_PLANES = [[0.1, -0.2, 0.3, 0.4], [-1.5, 0.25, 0.0, 2.0],
                [0.0, 0.0, 1.0, 0.0], [0.7, 0.7, -0.7, 0.7]]


def _bits(values):
    """Float lists compared bit for bit (NaN and -0.0 included)."""
    return [None if v is None else
            [None if x is None else struct.pack("<d", x) for x in v]
            for v in values]


@pytest.fixture(scope="module", params=["double", "float"])
def edge_case(request, spark):
    """(value type, Spark frame of the edge vectors, the oracle rows by
    id). Every oracle is computed once per value type."""
    value_type = {"double": pa.float64(), "float": pa.float32()}[request.param]
    table = pa.table({"id": pa.array(range(len(_EDGE_VECS)), pa.int64()),
                      "vec": pa.array(_EDGE_VECS, pa.list_(value_type))})
    df = spark.createDataFrame(table)
    vec = F.col("vec")
    cols = {f"{by}{n}": _oracle_nearest(vec, _EDGE_CELLS, n, by)
            for by in ("l2", "ip") for n in (1, 3, 6, 8)}
    cols["proj"] = _oracle_project(vec, _EDGE_PLANES)
    cols["bits"] = _oracle_sign_bits(vec, _EDGE_PLANES)
    rows = df.select("id", *[c.alias(k) for k, c in cols.items()]).collect()
    return value_type, table, {r["id"]: r for r in rows}


def _edge_batches(value_type, table):
    """The edge batch as list and large_list, whole and sliced."""
    for list_type in (pa.list_(value_type), pa.large_list(value_type)):
        batch = pa.RecordBatch.from_arrays(
            [table.column("id").combine_chunks(),
             table.column("vec").combine_chunks().cast(list_type)],
            names=["id", "vec"])
        yield from (batch, batch.slice(2, 7), batch.slice(7))


@pytest.mark.parametrize("by", ["l2", "ip"])
@pytest.mark.parametrize("n", [1, 3, 6, 8])
def test_nearest_cells_batch_matches_column_form(edge_case, by, n):
    value_type, table, want = edge_case
    cells, cents = K.cell_model(_EDGE_CELLS)
    assert cells.tolist() == [1, 2, 3, 4, 5, 7, 9]
    for batch in _edge_batches(value_type, table):
        got = K.nearest_cells(batch, "vec", cells, cents, n, by)
        assert got.type == pa.list_(pa.int32())
        ids = batch.column(0).to_pylist()
        assert got.to_pylist() == [list(want[i][f"{by}{n}"]) for i in ids]


def test_project_batch_matches_column_form(edge_case):
    value_type, table, want = edge_case
    planes = np.array(_EDGE_PLANES)
    for batch in _edge_batches(value_type, table):
        got = K.project(batch, "vec", planes)
        assert got.type == pa.list_(pa.float64())
        ids = batch.column(0).to_pylist()
        assert _bits(got.to_pylist()) == _bits([want[i]["proj"] for i in ids])


def test_sign_buckets_batch_matches_column_form(edge_case):
    value_type, table, want = edge_case
    planes = np.array(_EDGE_PLANES)
    for batch in _edge_batches(value_type, table):
        got = K.sign_buckets(batch, planes, 2, 2)
        assert got.schema.names == ["id", "tbl", "bucket"]
        ids = batch.column(0).to_pylist()
        assert got.column(0).to_pylist() == [i for i in ids for _ in range(2)]
        assert got.column(1).to_pylist() == [0, 1] * len(ids)
        assert got.column(2).to_pylist() == [
            want[i]["bits"][t * 2:(t + 1) * 2] for i in ids for t in range(2)]


def _model(n_rows, dim, seed):
    rng = random.Random(seed)
    return [(c, [rng.uniform(-1, 1) for _ in range(dim)])
            for c in rng.sample(range(10 * n_rows), n_rows)]


def _vector_frames(spark, dim):
    """(corpus, queries) as array<float> frames, with a null vector, a
    short one and one holding a null on both sides."""
    rng = random.Random(dim)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(120)]
    rows += [(120, None), (121, [0.5] * (dim - 1)),
             (122, [None] + [0.5] * (dim - 1))]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = corpus.filter((F.col("vec_id") % 20 == 0)
                            | (F.col("vec_id") >= 120)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    return corpus, queries


def _same_rows(got, want):
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


@pytest.mark.parametrize("n_cells,dim", [(16, 64), (512, 16)])
@pytest.mark.parametrize("by", ["l2", "ip"])
def test_vector_operators_equal_column_form(spark, n_cells, dim, by):
    model = _model(n_cells, dim, n_cells)
    corpus, queries = _vector_frames(spark, dim)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")   # every partition spans several batches
    try:
        assigned = similarity.assign_cells(corpus, model, by=by)
        want_assigned = corpus.withColumn("cell", F.element_at(
            _oracle_nearest(F.col("embedding"), model, 1, by), 1))
        _same_rows(assigned, want_assigned)

        got = similarity.ivf_topk(queries, assigned, model, k=5, nprobe=3,
                                  by=by)
        probes = (queries.withColumn("cell", F.explode(
            _oracle_nearest(F.col("q_vec"), model, 3, by)))
            .withColumn("__qn", V.norm(F.col("q_vec"))))
        scored = (want_assigned.withColumn("__cn", V.norm(F.col("embedding")))
                  .join(probes, "cell")
                  .withColumn("cosine", V.cosine_from_norms(
                      F.col("embedding"), F.col("q_vec"),
                      F.col("__cn"), F.col("__qn"))))
        _same_rows(got, similarity._topk_output(scored, "q_id", "vec_id", 5))

        planes = [v for _, v in model]
        _same_rows(similarity.jl_project(corpus, "embedding", planes),
                   corpus.withColumn("proj", _oracle_project(
                       F.col("embedding"), planes)))
    finally:
        spark.conf.set(key, old)
