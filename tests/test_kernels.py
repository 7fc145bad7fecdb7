"""Arrow batch kernels (functions/kernels.py) against the Column forms
they replace: outputs must be bit-identical, not just close. Also the
worker daemon (pyworker.py) the kernels run under."""

import hashlib
import importlib
import os
import random
import struct
import sys
import zipfile
import zipimport

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from cati_database_feeder_spark import pyworker
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
# Vector kernels: nearest cells, JL projection, LSH sign buckets and
# probes, nearest entry within a group, PQ codes and lookup tables
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


def _oracle_probes(vec, planes, n_flip):
    """The Column form of the multi-probe list: the sign bucket, then
    one bucket per flipped bit, bits taken in (|dot|, bit index) struct
    ``array_sort`` order."""
    n_bits = len(planes)
    margins = F.array_sort(F.transform(
        V.lit_nested(planes), lambda p, i: F.struct(
            F.abs(V.dot(vec, p)).alias("a"), (i + 1).alias("i"))))
    base = _oracle_sign_bits(vec, planes)
    return F.concat(F.array(base), F.transform(
        F.slice(margins, 1, n_flip), lambda s: F.concat(
            F.substring(base, F.lit(1), s["i"] - 1),
            F.when(F.substring(base, s["i"], F.lit(1)) == "1",
                   F.lit("0")).otherwise(F.lit("1")),
            F.substring(base, s["i"] + 1, F.lit(n_bits)))))


def _oracle_in_group(vec, group, keys, models):
    """The Column form of the nearest entry within the row's group (the
    hot-cell sub-split and PQ training assignment): per-group id and
    vector literals with an empty trailing entry for rows of no group,
    indexed by one ``element_at``; (-dot, id) structs, struct
    ``array_sort``, first id, else 0."""
    ids_2d = V.lit_nested([[int(i) for i in ids] for ids, _ in models] + [[]])
    vecs_3d = V.lit_nested([[[float(x) for x in v] for v in vs]
                            for _, vs in models] + [[]])
    idx = F.lit(len(keys) + 1)
    for i, key in enumerate(keys):
        idx = F.when(group == key, F.lit(i + 1)).otherwise(idx)
    ranked = F.zip_with(
        F.element_at(vecs_3d, idx), F.element_at(ids_2d, idx),
        lambda v, s: F.struct((-V.dot(vec, v)).alias("d"), s.alias("sub")))
    return F.coalesce(F.get(F.array_sort(ranked), F.lit(0))["sub"], F.lit(0))


def _oracle_pq_codes(vec, codebooks):
    """The Column form of PQ encoding: per subspace, the slice's (-ip,
    j) structs over the codebook literal, struct ``array_sort``, first
    j."""
    cb = V.lit_nested(codebooks)
    dsub = len(codebooks[0][0])

    def code(sub_vec, cb_sub):
        pairs = F.transform(cb_sub, lambda c, j: F.struct(
            (-V.dot(sub_vec, c)).alias("d"), j.cast("int").alias("j")))
        return F.element_at(F.array_sort(pairs), 1)["j"]
    return F.transform(
        F.sequence(F.lit(0), F.lit(len(codebooks) - 1)),
        lambda s: code(F.slice(vec, s * dsub + 1, dsub),
                       F.element_at(cb, s + 1)))


def _oracle_pq_luts(vec, codebooks):
    """The Column form of the ADC lookup tables: per subspace, the
    slice's fold with every codebook entry."""
    cb = V.lit_nested(codebooks)
    dsub = len(codebooks[0][0])
    return F.transform(
        F.sequence(F.lit(0), F.lit(len(codebooks) - 1)),
        lambda s: F.transform(
            F.element_at(cb, s + 1),
            lambda c: V.dot(F.slice(vec, s * dsub + 1, dsub), c)))


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
# each edge row's group: both parities, a null group and group 2, which
# no model below has
_EDGE_GROUPS = [0, 1, 0, 1, None, 1, 0, 1, 0, 1, 0, 1, 0, 2]
# (keys, models): uniform-length entries with a duplicate (tie) and a
# NaN entry, then entries of three lengths in one group, where a row's
# null dot products rank first
_EDGE_GROUP_MODELS = {
    "uniform": ([0, 1, 5], [
        ([1, 2, 3, 4], [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
                        [1.0, 0.0, 0.0, 0.0], [_NAN, 0.0, 0.0, 0.0]]),
        ([2, 5, 7], [[0.5, 0.5, 0.0, 0.0], [0.0, 0.0, 0.0, 0.0],
                     [-1.0, 0.5, 0.0, 2.0]]),
        ([9], [[1.0, 1.0, 1.0, 1.0]])]),
    "mixed": ([1, 0], [
        ([1, 2, 3], [[1.0, 0.0, 0.0], [0.3, -1.7, 2.2, 0.1],
                     [1.0, 0.0, 0.0, 0.0, 0.0]]),
        ([0, 4], [[0.0, 1.0, 0.0, 0.0], [1.0, 0.0, 0.0]])]),
}
# two subspaces of width 2 with 4 and 3 entries: a duplicate entry (tie)
# and a zero entry (every dot 0.0)
_EDGE_BOOKS = [[[1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [0.5, -0.5]],
               [[0.0, 0.0], [-1.0, 2.0], [0.3, -0.3]]]


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
                      "vec": pa.array(_EDGE_VECS, pa.list_(value_type)),
                      "grp": pa.array(_EDGE_GROUPS, pa.int32())})
    df = spark.createDataFrame(table)
    vec = F.col("vec")
    cols = {f"{by}{n}": _oracle_nearest(vec, _EDGE_CELLS, n, by)
            for by in ("l2", "ip") for n in (1, 3, 6, 8)}
    cols["proj"] = _oracle_project(vec, _EDGE_PLANES)
    cols["bits"] = _oracle_sign_bits(vec, _EDGE_PLANES)
    for n_flip in (0, 2, 4):
        cols[f"probes{n_flip}"] = _oracle_probes(vec, _EDGE_PLANES, n_flip)
    for name, (keys, models) in _EDGE_GROUP_MODELS.items():
        cols[name] = _oracle_in_group(vec, F.col("grp"), keys, models)
    cols["codes"] = _oracle_pq_codes(vec, _EDGE_BOOKS)
    cols["luts"] = _oracle_pq_luts(vec, _EDGE_BOOKS)
    rows = df.select("id", *[c.alias(k) for k, c in cols.items()]).collect()
    return value_type, table, {r["id"]: r for r in rows}


def _edge_batches(value_type, table):
    """The edge batch as list and large_list, whole and sliced."""
    for list_type in (pa.list_(value_type), pa.large_list(value_type)):
        batch = pa.RecordBatch.from_arrays(
            [table.column("id").combine_chunks(),
             table.column("vec").combine_chunks().cast(list_type),
             table.column("grp").combine_chunks()],
            names=["id", "vec", "grp"])
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


def test_sign_bucket_and_probes_batch_match_column_form(edge_case):
    value_type, table, want = edge_case
    planes = np.array(_EDGE_PLANES)
    for batch in _edge_batches(value_type, table):
        ids = batch.column(0).to_pylist()
        got = K.sign_bucket(batch, "vec", planes)
        assert got.type == pa.string()
        assert got.to_pylist() == [want[i]["bits"] for i in ids]
        for n_flip in (0, 2, 4):
            got = K.probe_buckets(batch, "vec", planes, n_flip)
            assert got.to_pylist() == [list(want[i][f"probes{n_flip}"])
                                       for i in ids]


def test_first_orders_like_struct_array_sort(spark):
    """The (key, index) order of a struct ``array_sort``: null keys
    first, -0.0 equal to 0.0, NaN last, ties to the smaller index."""
    inf = float("inf")
    keys = [[None, 1.0, -0.0, 0.0], [0.0, -0.0, 1.0, _NAN],
            [-0.0, 0.0, _NAN, -1.0], [_NAN, 1.0, _NAN, 1.0],
            [inf, -inf, _NAN, -inf], [2.0, 2.0, None, None],
            [_NAN] * 4, [None] * 4]
    df = spark.createDataFrame([(i, k) for i, k in enumerate(keys)],
                               "id int, k array<double>")
    want = [r["first"] for r in df.orderBy("id").select(F.element_at(
        F.array_sort(F.transform("k", lambda d, j: F.struct(
            d.alias("d"), j.alias("j")))), 1)["j"].alias("first")).collect()]
    null = np.array([[x is None for x in k] for k in keys])
    key = np.array([[_NAN if x is None else x for x in k] for k in keys])
    assert K._first(key, null).tolist() == want


def test_nearest_in_group_batch_matches_column_form(edge_case):
    value_type, table, want = edge_case
    for name, (keys, models) in _EDGE_GROUP_MODELS.items():
        model = [(np.array(ids, dtype=np.int32),
                  [np.array(v, dtype=np.float64) for v in vs])
                 for ids, vs in models]
        for batch in _edge_batches(value_type, table):
            got = K.nearest_in_group(batch, "vec", "grp", pa.array(keys),
                                     model)
            assert got.type == pa.int32()
            ids = batch.column(0).to_pylist()
            assert got.to_pylist() == [want[i][name] for i in ids], name


def test_pq_codes_and_luts_batch_match_column_form(edge_case):
    """Each subspace is valid on its own: the short vector keeps its
    first code, the long one's fifth element is never read, and the
    null element at index 1 nulls only subspace 0."""
    value_type, table, want = edge_case
    books = [[np.array(e) for e in sub] for sub in _EDGE_BOOKS]
    for batch in _edge_batches(value_type, table):
        ids = batch.column(0).to_pylist()
        codes = K.pq_codes(batch, "vec", books, 2)
        assert codes.type == pa.list_(pa.int32())
        assert codes.to_pylist() == [list(want[i]["codes"]) for i in ids]
        luts = K.pq_luts(batch, "vec", books, 2)
        assert luts.type == pa.list_(pa.list_(pa.float64()))
        assert [_bits(t) for t in luts.to_pylist()] == [
            _bits(want[i]["luts"]) for i in ids]
    rows = {r: want[r] for r in (8, 9, 10)}
    assert rows[8]["codes"][0] == 0 and rows[8]["luts"][0] == [None] * 4
    assert rows[8]["luts"][1] == [0.0, 0.0, 0.0]
    assert rows[9]["luts"][0][0] == 1.0 and rows[9]["luts"][1] == [None] * 3
    assert rows[10]["luts"] == want[0]["luts"]


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


def test_model_operators_equal_column_form(spark):
    """with_lsh_bucket, lsh_topk_multiprobe (its probe list),
    subsplit_hot_cells, pq_encode and the PQ lookup tables on
    multi-batch partitions against the Column forms they replaced."""
    dim = 8
    corpus, queries = _vector_frames(spark, dim)
    planes = [v for _, v in _model(6, dim, 3)]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")   # every partition spans several batches
    try:
        _same_rows(similarity.with_lsh_bucket(corpus, "embedding", 6,
                                              hyperplanes=planes),
                   corpus.withColumn("bucket", _oracle_sign_bits(
                       F.col("embedding"), planes)))

        qb = (queries.withColumn("bucket", F.explode(
            _oracle_probes(F.col("q_vec"), planes, 2)))
            .withColumn("__qn", V.norm(F.col("q_vec"))))
        cb = (corpus.withColumn("bucket", _oracle_sign_bits(
            F.col("embedding"), planes))
            .withColumn("__cn", V.norm(F.col("embedding"))))
        scored = cb.join(qb, "bucket").withColumn(
            "cosine", V.cosine_from_norms(F.col("embedding"), F.col("q_vec"),
                                          F.col("__cn"), F.col("__qn")))
        _same_rows(similarity.lsh_topk_multiprobe(queries, corpus, planes,
                                                  k=5, n_flip=2),
                   similarity._topk_output(scored, "q_id", "vec_id", 5))

        # cells 0-2 (41-42 members, the edge vectors among them) are
        # hot at cap 30, cell 3 is not; an oversample this large gates
        # every member, so each hot cell's seeds are its 2 smallest ids
        assigned = corpus.withColumn("cell", F.when(
            F.col("vec_id") % 10 == 9, 3).otherwise(F.col("vec_id") % 3))
        vecs = {r["vec_id"]: r["embedding"] for r in corpus.collect()}
        keys = [0, 1, 2]
        models = [([1, 2], [vecs[i] for i in sorted(
            i for i in vecs if i % 10 != 9 and i % 3 == c)[:2]])
            for c in keys]
        _same_rows(similarity.subsplit_hot_cells(assigned, cap=30,
                                                 oversample=10 ** 6),
                   assigned.withColumn("subcell", _oracle_in_group(
                       F.col("embedding"), F.col("cell"), keys, models)))

        books = similarity.pq_codebooks_from_seeds(
            [vecs[i] for i in range(5)], 4)
        _same_rows(similarity.pq_encode(corpus, books),
                   corpus.withColumn("codes", _oracle_pq_codes(
                       F.col("embedding"), books)))
        _same_rows(similarity._with_pq_luts(queries, books, "q_vec", "luts"),
                   queries.withColumn("luts", _oracle_pq_luts(
                       F.col("q_vec"), books)))
    finally:
        spark.conf.set(key, old)


# --- worker daemon (pyworker): the stamped zip-directory re-read ---

def _zip_with(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_stamped_invalidate_caches_rereads_only_a_changed_archive(
        tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _zip_with(archive, ["m1"])
    importer = zipimport.zipimporter(archive)
    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or stock_read(path))
    invalidate = pyworker.stamped_invalidate_caches(
        zipimport.zipimporter.invalidate_caches)
    invalidate(importer)        # no stamp yet: the stock re-read
    assert reads == [archive]
    for _ in range(3):          # unchanged archive: no re-read
        invalidate(importer)
    assert reads == [archive]
    assert importer.find_spec("m2") is None

    _zip_with(archive, ["m1", "m2"])
    invalidate(importer)
    invalidate(importer)
    assert reads == [archive, archive]
    assert importer.find_spec("m2") is not None

    os.remove(archive)
    invalidate(importer)        # stat fails: the stock path, which clears
    assert reads == [archive] * 3
    assert importer.find_spec("m1") is None


def test_importing_pyworker_patches_nothing():
    importlib.reload(pyworker)
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_workers_fork_from_the_package_daemon(spark):
    def report(batches):
        name = zipimport.zipimporter.invalidate_caches.__module__
        for b in batches:
            yield pa.RecordBatch.from_pydict({"m": [name] * b.num_rows})

    (row,) = spark.range(1).mapInArrow(report, "m string").collect()
    expected = ("cati_database_feeder_spark.pyworker"
                if sys.version_info < (3, 13) else "zipimport")
    assert row.m == expected


def test_sql_and_rdd_tasks_share_one_daemon(spark):
    """Spark keeps one worker daemon per distinct set of worker
    environment variables: a SQL Python runner (mapInArrow) and the
    plain Python-RDD runner fork from the same daemon only while the
    session adds no runner-specific variable (session.get_session)."""
    def ppid(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict({"p": [os.getppid()] * b.num_rows})

    (row,) = spark.range(1).mapInArrow(ppid, "p long").collect()
    rdd = spark.sparkContext.parallelize([0], 1).map(lambda _: os.getppid())
    assert rdd.collect() == [row.p]


def test_worker_exception_message_surfaces(spark):
    def boom(batches):
        for b in batches:
            raise ValueError(f"kernel refused batch of {b.num_rows} rows")
        yield from ()

    with pytest.raises(Exception, match="kernel refused batch of 1 rows"):
        spark.range(1).mapInArrow(boom, "id long").collect()
