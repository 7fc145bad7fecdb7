"""One-off sf1-scale spot lane (round-13 verdict items 6+7) — NOT part
of the bench contract: the driver's bench.py JSON line, env vars and
methodology are untouched. This script answers the question the sf0.1
board no longer can ("is anything genuinely serial?") by synthesizing
a 10x documents corpus and timing the expensive dedup/text/graph
operator paths at two core counts.

Fixture: 10 disjoint-vocabulary copies of sf0.1 documents — every
token of copy i is prefixed "c<i>:" and doc_ids are shifted by
i*10_000_000, so near-dup structure replicates per shard (pair volume
scales ~10x, no cross-copy pairs) — the independent-shards shape of a
growing corpus. Deterministic; written once under /tmp and reused.

Usage:
  SPARK_GRAFT_CPUS=32 python tools/spot_sf1.py
  SPARK_GRAFT_CPUS=8  python tools/spot_sf1.py
Prints one timing line per operator path; paste into SCALING.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cati_database_feeder_spark.session import get_session
from cati_database_feeder_spark.operators import dedup, graph
from cati_database_feeder_spark.functions import text

BASE = "/root/testdata/sf0.1/documents.parquet"
SPOT = "/tmp/sfspot_documents.parquet"
COPIES = 10


def build_fixture(spark) -> None:
    if os.path.exists(os.path.join(SPOT, "_SUCCESS")):
        return
    d = spark.read.parquet(BASE)
    copies = []
    for i in range(COPIES):
        pref = F.lit(f"c{i}:")
        retok = F.concat_ws(
            " ", F.transform(text.tokens(F.col("text")),
                             lambda t: F.concat(pref, t)))
        copies.append(d.select(
            (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
            "source", retok.alias("text")))
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.repartition(32).write.mode("overwrite").parquet(SPOT)


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_session(f"spot-sf1-{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    build_fixture(spark)
    docs = spark.read.parquet(SPOT)
    print(f"cpus={cpus} docs={docs.count()}", flush=True)

    def timeit(name, df, n=2):
        vals = []
        for _ in range(n):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            vals.append(round(time.time() - t0, 2))
        print(f"SPOT {name}: min {min(vals)} runs {vals}", flush=True)

    t0 = time.time()
    memb = dedup.tokset_groups(docs).persist()
    n = memb.count()
    print(f"SPOT stage:tokset_groups: {time.time()-t0:.2f}  ({n} rows)",
          flush=True)
    t0 = time.time()
    bb = dedup.rep_band_buckets(memb, 16, 4).persist()
    n = bb.count()
    print(f"SPOT stage:band_buckets: {time.time()-t0:.2f}  ({n} rows)",
          flush=True)
    t0 = time.time()
    cands = dedup._bucket_pairs(bb, ["band", "bucket"], "id").persist()
    n = cands.count()
    print(f"SPOT stage:minhash_rep_cands: {time.time()-t0:.2f}  ({n} rows)",
          flush=True)
    t0 = time.time()
    rep_pairs = dedup.near_dup_rep_pairs(
        docs, threshold=0.7, groups=memb, rep_candidates=cands).persist()
    n = rep_pairs.count()
    print(f"SPOT rep_verify: {time.time()-t0:.2f}  ({n} rows)", flush=True)
    mem = memb.filter(F.size("toks") > 0).select("gid", "id")
    timeit("expansion", dedup.expand_group_pairs(
        rep_pairs, mem, {"jaccard": F.lit(1.0)}))

    # closure: contracted graph (the ingest-bootstrap path). The
    # driver cap is exercised as configured AND forced-distributed
    # (cap 0: large-star contraction, then propagation), so the
    # at-scale path gets a measured number.
    t0 = time.time()
    lbl = graph.components_from_rep_pairs(rep_pairs, mem)
    n = lbl.count()
    print(f"SPOT closure hybrid: {time.time()-t0:.2f}  ({n} rows)",
          flush=True)
    t0 = time.time()
    cap, graph._DRIVER_EDGE_CAP = graph._DRIVER_EDGE_CAP, 0
    try:
        lbl2 = graph.components_from_rep_pairs(rep_pairs, mem)
        n2 = lbl2.count()
    finally:
        graph._DRIVER_EDGE_CAP = cap
    print(f"SPOT closure forced-distributed: {time.time()-t0:.2f}  "
          f"({n2} rows)", flush=True)

    timeit("jaccard_token", dedup.jaccard_similarity_join(
        docs, threshold=0.6, block_col="source"), n=1)
    timeit("jaccard_shingle", dedup.jaccard_similarity_join(
        docs, threshold=0.5, block_col="source",
        tokens_of=lambda tk: text.shingles_from_tokens(tk, 3)), n=1)
    spark.stop()


if __name__ == "__main__":
    main()
