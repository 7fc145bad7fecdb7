"""Measure the incremental-ingest economics: per-batch wall time as the
CORPUS grows 10x while the BATCH stays fixed.

The round-7 membership store exists to make `ingest_batch`'s per-batch
cost batch-proportional — no corpus tokenize pass. This measures it:

- state A: corpus = sf0.01 documents (minus the batch slice)
- state B: corpus = sf0.1 documents (minus the batch slice) — 10x A
- batch:   the SAME fixed slice of sf0.01 documents in both runs

and times (1) the batch's pairs through the store path
(`_incremental_frames`, frames only) and (2) the full `ingest_batch`
call (pairs + closure + commits).

A flat (1) across 10x corpus growth is the measured form of the
claim. Store scans (members/reps/buckets ids and rep toks) DO grow with
the corpus — linearly, as compact columnar reads — so "flat" here
means "no corpus-proportional tokenize/window term", not literally
constant.

The ``--embeddings`` lane (round-10 verdict item 5) runs the same
protocol over the EMBEDDING ingest store (ingest_embeddings_batch):
fixed vector batch, corpus at sf0.01 vs sf0.1, timing bootstrap and
the full per-batch call. The claim under test is identical: the
incremental path probes the materialized cell-assigned store (one
cell equi-join on the delta) and re-labels only touched components,
so per-batch cost must not grow a corpus-proportional term — the
number a 100 TB operator prices batches with, which the one-time
bench bootstrap (the boot:emb:* entries) says nothing about.

Usage: python tools/ingest_bench.py [out_json] [--embeddings]
"""

from __future__ import annotations

import json
import shutil
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cati_database_feeder_spark.catalog import load_table
from cati_database_feeder_spark.session import get_session
from cati_database_feeder_spark.streaming.ingest import ingest_batch


def emb_lane(spark) -> dict:
    """Per-batch embedding-ingest cost vs corpus growth (fixed batch,
    10x corpus): bootstrap, the full ingest_embeddings_batch call, and
    a second (quiet replay) call for the at-least-once floor."""
    from cati_database_feeder_spark.streaming.ingest_embeddings import (
        ingest_embeddings_batch)
    batch = (load_table(spark, "/root/testdata/sf0.01", "embeddings")
             .filter(F.col("vec_id") < 50)
             .select("vec_id", "embedding"))
    n_batch = batch.count()
    out: dict[str, dict[str, float]] = {}
    for sf in ("0.01", "0.1"):
        vecs = (load_table(spark, f"/root/testdata/sf{sf}", "embeddings")
                .select("vec_id", "embedding"))
        corpus = vecs.join(batch.select("vec_id"), "vec_id", "left_anti")
        cents = [(int(r["vec_id"]), list(r["embedding"]))
                 for r in vecs.filter(F.col("vec_id") >= 50)
                 .orderBy("vec_id").limit(16).collect()]
        work = tempfile.mkdtemp(prefix="ingest_bench_emb_")
        state = work + "/state"
        try:
            t0 = time.time()
            ingest_embeddings_batch(spark, corpus, state,
                                    centroid_rows=cents,
                                    threshold=0.3, by="ip", batch_id=0)
            boot = time.time() - t0
            t0 = time.time()
            ingest_embeddings_batch(spark, batch, state,
                                    threshold=0.3, by="ip", batch_id=1)
            full_batch = time.time() - t0
            t0 = time.time()
            ingest_embeddings_batch(spark, batch, state,
                                    threshold=0.3, by="ip", batch_id=1)
            replay = time.time() - t0
            out[f"sf{sf}"] = {
                "corpus_rows": corpus.count(), "batch_rows": n_batch,
                "bootstrap_s": round(boot, 2),
                "full_ingest_batch_s": round(full_batch, 2),
                "replay_batch_s": round(replay, 2),
            }
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return out


def main() -> None:
    spark = get_session("ingest-bench")
    spark.sparkContext.setLogLevel("ERROR")
    if "--embeddings" in sys.argv:
        out = emb_lane(spark)
        print(json.dumps(out, indent=1))
        args = [a for a in sys.argv[1:] if not a.startswith("--")]
        if args:
            with open(args[0], "w") as f:
                json.dump(out, f, indent=1)
        return
    batch = (load_table(spark, "/root/testdata/sf0.01", "documents")
             .filter(F.col("doc_id") < 50)
             .select("doc_id", "text"))
    n_batch = batch.count()
    out: dict[str, dict[str, float]] = {}
    for sf in ("0.01", "0.1"):
        docs = (load_table(spark, f"/root/testdata/sf{sf}", "documents")
                .select("doc_id", "text"))
        # sf0.1 doc_ids are a superset range; exclude the batch ids from
        # BOTH corpora so the delta is identical in the two runs
        corpus = docs.join(batch.select("doc_id"), "doc_id", "left_anti")
        work = tempfile.mkdtemp(prefix="ingest_bench_")
        state = work + "/state"
        try:
            t0 = time.time()
            ingest_batch(spark, corpus, state)           # bootstrap
            boot = time.time() - t0

            # (1) PAIRS via the store path — frames only: no closure
            # update, no state writes
            from cati_database_feeder_spark.streaming.ingest import (
                _incremental_frames)
            t0 = time.time()
            fr = _incremental_frames(spark, state, batch, 0.7, 16, 4)
            fr["new_pairs"].write.format("noop").mode("overwrite").save()
            pairs_store = time.time() - t0

            # (2) the COMPLETE ingest_batch (pairs + closure + commits),
            # for context — dominated by the iterative closure constants
            t0 = time.time()
            ingest_batch(spark, batch, state)
            full_batch = time.time() - t0
            out[f"sf{sf}"] = {
                "corpus_rows": corpus.count(), "batch_rows": n_batch,
                "bootstrap_s": round(boot, 2),
                "pairs_store_s": round(pairs_store, 2),
                "full_ingest_batch_s": round(full_batch, 2),
            }
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out, indent=1))
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
