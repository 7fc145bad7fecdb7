"""IVF top-k serving over a stored, cell-partitioned index.

The build tags every vector with its nearest of 16 fixed centroids
(operators.similarity.assign_cells) and writes the index partitioned by
cell (sinks.lake), as a serving deployment does at write time. Centroid
training is left out: the centroids are a seeded sample of the vectors.
A serving step is a batch of queries through operators.similarity.ivf_topk
over the stored index, collected to the client and checked against an
exact numpy brute force.
"""

from __future__ import annotations

import os

import numpy as np

from cati_database_feeder_spark.operators import similarity
from cati_database_feeder_spark.sinks import lake

import checks
import gen
from dedup_pass import dir_usage

N_VECS = 8000
BATCH = 16
K = 10
NPROBE = 4

# per-layer metric -> span key, read from the build span
PER_LAYER = {
    "operators.similarity.assign_s": "operators.similarity.assign_s",
    "operators.similarity.topk_s": "operators.similarity.topk_s",
    "operators.similarity.rows_scored_per_query":
        "operators.similarity.rows_scored_per_query",
    "operators.similarity.spark_jobs_per_query_batch": "operators.similarity.spark_jobs",
    "operators.similarity.tasks": "operators.similarity.tasks",
    "sinks.lake.index_write_s": "sinks.lake.index_write_s",
    "sinks.lake.index_files_written": "sinks.lake.files_written",
    "sinks.lake.index_bytes_written": "sinks.lake.bytes_written",
}


class TopkServe:
    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tr, self.seed, self.work = spark, tracer, seed, work
        self.hits = self.scored = 0
        self.index = None

    def prepare(self, rep: int) -> None:
        vecs, self.cells, queries = gen.vector_data(self.seed, N_VECS, BATCH)
        self.corpus_path = os.path.join(self.work, f"vectors{rep}.parquet")
        self.query_path = os.path.join(self.work, f"queries{rep}.parquet")
        gen.write_vectors(vecs, self.corpus_path, "vec_id", "embedding")
        gen.write_vectors(queries, self.query_path, "q_id", "q_vec")
        self.corpus_unit = checks.unit_rows(vecs)
        self.q_unit = checks.unit_rows(queries)
        self.exact = checks.exact_topk(self.corpus_unit, self.q_unit, K)
        self.queries = queries.astype(np.float64)
        self.centroids = np.array([c for _, c in self.cells])
        self.index = None

    def build(self) -> None:
        """Assign every vector to its cell and write the index by cell."""
        tr = self.tr
        self.index_path = os.path.join(self.work, "index")
        corpus = self.spark.read.parquet(self.corpus_path)
        with tr.span("operators.similarity/assign"):
            assigned = tr.materialize(similarity.assign_cells(corpus, self.cells))
        with tr.span("sinks.lake/index_write") as sp:
            lake.write_partitioned(assigned, self.index_path, ["cell"], mode="static")
        if sp:
            sp.counts["files_written"], sp.counts["bytes_written"] = \
                dir_usage(self.index_path)
        self.index = self.spark.read.parquet(self.index_path)
        self.cell_sizes = {r["cell"]: r["count"] for r in
                           self.index.groupBy("cell").count().collect()}

    def serve(self) -> None:
        """Answer the query batch over the stored index."""
        queries = self.spark.read.parquet(self.query_path)
        with self.tr.span("operators.similarity/topk") as sp:
            self.result = similarity.ivf_topk(
                queries, self.index, self.cells, k=K, nprobe=NPROBE,
                q_vec="q_vec", c_vec="embedding").collect()
        if sp:
            sp.counts["rows_scored_per_query"] = self._rows_scored()

    def _rows_scored(self) -> float:
        """Mean over the batch of the stored rows in each query's probed
        cells (nearest centroids by l2, ties to the smaller cell)."""
        total = 0
        for vec in self.queries:
            d = np.sqrt(((self.centroids - vec) ** 2).sum(axis=1))
            probed = np.lexsort((np.arange(len(d)), d))[:NPROBE]
            total += sum(self.cell_sizes.get(int(c), 0) for c in probed)
        return total / len(self.queries)

    def check(self) -> list[str]:
        """Check the served batch; accumulates recall@10 hits."""
        q_ids = list(range(BATCH))
        rows = [(r["q_id"], r["vec_id"], r["cosine"], r["rank"]) for r in self.result]
        problems, hits = checks.check_topk(
            rows, q_ids, self.corpus_unit,
            {q: self.q_unit[q] for q in q_ids}, {q: self.exact[q] for q in q_ids}, K)
        self.hits += hits
        self.scored += len(q_ids) * K
        return problems
