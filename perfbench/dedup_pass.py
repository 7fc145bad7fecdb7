"""Batch near-duplicate removal over a generated corpus.

One pass is: exact token-set groups, MinHash-LSH
candidates and exact-Jaccard verification (operators.dedup), connected
components over the verified pairs (operators.graph), one survivor per
component (operators.dedup) and a partitioned write of the keep list
(sinks.lake). The corpus is generated rather than taken from a fixture
because duplicate share is the property these operators depend on.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cati_database_feeder_spark.operators import dedup, graph
from cati_database_feeder_spark.sinks import lake

import checks
import gen

N_DOCS = 2000
THRESHOLD = 0.7

# per-layer metric -> span key, both read from the operation spans
PER_LAYER = {name: name for name in (
    "operators.dedup.busy_s", "operators.dedup.groups", "operators.dedup.candidates",
    "operators.dedup.verified_pairs", "operators.dedup.verify_yield",
    "operators.dedup.spark_jobs", "operators.dedup.shuffle_write_bytes",
    "operators.graph.busy_s", "operators.graph.components", "operators.graph.spark_jobs")}


def dir_usage(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, Spark's marker files excluded."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class DedupPass:
    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tr, self.seed, self.work = spark, tracer, seed, work
        self.labels = None
        self.found = self.planted = 0

    def prepare(self, rep: int) -> None:
        self.records = gen.corpus_records(self.seed, N_DOCS)
        self.path = os.path.join(self.work, f"corpus{rep}.parquet")
        gen.write_corpus(self.records, self.path)
        self.sets = checks.token_sets(self.records)
        self.gid = checks.set_groups(self.sets)
        self.scores = {r["doc_id"]: r["score"] for r in self.records}

    def land(self, i: int) -> str:
        return os.path.join(self.work, "keep", f"pass{i:03d}")

    def op(self, i: int, out: str) -> None:
        tr = self.tr
        docs = self.spark.read.parquet(self.path)
        with tr.span("operators.dedup") as sp:
            memb = tr.materialize(dedup.tokset_groups(docs))
            cands = tr.materialize(dedup.minhash_lsh_candidates(
                docs, groups=memb, expand=False))
            pairs = tr.materialize(dedup.near_dup_rep_pairs(
                docs, threshold=THRESHOLD, groups=memb, rep_candidates=cands))
            if self.labels is None:
                # first (warm-up) pass: keep the verified pairs for the checks
                pairs = pairs.localCheckpoint(eager=True)
                self.first_pairs = [(r["id_a"], r["id_b"], r["jaccard"])
                                    for r in pairs.collect()]
        if sp:
            n_cands, n_pairs = cands.count(), pairs.count()
            sp.counts.update(groups=memb.select("gid").distinct().count(),
                             candidates=n_cands, verified_pairs=n_pairs,
                             verify_yield=n_pairs / n_cands if n_cands else 0.0)

        mem = memb.filter(F.size("toks") > 0).select("gid", "id")
        with tr.span("operators.graph") as sp:
            labels = tr.materialize(graph.components_from_rep_pairs(pairs, mem))
        if sp:
            sp.counts["components"] = labels.select("component").distinct().count()

        with tr.span("operators.dedup/keep"):
            keep = tr.materialize(dedup.keep_best_per_cluster(labels, docs))

        with tr.span("sinks.lake/keep_write") as sp:
            lake.write_partitioned(keep, out, ["keep"], mode="static")
        if sp:
            sp.counts["files_written"], sp.counts["bytes_written"] = dir_usage(out)

    def check(self, i: int) -> tuple[list[str], int]:
        problems = []
        if self.labels is None:
            problems += self._check_pairs()
        out = self.land(i)
        # the partition value comes back as the directory name's text
        rows = [(r["doc_id"], r["component"], r["kept_id"], str(r["keep"]).lower() == "true")
                for r in self.spark.read.parquet(out).collect()]
        problems += checks.check_keep_list(rows, self.labels, self.scores)
        return problems, len(self.records)

    def _check_pairs(self) -> list[str]:
        """Once per run, on the first pass: verify every emitted pair
        against a recomputed Jaccard and derive the expected labelling
        and the planted-pair recall from them."""
        pairs = self.first_pairs
        problems = checks.check_rep_pairs(self.sets, self.gid, pairs, THRESHOLD)
        self.labels = checks.expected_labels(self.gid, pairs)
        self.found, self.planted = checks.planted_recall(
            self.records, self.sets, self.gid, pairs, THRESHOLD)
        return problems

    def recall(self) -> float:
        """Share of planted pairs at or above the threshold that were found."""
        return self.found / self.planted if self.planted else 0.0
