"""corpus_dedup: the LLM-data operators on generated data.

Each operation is a dedup pass over a document corpus
(dedup_pass.DedupPass: operators.dedup, operators.graph, sinks.lake).
A traced run also builds an IVF index over generated embeddings and
serves one checked batch of top-k queries from it before the passes
(vector_topk.TopkServe: operators.similarity, sinks.lake), so that
layer's per-layer metrics are measured.

Vector search rides on this workload, and only in traced runs, because a
run's fixed cost (JVM start, first-call warm-up) is most of its wall
time: as a workload of its own it would not fit the benchmark's time
budget on a 4-CPU host.
"""

from __future__ import annotations

import dedup_pass
import vector_topk

PER_LAYER = {
    **dedup_pass.PER_LAYER,
    "sinks.lake.write_s": "sinks.lake.keep_write_s",
    "sinks.lake.files_written": "sinks.lake.files_written",
    "sinks.lake.bytes_written": "sinks.lake.bytes_written",
}


class Workload:
    items_name = "documents deduplicated"
    warmup_ops = 2  # untimed passes in set-up, the first of them cold
    measured_ops = 3  # timed passes per run, at least

    def __init__(self, spark, tracer, seed: int, work: str):
        self.dedup = dedup_pass.DedupPass(spark, tracer, seed, work)
        self.topk = vector_topk.TopkServe(spark, tracer, seed, work)

    def prepare(self, rep: int) -> None:
        self.dedup.prepare(rep)

    def traced_setup(self) -> list[str]:
        """Build the vector index and serve one query batch from it."""
        self.topk.prepare(0)
        with self.topk.tr.span("build"):
            self.topk.build()
            self.topk.serve()
        return self.topk.check()

    def can_run(self, i: int) -> bool:
        return True

    def land(self, i: int) -> str:
        return self.dedup.land(i)

    def op(self, i: int, landed: str) -> None:
        self.dedup.op(i, landed)

    def check(self, i: int) -> tuple[list[str], int]:
        return self.dedup.check(i)

    def recall(self) -> float:
        return self.dedup.recall()

    def per_layer(self, medians) -> dict[str, float]:
        out = {name: medians("op", key) for name, key in PER_LAYER.items()}
        out.update({name: medians("build", key)
                    for name, key in vector_topk.PER_LAYER.items()})
        return out

    def close(self) -> None:
        pass
