"""Benchmark of record for the survey-ETL engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. One process, one client, closed
loop: each operation is sent only after the previous one has committed
and been checked. Spark runs ``local[N/2]`` with N the CPUs this process
may use. A run measures each workload's fixed number of operations, and
more while ``--seconds`` have not passed. Times are reported less the
CPU time the hypervisor gave to other tenants (see ``steal_share``); the
detail line keeps the raw wall times. Inputs are generated from
``--seed``; everything the run writes goes under ``.perfbench_work/`` in
the checkout and is removed at exit, except the span dump of a traced run
(``.perfbench_work/traces/``).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is a JSON detail record: host, sample counts, every operation time.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("survey_load", "corpus_dedup")
PREP_REPS = 3      # set-up preparation repeats; setup_s takes their median
# Inputs are small; the engine's 8g default is for real data. The heap
# starts at this size (an initial-heap share the JVM clamps to its maximum)
# and is touched at start, so peak RSS does not depend on how much of it
# the collector happened to use: it moves with memory outside the heap.
DRIVER_MEM = "1g"

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "items_per_s": "1/s",
              "peak_rss_mb": "MB", "recall": "ratio"}

PER_LAYER = {
    "session.start_s": "s",
    "sources.excel.busy_s": "s", "sources.excel.rows_out": "count",
    "sources.excel.error_rows": "count", "sources.excel.spark_jobs": "count",
    "sources.excel.tasks": "count",
    "functions.scalar.busy_s": "s", "functions.scalar.rows_rejected": "count",
    "operators.joins.busy_s": "s", "operators.joins.rows_skipped": "count",
    "sinks.jdbc.read_s": "s", "sinks.jdbc.append_s": "s", "sinks.jdbc.merge_s": "s",
    "sinks.jdbc.rows_appended": "count", "sinks.jdbc.rows_merged": "count",
    "sinks.jdbc.spark_jobs": "count",
    "operators.dedup.busy_s": "s", "operators.dedup.groups": "count",
    "operators.dedup.candidates": "count", "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_yield": "ratio", "operators.dedup.spark_jobs": "count",
    "operators.dedup.shuffle_write_bytes": "bytes",
    "operators.graph.busy_s": "s", "operators.graph.components": "count",
    "operators.graph.spark_jobs": "count",
    "sinks.lake.write_s": "s", "sinks.lake.files_written": "count",
    "sinks.lake.bytes_written": "bytes",
    "sinks.lake.index_write_s": "s", "sinks.lake.index_files_written": "count",
    "sinks.lake.index_bytes_written": "bytes",
    "operators.similarity.assign_s": "s", "operators.similarity.topk_s": "s",
    "operators.similarity.rows_scored_per_query": "count",
    "operators.similarity.spark_jobs_per_query_batch": "count",
    "operators.similarity.tasks": "count",
    "trace.overhead_share": "ratio",
}


def pin_host(root: str, work: str) -> tuple[int, int]:
    """Size Spark to this host and keep every file the run writes inside
    ``work``; returns (host CPUs, Spark cores). Must run before the
    engine's session module is imported: it reads the core count at
    import.

    Spark gets half the CPUs this process may use. The driver, the JVM's
    compiler and collector threads and the Python workers need the rest;
    on a shared 4-CPU host, local[4] measured twice the run-to-run spread
    of local[2] and no faster operations.

    The JVM compiles with C1 only. A run is too short for C2 to settle:
    with it, CPU per dedup pass was still falling after eleven passes,
    at a pace set by how much CPU the compiler threads got. With C1
    only, operation times are flat after the warm-up."""
    cpus = len(os.sched_getaffinity(0))
    cores = max(1, cpus // 2)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "JAVA_TOOL_OPTIONS": ("-XX:TieredStopAtLevel=1 "
                              "-XX:InitialRAMPercentage=100 -XX:+AlwaysPreTouch "
                              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                              f"-Dderby.system.home={work} -XX:-UsePerfData"),
    })
    return cpus, cores


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and all its descendants
    (the driver, its JVM and the JVM's Python workers), reaped children
    included."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                data = f.read()
        except OSError:
            continue
        fields = data[data.rindex(")") + 2:].split()
        procs[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(steal, busy) CPU ticks of the host so far, from /proc/stat: busy
    is the time a vCPU wanted to run (user, system, irq, steal)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], vals[0] + vals[1] + vals[2] + vals[5] + vals[6] + vals[7]


def steal_share(since: tuple[int, int]) -> float:
    """Share of the time the vCPUs wanted to run, since ``since``, that
    the hypervisor gave to other tenants instead. A CPU-bound operation
    that took W seconds of wall time would have taken W * (1 - share)
    had no CPU been stolen."""
    steal, busy = steal_ticks()
    return (steal - since[0]) / max(1, busy - since[1])


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, root: str, work: str, cpus: int, cores: int) -> tuple[dict, dict]:
    from spans import Tracer, median_of

    steal0 = steal_ticks()
    t0 = time.perf_counter()
    from cati_database_feeder_spark.session import get_session
    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    traced = args.trace == 1
    tracer = Tracer(spark, False, f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    mod = importlib.import_module(args.workload)
    wl = mod.Workload(spark, tracer, args.seed, work)
    attempted = failed = items = 0
    # measured operations that passed, by traced: (wall s, steal share, CPU s)
    ops: dict[bool, list[tuple[float, float, float]]] = {False: [], True: []}

    def one_op(i: int, trace_it: bool) -> tuple[tuple[float, float, float] | None, float]:
        """Run, time and check operation ``i``: ((wall s, steal share,
        CPU s) if it passed, seconds from landing its input to the op's
        end)."""
        nonlocal attempted, failed, items
        attempted += 1
        t_land = time.perf_counter()
        landed = wl.land(i)
        tracer.enabled = trace_it
        try:
            c, st = tree_cpu_s(os.getpid()), steal_ticks()
            t = time.perf_counter()
            with tracer.span("op"):
                wl.op(i, landed)
            op = (time.perf_counter() - t, steal_share(st), tree_cpu_s(os.getpid()) - c)
            landed_s = time.perf_counter() - t_land
        except Exception:
            failed += 1
            traceback.print_exc(file=sys.stderr)
            return None, time.perf_counter() - t_land
        finally:
            tracer.enabled = False
        try:
            problems, n = wl.check(i)
        except Exception:
            failed += 1
            traceback.print_exc(file=sys.stderr)
            return None, landed_s
        if problems:
            failed += 1
            print(f"{args.workload} op {i} failed its check: {problems}", file=sys.stderr)
            return None, landed_s
        items += n
        return op, landed_s

    try:
        prep_s = []
        for rep in range(PREP_REPS):
            t = time.perf_counter()
            wl.prepare(rep)
            prep_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        if traced and hasattr(wl, "traced_setup"):
            attempted += 1
            tracer.enabled = True
            try:
                problems = wl.traced_setup()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                problems = ["traced set-up raised"]
            finally:
                tracer.enabled = False
            if problems:
                failed += 1
                print(f"{args.workload} traced set-up failed its check: {problems}",
                      file=sys.stderr)
        build_s = time.perf_counter() - t
        warmup_s = build_s + sum(one_op(i, False)[1] for i in range(wl.warmup_ops))
        setup_wall_s = session_s + statistics.median(prep_s) + warmup_s
        setup_steal = steal_share(steal0)

        items = 0
        steal0 = steal_ticks()
        i, start = wl.warmup_ops, time.perf_counter()
        while wl.can_run(i) and (time.perf_counter() - start < args.seconds
                                 or i < wl.warmup_ops + wl.measured_ops):
            trace_it = traced and (i - wl.warmup_ops) % 2 == 1
            op, _ = one_op(i, trace_it)
            if op is not None:
                ops[trace_it].append(op)
            i += 1
        run_steal = steal_share(steal0)
        peak_rss = jvm_peak_rss_mb(spark)
        # wall time less the share the hypervisor gave to other tenants
        unstolen = {k: [wall * (1 - s) for wall, s, _ in v] for k, v in ops.items()}

        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": {"cpus": cpus, "spark_cores": cores, "pyspark": spark.version,
                     "java": spark._jvm.java.lang.System.getProperty("java.version")},
            "setup": {"session_s": session_s, "prepare_s": prep_s, "warmup_s": warmup_s,
                      "wall_s": setup_wall_s, "host_steal_share": setup_steal},
            "samples": len(ops[False]),
            "op_wall_s": [op[0] for op in ops[False]],
            "op_steal_share": [op[1] for op in ops[False]],
            "op_unstolen_s": unstolen[False],
            "op_cpu_s": [op[2] for op in ops[False]],
            "traced_op_unstolen_s": unstolen[True],
            "host_steal_share": run_steal,
            "items": items, "item": wl.items_name,
        }
        if not traced:
            metrics = {
                "setup_s": setup_wall_s * (1 - setup_steal),
                "op_p50_s": statistics.median(unstolen[False]) if ops[False] else 0.0,
                "items_per_s": items / sum(unstolen[False]) if ops[False] else 0.0,
                "peak_rss_mb": peak_rss,
                "recall": wl.recall(),
            }
            units = END_TO_END
        else:
            by_kind: dict[str, list] = {}

            def medians(kind: str, key: str) -> float:
                if kind not in by_kind:
                    by_kind[kind] = tracer.per_op(kind)
                return median_of([op for op in by_kind[kind] if key in op], key)

            metrics = {name: 0.0 for name in PER_LAYER}
            metrics.update(wl.per_layer(medians))
            metrics["session.start_s"] = session_s
            if ops[False] and ops[True]:
                metrics["trace.overhead_share"] = (
                    statistics.median(unstolen[True]) / statistics.median(unstolen[False]) - 1)
            os.makedirs(os.path.join(root, ".perfbench_work", "traces"), exist_ok=True)
            tracer.dump(os.path.join(root, ".perfbench_work", "traces",
                                     f"{args.workload}-seed{args.seed}.json"))
            units = PER_LAYER
    finally:
        wl.close()
        stop_spark(spark)

    result = {"correct": failed == 0 and attempted > 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": float(v), "unit": units[k]}
                          for k, v in metrics.items()}}
    return detail, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "cati_database_feeder_spark")):
        print("perfbench: run from the root of a source checkout "
              "(cati_database_feeder_spark/ not found)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    os.makedirs(work)
    try:
        cpus, cores = pin_host(root, work)
        sys.path[:0] = [HERE, root]
        detail, result = run(args, root, work, cpus, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
