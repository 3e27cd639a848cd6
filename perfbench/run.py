"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload ann_lifecycle --seed 1 --seconds 10 --trace 0

One client (this process) drives a closed loop: each iteration runs the
workload's calls into the engine one after another, checks every output
against the numpy reference, and releases cached data before the next one.
Set-up (session start, one input generation, a short session warm-up) is
timed as ``setup_s``; iterations then run until
``--seconds`` have passed (at least one). Each run is a fresh Spark
application, so the first iteration pays the JIT and code-generation
warm-up of the engine's operators, as a batch job does.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics, read from Spark's status store after each iteration, and
writes the span records to ``.perfbench_work/trace/``. Everything the run
writes stays under ``.perfbench_work/`` in the repository root. The last
line of standard output is the result; the line before it is a detail
record (per-operation timings with sample counts, set-up parts, job counts).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Tracer, layer_metrics, self_times  # noqa: E402
from workloads import WORKLOADS, CheckFailed  # noqa: E402

LAYERS = [
    "operators.ann.build", "operators.ann.walk", "operators.ann.foldin",
    "operators.ann.persist", "sources.store", "rag", "operators.knn",
    "operators.mmr", "operators.dedup.pairs", "operators.dedup.components",
]
EXTRAS = [
    "session.start_s", "trace.overhead_s", "operators.ann.retained_mb",
    "operators.ann.store_bytes_per_byte", "sources.store.bytes_written",
    "operators.knn.pairs_scored_per_s", "operators.dedup.pairs.pairs_out",
]


def isolate(run_dir: str, cores: int) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``run_dir``, and let Python workers import the engine package."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, [
        os.environ.get("SPARK_SUBMIT_OPTS"), f"-Dderby.system.home={tmp}",
        # keep every job and stage of an iteration for the traced read-out
        "-Dspark.ui.retainedJobs=20000", "-Dspark.ui.retainedStages=50000",
    ]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


def release(spark, entry) -> None:
    """Drop everything an iteration cached, so the next one starts cold."""
    spark.catalog.clearCache()
    entry.release_persists()


def retained_mb(spark) -> float:
    """Cached blocks still held after release and a driver + JVM GC."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)  # the context cleaner unpersists asynchronously
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)


def warm_session(spark) -> None:
    """Start the process-level machinery every workload uses (Python
    workers with pandas/Arrow, a shuffle, a parquet scan) so the first
    iteration does not pay for it; operator code paths stay cold."""
    df = spark.range(4096).selectExpr("id", "id % 13 AS k")
    df.mapInPandas(lambda it: (p for p in it), df.schema).groupBy("k").count().collect()


def op_summary(values: list[float]) -> dict:
    """Median and maximum with the sample count. No percentile above the
    median has ten samples beyond it in one run, so the maximum is given."""
    return {"p50": statistics.median(values), "max": max(values), "n": len(values)}


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat", encoding="utf-8") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    found, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            found.add(c)
            todo.append(c)
    return found


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_jvm() -> None:
    """End the Spark JVM and every process under it (Python workers), and
    wait for each. PySpark leaves the JVM to exit on its own once it sees
    end-of-file on its stdin, which it would only do after this process is
    gone; closing that pipe here makes it exit now."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(os.getpid())
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.monotonic() + 10
    while any(alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
        for p in pids:  # reap the ones that are our own children
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass


def bench(args, run_dir: str) -> tuple[dict, dict]:
    from educational_vector_database_spark.session import get_spark

    import __spark_entry__ as entry

    cores = len(os.sched_getaffinity(0))
    try:
        t0 = time.perf_counter()
        spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            return measure(spark, entry, args, run_dir, cores, session_s)
        finally:
            spark.stop()
    finally:
        stop_jvm()


def measure(spark, entry, args, run_dir, cores, session_s):
    cls = WORKLOADS[args.workload]
    sc = spark.sparkContext

    work = os.path.join(run_dir, "data")
    os.makedirs(work)
    t = time.perf_counter()
    wl = cls(spark, work, args.seed)
    data_s = time.perf_counter() - t

    t = time.perf_counter()
    warm_session(spark)
    warm_s = time.perf_counter() - t
    setup_s = session_s + data_s + warm_s

    tr = Tracer(sc)
    iters, overhead, retained = [], [], []
    attempted = failed = 0
    t_run = time.perf_counter()
    while not iters or time.perf_counter() - t_run < args.seconds:
        root = f"iter-{len(iters)}"
        first = len(tr.spans)
        first_job = tr.next_job_id()
        t = time.perf_counter()
        try:
            with tr.root(root):
                items, hit, total = wl.iterate(tr, len(iters))
            ok = True
        except CheckFailed as e:
            print(f"check failed: {e}", file=sys.stderr)
            ok, items, hit, total = False, 0, 0, 1
        except Exception:  # the engine raised: count it, keep measuring
            traceback.print_exc()
            ok, items, hit, total = False, 0, 0, 1
        wall = time.perf_counter() - t
        spans = tr.spans[first:]
        # jobs between the spans (there should be none)
        stray = tr.next_job_id() - first_job - tr.jobs_total(spans)
        attempted += max(1, len(spans))
        failed += 0 if ok else 1
        release(spark, entry)
        iters.append({"root": root, "wall_s": wall, "ok": ok, "items": items,
                      "recall": hit / total, "stray_jobs": stray,
                      "jobs": tr.jobs_total(spans) + stray})
        if args.trace:
            overhead.append(tr.collect(spans))
            retained.append(retained_mb(spark))

    good = [i for i in iters if i["ok"]] or iters
    iter_s = statistics.median(i["wall_s"] for i in good)
    e2e = {
        "setup_s": (setup_s, "s"),
        "items_per_s": (statistics.median(i["items"] for i in good) / iter_s, "1/s"),
        "spark_jobs": (statistics.median(i["jobs"] for i in good), "count"),
        "answer_recall": (statistics.median(i["recall"] for i in good), "ratio"),
    }
    ops: dict[str, dict[str, float]] = {}  # op -> iteration -> seconds
    op_jobs: dict[str, int] = {}
    for s in tr.spans:
        per_iter = ops.setdefault(f"{s.name}_s", {})
        per_iter[s.parent] = per_iter.get(s.parent, 0.0) + s.wall_s
        op_jobs[s.name] = op_jobs.get(s.name, 0) + len(s.job_ids())
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "sizes": cls.sizes, "client": "closed loop, 1 client",
        "setup": {"session_start_s": session_s, "data_setup_s": data_s,
                  "warmup_s": warm_s},
        "iterations": iters,
        "ops": {k: op_summary(list(v.values())) for k, v in ops.items()},
        "op_jobs_per_iteration": {k: v / len(iters) for k, v in op_jobs.items()},
    }
    if not args.trace:
        metrics = e2e
    else:
        lm = layer_metrics(tr.spans, LAYERS, len(iters))
        lm.update({k: 0.0 for k in EXTRAS})
        lm.update(wl.layer_extras(lm))
        lm["session.start_s"] = session_s
        lm["trace.overhead_s"] = statistics.median(overhead)
        if "operators.ann.build" in cls.layers:
            lm["operators.ann.retained_mb"] = statistics.median(retained)
        metrics = {k: (v, unit(k)) for k, v in lm.items()}
        detail["self_s"] = self_times(tr.spans, {i["root"]: i["wall_s"] for i in iters})
        detail["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
        write_trace(args, tr, detail)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result


def unit(name: str) -> str:
    field = name.rsplit(".", 1)[-1]
    if field.endswith("_per_s"):
        return "1/s"
    if field.endswith("_s"):
        return "s"
    if field.endswith("_mb") or field == "bytes_written":
        return "MB"
    if field == "store_bytes_per_byte":
        return "ratio"
    return "count"


def write_trace(args, tr: Tracer, detail: dict) -> None:
    out = os.path.join(WORK_ROOT, "trace")
    os.makedirs(out, exist_ok=True)
    records = [
        {"layer": s.layer, "op": s.name, "parent": s.parent, "start": s.start,
         "end": s.end, "construct_s": s.phase_s["construct"],
         "execute_s": s.phase_s["execute"], "jobs": len(s.job_ids()), **s.stats}
        for s in tr.spans
    ]
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"detail": detail, "spans": records}, f, indent=1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(run_dir, cores)
    try:
        detail, result = bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
