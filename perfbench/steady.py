"""Steadiness self-check for the benchmark.

    python3 perfbench/steady.py --seeds 1-10
    python3 perfbench/steady.py --workloads text_curate --seeds 1-5

Runs ``run.py`` untraced once per (set, workload, seed), in two sets of the
same code, and prints for each end-to-end metric its median, its spread
(first-to-third quartile distance as a share of the median) next to the
bound in BENCHMARK.json and a third of it, and how far the second set's
median moved from the first's. It then repeats the first seed of each
workload twice untraced and once traced, and checks that:

- ``answer_recall`` repeats exactly (for ``text_curate`` it includes the
  dedup survivors, which must equal the planted set in every run);
- ``spark_jobs`` repeats within its bound: adaptive execution can re-plan
  around a cached frame, so a fixed seed gives, for example, 63 or 65 jobs
  on ``text_curate``; the difference is printed;
- the traced run's per-layer job counts sum exactly to that run's own
  ``spark_jobs``, so no job falls outside a layer span;

and reports the tracing overhead. Exits 1 if any check fails or any
spread or drift exceeds its bound. Every run's detail and result line is
appended to ``.perfbench_work/steady.jsonl``. A Spark JVM still running
after any run is an error.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LOG = os.path.join(ROOT, ".perfbench_work", "steady.jsonl")


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    wall = time.perf_counter() - t
    left = leftover()
    if left:
        raise SystemExit(f"{workload} seed {seed}: processes left running: {left}")
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    lines = out.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2])["detail"], json.loads(lines[-1])
    os.makedirs(os.path.dirname(LOG), exist_ok=True)
    with open(LOG, "a", encoding="utf-8") as f:  # every run, for later study
        f.write(json.dumps({"trace": trace, "run_s": wall, "detail": detail,
                            "result": result}) + "\n")
    return detail, result, wall


def leftover() -> list[int]:
    """Spark JVMs still running once run.py has exited (it must wait for
    its JVM and the JVM's Python workers to end before it exits)."""
    pids = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                if b"pyspark-shell" in f.read():
                    pids.append(int(name))
        except (OSError, ValueError):
            continue
    return pids


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def worse(a: float, b: float, better: str) -> float:
    """How much worse ``b`` is than ``a``, as a share of ``a``."""
    if not a:
        return 0.0
    return (a - b) / a if better == "higher" else (b - a) / a


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    args = ap.parse_args()
    seeds, ok = parse_seeds(args.seeds), True
    e2e = {m["name"]: m for m in bench["end_to_end"]}

    for wl in args.workloads.split(","):
        sets = []
        for s in range(2):
            vals: dict[str, list[float]] = {k: [] for k in e2e}
            for seed in seeds:
                _, res, wall = run(wl, seed, bench["run_seconds"], 0)
                ok &= res["correct"] and res["failed"] == 0
                for k in e2e:
                    vals[k].append(res["metrics"][k]["value"])
                print(f"{wl} set {s + 1} seed {seed}: {wall:.1f} s run, "
                      + ", ".join(f"{k}={v[-1]:.4g}" for k, v in vals.items()), flush=True)
            sets.append(vals)
        print(f"\n{wl}: metric, median, spread (bound/3, bound), drift of set 2")
        for k, m in e2e.items():
            med, sp = statistics.median(sets[0][k]), spread(sets[0][k])
            drift = worse(med, statistics.median(sets[1][k]), m["better"])
            ok &= sp <= m["bound"] and drift <= m["bound"]
            print(f"  {k:14s} {med:12.4f}  spread {sp:.4f} ({m['bound'] / 3:.4f}, "
                  f"{m['bound']})  drift {drift:+.4f}")
        ok &= repeat_check(wl, seeds[0], bench["run_seconds"], e2e["spark_jobs"]["bound"])
        print()
    print("STEADY" if ok else "NOT STEADY")
    return 0 if ok else 1


def repeat_check(wl: str, seed: int, seconds: int, jobs_bound: float) -> bool:
    _, a, _ = run(wl, seed, seconds, 0)
    _, b, _ = run(wl, seed, seconds, 0)
    detail, t, _ = run(wl, seed, seconds, 1)
    ra, rb = (r["metrics"]["answer_recall"]["value"] for r in (a, b))
    ja, jb = (r["metrics"]["spark_jobs"]["value"] for r in (a, b))
    jobs_moved = abs(jb - ja) / ja
    traced_jobs = detail["end_to_end"]["spark_jobs"]
    layer_jobs = sum(v["value"] for k, v in t["metrics"].items() if k.endswith(".jobs"))
    untraced = a["metrics"]["items_per_s"]["value"]
    traced = detail["end_to_end"]["items_per_s"]
    print(f"  repeat seed {seed}: answer_recall {ra:.4f} / {rb:.4f} -> "
          f"{'exact' if ra == rb else 'DIFFERS'}; spark_jobs {ja:g} / {jb:g} "
          f"(moved {jobs_moved:.4f}, bound {jobs_bound})")
    print(f"  traced run: layer jobs sum {layer_jobs:g} vs its spark_jobs {traced_jobs:g} -> "
          f"{'exact' if layer_jobs == traced_jobs else 'DIFFERS'}; tracing overhead "
          f"{t['metrics']['trace.overhead_s']['value']:.3f} s/iteration (read-out), "
          f"items_per_s traced {traced:.4g} vs untraced {untraced:.4g} "
          f"({(traced - untraced) / untraced:+.1%})")
    return (ra == rb and jobs_moved <= jobs_bound and layer_jobs == traced_jobs
            and a["correct"] and b["correct"] and t["correct"])


if __name__ == "__main__":
    sys.exit(main())
