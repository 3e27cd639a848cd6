"""Per-query Spark-job-count + construct-vs-execute profiler (guide §1).

For each named declared query: time DataFrame CONSTRUCTION (driver-side py4j
/ Catalyst work before any action), then collect() under a dedicated job
group and count the Spark jobs the action family spawned via the status
tracker. The round-11/12 optimization rounds showed the sf0.1 suite is
driver-bound (8-core wall == 32-core wall): per-query cost is dominated by
the NUMBER of driver actions (~0.1-0.3 s scheduler+planning floor each),
so "jobs down" is the primary evidence for the walk-composite work, not
wall seconds alone.

Usage: python tools/profile_jobs.py q1,q2,... [--repeats 2]
Prints one JSON line per query: {"query", "construct_s", "execute_s",
"wall_s", "n_jobs", "rows"}. Every field, ``n_jobs`` included, comes from
the repeat with the lowest wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

_LOG4J = os.path.join(_REPO, "tools", "log4j2-quiet.properties")
if os.path.exists(_LOG4J):
    _opt = f"-Dlog4j2.configurationFile=file:{_LOG4J}"
    if _opt not in os.environ.get("SPARK_SUBMIT_OPTS", ""):
        os.environ["SPARK_SUBMIT_OPTS"] = (
            os.environ.get("SPARK_SUBMIT_OPTS", "") + " " + _opt).strip()

import __spark_entry__ as entrymod  # noqa: E402
from educational_vector_database_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries")
    ap.add_argument("--repeats", type=int, default=2)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="evd-profile")
    qs = entrymod.queries()
    # warm the JVM/footers the way bench.py does
    qs["knn_cosine"](spark, sf_dir).collect()
    spark.catalog.clearCache()

    for name in args.queries.split(","):
        best = None
        for rep in range(args.repeats):
            group = f"prof-{name}-{rep}"
            sc = spark.sparkContext
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            t1 = time.perf_counter()
            rows = len(df.collect())
            t2 = time.perf_counter()
            sc.setJobGroup(None, None)
            n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            spark.catalog.clearCache()
            rec = {
                "query": name,
                "construct_s": round(t1 - t0, 3),
                "execute_s": round(t2 - t1, 3),
                "wall_s": round(t2 - t0, 3),
                "n_jobs": n_jobs,
                "rows": rows,
            }
            if best is None or rec["wall_s"] < best["wall_s"]:
                best = rec
        print(json.dumps(best), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
