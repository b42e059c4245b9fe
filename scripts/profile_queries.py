#!/usr/bin/env python
"""Time a subset of the declared queries with bench.py's protocol (scrub,
then ``.count()``, min over passes), count the Spark jobs each query
runs, and optionally dump each query's ``.explain("formatted")`` plan to
``plans/profile/<query>_<tag>.txt``. Usage::

    python scripts/profile_queries.py q1 q2 ...              # time (3 passes)
    PROFILE_PASSES=5 python scripts/profile_queries.py q1
    PROFILE_PLANS=before python scripts/profile_queries.py q1   # also dump plans
    PROFILE_SF_DIR=/root/testdata/sf0.1 (default)

Prints one JSON object: ``{query: {"min", "runs", "jobs"}}``.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from dynamicqueryengine_spark import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("PROFILE_SF_DIR", "/root/testdata/sf0.1")
    passes = int(os.environ.get("PROFILE_PASSES", "3"))
    plans_tag = os.environ.get("PROFILE_PLANS")  # "before" | "after" | None
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    names = sys.argv[1:]

    spark = get_spark(
        "dqe-profile",
        cpus=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)
    if not names:
        names = list(queries)

    def scrub() -> None:
        from dynamicqueryengine_spark.workloads import llm as _llm

        _llm._PAIR_MEMO.clear()
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    tracker = spark.sparkContext.statusTracker()

    if plans_tag:
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pdir = os.path.join(here, "plans", "profile")
        os.makedirs(pdir, exist_ok=True)
        for name in names:
            df = queries[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(pdir, f"{name}_{plans_tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path}", file=sys.stderr)
            scrub()

    per: dict[str, list[float]] = {n: [] for n in names}
    jobs: dict[str, int] = {}
    for p in range(passes):
        for name in names:
            scrub()
            group = f"profile_{name}_{p}"
            spark.sparkContext.setJobGroup(group, f"profile:{name}")
            start = time.perf_counter()
            try:
                queries[name](spark, sf_dir).count()
                per[name].append(round(time.perf_counter() - start, 4))
                jobs[name] = len(tracker.getJobIdsForGroup(group))
            except Exception as exc:
                print(f"{name} FAILED: {exc}", file=sys.stderr)
                per[name].append(-1.0)
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            spark.sparkContext.setLocalProperty(
                "spark.job.description", None
            )
    out = {
        n: {"min": min(v), "runs": v, "jobs": jobs.get(n)}
        for n, v in per.items()
        if v
    }
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
