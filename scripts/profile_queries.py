#!/usr/bin/env python
"""Time named queries in isolation with the bench's exact protocol (same
warehouse layout, same warm-up, noop sink, ``bench.best_of`` timing:
each rep builds the query and releases its cache after) and optionally
dump their ``explain("formatted")`` plans to plans/r10/<name>_<tag>.txt.

    python scripts/profile_queries.py [--reps N] [--plans TAG] q_a q_b ...

Runs ONE JVM for the whole list (so relative numbers are comparable to a
bench cohort's interior, not to its cold start). Each query's jobs carry
its name as job group and description. Prints one JSON line at the end:
{"timings": {...}, "sf_dir": ..., "reps": ...}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from bench import _cpus, _make_spark, best_of, force, prepare  # noqa: E402
from iowa_liquor_sales_spark.caching import query_scope  # noqa: E402


def main() -> None:
    argv = sys.argv[1:]
    reps, plan_tag = 2, None
    names: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--reps":
            reps = int(argv[i + 1])
            i += 2
        elif argv[i] == "--plans":
            plan_tag = argv[i + 1]
            i += 2
        else:
            names.append(argv[i])
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = _cpus()
    spark = _make_spark(cpus)
    queries = entry_mod.queries()
    wh, _ = prepare(spark, queries, sf_dir, cpus, timed=False)

    timings: dict[str, float] = {}
    for name in names:
        if plan_tag:
            os.makedirs("plans/r10", exist_ok=True)
            with query_scope(spark, name):
                df = queries[name](spark, wh)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            with open(f"plans/r10/{name}_{plan_tag}.txt", "w") as fh:
                fh.write(plan)
        timings[name] = round(
            best_of(spark, name, lambda: force(queries[name](spark, wh)), reps), 3
        )
        print(f"PROFILE {name}: {timings[name]} s", flush=True)

    print(json.dumps({"timings": timings, "sf_dir": sf_dir, "reps": reps}))
    spark.stop()


if __name__ == "__main__":
    main()
