#!/usr/bin/env python
"""Time named queries in isolation with the bench's exact protocol (same
warehouse layout, same warm-up, noop sink, ``bench.best_of`` timing:
each rep builds the query and releases its cache after) and optionally
write their ``explain("formatted")`` plans to ``.plans/<TAG>/<name>.txt``.

    python scripts/profile_queries.py [--reps N] [--plans TAG] q_a q_b ...

Plans are normalised (``#123`` -> ``#N``, ``plan_id=45`` -> ``plan_id=N``,
``RDD[67]`` -> ``RDD[N]``, the per-run warehouse directory ->
``<warehouse>``), so two trees' plans
compare with ``diff -r .plans/A .plans/B``. ``.plans/`` is not tracked.
The staged warehouse is deleted on exit.

Runs ONE JVM for the whole list (so relative numbers are comparable to a
bench cohort's interior, not to its cold start). Each query's jobs carry
its name as job group and description. Prints one JSON line at the end:
{"timings": {...}, "compiles": {...}, "sf_dir": ..., "reps": ...}.
``compiles`` is, per query, the number of classes Janino compiled during
its timed reps (Spark's ``CodegenMetrics`` counter); a query whose plan
is the same on every rep compiles on its first rep only, or not at all
when an earlier query already generated the same code.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402
from bench import _cpus, _make_spark, best_of, codegen_compiles, force, prepare  # noqa: E402
from iowa_liquor_sales_spark.caching import query_scope  # noqa: E402


def normalise_plan(plan: str, wh: str) -> str:
    """Drop the per-run expression, plan and RDD ids and warehouse path."""
    for pattern, repl in (
        (r"#\d+", "#N"),
        (r"plan_id=\d+", "plan_id=N"),
        (r"RDD\[\d+\]", "RDD[N]"),
    ):
        plan = re.sub(pattern, repl, plan)
    return plan.replace(wh, "<warehouse>")


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
    compiles: dict[str, int] = {}
    for name in names:
        if plan_tag:
            plan_dir = os.path.join(ROOT, ".plans", plan_tag)
            os.makedirs(plan_dir, exist_ok=True)
            with query_scope(spark, name):
                df = queries[name](spark, wh)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as fh:
                fh.write(normalise_plan(plan, wh))
        before = codegen_compiles(spark)
        timings[name] = round(
            best_of(spark, name, lambda: force(queries[name](spark, wh)), reps), 3
        )
        compiles[name] = codegen_compiles(spark) - before
        print(f"PROFILE {name}: {timings[name]} s, {compiles[name]} compiles", flush=True)

    print(
        json.dumps(
            {"timings": timings, "compiles": compiles, "sf_dir": sf_dir, "reps": reps}
        )
    )
    spark.stop()
    shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()
