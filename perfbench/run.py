#!/usr/bin/env python3
"""Benchmark of the engine: one workload per invocation, run from the
repository root.

    python3 perfbench/run.py --workload etl_star --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

One process on ``local[N]``, N = ``len(os.sched_getaffinity(0))``: a closed
loop with one client and one op at a time. Each layer is timed from
outside, around calls into its public functions; each lazy call ends in
the action that materializes it (noop sink or the stage's own write).

Protocol of a run:

1. set-up: start the session, stage the seeded inputs and run the cold
   pass (every op once, one at a time; the mixes collect each query's
   rows where a timed pass sinks them); ``setup_s`` is the sum of the
   three. The cold pass's outputs are then checked against DuckDB,
   outside every timer;
2. the workload's fixed number of timed passes over its op list; the
   median pass is ``pass_s``. ``--seconds`` does not change the count:
   the JVM is still warming up, each pass faster than the last, so a
   count bound by time would move the median with the engine's speed.
   The mixes take their op order in each pass from the seed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
protocol, then restarts the Spark context in the same JVM with an event
log, runs one untimed pass to absorb the context's start-up, and times as
many passes again with a job group ``<workload>/<pass>/<op>`` around every
op. The log is parsed offline (``eventlog.py``) into per-layer metrics and
workload/pass/op/job/stage spans. ``trace.overhead_s`` is the traced minus
the untraced pass median; the traced passes run later, in a warmer JVM,
so it errs low.

The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is the run record (cores, loadavg,
versions, seed, sample counts, failing ops by name, per-pass caching
counters and, traced, per-op engine counters). Records and spans are also
written to ``.perfbench_out/``; staged inputs and outputs live in
``.perfbench_work/`` and are deleted on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import eventlog
from workloads import OP_MODULE, WORKLOADS

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "rows_per_s": "1/s",
    "stored_bytes_ratio": "ratio",
    "ok_ops_ratio": "ratio",
}
# Layer and op times are reported as their share of the traced pass (op
# median / pass median; times = share x trace.pass_s): a layer that one
# workload never calls then reads 0 as a share, not as a constant time.
ETL_LAYER_OPS = {
    "sources.read_csv_share": "bronze",
    "functions.to_silver_share": "silver",
    "plans.build_gold_share": "gold",
    "plans.validate_gold_share": "validate",
    "sources.write_csv_share": "load",
}
ETL_COUNTER_UNITS = {
    "sources.bronze_bytes": "bytes",
    "sources.load_bytes": "bytes",
    "sources.files_written": "count",
    "functions.silver_bytes": "bytes",
    "plans.gold_bytes": "bytes",
    "plans.fact_rows_per_input_row": "ratio",
}
ENGINE_UNITS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "core_busy_ratio": "ratio",
}


def per_layer_units(workload_names) -> dict[str, str]:
    """Every per-layer metric the traced runs of these workloads emit."""
    queries = [q for w in workload_names for q in WORKLOADS[w].ops if q in OP_MODULE]
    units = {"session.start_s": "s", "session.jvm_peak_rss_mb": "MB"}
    units.update({k: "ratio" for k in ETL_LAYER_OPS})
    units.update(ETL_COUNTER_UNITS)
    units.update({f"op.{q}_share": "ratio" for q in queries})
    units.update({f"operators.{m}_share": "ratio" for m in modules(queries)})
    units["caching.persisted_after_pass"] = "count"
    units["caching.pinned_after_pass"] = "count"
    units.update({f"engine.{k}": u for k, u in ENGINE_UNITS.items()})
    units.update({"trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.overhead_s": "s"})
    return units


def modules(queries) -> list[str]:
    return sorted({OP_MODULE[q] for q in queries})


# ------------------------------------------------------------------ session


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().rsplit(")", 1)[1].split()[1])
    except (OSError, ValueError, IndexError):
        return None


def descendants(pid: int) -> list[int]:
    parent = {int(d): _ppid(int(d)) for d in os.listdir("/proc") if d.isdigit()}
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


class Session:
    """The Spark session under test, its JVM, and every process it starts."""

    def __init__(self, work: str, cores: int):
        self.work, self.cores = work, cores
        self.spark = None

    def start(self, eventlog_dir: str | None = None) -> float:
        t0 = time.perf_counter()
        from iowa_liquor_sales_spark import get_spark

        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{self.work}/spark-local",
            "spark.sql.warehouse.dir": f"{self.work}/spark-warehouse",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work}/tmp -Dderby.system.home={self.work}/tmp "
                "-XX:-UsePerfData"
            ),
            "spark.eventLog.enabled": "false",
        }
        if eventlog_dir:
            os.makedirs(eventlog_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{eventlog_dir}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and gw.proc is not None else None

    def jvm_peak_rss_mb(self) -> float:
        pid = self.jvm_pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM not found")

    def stop_context(self) -> None:
        """Stop the SparkContext, keep the JVM (a later start reuses it)."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the context and the JVM, and wait for every process they
        started to end."""
        from pyspark import SparkContext

        pid = self.jvm_pid()
        kids = descendants(pid) if pid else []
        try:
            self.stop_context()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                if gw.proc is not None:
                    gw.proc.stdin.close()  # the gateway JVM exits on stdin EOF
                    try:
                        gw.proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        gw.proc.kill()
                        gw.proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
            deadline = time.monotonic() + 30
            while kids and time.monotonic() < deadline:
                kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
                time.sleep(0.1)
            for k in kids:
                try:
                    os.kill(k, signal.SIGKILL)
                except ProcessLookupError:
                    pass


# ------------------------------------------------------------------- passes


class Runner:
    """Runs passes of one workload and keeps what they measured."""

    def __init__(self, wl, trace: bool):
        self.wl, self.trace = wl, trace
        self.attempted = 0
        self.failed: dict[str, str] = {}  # op -> its first failure
        self.failed_attempts: set[tuple[str, str]] = set()  # (pass, op)
        self.spans: list[dict] = []
        self.caching: list[dict] = []

    def run_pass(self, label: str, order: list[str], run_op=None) -> dict:
        run_op = run_op or self.wl.run_op
        sc = self.wl.spark.sparkContext
        t_pass, w_pass = time.perf_counter(), time.time()
        ops: dict[str, float] = {}
        for op in order:
            group = f"{self.wl.name}/{label}/{op}"
            if self.trace:
                sc.setJobGroup(group, group)
            t0, w0 = time.perf_counter(), time.time()
            try:
                run_op(op)
            except Exception as exc:  # a raising op is a failed op, reported by name
                self.fail(label, op, repr(exc))
            ops[op] = time.perf_counter() - t0
            self.attempted += 1
            self.spans.append(
                {"name": group, "kind": "op", "parent": f"{self.wl.name}/{label}",
                 "start_ms": int(w0 * 1000), "end_ms": int(time.time() * 1000)}
            )
        if self.trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
        wall = time.perf_counter() - t_pass
        self.spans.append(
            {"name": f"{self.wl.name}/{label}", "kind": "pass", "parent": self.wl.name,
             "start_ms": int(w_pass * 1000), "end_ms": int(time.time() * 1000)}
        )
        return {"label": label, "wall": wall, "ops": ops}

    def fail(self, label: str, op: str, msg: str) -> None:
        self.failed.setdefault(op, f"{label}: {msg}"[:500])
        self.failed_attempts.add((label, op))

    def read_caching(self, label: str) -> None:
        from iowa_liquor_sales_spark import caching

        self.caching.append(
            {
                "pass": label,
                "persisted": self.wl.spark.sparkContext._jsc.getPersistentRDDs().size(),
                "pinned": len(caching._PINNED),
            }
        )

    def timed_passes(self, rng: random.Random, n_passes: int, prefix: str = "p") -> list[dict]:
        passes: list[dict] = []
        for i in range(n_passes):
            order = list(self.wl.ops)
            if self.wl.shuffle:
                rng.shuffle(order)
            passes.append(self.run_pass(f"{prefix}{i}", order))
            self.read_caching(f"{prefix}{i}")
        return passes


def median_ops(passes: list[dict]) -> dict[str, float]:
    return {op: statistics.median(p["ops"][op] for p in passes) for op in passes[0]["ops"]}


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (1..99) of ``values``, inclusive method."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


# --------------------------------------------------------------------- main


def traced_layers(session, wl, untraced: Runner, n_passes: int, rng, eventlog_dir: str,
                  cores: int, record: dict, spans_path: str) -> tuple[dict, Runner]:
    """Re-run the timed passes traced, in a fresh context of the same JVM
    with the event log on, and derive the per-layer metrics."""
    session.stop_context()
    session.start(eventlog_dir)
    wl.spark = session.spark
    runner = Runner(wl, trace=True)
    runner.run_pass("rewarm", list(wl.ops))  # absorbs the new context's start-up
    passes = runner.timed_passes(rng, n_passes, prefix="t")
    med = median_ops(passes)
    session.stop_context()  # closes the event log
    log = eventlog.parse_dir(eventlog_dir)

    first = next(c for c in untraced.caching if c["pass"] == "p0")
    layer = {
        "caching.persisted_after_pass": first["persisted"],
        "caching.pinned_after_pass": first["pinned"],
        "trace.pass_s": statistics.median(p["wall"] for p in passes),
        "trace.untraced_pass_s": statistics.median(record["pass_s"]),
    }
    layer["trace.overhead_s"] = layer["trace.pass_s"] - layer["trace.untraced_pass_s"]
    counters = wl.layer_counters()
    for name in ETL_COUNTER_UNITS:
        layer[name] = counters.get(name, 0)
    share = {op: t / layer["trace.pass_s"] for op, t in med.items()}
    for name, op in ETL_LAYER_OPS.items():
        layer[name] = share.get(op, 0.0)
    for q in OP_MODULE:
        layer[f"op.{q}_share"] = share.get(q, 0.0)
    for m in modules(OP_MODULE):
        layer[f"operators.{m}_share"] = sum(share.get(q, 0.0) for q, mod in OP_MODULE.items() if mod == m)

    def median_totals(groups: list[str]) -> dict[str, float]:
        per = [eventlog.engine_totals(log, log.jobs_in_group(g)) for g in groups]
        return {k: statistics.median(t[k] for t in per) for k in per[0]}

    labels = [f"{wl.name}/{p['label']}" for p in passes]
    layer.update({f"engine.{k}": v for k, v in median_totals(labels).items()})
    layer["engine.core_busy_ratio"] = statistics.median(
        eventlog.engine_totals(log, log.jobs_in_group(g))["executor_run_s"] / (p["wall"] * cores)
        for g, p in zip(labels, passes)
    )
    record["traced_pass_s"] = [p["wall"] for p in passes]
    record["engine_per_op"] = {op: median_totals([f"{g}/{op}" for g in labels]) for op in wl.ops}

    own = [s for s in runner.spans if s["name"] in labels or s["parent"] in labels]
    wl_span = {
        "name": wl.name, "kind": "workload", "parent": None,
        "start_ms": min(s["start_ms"] for s in own),
        "end_ms": max(s["end_ms"] for s in own),
    }
    with open(spans_path, "w") as fh:
        json.dump(eventlog.build_spans(log, [wl_span] + own), fh)
    return layer, runner


def run_workload(args, root: str, work: str, out_dir: str) -> tuple[dict, dict]:
    cores = len(os.sched_getaffinity(0))
    record: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "cores": cores,
        "python": platform.python_version(),
        "loadavg_1m_before": os.getloadavg()[0],
    }
    session = Session(work, cores)
    try:
        start_s = session.start()
        spark = session.spark
        record["spark"] = spark.version
        record["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        wl = WORKLOADS[args.workload](spark, work, args.seed, cores, args.smoke)
        runner = Runner(wl, trace=False)

        t0 = time.perf_counter()
        wl.stage()
        stage_s = time.perf_counter() - t0
        cold = runner.run_pass("cold", list(wl.ops), wl.cold_op)
        t0 = time.perf_counter()
        try:
            check_fails = wl.check()
        except Exception:  # outputs that cannot be read fail every op
            check_fails = dict.fromkeys(wl.ops, traceback.format_exc(limit=3))
        check_s = time.perf_counter() - t0
        for op, msg in check_fails.items():
            runner.fail("cold", op, f"check: {msg}")

        rng = random.Random(args.seed)
        passes = runner.timed_passes(rng, 1 if args.smoke else wl.passes)
        pass_walls = [p["wall"] for p in passes]
        op_walls = [s for p in passes for s in p["ops"].values()]
        record.update(
            {
                "session_start_s": start_s,
                "stage_s": stage_s,
                "cold_pass_s": cold["wall"],
                "cold_op_s": cold["ops"],
                "check_s": check_s,
                "pass_s": pass_walls,
                "pass_samples": len(pass_walls),
                "op_samples": len(op_walls),
                "op_median_s": median_ops(passes),
                "op_s_per_pass": [p["ops"] for p in passes],
                "caching_per_pass": runner.caching,
                "staged_rows": wl.staged_rows(),
                **wl.report(median_ops(passes)),
            }
        )
        metrics: dict[str, float] = {
            "setup_s": start_s + stage_s + cold["wall"],
            "pass_s": statistics.median(pass_walls),
            "op_p50_s": statistics.median(op_walls),
            "op_p90_s": percentile(op_walls, 90),
            "rows_per_s": wl.staged_rows() / statistics.median(pass_walls),
            "stored_bytes_ratio": wl.stored_bytes_ratio(),
        }
        runners = [runner]
        if args.trace:
            spans_path = f"{out_dir}/spans-{wl.name}-seed{args.seed}.json"
            metrics, traced = traced_layers(
                session, wl, runner, len(passes), rng, f"{work}/eventlog", cores, record, spans_path
            )
            runners.append(traced)
            metrics["session.start_s"] = start_s
            record["spans_file"] = os.path.relpath(spans_path, root)
        metrics["session.jvm_peak_rss_mb"] = session.jvm_peak_rss_mb()

        attempted = sum(r.attempted for r in runners)
        n_failed = sum(len(r.failed_attempts) for r in runners)
        failed = {op: msg for r in runners for op, msg in r.failed.items()}
        record["failed_ops"] = failed
        record["failed_ops_ratio"] = n_failed / attempted
        metrics["ok_ops_ratio"] = 1.0 - n_failed / attempted
        record["loadavg_1m_after"] = os.getloadavg()[0]
        return record, {
            "correct": not failed,
            "attempted": attempted,
            "failed": n_failed,
            "metrics": metrics,
        }
    finally:
        session.shutdown()


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def smoke(root: str) -> int:
    """Run every declared workload tiny, traced and untraced, and check
    that each declared metric is emitted with its declared unit."""
    spec = load_spec(root)
    problems = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
                 "--seed", "0", "--seconds", "1", "--trace", str(trace), "--smoke"],
                capture_output=True, text=True, cwd=root,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{w['name']} trace={trace}: rc={proc.returncode} {proc.stderr[-2000:]}")
                continue
            got = json.loads(lines[-1])
            if not got["correct"]:
                problems.append(f"{w['name']} trace={trace}: incorrect {lines[-2][:2000]}")
            for m in spec["per_layer" if trace else "end_to_end"]:
                have = got["metrics"].get(m["name"])
                if have is None or have["unit"] != m["unit"]:
                    problems.append(f"{w['name']} trace={trace}: {m['name']} -> {have}")
            print(f"smoke {w['name']} trace={trace}: {len(got['metrics'])} metrics", flush=True)
    for p in problems:
        print("SMOKE FAIL", p, file=sys.stderr)
    return 1 if problems else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one pass; without --workload, check every workload")
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in ("__spark_entry__.py", "iowa_liquor_sales_spark", "tests/oracle_utils.py")
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    if args.smoke and not args.workload:
        return smoke(root)
    sys.path.insert(0, root)  # the engine under test
    if not args.workload:
        ap.error("--workload is required")

    out_dir = os.path.join(root, ".perfbench_out")
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"  # python, py4j and the JVM it launches
    # spark-submit's launcher JVM: no perf-data file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        record, result = run_workload(args, root, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = per_layer_units(WORKLOADS) if args.trace else END_TO_END_UNITS
    emitted = {}
    for m in load_spec(root)["per_layer" if args.trace else "end_to_end"]:
        if units.get(m["name"]) != m["unit"] or m["name"] not in result["metrics"]:
            print(f"perfbench: declared metric {m} not produced", file=sys.stderr)
            return 3
        emitted[m["name"]] = {"value": float(result["metrics"][m["name"]]), "unit": m["unit"]}
    result["metrics"] = emitted
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"record-{tag}.json"), "w") as fh:
        json.dump({"record": record, "result": result}, fh, indent=1)
    print(json.dumps({"run_record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
