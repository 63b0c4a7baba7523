"""Benchmark of the artigraph_spark build framework and its bench queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload fw --seed 1 --seconds 20 --trace 0

Workloads: fw and query_suite (see perfbench/README.md).
With ``--trace 0`` the last stdout line is one JSON object holding every
end-to-end metric of BENCHMARK.json; with ``--trace 1`` it holds every
per-layer metric, taken from spans recorded around the framework's public
functions and from Spark's status store. Earlier stdout lines carry the
same figures under the names a reader knows (cold_build_s, ...), the
host-noise gauges, and in traced runs a per-layer self-time table.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]
sys.path.append(str(ROOT / "tools"))  # check_oracle's row rendering

import sparkstats  # noqa: E402

PREPARE_REPEATS = 3
TRACE_PATTERN = (False, True, True, False)  # untraced/traced steps, ABBA


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("fw", "query_suite"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of the host's memory, at most 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1, min(4, total_kb // (4 * 1024 * 1024)))}g"


class OpRecord:
    def __init__(self, kind: str, traced: bool) -> None:
        self.kind = kind
        self.traced = traced
        self.seconds = 0.0
        self.built = self.skipped = 0
        self.error: str | None = None
        self.groups: dict[str, dict[str, float]] = {}

    @property
    def ok(self) -> bool:
        return self.error is None

    def fail(self, msg: str) -> None:
        self.error = self.error or msg


class Harness:
    """Times ops, runs each under its own Spark job group, and reads the
    group's Spark counters back after a traced op."""

    def __init__(self, spark, tracer, workload: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.workload = workload
        self.ops: list[OpRecord] = []
        self._group_names: dict[str, str] = {}

    def group(self, label: str) -> None:
        name = f"perfbench:{self.workload}:{len(self.ops)}:{label}"
        self._group_names[label] = name
        self.spark.sparkContext.setJobGroup(name, label)

    @contextlib.contextmanager
    def op(self, kind: str, traced: bool, sync: bool = False):
        rec = OpRecord(kind, traced)
        self.ops.append(rec)
        self._group_names = {}
        self.group(kind)
        scope = self.tracer.op(len(self.ops), f"op.{kind}") if traced else contextlib.nullcontext()
        if sync:
            # Flush dirty pages first, so a measured op does not pay for the
            # writeback of files that set-up or earlier ops left behind.
            os.sync()
        t0 = time.perf_counter()
        try:
            with scope:
                yield rec
        except Exception as e:  # a raised error is a failed op, not a crashed run
            rec.fail(f"{kind}: {type(e).__name__}: {str(e)[:300]}")
        rec.seconds = time.perf_counter() - t0
        if traced:
            sc = self.spark.sparkContext
            rec.groups = {
                label: sparkstats.group_counters(sc, g) for label, g in self._group_names.items()
            }


def start_spark(workdir: Path):
    """local[nproc] Spark whose scratch files all stay under ``workdir``."""
    from artigraph_spark.session import get_spark

    tmp = workdir / "tmp"
    local = workdir / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    # The short-lived launcher JVM that spark-class starts first.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    return get_spark(
        "perfbench",
        master=f"local[{host_cpus()}]",
        extra_conf={
            "spark.driver.memory": driver_memory(),
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(local),
            "spark.sql.warehouse.dir": str(workdir / "warehouse"),
            # No hsperfdata file: the JVM would write it to /tmp.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    args = parse_args()
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())  # read at import by the session module
    try:
        import pyspark  # noqa: F401

        import artigraph_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    import fwgraph
    import workloads
    from artigraph_spark.backends import JsonFileBackend
    from spans import Tracer

    # Left in place afterwards: see the note on deleting in workloads.py.
    workdir = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}"
    workdir.mkdir(parents=True)
    jiffies0 = sparkstats.cpu_jiffies()
    t0 = time.perf_counter()
    spark = start_spark(workdir)
    try:
        session_s = time.perf_counter() - t0
        log(f"session up in {session_s:.2f}s")
        tracer = Tracer()
        harness = Harness(spark, tracer, args.workload)
        w = workloads.WORKLOADS[args.workload](harness, str(workdir), args.seed)
        prepare_s = [w.prepare() for _ in range(PREPARE_REPEATS)]
        log(f"prepared {PREPARE_REPEATS}x: {', '.join(f'{s:.2f}s' for s in prepare_s)}")
        t1 = time.perf_counter()
        w.warm_up()
        warmup_s = time.perf_counter() - t1
        log(f"warmed up in {warmup_s:.2f}s, rss {sparkstats.peak_rss_mb():.0f} MB")
        # The first prepare() pays the first-use costs (JVM class loading,
        # the first Spark jobs, lazy imports) and counts whole; the median
        # of the later ones stands for a warm set-up.
        setup_s = session_s + prepare_s[0] + statistics.median(prepare_s[1:]) + warmup_s

        steps: list[tuple[bool, list[OpRecord]]] = []
        min_steps = max(w.min_steps, 2 if args.trace else 1)
        t_end = time.perf_counter() + args.seconds
        while len(steps) < min_steps or time.perf_counter() < t_end:
            traced = bool(args.trace) and TRACE_PATTERN[len(steps) % 4]
            n0 = len(harness.ops)
            if traced:
                tracer.install(JsonFileBackend, (fwgraph.DailyTotals, fwgraph.Rollup))
            try:
                w.step(traced)
            finally:
                tracer.uninstall()
            steps.append((traced, harness.ops[n0:]))
        # Taken before the checks: the DuckDB oracles are not the program.
        rss_mb = sparkstats.peak_rss_mb()
        log(f"measured {len(steps)} steps, rss {rss_mb:.0f} MB")
        t2 = time.perf_counter()
        w.finish()
        log(f"checked in {time.perf_counter() - t2:.2f}s")
        gauges = {
            "host.dispatch_ms_per_stage": sparkstats.dispatch_ms_per_stage(spark),
            "host.replace_ms": sparkstats.replace_ms(str(workdir)),
            "host.cpu_steal_pct": sparkstats.steal_pct(jiffies0, sparkstats.cpu_jiffies()),
        }
        catalog_bytes = w.catalog_bytes()
    finally:
        stop_spark(spark)
    log("spark stopped")

    ops = harness.ops
    failed = [op for op in ops if not op.ok]
    for op in failed:
        print(f"perfbench: FAILED {op.error}", file=sys.stderr)
    named = named_metrics(args.workload, steps, setup_s, len(failed) / len(ops))
    named["driver_peak_rss_mb"] = rss_mb
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "setup": {"session_s": session_s, "prepare_s": prepare_s, "warmup_s": warmup_s},
        "step_s": step_seconds(step_ops for _t, step_ops in steps),
        "ops": [[op.kind, round(op.seconds, 4)] for _t, ops in steps for op in ops],
        "gauges": gauges,
        "named": named,
    }
    if args.trace:
        metrics = layer_metrics(w, tracer, steps, catalog_bytes, host_cpus())
        trace_dir = ROOT / ".perfbench" / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        span_file = trace_dir / f"{args.workload}-seed{args.seed}.jsonl"
        tracer.dump(str(span_file))
        report["span_file"] = str(span_file.relative_to(ROOT))
        for kind, rows in tracer.layer_tables().items():
            print(f"per-layer self time, {args.workload} {kind} ops (traced steps):")
            for layer, s, share in rows:
                print(f"  {layer:<22} {s:9.4f} s  {100 * share:5.1f} %")
        wanted = spec["per_layer"]
    else:
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(step_seconds(step_ops for _t, step_ops in steps)),
            "driver_peak_rss_mb": named["driver_peak_rss_mb"],
        }
        wanted = spec["end_to_end"]
    for name, value in named.items():
        print(f"metric {name} = {value:.6g} {NAMED_UNITS[name]}")
    for name, value in gauges.items():
        print(f"gauge {name} = {value:.4g}")
    print(json.dumps({"report": report}))
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(ops),
                "failed": len(failed),
                "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
            }
        )
    )
    return 0


def step_seconds(op_lists) -> list[float]:
    return [sum(op.seconds for op in ops) for ops in op_lists]


NAMED_UNITS = {
    "setup_s": "s",
    "cold_build_s": "s",
    "rebuild_one_p50_s": "s",
    "rebuild_one_tail_s": "s",
    "noop_rebuild_p50_s": "s",
    "query_suite_s": "s",
    "failed_ops_frac": "1",
    "driver_peak_rss_mb": "MB",
}


def named_metrics(workload: str, steps, setup_s: float, failed_frac: float) -> dict[str, float]:
    """The end-to-end figures under the names a reader of the workload
    knows; ``op_p50_s`` is their workload-neutral form."""

    def seconds(kind: str) -> list[float]:
        return [op.seconds for _t, ops in steps for op in ops if op.kind == kind and not op.traced]

    out: dict[str, float] = {"setup_s": setup_s}
    if workload == "fw":
        out["cold_build_s"] = statistics.median(seconds("cold"))
        out["rebuild_one_p50_s"] = statistics.median(seconds("change_one"))
        out["rebuild_one_tail_s"] = max(seconds("change_one"))
        out["noop_rebuild_p50_s"] = statistics.median(seconds("noop"))
    else:
        out["query_suite_s"] = statistics.median(seconds("pass"))
    out["failed_ops_frac"] = failed_frac
    return out


def layer_metrics(w, tracer, steps, catalog_bytes: int, cpus: int) -> dict[str, float]:
    """Per-layer figures, per traced step."""
    from artigraph_spark.queries import bench_queries
    from spans import BACKEND_METHODS

    traced = [ops for is_traced, ops in steps if is_traced]
    untraced = [ops for is_traced, ops in steps if not is_traced]
    n = len(traced)
    totals = tracer.totals()

    def calls(name: str) -> float:
        return totals.get(name, (0, 0.0, 0.0, 0))[0] / n

    def incl(name: str) -> float:
        return totals.get(name, (0, 0.0, 0.0, 0))[1] / n

    m: dict[str, float] = {}
    for meth in BACKEND_METHODS:
        m[f"backends.{meth}.calls"] = calls(f"backends.{meth}")
        m[f"backends.{meth}.s"] = incl(f"backends.{meth}")
    ops = [op for step in traced for op in step]
    built = sum(op.built for op in ops) / n
    skipped = sum(op.skipped for op in ops) / n
    attempted = built + skipped
    nbytes = sum(totals.get(f"backends.{meth}", (0, 0.0, 0.0, 0))[3] for meth in BACKEND_METHODS) / n
    m["backends.bytes_written"] = nbytes
    m["backends.bytes_written_per_partition"] = nbytes / attempted if attempted else 0.0
    m["backends.catalog_bytes"] = float(catalog_bytes)
    m["io.read_s"], m["io.read_calls"] = incl("io.read"), calls("io.read")
    m["io.write_s"], m["io.write_calls"] = incl("io.write"), calls("io.write")
    m["storage.discover_s"] = incl("storage.discover")
    m["storage.content_fp_s"] = incl("storage.content_fp")
    m["storage.content_fp_calls"] = calls("storage.content_fp")
    m["graphs.snapshot_s"], m["graphs.snapshot_calls"] = incl("graphs.snapshot"), calls("graphs.snapshot")
    m["producers.map_s"] = incl("producers.map")
    m["producers.input_fp_s"] = incl("producers.input_fp")
    m["producers.input_fp_calls"] = calls("producers.input_fp")
    m["producers.body_s"] = incl("producers.body")
    m["executors.build_s"] = incl("executors.build")
    m["executors.self_s"] = totals.get("executors.build", (0, 0.0, 0.0, 0))[2] / n
    m["executors.built_partitions"] = built
    m["executors.skipped_partitions"] = skipped
    m["executors.memo_hit_ratio"] = skipped / attempted if attempted else 0.0
    m["queries.construct_s"] = incl("queries.construct")
    m["queries.action_s"] = incl("queries.action")

    counters = dict.fromkeys(sparkstats.SPARK_COUNTERS, 0.0)
    group_stages: dict[str, float] = {}
    for op in ops:
        for label, c in op.groups.items():
            for k, v in c.items():
                counters[k] += v
            group_stages[label] = group_stages.get(label, 0.0) + c["stages"]
    query_s = getattr(w, "query_s", {})
    for name in sorted(bench_queries()):
        m[f"queries.{name}.s"] = statistics.median(query_s[name]) if query_s.get(name) else 0.0
        m[f"queries.{name}.stages"] = group_stages.get(name, 0.0) / n
    for k, v in counters.items():
        m[f"spark.{k}"] = v / n
    traced_s = step_seconds(traced)
    m["spark.busy_frac"] = counters["executor_run_s"] / (sum(traced_s) * cpus)
    m["trace.overhead_frac"] = statistics.median(traced_s) / statistics.median(step_seconds(untraced)) - 1.0
    return m


if __name__ == "__main__":
    sys.exit(main())
