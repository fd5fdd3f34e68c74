"""Run one benchmark workload in one warm SparkSession and print its
metrics.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones (untraced); with
``--trace 1`` they are the per-layer ones from a traced run, whose spans
are also written to ``.bench_build/perfbench/traces/`` for
``perfbench/trace_report.py``. ``perfbench/README.md`` defines every
metric and workload.

Everything the run writes stays under ``.bench_build/perfbench/`` in the
checkout: Spark's local dirs, the JVM's and Python's temp dirs, the
layout cache and the etl destinations live in a fresh per-run directory
that is removed at the end.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data" / "sf0.01"
OUT = ROOT / ".bench_build" / "perfbench"

#: Session start and layout are each repeated this many times; the
#: reported set-up time uses their medians.
SETUP_REPEATS = 3
#: Warm seconds of one pass at local[4] (4-core x86 host, 15 GB RAM).
#: ``--seconds`` buys round(seconds / this) timed passes, at least one,
#: so a run does a fixed amount of work for a given ``--seconds``.
PASS_SECONDS = {"headline": 9.0, "etl": 10.5}

#: Units of the end-to-end metrics.
UNITS = {"cpu_s": "CPU-s", "setup_s": "s"}
#: Units of the per-layer metrics, in the order ``BENCHMARK.json`` lists them.
LAYER_UNITS = {
    "session.start_s": "s", "sources.layout_s": "s", "setup.warmup_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count", "catalog.load_s": "s",
    "spark.exec_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.failed_tasks": "count", "spark.cpu_s": "CPU-s",
    "spark.task_s": "s", "spark.gc_s": "s", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.input_mb": "MB",
    "spark.output_mb": "MB", "spark.slot_util": "ratio", "migrate.table_s": "s",
    "migrate.rows_read": "count", "migrate.rows_written": "count",
    "migrate.jobs_per_table": "count", "writers.upsert_s": "s",
    "writers.batch_rows": "count", "writers.files_rewritten": "count",
    "writers.files_total": "count", "writers.rewrite_ratio": "ratio",
    "sources.csv_report_s": "s", "trace.overhead_frac": "ratio",
}
#: Status-store figures summed over the operations of a pass.
SPARK_SUMS = ("exec_s", "jobs", "stages", "tasks", "failed_tasks", "cpu_s", "task_s",
              "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb",
              "output_mb")


def _now() -> float:
    return time.perf_counter()


def fingerprint(path: Path) -> list[tuple]:
    """Name, size, mtime and content hash of every input file."""
    return sorted((p.name, p.stat().st_size, p.stat().st_mtime_ns,
                   hashlib.sha256(p.read_bytes()).hexdigest()) for p in path.iterdir())


def isolate(work: str) -> None:
    """Point every scratch location of the driver, the JVM and the
    Python workers into ``work``; pin the program to its defaults."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # workers unpickle functions from prisma_migrator_spark by import path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.chdir(work)


class Runner:
    def __init__(self, args, work: str) -> None:
        from probes import NO_TRACE, ProcTree

        self.args = args
        self.work = work
        self.tree = ProcTree()
        self.no_trace = NO_TRACE
        self.spark = None
        self.latencies: list[float] = []
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0

    # set-up

    def setup(self) -> dict:
        from prisma_migrator_spark.session import get_spark
        from prisma_migrator_spark.sources.layout import optimize_layout
        from workloads import WORKLOADS

        cpus = len(os.sched_getaffinity(0))
        starts, layouts = [], []
        for i in range(SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
            t = _now()
            self.spark = get_spark("perfbench", cpus=cpus)
            starts.append(_now() - t)
            t = _now()
            data = optimize_layout(str(DATA), cache_root=os.path.join(self.work, f"layout{i}"))
            layouts.append(_now() - t)
        self.cores = self.spark.sparkContext.defaultParallelism
        self.wl = WORKLOADS[self.args.workload](self.spark, data, self.work, self.args.seed)
        t = _now()
        self.wl.stage()
        staging = _now() - t
        t = _now()
        self.run_pass("warmup", self.no_trace, count=False)
        warmup = _now() - t
        return {"session.start_s": statistics.median(starts),
                "sources.layout_s": statistics.median(layouts),
                "setup.staging_s": staging, "setup.warmup_s": warmup}

    # passes

    def run_pass(self, pass_no, tr, count: bool = True) -> tuple[float, float]:
        """Run one pass; return its wall and process-tree CPU seconds."""
        from probes import group_stats

        sc = self.spark.sparkContext
        cpu0, t0 = self.tree.cpu_s(), _now()
        for i, (name, fn) in enumerate(self.wl.ops(pass_no)):
            if tr.on:
                tr.group = f"{self.wl.name}:{name}#{pass_no}.{i}"
                sc.setJobGroup(tr.group, tr.group)
            with tr.op(self.wl.name, pass_no, name) as rec:
                t = _now()
                try:
                    problem = fn(tr)
                except Exception as exc:  # counted as a failed operation
                    problem = f"{name} raised {type(exc).__name__}: {str(exc)[:300]}"
                lat = _now() - t
            if tr.on:
                rec["latency_s"] = lat
                rec["spark"] = group_stats(sc, tr.group)
            if count:
                self.attempted += 1
                self.latencies.append(lat)
                self.failed += problem is not None
            if problem:
                self.problems.append(f"pass {pass_no}: {problem}")
        wall, cpu = _now() - t0, self.tree.cpu_s() - cpu0
        if tr.on:
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.wl.end_pass(pass_no)
        return wall, cpu

    def measure(self) -> dict:
        """Untraced timed passes: the end-to-end metrics."""
        from probes import RssSampler, host_ticks, steal_frac

        passes = max(1, round(self.args.seconds / PASS_SECONDS[self.args.workload]))
        rss = RssSampler(self.tree)
        ticks = host_ticks()
        rss.start()
        try:
            runs = [self.run_pass(p, self.no_trace) for p in range(passes)]
        finally:
            peak = rss.stop()
        # for people only: wall time, the median operation latency and
        # peak RSS spread too widely across identical runs to carry a
        # bound (see README.md), and a high steal share marks a run
        # slowed by neighbours on the host
        self.notes = {"wall_s": round(statistics.median(w for w, _ in runs), 4),
                      "pass_wall_s": [round(w, 3) for w, _ in runs],
                      "pass_cpu_s": [round(c, 2) for _, c in runs],
                      "op_p50_s": round(statistics.median(self.latencies), 4),
                      "peak_rss_mb": round(peak),
                      "host_steal_frac": round(steal_frac(ticks, host_ticks()), 3)}
        return {"cpu_s": statistics.median(c for _, c in runs)}

    def trace(self) -> tuple[dict, "Tracer"]:
        """Untraced and traced passes, alternating: the per-layer
        metrics, each a per-pass total (median over traced passes)."""
        from probes import Tracer

        self.wl.learn_tables()
        passes = max(1, round(self.args.seconds / PASS_SECONDS[self.args.workload]))
        tracer = Tracer()
        plain, traced = [], []
        for p in range(passes):
            plain.append(self.run_pass(2 * p, self.no_trace)[0])
            traced.append(self.run_pass(2 * p + 1, tracer)[0])
        per_pass = [layer_totals(tracer, 2 * p + 1, self.cores) for p in range(passes)]
        out = {k: statistics.median(d[k] for d in per_pass) for k in per_pass[0]}
        out["trace.overhead_frac"] = statistics.median(traced) / statistics.median(plain) - 1
        self.notes = {"passes": passes, "wall_untraced": plain, "wall_traced": traced}
        return out, tracer

    def verify(self) -> None:
        """Check the warm-up pass's outputs, before the timed passes."""
        self.problems += self.wl.verify(str(DATA))
        self.spark.catalog.clearCache()  # the timed passes start uncached

    def close(self) -> None:
        """Stop Spark, the JVM and every process this run started, and
        wait for them to end."""
        from pyspark import SparkContext

        me = os.getpid()
        others = [p for p in self.tree.pids() if p != me]
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF from its parent
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        for pid in self.tree.wait_gone(others, 30):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.tree.wait_gone(others, 10)


def layer_totals(tracer, pass_no: int, cores: int) -> dict:
    """Per-layer totals of one traced pass."""
    ops = [o for o in tracer.ops if o["pass"] == pass_no]
    ids = {o["id"] for o in ops}
    spans = [s for s in tracer.spans if s["op"] in ids]

    def span_s(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def counter(name):
        return sum(o["counters"].get(name, 0) for o in ops)

    spark = {k: sum(o["spark"][k] for o in ops) for k in SPARK_SUMS}
    migrate_ops = [o for o in ops if o["name"].startswith("migrate")]
    n_tables = counter("migrate.tables")
    files_total = counter("writers.files_total")
    out = {
        "plans.build_s": span_s("plans.build"),
        "plans.build_jobs": counter("plans.build_jobs"),
        "catalog.load_s": span_s("catalog.load"),
        **{f"spark.{k}": v for k, v in spark.items()},
        "spark.slot_util": spark["task_s"] / (spark["exec_s"] * cores) if spark["exec_s"] else 0.0,
        "migrate.table_s": counter("migrate.table_s") / n_tables if n_tables else 0.0,
        "migrate.rows_read": counter("migrate.rows_read"),
        "migrate.rows_written": counter("migrate.rows_written"),
        "migrate.jobs_per_table": (sum(o["spark"]["jobs"] for o in migrate_ops) / n_tables
                                   if n_tables else 0.0),
        "writers.upsert_s": span_s("writers.upsert"),
        "writers.batch_rows": counter("writers.batch_rows"),
        "writers.files_rewritten": counter("writers.files_rewritten"),
        "writers.files_total": files_total,
        "writers.rewrite_ratio": (counter("writers.files_rewritten") / files_total
                                  if files_total else 0.0),
        "sources.csv_report_s": span_s("sources.csv_report"),
    }
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PASS_SECONDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "prisma_migrator_spark" / "__init__.py").is_file() \
            or not (ROOT / "bench.py").is_file() or not DATA.is_dir():
        print(f"perfbench: {ROOT} is not a checkout of the repository "
              "(prisma_migrator_spark/, bench.py or the input data is missing)",
              file=sys.stderr)
        return 2
    OUT.mkdir(parents=True, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=OUT)
    isolate(work)
    sys.path[:0] = [str(HERE), str(ROOT)]
    before = fingerprint(DATA)
    runner = Runner(args, work)
    try:
        setup = runner.setup()
        runner.verify()
        if args.trace:
            metrics, tracer = runner.trace()
            metrics.update({k: setup[k] for k in
                            ("session.start_s", "sources.layout_s", "setup.warmup_s")})
        else:
            metrics = runner.measure()
            metrics["setup_s"] = sum(setup.values())
        master = runner.spark.sparkContext.master
    finally:
        runner.close()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    if fingerprint(DATA) != before:
        runner.problems.append("the input data changed during the run")

    units = {**UNITS, **LAYER_UNITS}
    print(f"perfbench {args.workload} seed={args.seed} master={master} "
          f"defaultParallelism={runner.cores} trace={args.trace} {runner.notes}")
    for p in runner.problems:
        print(f"  problem: {p}")
    if args.trace:
        trace_path = OUT / "traces" / f"{args.workload}-seed{args.seed}.json"
        trace_path.parent.mkdir(exist_ok=True)
        trace_path.write_text(json.dumps({
            "workload": args.workload, "seed": args.seed, "cores": runner.cores,
            "setup": setup, "notes": runner.notes, "metrics": metrics,
            "ops": tracer.ops, "spans": tracer.spans}))
        print(f"  trace: {trace_path.relative_to(ROOT)}")
    else:
        print(f"  failed_frac = {runner.failed / runner.attempted:.4f} "
              f"({runner.failed} of {runner.attempted} operations)")
    for k, v in metrics.items():
        print(f"  {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not runner.problems,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
