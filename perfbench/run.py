"""The waterdata-spark benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads: ``water_etl``
(perfbench/water.py), ``relational_sf01`` (perfbench/relational.py) and
``curation_sf01`` (perfbench/curation.py). ``BENCHMARK.json`` lists the
first two: a run of each workload takes 45-60 s on a 4-core host, and
the runs a comparison makes of three workloads would not fit its time
budget. Curation's ops are measured per layer in every traced run, and
it can still be run on its own. ``seed_values.json`` holds the figures
measured when the benchmark was added.

One process, one client, a closed loop: the ops of a round run one at a
time, each op's output is drained and checked before the next op starts.
Spark runs as ``local[N]`` with N the number of usable cores; the run
pins ``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM`` and
``SPARK_LOCAL_DIRS`` and echoes them, with the shuffle partitions and
the 1-minute load, in the run record it prints to stderr. Every round
measured is reported; nothing is retried.

``--trace 0`` (the untraced run) sets up the workload (staging repeated
``SETUP_REPEATS`` times, the median counted), runs its warm-up rounds,
then measures its ``min_rounds`` and as many more rounds as fit in
``--seconds``, and reports the end-to-end metrics. ``--trace 1`` (the
traced run) sets up all three workloads and warms each up. The named
workload runs untraced and traced rounds in turn for ``--seconds``;
each other workload runs one traced round.
It reports the per-layer metrics of every span, plus the
traced-minus-untraced ``round_p50_s`` of the named workload as the
tracing overhead, and writes the spans to ``.perfbench_work/spans/``.

The last stdout line is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
``attempted`` and ``failed`` count every op run, warm-up included; an
op fails when it raises or its output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("water_etl", "relational_sf01", "curation_sf01")
SETUP_REPEATS = 3
DRIVER_MEM = "2g"
#: the five counters every span reports
SPAN_METRICS = {
    "wall_s": "s",
    "jobs": "count",
    "task_s": "s",
    "busy_ratio": "ratio",
    "shuffle_write_mb": "MB",
}


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    its value. Below 20 samples that percentile would lie under the
    median, so the maximum is reported, as percentile 100."""
    s = sorted(samples)
    n = len(s)
    if n < 20:
        return 100.0, s[-1]
    return 100.0 * (n - 10) / n, s[n - 11]


class Bench:
    def __init__(self, args, t_start: float) -> None:
        self.args = args
        self.t_start = t_start
        self.cpus = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.attempted = 0
        self.failures: list[dict] = []

    # -- environment and session -------------------------------------------

    def pin_environment(self) -> dict[str, str]:
        env = {
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            # Python's temporary files (the gateway handshake, Python
            # workers) stay inside the checkout too
            "TMPDIR": os.path.join(self.work, "tmp"),
        }
        # and so do the JVMs' (Spark's launcher and the driver), with no
        # perf-data file under /tmp
        env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
        for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
            os.makedirs(d, exist_ok=True)
        os.environ.update(env)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        tempfile.tempdir = None  # re-read TMPDIR
        return env

    def start_spark(self):
        from waterdata_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        self.session_s = time.perf_counter() - t
        self.session_up_s = time.perf_counter() - self.t_start
        return spark

    @staticmethod
    def peak_rss_mb() -> tuple[float, float]:
        """Peak resident sets (MB) of the driver JVM and of this Python
        process."""
        from pyspark import SparkContext

        jvm_kb = 0
        with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return jvm_kb / 1024.0, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    @staticmethod
    def stop_spark(spark) -> None:
        """Stop the session, then the JVM, and wait until it has ended."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=120)

    # -- workloads ---------------------------------------------------------

    def make(self, name: str, spark, expected: dict):
        if name == "water_etl":
            from perfbench.water import Water

            return Water(spark, expected, self.args.seed, ROOT, self.work)
        if name == "relational_sf01":
            from perfbench.relational import Relational

            return Relational(spark, expected)
        from perfbench.curation import Curation

        return Curation(spark, expected, self.args.seed)

    def run_round(self, wl, rng, tracer, label: str):
        """One pass over the workload's ops; returns (wall, op results,
        round span)."""
        from perfbench.common import run_op

        ops = wl.round_ops(rng)
        state: dict = {}
        t = time.perf_counter()
        with tracer.span("round", op_id=label) as rspan:
            results = [run_op(op, tracer, state, f"{label}.{i}") for i, op in enumerate(ops)]
        wall = time.perf_counter() - t
        self.count(results)
        tracer.collect()
        return wall, results, rspan

    def warm_up(self, wl, rng, tracer) -> float:
        """The workload's warm-up rounds (JIT, codegen, Python workers);
        returns their total wall."""
        return sum(
            self.run_round(wl, rng, tracer, f"{wl.name}.warmup{i}")[0]
            for i in range(wl.warmup_rounds)
        )

    def run_traced_only(self, wl, tracer, label: str) -> None:
        from perfbench.common import run_op

        ops = wl.traced_only_ops()
        if ops:
            with tracer.span("traced_only", op_id=label):
                self.count([run_op(op, tracer, {}, f"{label}.{i}") for i, op in enumerate(ops)])
            tracer.collect()

    def count(self, results) -> None:
        for r in results:
            self.attempted += 1
            if r.error:
                self.failures.append({"op": r.op_id, "span": r.span, "error": r.error})
                print(f"# FAILED {r.op_id} {r.span}: {r.error}", file=sys.stderr)

    def rounds_for(self, wl, rng, tracer, seconds: float, label: str, min_rounds: int) -> list:
        """``min_rounds`` rounds, then more while the median round so far
        still fits in ``seconds``."""
        out = []
        t0 = time.perf_counter()
        while len(out) < min_rounds or (
            time.perf_counter() - t0 + statistics.median(w for w, _, _ in out) <= seconds
        ):
            out.append(self.run_round(wl, rng, tracer, f"{label}{len(out)}"))
        return out

    def paired_rounds(self, wl, rng, off, tracer, seconds: float) -> tuple[list, list]:
        """Pairs of one untraced and one traced round, untraced first in
        even pairs and traced first in odd ones; at least two pairs, then
        more while the median pair so far still fits in ``seconds``.
        Drift in the host or the JIT thus weighs on both sides alike.
        The traced-only ops run ahead of each traced round, outside its
        timing."""
        plain: list = []
        traced: list = []
        t0 = time.perf_counter()
        while len(traced) < 2 or (
            time.perf_counter() - t0
            + statistics.median(p[0] + t[0] for p, t in zip(plain, traced))
            <= seconds
        ):
            n = len(traced)
            for traced_turn in (n % 2 == 1, n % 2 == 0):
                if traced_turn:
                    self.run_traced_only(wl, tracer, f"{wl.name}.x{n}")
                    traced.append(self.run_round(wl, rng, tracer, f"{wl.name}.t{n}"))
                else:
                    plain.append(self.run_round(wl, rng, off, f"{wl.name}.r{n}"))
        return plain, traced

    # -- the two kinds of run ----------------------------------------------

    def untraced(self, spark, expected: dict, record: dict) -> dict:
        from perfbench.tracing import Tracer

        off = Tracer(spark, enabled=False)
        wl = self.make(self.args.workload, spark, expected)
        stagings = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.setup()
            stagings.append(time.perf_counter() - t)
        rng = np.random.default_rng([self.args.seed, WORKLOADS.index(wl.name)])
        warm = self.warm_up(wl, rng, off)
        setup_s = self.session_up_s + statistics.median(stagings) + warm

        rounds = self.rounds_for(wl, rng, off, self.args.seconds, "r", wl.min_rounds)
        walls = [w for w, _, _ in rounds]
        op_walls = [r.wall_s for _, results, _ in rounds for r in results]
        pct, tail_s = tail(op_walls)
        rss = self.peak_rss_mb()
        record.update(
            session_up_s=self.session_up_s,
            staging_s=stagings,
            warmup_s=warm,
            round_s=walls,
            ops=[[r.span, r.wall_s] for _, results, _ in rounds for r in results],
            op_tail_percentile=pct,
            op_samples=len(op_walls),
            rows_per_round=wl.rows_per_round,
            rss=rss,
        )
        return {
            "setup_s": (setup_s, "s"),
            "round_p50_s": (statistics.median(walls), "s"),
            "rows_per_s": (wl.rows_per_round * len(walls) / sum(walls), "rows/s"),
            "op_p50_s": (statistics.median(op_walls), "s"),
            "op_tail_s": (tail_s, "s"),
        }

    def traced(self, spark, expected: dict, record: dict) -> dict:
        from perfbench.tracing import Tracer

        tracer = Tracer(spark, enabled=True)
        off = Tracer(spark, enabled=False)
        names = [self.args.workload] + [w for w in WORKLOADS if w != self.args.workload]
        wls = [self.make(n, spark, expected) for n in names]
        for wl in wls:
            wl.setup()
        metrics: dict[str, tuple[float, str]] = {}
        traced_rounds: dict[str, list] = {}
        for i, wl in enumerate(wls):
            rng = np.random.default_rng([self.args.seed, WORKLOADS.index(wl.name)])
            self.warm_up(wl, rng, off)
            if i == 0:
                plain, rounds = self.paired_rounds(wl, rng, off, tracer, self.args.seconds)
                overhead = statistics.median(w for w, _, _ in rounds) - statistics.median(
                    w for w, _, _ in plain
                )
                metrics["trace.round_overhead_s"] = (overhead, "s")
                record.update(untraced_round_s=[w for w, _, _ in plain], traced_round_s=[w for w, _, _ in rounds])
            else:
                self.run_traced_only(wl, tracer, f"{wl.name}.x0")
                rounds = [self.run_round(wl, rng, tracer, f"{wl.name}.t0")]
            traced_rounds[wl.name] = [rspan for _, _, rspan in rounds]

        for wl in wls:
            for name in wl.spans:
                calls = [sp for sp in tracer.spans if sp.name == name]
                if not calls:
                    raise RuntimeError(f"span {name} was never recorded")
                per_call = [self.span_counters(tracer, sp) for sp in calls]
                for key, unit in SPAN_METRICS.items():
                    metrics[f"{name}.{key}"] = (statistics.median(c[key] for c in per_call), unit)
            spill, gc = [], []
            for rspan in traced_rounds[wl.name]:
                spans = tracer.subtree(rspan)
                spill.append(sum(sp.counters["disk_spill_bytes"] for sp in spans) / 1e6)
                gc.append(sum(sp.counters["gc_ms"] for sp in spans) / 1e3)
            metrics[f"{wl.name}.spill_mb"] = (statistics.median(spill), "MB")
            metrics[f"{wl.name}.gc_s"] = (statistics.median(gc), "s")
            for k, v in wl.layer_extras(tracer, traced_rounds[wl.name]).items():
                metrics[k] = (v, "ratio")
        metrics["session.get_spark.wall_s"] = (self.session_s, "s")
        jvm_mb, python_mb = self.peak_rss_mb()
        metrics["jvm.peak_rss_mb"] = (jvm_mb, "MB")
        metrics["python.peak_rss_mb"] = (python_mb, "MB")

        spans_dir = os.path.join(ROOT, ".perfbench_work", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        spans_path = os.path.join(spans_dir, f"{self.args.workload}-seed{self.args.seed}.jsonl")
        tracer.write_jsonl(spans_path)
        record["spans_file"] = os.path.relpath(spans_path, ROOT)
        return metrics

    def span_counters(self, tracer, root) -> dict[str, float]:
        spans = tracer.subtree(root)
        task_s = sum(sp.counters["executor_run_ms"] for sp in spans) / 1e3
        return {
            "wall_s": root.wall_s,
            "jobs": float(sum(sp.jobs for sp in spans)),
            "task_s": task_s,
            "busy_ratio": task_s / (root.wall_s * self.cpus),
            "shuffle_write_mb": sum(sp.counters["shuffle_write_bytes"] for sp in spans) / 1e6,
        }

    def run(self) -> dict:
        from perfbench.common import load_expected

        record = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "cores": self.cpus,
        }
        try:
            record["env"] = self.pin_environment()
            expected = load_expected()
            spark = self.start_spark()
            try:
                record["shuffle_partitions"] = int(spark.conf.get("spark.sql.shuffle.partitions"))
                record["load1_start"] = os.getloadavg()[0]
                if self.args.trace:
                    metrics = self.traced(spark, expected, record)
                else:
                    metrics = self.untraced(spark, expected, record)
            finally:
                t = time.perf_counter()
                self.stop_spark(spark)
                record["teardown_s"] = time.perf_counter() - t
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            parent = os.path.dirname(self.work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
        record.update(
            load1_end=os.getloadavg()[0],
            attempted=self.attempted,
            failed=len(self.failures),
            failed_op_ratio=len(self.failures) / max(self.attempted, 1),
            failures=self.failures,
        )
        print("# run " + json.dumps(record), file=sys.stderr)
        return {
            "correct": not self.failures and self.attempted > 0,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def main() -> int:
    t_start = time.perf_counter() - seconds_since_process_start()
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    sys.path[0] = ROOT  # import the engine and this package from the checkout
    result = Bench(args, t_start).run()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
