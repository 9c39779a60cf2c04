"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,analytics,all}
                             --seed N --seconds S --trace {0,1}

Runs one workload against the engine package in this checkout, from
one process, with Spark at ``local[nproc]``. Inputs come from
``gen.py`` and the seed; every output is checked outside the clock.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Lines before it are a human-readable report. ``--workload all`` runs
the workloads one after another, each in its own process.

Exits non-zero without a result line when the engine package is not
next to this directory.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "unified_log_aggregation_and_analytics_spark"
WORKLOADS = ("ingest", "analytics")
E2E = {
    "setup_s": "s",
    "log_s": "s",
    "llm_s": "s",
    "latency_ms": "ms",
    "latency_ms_tail": "ms",
}
# Per-layer metrics of the traced run. Every workload reports all of
# them; a layer a workload bypasses reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "sources.offset_ms": "ms",
    "sources.files_per_batch": "count",
    "pipeline.add_batch_ms": "ms",
    "pipeline.planning_ms": "ms",
    "pipeline.checkpoint_ms": "ms",
    "pipeline.dlq_ratio": "ratio",
    "pipeline.dlq_split_ms": "ms",
    "fence.append_ms": "ms",
    "fence.appends": "count",
    "fence.mark_ms": "ms",
    "fence.marker_list_ms": "ms",
    "corpus.batch_ms": "ms",
    "vectors.batch_ms": "ms",
    "vectors.merge_ms": "ms",
    "media.batch_ms": "ms",
    "semantic.batch_ms": "ms",
    "corpus.kept_ratio": "ratio",
    "vectors.kept_ratio": "ratio",
    "media.kept_ratio": "ratio",
    "semantic.kept_ratio": "ratio",
    "catalog.build_ms": "ms",
    "relational.ms": "ms",
    "search.ms": "ms",
    "logs.ms": "ms",
    "dedup.ms": "ms",
    "ann.ms": "ms",
    "text.ms": "ms",
    "sampling.ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "driver.residue_ms": "ms",
    "gen.late_ms_max": "ms",
    "gen.backlog_files_end": "count",
    "trace.overhead_ratio": "ratio",
}
# Self-test knobs: input sizes scaled by PERFBENCH_SCALE; with
# PERFBENCH_CORRUPT=1 a run damages one of its own outputs after the
# clock, so its checks must fail.
SCALE = float(os.environ.get("PERFBENCH_SCALE", "1"))
CORRUPT = os.environ.get("PERFBENCH_CORRUPT") == "1"


def scaled(n: int, floor: int = 1) -> int:
    return max(floor, round(n * SCALE))


# Caches the catalog keeps under the repo root, keyed by the basename
# of the table directory; each run uses a fresh basename and removes
# its own entries when it ends.
REPO_CACHES = (".ann_index", ".lm_model", ".tok_delta", ".sketch_cube")


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def tail(values: list[float]) -> float:
    """p90, nearest rank. A run takes 14-16 samples, too few for a
    percentile with 10 samples beyond it to lie above the median."""
    s = sorted(values)
    return s[math.ceil(0.9 * len(s)) - 1]


def p50(values: list[float]) -> float:
    return statistics.median(values)


def typical(values: list[float]) -> float:
    """Geometric mean: every sample counts, so a mix of operations with
    distinct latencies does not jump between them the way its median
    does."""
    return statistics.geometric_mean(values)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Ctx:
    """Per-run state shared by the workloads: paths, the Spark session,
    the tracer, the clock marks and the check tallies."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool) -> None:
        from spans import Tracer
        from unified_log_aggregation_and_analytics_spark.sources.batch import DEFAULT_SF_DIR

        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tracer = Tracer(trace)
        self.traced = trace
        self.tag = f"pb-{workload}-s{seed}-p{os.getpid()}"
        self.work = os.path.join(ROOT, ".perfbench_run", self.tag)
        # the engine's sf0.1 test tables: read-only inputs of the
        # analytics mix and the source rows of the LLM sinks' backlogs
        self.sf_dir = DEFAULT_SF_DIR
        if not os.path.isfile(os.path.join(self.sf_dir, "documents.parquet")):
            raise FileNotFoundError(f"sf0.1 test tables not found in {self.sf_dir} (set SPARK_GRAFT_SF_DIR)")
        self.spark = None
        self.setup_s = None
        self.attempted = 0
        self.failed = 0
        self.report: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = {}
        self.checks: list[str] = []
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.path("tmp"))
        self._clear_caches()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def _clear_caches(self) -> None:
        for c in REPO_CACHES:
            shutil.rmtree(os.path.join(ROOT, c, self.tag), ignore_errors=True)

    def start_spark(self):
        from unified_log_aggregation_and_analytics_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # JVM scratch files stay inside the run directory too
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}",
        }
        if self.traced:
            # keep every stage of the run in the status store
            conf.update({"spark.ui.retainedStages": "100000", "spark.ui.retainedJobs": "100000"})
        t0 = time.perf_counter()
        with self.tracer.span("get_spark"):
            self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        self.layers["session.start_s"] = time.perf_counter() - t0
        self.report["setup.session_s"] = (self.layers["session.start_s"], "s")
        return self.spark

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_PROCESS

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.checks.append(f"MISMATCH {name} {detail}")

    def close(self) -> None:
        self.tracer.unwrap_all()
        if self.spark is not None:
            from pyspark import SparkContext

            for q in self.spark.streams.active:
                q.stop()
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            self.spark.stop()
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        self._clear_caches()
        shutil.rmtree(self.work, ignore_errors=True)


def run_one(args) -> int:
    cpus = str(nproc())
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    sys.path[:0] = [ROOT, HERE]
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    load_start = os.getloadavg()

    import importlib

    cpu_start = _cpu_times()
    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace))
    os.environ["SPARK_LOCAL_DIRS"] = ctx.path("spark-local")
    os.environ["TMPDIR"] = ctx.path("tmp")
    try:
        e2e = importlib.import_module(args.workload).run(ctx)
        if ctx.traced:
            trace_dir = os.path.join(ROOT, ".perfbench_run", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json")
            ctx.tracer.dump(trace_path)
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return 1
    finally:
        import pyspark

        spark_version = pyspark.__version__
        ctx.close()
    load_end = os.getloadavg()
    cpu = [b - a for a, b in zip(cpu_start, _cpu_times())]
    steal = cpu[7] / max(sum(cpu), 1) if len(cpu) > 7 else 0.0

    e2e["setup_s"] = ctx.setup_s
    failed_ratio = ctx.failed / max(ctx.attempted, 1)
    print(
        f"# host nproc={cpus} SPARK_GRAFT_CPUS={cpus} spark={spark_version} "
        f"python={platform.python_version()} loadavg_start={load_start[0]:.2f} "
        f"loadavg_end={load_end[0]:.2f} cpu_steal={steal:.3%}"
    )
    for line in ctx.checks:
        print(f"# {line}")
    print(f"# {args.workload}: failed_ratio {failed_ratio:.6f} ratio")
    for name, (value, unit) in ctx.report.items():
        print(f"# {args.workload}: {name} {value:.6g} {unit}")
    if ctx.traced:
        for name, ms in sorted(ctx.tracer.self_times_ms().items(), key=lambda kv: -kv[1]):
            print(f"# span self time {name} {ms:.3f} ms")
        print(f"# trace file {os.path.relpath(trace_path, ROOT)}")
        metrics = {k: {"value": ctx.layers.get(k, 0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


def run_all(args) -> int:
    """Each workload in its own process; the summary line nests their
    metrics under ``<workload>.<metric>``."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, cwd=ROOT,
        )
        lines = out.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        if out.returncode != 0 or not lines:
            sys.stderr.write(out.stderr[-4000:])
            return out.returncode or 1
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        sys.stderr.write(f"error: engine package {PACKAGE}/ not found next to perfbench/\n")
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
