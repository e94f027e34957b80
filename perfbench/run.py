"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 42 --seconds 10 --trace 0

Run from the repository root. One driver process on ``local[nproc]``.
Prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones
(see README.md). Inputs, Spark scratch space, the warehouse and the event
log live in a temp dir under ``.perfbench_tmp/`` that is removed on exit;
the run's spans and outputs are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

# One BLAS thread in this process too: the Python-stage replay must run
# with the setting Spark's Python workers get. Set before numpy loads.
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

ROOT = os.getcwd()
SETUP_REPEATS = 3
REPLAY_DOCS = 2048


def start_spark(workload, tmp: str, cores: int, event_log: str | None = None):
    from glre_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    return get_spark(f"perfbench_{workload.name}", cores=cores, extra_conf=conf)


def stop_jvm(spark) -> None:
    """Stop the context, then the JVM this process launched, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


class Runner:
    """Timed loop shared by every workload: warm-up iterations that are
    checked but not timed (JIT, Python-worker caches), then iterations
    until ``seconds`` are used up (at least two), each one checked."""

    def __init__(self, workload, ctx, pinned):
        self.w, self.ctx, self.pinned = workload, ctx, pinned
        self.attempted = self.failed = 0
        self.first: dict | None = None

    def record(self, bad: list[str]) -> None:
        self.attempted += 1
        if bad:
            print(f"[perfbench] {self.w.name}: output check failed: {bad}", file=sys.stderr)
            self.failed += 1

    def _one(self) -> float | None:
        try:
            wall, out = self.w.iteration(self.ctx)
        except Exception:  # noqa: BLE001 — a failed iteration is counted, not fatal
            traceback.print_exc()
            self.record(["iteration raised"])
            return None
        self.first = self.first or out
        self.record(self.w.problems(out, self.first, self.pinned))
        return wall

    def timed(self, seconds: float, warmups: int) -> list[float]:
        for _ in range(warmups):
            self._one()
        walls: list[float] = []
        t0 = time.perf_counter()
        while True:
            wall = self._one()
            if wall is not None:
                walls.append(wall)
            elif self.failed >= 3:
                break
            if len(walls) >= 2 and time.perf_counter() - t0 + statistics.median(walls) > seconds:
                break
        return walls


def layer_metrics(workload, ctx, groups, traced: dict, tag: str) -> dict[str, float]:
    """Per-layer metrics of the traced iteration whose job groups and
    spans carry ``tag``."""
    from perfbench.catalog import PER_LAYER, SPAN_METRICS
    from perfbench.tracing import GroupStats

    m = dict(traced)
    for s in ctx.tracer.spans:
        if s["attrs"].get("tag") != tag:
            continue
        key = SPAN_METRICS.get(s["name"])
        if key:
            m[key] = m.get(key, 0.0) + s["end_s"] - s["start_s"]

    def g(name: str) -> GroupStats:
        return groups.get(f"{name}{tag}", GroupStats())

    inf = GroupStats()
    for name in workload.inference_groups:
        inf.add(g(name).python_stages())
    m["inference.stage_s"] = inf.wall_s
    m["inference.tasks"] = inf.tasks
    m["inference.task_cpu_s"] = inf.cpu_s
    m["inference.task_skew"] = inf.skew() if inf.tasks else 0.0
    m["pipeline.exchange_mb"] = g("pipeline.prepare").shuffle_write_mb
    m["lineage.jobs_per_pass"] = (len(g("lineage.first_pass").jobs) + len(g("lineage.resume").jobs)) / 2
    total = GroupStats()
    if workload.spark_groups is None:
        for name, st in groups.items():
            if name and name.endswith(tag):
                total.add(st)
    else:
        for name in workload.spark_groups:
            total.add(g(name))
    m["spark.jobs"] = len(total.jobs)
    m["spark.stages"] = len(total.stages)
    m["spark.tasks"] = total.tasks
    m["spark.task_run_s"] = total.run_s
    m["spark.task_cpu_s"] = total.cpu_s
    m["spark.gc_s"] = total.gc_s
    m["spark.shuffle_write_mb"] = total.shuffle_write_mb
    m["spark.spill_mb"] = total.spill_mb
    return {k: float(m.get(k, 0.0)) for k in PER_LAYER}


def task_time_shares(groups, tag: str) -> dict[str, float]:
    """Share of the traced iteration's task run time per job group
    (kg_build's fused pass is left out: its layers are the staged
    groups)."""
    mine = {name[: -len(tag)]: st for name, st in groups.items()
            if name and name.endswith(tag) and not name.startswith("fused")}
    total = sum(st.run_s for st in mine.values()) or 1.0
    return {name: round(st.run_s / total, 4) for name, st in sorted(mine.items())}


def traced_run(workload, ctx, runner, untraced_wall: float, report: dict):
    """Restart the context with the event log on (same JVM), run two
    traced iterations (the first warms the new context's Python workers;
    the metrics are the second's), then parse the log offline and replay
    the Python stage in-process."""
    from perfbench.tracing import read_event_logs

    ctx.spark.stop()
    log_dir = os.path.join(ctx.tmp, "eventlog")
    ctx.spark = start_spark(workload, ctx.tmp, ctx.cores, event_log=log_dir)
    workload.prepare(ctx)
    walls: list[float] = []
    while len(walls) < 2:
        ctx.tag = f"@{len(walls)}"
        traced, out, wall = workload.traced_iteration(ctx)
        walls.append(wall)
        bad = [f"staged {k}={v!r}, fused {runner.first.get(k)!r}"
               for k, v in out.items() if runner.first.get(k) != v]
        runner.record(bad)
    ctx.spark.stop()
    groups = read_event_logs(log_dir)
    metrics = layer_metrics(workload, ctx, groups, traced, ctx.tag)
    metrics["trace.untraced_wall_s"] = untraced_wall
    metrics["trace.traced_wall_s"] = walls[-1]
    metrics["trace.overhead_s"] = walls[-1] - untraced_wall
    report.update(traced_walls=walls, task_time_shares=task_time_shares(groups, ctx.tag))
    pages = workload.replay_pages(ctx, REPLAY_DOCS)
    if pages:
        from glre_spark.session import ARROW_MAX_RECORDS_PER_BATCH
        from perfbench.replay import replay_python_stage

        metrics.update(replay_python_stage(pages, ctx.tracer, ARROW_MAX_RECORDS_PER_BATCH))
    report["spans"] = ctx.tracer.spans
    return metrics


def run(args) -> dict:
    from perfbench.catalog import END_TO_END, PER_LAYER
    from perfbench.tracing import python_worker_peak_mb
    from perfbench.workloads import WORKLOADS, Ctx

    workload = WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{workload.name}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # the gateway launcher's and workers' temp files
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")) as f:
        pinned = json.load(f).get(workload.name, {}).get(str(args.seed))
    report: dict = {"workload": workload.name, "seed": args.seed, "cores": cores,
                    "docs": workload.docs, "trace": args.trace}
    ctx = None
    try:
        ctx = Ctx(spark=start_spark(workload, tmp, cores), seed=args.seed, cores=cores, tmp=tmp)
        setups = []
        for _ in range(1 if args.trace else SETUP_REPEATS):
            t0 = time.perf_counter()
            workload.setup(ctx)
            setups.append(time.perf_counter() - t0)
        # Measure in a fresh context (same JVM): the Python workers that
        # generated the inputs are not the ones that run the program.
        ctx.spark.stop()
        ctx.spark = start_spark(workload, tmp, cores)
        workload.prepare(ctx)
        runner = Runner(workload, ctx, pinned)
        walls = runner.timed(args.seconds / 2 if args.trace else args.seconds, workload.warmups)
        if not walls:
            raise RuntimeError(f"{workload.name}: no iteration completed")
        wall = statistics.median(walls)
        report.update(setup_walls=setups, walls=walls, outputs=runner.first)
        if args.trace:
            metrics = traced_run(workload, ctx, runner, wall, report)
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": statistics.median(setups),
                "wall_s": wall,
                "docs_per_s": workload.docs / wall,
                "py_rss_mb": python_worker_peak_mb(os.getpid()),
            }
            units = END_TO_END
    finally:
        if ctx is not None:
            stop_jvm(ctx.spark)
        shutil.rmtree(tmp, ignore_errors=True)
    report.update(metrics=metrics, attempted=runner.attempted, failed=runner.failed)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{workload.name}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(report, f, indent=1, default=str)
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    # the directory holding perfbench/, whatever the working directory
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="glre-spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "glre_spark", "pipeline.py")):
        print("perfbench: glre_spark/ not found; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import glre_spark from the checkout too.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
