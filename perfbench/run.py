#!/usr/bin/env python3
"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run builds its inputs from ``--seed``
under ``.perfbench_work/`` (removed at exit), starts one Spark session
on ``local[<nproc>]``, runs the workload's timed loop from a single
closed-loop client for ``--seconds`` (and at least the workload's
minimum of whole operations), checks the outputs, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the
per-layer ones (see perfbench/README.md). A failed correctness check
prints ``"correct": false`` and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE_DIR = os.path.join(ROOT, "dex_data_ingestor_spark")

#: Input sizes per workload (see README.md for why each is what it is).
SCALE = {
    "warehouse_mix": {"sf": 0.1},
    "corpus_curation": {"docs": 1000, "vecs": 500},
    "hourly_sync": {"events_sf": 0.1, "warm_hours": 12, "cycle_hours": 24},
}
#: The fixture build is repeated this many times and its median taken.
BUILD_REPS = 3

_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def env_info() -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "pyspark": pyspark.__version__,
        "loadavg_1m": os.getloadavg()[0],
    }


class Context:
    """Run state shared by the harness and the workloads."""

    def __init__(self, args, work_dir: str, tracer) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.rng = random.Random(args.seed)
        self.scale = SCALE[args.workload]
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, "data")
        self.tracer = tracer
        self.spark = None
        self.ops: list[dict] = []
        self.alternate = False
        #: operation name -> [first-seen index, executions so far]
        self._turns: dict[str, list[int]] = {}
        self.attempted = 0
        self.failed = 0

    def count_failure(self, what: str, exc: BaseException) -> None:
        self.failed += 1
        print(f"perfbench: {what} failed: {exc!r}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def run_op(self, name: str, fn) -> None:
        """Time one operation; ``fn(rec)`` may add fields to ``rec``.

        When alternating, each name's executions switch between
        untraced and traced, and consecutive names start on opposite
        modes, so both modes sample every operation, early and late in
        the run, under the same warm-up and box load."""
        if self.alternate:
            turn = self._turns.setdefault(name, [len(self._turns), 0])
            self.tracer.active = sum(turn) % 2 == 1
            turn[1] += 1
        rec = {"name": name, "construct_s": 0.0, "ok": False, "traced": self.tracer.active}
        if self.tracer.active:
            self.spark.sparkContext.setJobGroup(
                f"{self.workload}/{name}", f"{self.workload} {name} #{len(self.ops)}"
            )
        self.attempted += 1
        rec["start_ms"] = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", op=name):
                fn(rec)
            rec["ok"] = True
        except Exception as exc:  # noqa: BLE001 - counted, run goes on
            self.count_failure(name, exc)
        rec["wall_s"] = time.perf_counter() - t0
        rec["end_ms"] = time.time() * 1000.0
        if self.tracer.active:
            self.spark.sparkContext.setJobGroup("perfbench/untimed", "untimed")
        self.ops.append(rec)

    def ok_ops(self) -> list[dict]:
        return [op for op in self.ops if op["ok"]]


def start_session(work_dir: str, trace: bool):
    from dex_data_ingestor_spark.session import get_session

    n = nproc()
    confs = {
        "spark.driver.memory": "3g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work_dir}/tmp "
        f"-Dderby.system.home={work_dir}/tmp",
    }
    if trace:
        os.makedirs(os.path.join(work_dir, "eventlog"), exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_session(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_confs=confs,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway  # noqa: SLF001
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def instrument_layers(tracer) -> None:
    from dex_data_ingestor_spark import io, snapshots
    from dex_data_ingestor_spark.operators.incremental import Bookmark
    from dex_data_ingestor_spark.plans import pipelines

    from perfbench.trace import instrument, wrap_mapping

    instrument(tracer, io, "load_table", "io.load_table")
    instrument(tracer, snapshots, "snapshot_write", "snapshots.write")
    instrument(tracer, pipelines.DexWarehouse, "merge_write", "pipelines.merge_write")
    instrument(tracer, Bookmark, "get_last_run", "incremental.bookmark")
    instrument(tracer, Bookmark, "set_last_run", "incremental.bookmark")
    for task in ("sync_dim_tokens", "sync_token_daily_stats", "sync_yield_stats"):
        wrap_mapping(tracer, pipelines.TASKS, task, f"pipelines.{task}")


def timed_phase(ctx, wl, seconds: float, alternate: bool = False) -> None:
    """Run whole operations for ``seconds`` and at least ``wl.min_ops``.
    With ``alternate`` (traced runs) both take twice as long and every
    operation name alternates between untraced and traced executions
    (see :meth:`Context.run_op`)."""
    reps = 2 if alternate else 1
    ctx.alternate = alternate
    deadline = time.perf_counter() + reps * seconds
    done = 0
    while (time.perf_counter() < deadline or done < reps * wl.min_ops
           or not wl.at_boundary()):
        if not wl.step(ctx):
            break
        done += 1
    ctx.alternate = ctx.tracer.active = False


def exec_layers(ctx) -> dict:
    """Stage metrics per timed operation, from the event log."""
    from perfbench.eventlog import fold_ops, read_log, serial_stages

    ops = ctx.ok_ops()
    fold_ops(ops, *read_log(os.path.join(ctx.work_dir, "eventlog")))
    n = len(ops)

    def per_op(key):
        return sum(s[key] for op in ops for s in op["stages"]) / n

    first: dict[str, dict] = {}
    for op in ops:
        first.setdefault(op["name"], op)
    task_s = sum(s["run_s"] for op in ops for s in op["stages"])
    return {
        "exec.tasks": per_op("tasks"),
        "exec.stages": sum(len(op["stages"]) for op in ops) / n,
        "exec.task_time_s": task_s / n,
        "exec.parallelism": task_s / sum(op["wall_s"] for op in ops),
        "exec.serial_stages": sum(serial_stages(op) for op in first.values()),
        "exec.shuffle_read_bytes": per_op("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": per_op("shuffle_write_bytes"),
        "exec.spill_bytes": per_op("spill_bytes"),
        "exec.fetch_wait_s": per_op("fetch_wait_s"),
        "exec.gc_s": per_op("gc_s"),
    }


def io_layers(ctx) -> dict:
    n = len(ctx.ok_ops())
    per_op = ctx.tracer.totals_within("io.load_table", "op")
    return {
        "io.load_table_s": sum(per_op.values()) / n,
        "io.load_table_calls": len(ctx.tracer.by_name("io.load_table")) / n,
    }


def result_line(correct: bool, ctx, metrics: dict, spec: list[dict]) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec
        },
    })


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(PACKAGE_DIR):
        print(f"perfbench: no package at {PACKAGE_DIR}; run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    spec = bench["per_layer" if args.trace else "end_to_end"]

    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    # every temp file of this process, the JVM and the Python workers
    # stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    # no hsperfdata files under /tmp from the launcher and driver JVMs
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    tracer = Tracer()
    ctx = Context(args, work_dir, tracer)
    wl = WORKLOADS[args.workload]()
    info = {"workload": args.workload, "seed": args.seed, "before": env_info()}
    metrics: dict[str, float] = {}
    problems: list[str] = []
    try:
        problems = _run(args, ctx, wl, metrics)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:
            pass  # another run still uses it
    info["after"] = env_info()
    info["problems"] = problems
    print(json.dumps(info))
    for p in problems:
        print(f"perfbench: MISMATCH {p}", file=sys.stderr)
    print(result_line(not problems, ctx, metrics, spec))
    return 1 if problems else 0


def _run(args, ctx, wl, metrics: dict) -> list[str]:
    """Set up, gate and measure; returns the correctness problems."""
    tracer = ctx.tracer
    problems: list[str] = []
    try:
        t0 = time.perf_counter()
        ctx.spark = start_session(ctx.work_dir, bool(args.trace))
        metrics["session.start_s"] = time.perf_counter() - t0
        if args.trace:
            instrument_layers(tracer)
        builds = []
        for rep in range(BUILD_REPS):
            t0 = time.perf_counter()
            if rep == 0:
                wl.build(ctx)
            else:
                _rebuild(ctx, wl, rep)
            builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        _warm_tables(ctx)
        wl.prepare(ctx)
        prepare_s = time.perf_counter() - t0
        metrics["setup_s"] = metrics["session.start_s"] + statistics.median(builds) + prepare_s

        log(f"setup {metrics['setup_s']:.2f}s")
        if wl.gate_first:
            t0 = time.perf_counter()
            problems = wl.gate(ctx)
            log(f"gate {time.perf_counter() - t0:.2f}s")
        t0 = time.perf_counter()
        # a traced run interleaves untraced and traced passes: the
        # difference between the two is the tracing overhead
        timed_phase(ctx, wl, args.seconds, alternate=bool(args.trace))
        log(f"timed {time.perf_counter() - t0:.2f}s, {len(ctx.ops)} ops")
        timed = ctx.ops
        ctx.ops = [op for op in timed if not op["traced"]]
        if not ctx.ok_ops():
            return problems + ["no timed operation succeeded"]
        if args.trace:
            untraced = wl.e2e(ctx)
            ctx.ops = [op for op in timed if op["traced"]]
            if not ctx.ok_ops():
                return problems + ["no traced operation succeeded"]
            traced = wl.e2e(ctx)
            metrics["trace.untraced_op_p50_s"] = untraced["op_p50_s"]
            metrics["trace.traced_op_p50_s"] = traced["op_p50_s"]
            metrics["trace.overhead_share"] = traced["op_p50_s"] / untraced["op_p50_s"] - 1.0
            metrics.update(io_layers(ctx))
            metrics.update(wl.layers(ctx))
        else:
            metrics.update(wl.e2e(ctx))
        if not wl.gate_first:
            t0 = time.perf_counter()
            problems = wl.gate(ctx)
            log(f"gate {time.perf_counter() - t0:.2f}s")
    finally:
        t0 = time.perf_counter()
        stop_session(ctx.spark)
        log(f"stop {time.perf_counter() - t0:.2f}s")
    if args.trace:
        metrics.update(exec_layers(ctx))
        metrics["trace.spans"] = len(tracer.spans)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
    return problems


def _rebuild(ctx, wl, rep: int) -> None:
    """Repeat the fixture build into a spare dir (timing only; the dir
    goes with the work dir, since deletes are slow on some disks)."""
    real, rng_state, state = ctx.data_dir, ctx.rng.getstate(), dict(wl.__dict__)
    ctx.data_dir = os.path.join(ctx.work_dir, f"rebuild{rep}")
    try:
        wl.build(ctx)
    finally:
        ctx.data_dir = real
        ctx.rng.setstate(rng_state)
        wl.__dict__.clear()
        wl.__dict__.update(state)


def _warm_tables(ctx) -> None:
    """Table warm-up: file listing and footer read of every table."""
    from dex_data_ingestor_spark.io import TABLES, load_table

    for t in TABLES:
        load_table(ctx.spark, ctx.data_dir, t).count()


if __name__ == "__main__":
    sys.exit(main())
