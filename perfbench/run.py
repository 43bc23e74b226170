"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The full
record (raw per-pass and per-batch times, input properties, spans) goes to
``.perfbench_records/``. Everything the run writes stays under the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import metrics  # noqa: E402
import tracing  # noqa: E402

# In-JVM set-ups per run, after the one that launches the JVM; setup_s is
# their median.
SETUPS = 5
MIN_MEASURED = 4
WATCHDOG_S = 170

E2E = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "pass_cpu_s": "s",
    "retained_heap_mb": "MB",
}
LAYER = {
    "wall.first_pass_s": "s",
    "wall.pass_s_p50": "s",
    "session.launch_s": "s",
    "session.start_s": "s",
    "session.worker_spawn_s": "s",
    "api.build_s": "s",
    "api.run_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.stages_skipped": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "proc.jvm_cpu_s": "s",
    "proc.python_worker_cpu_s": "s",
    "proc.peak_rss_mb": "MB",
    "proc.first_pass_jit_cpu_s": "s",
    "pinning.persisted_rdds": "count",
    "pinning.pinned_mb": "MB",
    "streaming.add_batch_s": "s",
    "streaming.trigger_overhead_s": "s",
    "streaming.state_rows": "count",
    "streaming.late_early_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
}


def _watchdog() -> None:
    print(f"perfbench: run exceeded {WATCHDOG_S}s, aborting", file=sys.stderr)
    tracing.kill_tree(os.getpid())
    os._exit(3)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write under
    ``work`` and let workers import the program and this package."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # spark-submit's launcher JVM would otherwise keep perf data in /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # The program's driver-heap knob; small, as this host is shared.
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def _meet(rv_dir: str, par: int, it):
    open(os.path.join(rv_dir, str(os.getpid())), "w").close()
    deadline = time.monotonic() + 60
    while len(os.listdir(rv_dir)) < par and time.monotonic() < deadline:
        time.sleep(0.005)
    return [os.getpid()]


def _spawn_workers(sc, rv_dir: str) -> int:
    """Start one Python worker per core and return once all are up: each of
    ``par`` tasks marks its worker in ``rv_dir`` and waits until every task
    has, so no task reuses another's worker and none waits longer than it
    takes the last worker to start. Returns the number of workers."""
    par = sc.defaultParallelism
    os.makedirs(rv_dir)
    pids = sc.parallelize(range(par), par).mapPartitions(functools.partial(_meet, rv_dir, par))
    return len(set(pids.collect()))


def _spark_conf(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }


class Run:
    """One benchmark run: set-up, timed passes or replay, checks, record."""

    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.work = os.path.join(ROOT, ".perfbench_work", args.workload)
        self.spans = tracing.Spans()
        self.attempted = 0
        self.failed = 0
        self.extra: dict = {}
        self.record: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host_cores": os.cpu_count(),
            "spark_cores": len(os.sched_getaffinity(0)),
        }

    # -- set-up -----------------------------------------------------------

    def setup(self, wl):
        from dampr_spark.session import get_spark

        conf = _spark_conf(self.work)
        cores = len(os.sched_getaffinity(0))
        setups, spark = [], None
        for k in range(1 + SETUPS):
            if spark is not None:
                spark.stop()
            with self.spans.span("session.setup"):
                t0 = time.perf_counter()
                with self.spans.span("session.start"):
                    spark = get_spark(app_name=f"perfbench-{wl.name}", cpus=cores, extra_conf=conf)
                t1 = time.perf_counter()
                with self.spans.span("session.worker_spawn"):
                    workers = _spawn_workers(spark.sparkContext, os.path.join(self.work, "rv", str(k)))
                t2 = time.perf_counter()
                with self.spans.span("session.register"):
                    wl.register(spark)
                t3 = time.perf_counter()
            if k == 0:
                spark.sparkContext.setLogLevel("ERROR")
            setups.append(
                {
                    "start_s": t1 - t0,
                    "worker_spawn_s": t2 - t1,
                    "register_s": t3 - t2,
                    "total_s": t3 - t0,
                    "workers": workers,
                }
            )
        # The first set-up also launches the JVM; the others re-create the
        # SparkContext in it, which is what a change to set-up moves.
        self.record["jvm_setup"] = setups[0]
        self.record["setups"] = setups[1:]
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.jit = tracing.JitCpu(self.jvm_pid)
        return spark

    # -- pass-based workload (DSL) ----------------------------------------

    def _pass(self, wl, spark, i: int, traced: bool):
        """One DSL pass: (wall s, tree CPU s, layer figures, sink dir), or
        Nones when it raised."""
        cpu0 = tracing.cpu_split(self.jvm_pid) if traced else None
        tree0 = tracing.tree_cpu_s(os.getpid(), self.jit)
        t0 = time.perf_counter()
        try:
            with self.spans.span(f"pass:{i}") if traced else contextlib.nullcontext():
                layers, out = wl.run_pass(spark, i, self.spans if traced else None)
        except Exception as e:  # one failed pass is counted, the run goes on
            print(f"perfbench: pass {i} failed: {e!r}", file=sys.stderr)
            self.attempted += 1
            self.failed += 1
            return None, None, None, None
        wall = time.perf_counter() - t0
        tree1 = tracing.tree_cpu_s(os.getpid(), self.jit)
        cpu = metrics.work_cpu_s(tree0, tree1)
        if i == 0:
            # The first pass is charged in full: JIT compiling and the
            # interpreted work it replaces trade off, so their sum is the
            # steadier figure (README.md).
            self.record["first_pass_jit_cpu_s"] = tree1[1] - tree0[1]
            cpu = tree1[0] - tree0[0]
        self.attempted += 1
        if traced:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            layers.update(self._pass_layers(spark, i, cpu0))
        return wall, cpu, layers, out

    def _pass_layers(self, spark, i: int, cpu0: dict) -> dict:
        cpu1 = tracing.cpu_split(self.jvm_pid)
        jobs = [j for g in (f"p{i}.build", f"p{i}.run") for j in tracing.job_ids(spark, g)]
        out = {k: cpu1[k] - cpu0[k] for k in cpu1}
        out.update(metrics.spark_layer(tracing.group_totals(spark, jobs)))
        return out

    def passes(self, wl, spark):
        rec = self.record
        first, first_cpu, layers0, out0 = self._pass(wl, spark, 0, self.trace)
        if first is None:
            raise RuntimeError("first pass failed")
        warm, warm_cpu = [], []
        for i in range(1, 1 + wl.warmup):
            t, cpu, _, out = self._pass(wl, spark, i, False)
            warm.append(t)
            warm_cpu.append(cpu)
            wl.release(out)
        # After a fixed number of passes, so a faster program that fits more
        # passes in the window does not read as holding more state.
        rec["retained_heap_mb"] = tracing.retained_heap_mb(spark)
        measured, measured_cpu, traced_t, untraced_t, layer_rows = [], [], [], [], []
        i = len(warm) + 1
        deadline = time.perf_counter() + self.args.seconds
        last = None
        while time.perf_counter() < deadline or len(measured) < MIN_MEASURED:
            traced = self.trace and (i % 2 == 0)
            t, cpu, layers, out = self._pass(wl, spark, i, traced)
            if t is not None:
                measured.append(t)
                measured_cpu.append(cpu)
                (traced_t if traced else untraced_t).append(t)
                if traced:
                    layer_rows.append(layers)
                if last is not None:
                    wl.release(last[1])
                last = (i, out)
            i += 1
        rec.update(first_pass_s=first, warmup_s=warm, measured_s=measured)
        rec.update(first_pass_cpu_s=first_cpu, warmup_cpu_s=warm_cpu, measured_cpu_s=measured_cpu)
        rec["pass_cpu_s"] = sum(measured_cpu) / len(measured_cpu)
        rec["first_pass_layers"] = layers0
        rec["pinning"] = tracing.pinned(spark)
        with self.spans.span("check"):
            self.failed += wl.check(spark, out0)
            self.failed += wl.check(spark, last[1])
        wl.release(out0)
        wl.release(last[1])
        if self.trace:
            rec["traced_pass_s"], rec["untraced_pass_s"] = traced_t, untraced_t
            self.layer_rows = layer_rows
            self.overhead = (metrics.median(traced_t), metrics.median(untraced_t))

    # -- stream ----------------------------------------------------------

    def stream(self, wl, spark):
        """Replay the stream once, marking the process tree's CPU as each
        micro-batch completes. Traced runs also read the status store for
        each even batch while the next one runs, so the odd batches carry the
        tracer's cost and the even ones are the untraced base."""
        root = os.getpid()
        start = tracing.tree_cpu_s(root, self.jit)
        marks: dict[int, tuple[float, float]] = {}
        splits: dict[int, dict] = {}
        with self.spans.span("streaming.replay"):
            q = wl.start(spark)
            done, reads = set(), {}
            while q.isActive:
                p = q.lastProgress
                if p and p["batchId"] not in marks:
                    seen = p["batchId"]
                    marks[seen] = tracing.tree_cpu_s(root, self.jit)
                    if self.trace:
                        splits[seen] = tracing.cpu_split(self.jvm_pid)
                    if self.trace and seen % 2 == 0:
                        with self.spans.span(f"trace.read:{seen}"):
                            new = [j for j in tracing.job_ids(spark, str(q.runId)) if j not in done]
                            done.update(new)
                            reads[seen] = tracing.group_totals(spark, new)
                time.sleep(0.1)
            q.awaitTermination()
        end = tracing.tree_cpu_s(root, self.jit)
        split_end = tracing.cpu_split(self.jvm_pid)
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        ids = [p["batchId"] for p in progress]
        marks.setdefault(ids[-1], end)
        rec = self.record
        rec["in_window_reads"] = reads
        rec["retained_heap_mb"] = tracing.retained_heap_mb(spark)
        rec["pinning"] = tracing.pinned(spark)
        times = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
        cpus = metrics.batch_cpu(start, marks, ids)
        if ids[0] in marks:
            rec["first_pass_jit_cpu_s"] = marks[ids[0]][1] - start[1]
            cpus[0] = marks[ids[0]][0] - start[0]
        k = 1 + wl.warmup
        # The window's CPU over its batches: the per-batch split depends on
        # when the poll saw each batch end, the window total only at its ends.
        b0 = max(b for b in marks if b <= ids[k - 1])
        in_window = sum(b > b0 for b in ids)
        rec["pass_cpu_s"] = metrics.work_cpu_s(marks[b0], end) / in_window
        self.attempted += wl.batches
        self.failed += wl.batches - len(times)
        rec.update(
            first_pass_s=times[0],
            warmup_s=times[1:k],
            measured_s=times[k:],
            first_pass_cpu_s=cpus[0],
            warmup_cpu_s=cpus[1:k],
            measured_cpu_s=cpus[k:],
            batch_durations_ms=[p["durationMs"] for p in progress],
        )
        rec["batch_tail"] = metrics.tail_percentile(times[k:])
        rec["late_early"] = metrics.late_early_ratio(times[1:])
        with self.spans.span("check"):
            self.failed += wl.check(spark)
        if self.trace:
            # The same window as pass_cpu_s: from the mark of batch b0 on.
            cpu = {key: (split_end[key] - splits[b0][key]) / in_window for key in split_end}
            self.stream_layers(spark, str(q.runId), progress[k:], cpu)
            self.extra = {
                "streaming.state_rows": wl.state_rows,
                "streaming.late_early_ratio": rec["late_early"]["ratio"],
            }
            self.extra.update(self.plans(wl, spark))

    def plans(self, wl, spark) -> dict:
        """The catalog query of the stream's documents (traced runs only):
        builder and action timed from outside, build-time jobs counted from
        the status store. Medians over the passes after the first; the last
        pass's pairs must equal the first's."""
        rows, first, last = [], None, None
        for i in range(wl.plans_passes):
            self.attempted += 1
            try:
                with self.spans.span(f"plans:{i}"):
                    row, pairs = wl.plans_pass(spark, i)
            except Exception as e:
                print(f"perfbench: plans pass {i} failed: {e!r}", file=sys.stderr)
                self.failed += 1
                continue
            row["plans.build_jobs"] = len(tracing.job_ids(spark, f"plans{i}.build"))
            rows.append(row)
            first = pairs if first is None else first
            last = pairs
        self.failed += int(bool(rows) and last != first)
        self.record["plans_passes"] = rows
        self.record["plans_pairs"] = len(first or ())
        self.record["inputs"]["stream"]["plans_max_lsh_bucket"] = wl.plans_max_bucket(spark)
        return {k: metrics.median([r[k] for r in rows[1:]]) for k in rows[0]} if len(rows) > 1 else {}

    def stream_layers(self, spark, run_id: str, measured: list, cpu_per_batch: dict) -> None:
        """Per-layer rows of the measured micro-batches; CPU is the measured
        window's average per batch."""
        by_batch = tracing.stream_jobs_by_batch(spark, run_id)
        rows, after_read, base = [], [], []
        for p in measured:
            d = p["durationMs"]
            row = metrics.spark_layer(tracing.group_totals(spark, by_batch.get(p["batchId"], [])))
            row["streaming.add_batch_s"] = d.get("addBatch", 0) / 1e3
            row["streaming.trigger_overhead_s"] = (d["triggerExecution"] - d.get("addBatch", 0)) / 1e3
            row.update(cpu_per_batch)
            rows.append(row)
            (after_read if p["batchId"] % 2 else base).append(d["triggerExecution"] / 1e3)
        self.layer_rows = rows
        self.overhead = (metrics.median(after_read), metrics.median(base))

    # -- result -----------------------------------------------------------

    def result(self) -> dict:
        rec = self.record
        setups = rec["setups"]
        rec["peak_rss"] = tracing.peak_rss(os.getpid(), self.jvm_pid)
        rec["peak_rss_mb"] = rec["peak_rss"]["total_mb"]
        rec["pass_s_p50"] = metrics.median(rec["measured_s"])
        rec["flatness_second_over_first_half"] = metrics.halves_ratio(rec["measured_s"])
        if not self.trace:
            return {
                "setup_s": metrics.median([s["total_s"] for s in setups]),
                "first_pass_cpu_s": rec["first_pass_cpu_s"],
                "pass_cpu_s": rec["pass_cpu_s"],
                "retained_heap_mb": rec["retained_heap_mb"],
            }
        out = {k: 0.0 for k in LAYER}
        out["wall.first_pass_s"] = rec["first_pass_s"]
        out["wall.pass_s_p50"] = rec["pass_s_p50"]
        out["session.launch_s"] = rec["jvm_setup"]["start_s"]
        out["session.start_s"] = metrics.median([s["start_s"] for s in setups])
        out["session.worker_spawn_s"] = metrics.median([s["worker_spawn_s"] for s in setups])
        for k in {k for row in self.layer_rows for k in row}:
            out[k] = metrics.median([row.get(k, 0.0) for row in self.layer_rows])
        out.update(rec["pinning"])
        out["proc.peak_rss_mb"] = rec["peak_rss_mb"]
        out["proc.first_pass_jit_cpu_s"] = rec.get("first_pass_jit_cpu_s", 0.0)
        out.update(self.extra)
        traced, untraced = self.overhead
        rec["tracing_overhead"] = {"traced_p50_s": traced, "untraced_p50_s": untraced}
        out["trace.overhead_ratio"] = traced / untraced
        return out


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every process this run started."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=10)
    if not tracing.wait_no_children(os.getpid(), 20):
        tracing.kill_tree(os.getpid())
        tracing.wait_no_children(os.getpid(), 10)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Fails here, before any work, when the program is not next to us.
    import dampr_spark.session  # noqa: F401
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    dog = threading.Timer(WATCHDOG_S, _watchdog)
    dog.daemon = True
    dog.start()

    run = Run(args)
    shutil.rmtree(run.work, ignore_errors=True)
    os.makedirs(run.work)
    _prepare_env(run.work)
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](run.work, args.seed)
    run.record["inputs"] = wl.props
    run.record["input_gen_s"] = time.perf_counter() - t0

    spark = run.setup(wl)
    try:
        ticks = tracing.host_ticks()
        if args.workload == "stream_dedup":
            run.stream(wl, spark)
        else:
            run.passes(wl, spark)
        # Host noise next to the figures: time this VM waited for a CPU.
        run.record["host_steal_frac"] = tracing.steal_frac(ticks, tracing.host_ticks())
        values = run.result()
    finally:
        with run.spans.span("shutdown"):
            _shutdown(spark)
    dog.cancel()

    units = LAYER if run.trace else E2E
    out = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    run.record["result"] = out
    run.record["failed_frac"] = metrics.failed_frac(run.attempted, run.failed)
    run.record["spans"] = run.spans.as_records()
    rec_dir = os.path.join(ROOT, ".perfbench_records")
    os.makedirs(rec_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(rec_dir, name), "w") as f:
        json.dump(run.record, f, indent=1, default=str)
    shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
