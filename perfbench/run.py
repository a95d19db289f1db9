"""Fresh-plan benchmark of the cbde_mapreduce_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 10 --trace 0

One process, one warm ``get_spark()`` session with the engine's own defaults
and ``local[<nproc>]``. A pass runs every step of the workload once, in an
order permuted by the seed. Each query is freshly built from the registry and
executed in full with ``toPandas()``; each writer call runs through the public
``sources`` API. Between steps the cache is cleared and any RDD a step left
persisted is released, so no pinned block carries over. Every output is
checked against its reference off the clock.

Inputs are the repository's sf0.01 test fixtures (copied byte for byte into
``perfbench/fixtures/``, so that the benchmark reads nothing outside its
checkout), replicated per workload with ``tools_scale_gen.replicate`` under
``.scratch/perfbench/``; the seed sets the key padding of the replicas and
the step order.

``run_s``, ``setup_s`` and ``trace.overhead_s`` are wall time less the time
the hypervisor kept the machine's CPUs from running (``/proc/stat`` steal,
averaged over CPUs): on a shared host other tenants otherwise move wall
times by 10-30% from run to run. The raw wall and stolen seconds are in the
record line.

``--trace 0`` prints the end-to-end metrics: ``run_s`` (seconds per pass,
summed over steps from each step's median over the measured passes),
``cpu_s`` (CPU seconds of the whole process tree per pass, the same way,
less the JVM's JIT compiler and garbage collector threads: warm-up compiling
is a quarter to a third of a pass's CPU, and the two are its noisiest part),
``setup_s`` (session start plus ``WARM_PASSES`` unmeasured passes: the
first, cold one pays the JVM's one-time class loading, the second most of
the JIT's compiling; the JIT keeps speeding passes up for about fifteen
more, beyond what a run can afford) and ``ok_frac`` (share of
step executions that returned and whose output matched its reference; a
step that raises counts as failed).

``--seconds`` sets how many passes are measured, one per ``PASS_S`` seconds
(a warm pass of either workload on a 4-core box) and at least
``MIN_PASSES``. The count is fixed rather than timed so that a run measures
the same passes, and so the same stretch of JIT warm-up, however loaded the
machine is. ``--trace 1`` measures ``TRACE_PASSES`` untraced and as many
traced passes, prints the per-layer metrics of the traced ones (medians over
them) plus ``trace.overhead_s``, and writes the spans to
``.scratch/perfbench/trace/``.

The last stdout line is the result object; the line before it records the
cpus, Spark version, effective confs and, per pass and step, the wall, CPU,
stolen, JIT compiler and garbage collector seconds.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS, WRITES, WRITE_SOURCE, Context, flat_steps  # noqa: E402

FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
WARM_PASSES = 2
PASS_S = 2.5
MIN_PASSES = 2
#: traced runs alternate untraced and traced passes, this many of each
TRACE_PASSES = 2

#: metric -> unit, end to end (``--trace 0``) and per layer (``--trace 1``)
END_TO_END = {"run_s": "s", "cpu_s": "s", "setup_s": "s", "ok_frac": "ratio"}
PER_LAYER = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MiB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_stages": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "catalyst.plan_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.stage_wall_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.gc_thread_cpu_s": "s",
    "exec.jit_cpu_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_fetch_wait_s": "s",
    "exec.spill_bytes": "bytes",
    "exec.peak_exec_mem_bytes": "bytes",
    "sources.scan_bytes": "bytes",
    "sources.scan_rows": "count",
    "sources.write_s": "s",
    "sources.write_bytes": "bytes",
    "sources.write_files": "count",
    "sources.readback_bytes_ratio": "ratio",
    "functions.py_rows_returned": "count",
    "functions.py_bytes_sent": "bytes",
    "functions.py_bytes_returned": "bytes",
    "functions.py_worker_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.batch_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "collect.rows": "count",
    "collect.tail_s": "s",
    "operators.leaked_rdds": "count",
    "trace.overhead_s": "s",
}

#: stage metric -> exec.* layer metric summed over a step's stages
STAGE_SUMS = {
    "wall_s": "exec.stage_wall_s",
    "task_run_s": "exec.task_run_s",
    "task_cpu_s": "exec.task_cpu_s",
    "gc_s": "exec.gc_s",
    "shuffle_write_bytes": "exec.shuffle_write_bytes",
    "shuffle_read_bytes": "exec.shuffle_read_bytes",
    "shuffle_fetch_wait_s": "exec.shuffle_fetch_wait_s",
    "spill_bytes": "exec.spill_bytes",
    "input_bytes": "sources.scan_bytes",
    "input_rows": "sources.scan_rows",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="one copy of the fixtures, one pass")
    p.add_argument("--corrupt", help="corrupt this step's reference (self-test)")
    p.add_argument(
        "--missing-input", help="run this step on a missing input directory (self-test)"
    )
    return p.parse_args(argv)


def pin_environment(root: str, tmp: str) -> int:
    """Place every temporary file in ``tmp`` and size the session to the
    cores this process may use. Must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    os.makedirs(tmp, exist_ok=True)
    # the session's own defaults are measured, not whatever the shell set
    for var in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "SPARK_DRIVER_MEMORY"):
        os.environ.pop(var, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, root)
    return cpus


def prepare_inputs(w, seed: int, work: str, smoke: bool) -> str:
    """Replicate (once per seed) the fixtures into the workload's input
    directory; smoke runs use a single copy."""
    from tools_scale_gen import replicate

    replicas = 1 if smoke else w.replicas
    pad = random.Random(seed).randrange(1000)
    out = os.path.join(work, "data", f"sf0.01x{replicas}-pad{pad}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        with contextlib.redirect_stdout(sys.stderr):
            replicate(FIXTURES, out, replicas, pad)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


def _parquet_files(path: str) -> list[str]:
    return glob.glob(f"{path}/**/*.parquet", recursive=True)


class Tracer:
    """Spans kept in memory, plus per-layer sums for the current pass."""

    def __init__(self, spark, store, listener):
        self.spark, self.store, self.listener = spark, store, listener
        self.spans: list[dict] = []
        self.last_job = -1
        self.layers: dict[str, float] = {}
        self.pass_span = None

    def span(self, name, start, end, parent, qid) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "query": qid}
        )
        return len(self.spans) - 1

    def add(self, key: str, value: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + value

    def begin_pass(self, t: float) -> None:
        self.layers = {}
        self.pass_span = self.span("pass", t, t, None, None)

    def begin_step(self) -> None:
        """Mark the jobs so far as not the next step's; off the clock."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self.last_job = self.store.max_job_id()

    def end_pass(self, t: float, n_streaming: int) -> dict[str, float]:
        self.spans[self.pass_span]["end"] = t
        # progress events reach the Python listener asynchronously
        deadline = time.monotonic() + 5.0
        while self.listener.terminated < n_streaming and time.monotonic() < deadline:
            time.sleep(0.05)
        for key, v in self.listener.take().items():
            self.add(f"streaming.{key}", v)
        return self.layers

    def step(self, qid, name, marks, df, n_rows, ctx, written) -> None:
        """Record one finished step: its spans, its jobs and their stages."""
        import probes

        t0, t_built, t_planned, t_end = marks
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        top = self.span(name, t0, t_end, self.pass_span, qid)
        if name in WRITES:
            build_span = None
            run_span = self.span("sources.write", t0, t_end, top, qid)
            self.add("sources.write_s", t_end - t0)
        else:
            build_span = self.span("plans.build", t0, t_built, top, qid)
            self.span("catalyst.plan", t_built, t_planned, top, qid)
            run_span = self.span("exec.collect", t_planned, t_end, top, qid)
            self.add("plans.build_s", t_built - t0)
            self.add("catalyst.plan_s", t_planned - t_built)
            for phase, ms in probes.catalyst_phases_ms(df).items():
                self.add(f"catalyst.{phase}_ms", ms)
            for key, v in probes.python_exec_metrics(df).items():
                self.add(f"functions.{key}", v)
            self.add("collect.rows", n_rows)

        jobs = self.store.jobs(self.last_job, self.store.max_job_id())
        input_bytes = 0
        collect_ends = []
        for job in jobs:
            start = job["start"] or t0
            in_build = build_span is not None and start < t_built
            self.span(f"job {job['id']}", start, job["end"],
                      build_span if in_build else run_span, qid)
            self.add("exec.jobs", 1)
            self.add("exec.stages", len(job["stages"]))
            if in_build:
                self.add("plans.build_jobs", 1)
                self.add("plans.build_stages", len(job["stages"]))
            elif job["end"]:
                collect_ends.append(job["end"])
            for s in job["stages"]:
                self.add("exec.tasks", s["tasks"])
                for key, layer in STAGE_SUMS.items():
                    self.add(layer, s[key])
                self.layers["exec.peak_exec_mem_bytes"] = max(
                    self.layers.get("exec.peak_exec_mem_bytes", 0),
                    s["peak_exec_mem_bytes"],
                )
                input_bytes += s["input_bytes"]
                if name in WRITES:
                    self.add("sources.write_bytes", s["output_bytes"])
        if collect_ends and name not in WRITES:
            self.add("collect.tail_s", max(0.0, t_end - max(collect_ends)))
        if written:
            self.add("sources.write_files", len(_parquet_files(written)))
        if name == "readback_lineitem":
            table = sum(os.path.getsize(f) for f in _parquet_files(ctx.out("compacted")))
            self.add("sources.readback_bytes_ratio", input_bytes / table)
        self.add("operators.leaked_rdds", self.store.persistent_rdds())


class Bench:
    """Runs passes of one workload and checks every output."""

    def __init__(self, spark, w, ctx, refs, seed, missing_input=None):
        from pyspark import SparkContext

        self.spark, self.w, self.ctx, self.refs = spark, w, ctx, refs
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.missing_input = missing_input
        self.rng = random.Random(seed)
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.layers: dict[str, float] = {}

    def order(self) -> list[str]:
        groups = list(self.w.steps)
        self.rng.shuffle(groups)
        return [s for g in groups for s in (g if isinstance(g, tuple) else (g,))]

    def one_pass(self, tracer: Tracer | None = None) -> dict[str, tuple[float, ...]]:
        """Run every step once; returns step -> (on-clock seconds, CPU
        seconds, seconds stolen per machine CPU meanwhile, CPU seconds of the
        JVM's JIT compiler threads, CPU seconds of its garbage collector
        threads)."""
        from probes import service_cpu_s, service_ticks, stolen_s, tree_cpu_s
        from workloads import build, write

        timed = {}
        n_streaming = 0
        if tracer:
            tracer.begin_pass(time.time())
        for qid, name in enumerate(self.order()):
            ctx = self.ctx.missing_input() if name == self.missing_input else self.ctx
            df = pdf = written = error = None
            if tracer:
                tracer.begin_step()
            c0, s0, j0 = tree_cpu_s(), stolen_s(), service_ticks(self.jvm_pid)
            e0, t0 = time.time(), time.perf_counter()
            try:
                if name in WRITES:
                    written = write(name, self.spark, ctx)
                    t_built = t_planned = time.perf_counter()
                else:
                    df = build(name, self.spark, ctx)
                    t_built = time.perf_counter()
                    if tracer:
                        df._jdf.queryExecution().executedPlan()
                    t_planned = time.perf_counter()
                    pdf = df.toPandas()
            except Exception as exc:  # a step that raises is a failed step
                error = f"{name}: {type(exc).__name__}"
            t_end = time.perf_counter()
            service = service_cpu_s(j0, service_ticks(self.jvm_pid))
            timed[name] = (
                t_end - t0,
                tree_cpu_s() - c0,
                stolen_s() - s0,
                service["jit"],
                service["gc"],
            )
            n_streaming += name.startswith("streaming_")
            if tracer and error is None:
                tracer.add("exec.gc_thread_cpu_s", service["gc"])
                tracer.add("exec.jit_cpu_s", service["jit"])
                marks = [e0 + (t - t0) for t in (t0, t_built, t_planned, t_end)]
                n_rows = 0 if pdf is None else len(pdf)
                tracer.step(qid, name, marks, df, n_rows, self.ctx, written)
            self.release()
            if error is None:
                error = self.check(name, written, pdf)
            self.attempted += 1
            if error:
                self.failed += 1
                self.failures.append(error)
        if tracer:
            self.layers = tracer.end_pass(time.time(), n_streaming)
        return timed

    def check(self, name: str, written: str | None, pdf) -> str | None:
        """None when the step's output matches its reference, else why not."""
        from workloads import same_frame, same_rows

        try:
            ok = (
                same_rows(written, self.ctx.table(WRITE_SOURCE[name]))
                if name in WRITES
                else same_frame(pdf, self.refs[name])
            )
        except Exception as exc:  # an output the check cannot read is wrong
            return f"{name}: {type(exc).__name__} while checking its output"
        return None if ok else f"{name}: output differs from its reference"

    def release(self) -> None:
        """Drop cached tables and any RDD a step left persisted, then collect
        the JVM's garbage. Each step so starts from the same heap, whatever
        ran before it: otherwise the seeded step order decides which step
        pays for the previous ones' garbage, and whether a concurrent marking
        cycle (2-3 CPU seconds a pass) lands inside the measured passes."""
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        self.spark.sparkContext._jvm.System.gc()


def run_time(step: tuple[float, ...]) -> float:
    """A step's wall seconds less the seconds the hypervisor kept the
    machine's CPUs from running meanwhile, so that other tenants of a shared
    host do not show up as a slower program."""
    return step[0] - step[2]


def cpu_time(step: tuple[float, ...]) -> float:
    """A step's CPU seconds less those of the JVM's JIT compiler and
    garbage collector threads. Compiling hot code is warm-up: it falls toward
    nothing as a session ages, and while it lasts it moves by seconds per pass
    with thread timing. The collector's work is set by its own heuristics and
    is the noisiest part of the rest (a third of a pass's median, run to run);
    its pauses still show in ``run_s`` and ``exec.gc_s``, and both threads'
    seconds are per-layer metrics."""
    return step[1] - step[3] - step[4]


def median_pass(passes: list[dict], of) -> float:
    """A pass's total built from each step's median: ``of(step)`` for every
    step, median over ``passes``, summed over steps."""
    return sum(statistics.median(of(p[name]) for p in passes) for name in passes[0])


def effective_confs(spark) -> dict[str, str]:
    keep = ("spark.sql.", "spark.master", "spark.driver.memory", "spark.cleaner.")
    return {
        k: v
        for k, v in sorted(spark.sparkContext.getConf().getAll())
        if k.startswith(keep)
    }


def stop(spark) -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    w = WORKLOADS[args.workload]
    root = os.getcwd()
    work = os.path.join(root, ".scratch", "perfbench")
    tmp = os.path.join(work, "tmp", str(os.getpid()))
    cpus = pin_environment(root, tmp)

    # fail fast, before generating anything, when the program is absent
    from cbde_mapreduce_spark.session import get_spark
    from workloads import corrupt, references

    p0 = time.perf_counter()
    data_dir = prepare_inputs(w, args.seed, work, args.smoke)
    ctx = Context(data_dir, os.path.join(work, "out", os.path.basename(data_dir))).measured()
    ref_dir = os.path.join(work, "ref", os.path.basename(data_dir))
    refs = references(flat_steps(w), ctx, ref_dir)
    if args.corrupt:
        refs[args.corrupt] = corrupt(refs[args.corrupt])

    from probes import stolen_s

    t0, s0 = time.perf_counter(), stolen_s()
    prep_s = t0 - p0
    spark = get_spark(app_name=f"perfbench-{w.name}")
    start_s = time.perf_counter() - t0 - (stolen_s() - s0)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        bench = Bench(spark, w, ctx, refs, args.seed, args.missing_input)
        warm = 0 if args.smoke else WARM_PASSES
        n_plain = max(MIN_PASSES, round(args.seconds / PASS_S))
        n_plain = 1 if args.smoke else TRACE_PASSES if args.trace else n_plain
        n_traced = n_plain if args.trace else 0
        setup_s = start_s + sum(
            sum(map(run_time, bench.one_pass().values())) for _ in range(warm)
        )

        tracer = None
        if args.trace:
            from probes import StatusStore, streaming_listener

            tracer = Tracer(spark, StatusStore(spark), streaming_listener(spark))
        plain, traced, layers = [], [], []
        while len(plain) < n_plain or len(traced) < n_traced:
            # untraced, traced, traced, untraced, ...: a drift in pass times
            # (JIT still warming) weighs on both sides alike
            if tracer and (len(plain) + len(traced)) % 4 in (1, 2):
                traced.append(bench.one_pass(tracer))
                layers.append(bench.layers)
            else:
                plain.append(bench.one_pass())

        from pyspark import SparkContext
        from probes import peak_rss_mb

        info = {
            "workload": w.name,
            "seed": args.seed,
            "data": os.path.relpath(data_dir, root),
            "cpus": cpus,
            "spark_version": spark.version,
            "confs": effective_confs(spark),
            "prep_s": prep_s,
            "start_s": start_s,
            "run_s_max": max(sum(map(run_time, p.values())) for p in plain),
            "passes": plain,
            "traced_passes": traced,
            "failures": bench.failures,
        }
        if tracer:
            metrics = {
                k: statistics.median(p.get(k, 0.0) for p in layers) for k in PER_LAYER
            }
            metrics["session.start_s"] = start_s
            metrics["session.jvm_peak_rss_mb"] = peak_rss_mb(SparkContext._gateway.proc.pid)
            metrics["trace.overhead_s"] = median_pass(traced, run_time) - median_pass(
                plain, run_time
            )
            trace_dir = os.path.join(work, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{w.name}-seed{args.seed}.json"), "w") as f:
                json.dump(tracer.spans, f)
        else:
            metrics = {
                "run_s": median_pass(plain, run_time),
                "cpu_s": median_pass(plain, cpu_time),
                "setup_s": setup_s,
                "ok_frac": (bench.attempted - bench.failed) / bench.attempted,
            }
    finally:
        stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps(info))
    units = {**END_TO_END, **PER_LAYER}
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
