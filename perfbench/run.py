#!/usr/bin/env python3
"""Output-checked benchmark of the extraction job and the curation
operators on ``local[<nproc>]``.

    python3 perfbench/run.py --workload extract_fixtures --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout.  ``--workload all`` runs every
workload from one driver process, each with its own JVM.  The load
is a closed loop with one client: one batch job at a time, each
started when the previous one returned.  A run

1. sets up ``SETUPS`` times: start a session (the first start launches
   the JVM, later ones restart the SparkContext in it), write the
   seeded inputs, and run the first (cold) job;
2. runs timed warm jobs until ``--seconds`` have passed (at least
   ``MIN_JOBS``);
3. checks every job's output; a job that raises or fails its check
   counts in ``failed``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
of BENCHMARK.json, with ``--trace 1`` the per-layer ones.  The traced
run alternates untraced and traced warm jobs, so ``tracing.overhead_s``
is the difference of their medians.  Spans go to
``perfbench-traces/<workload>-seed<n>.json``.

All scratch data (inputs, outputs, Spark local dirs, JVM temp files)
lives under ``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
# the first set-up launches the JVM; the later ones restart the
# SparkContext in it, and their cold jobs also let the JIT compile what
# the timed jobs run
SETUPS = 3
# job_s is the median of at least this many timed jobs
MIN_JOBS = 3
# per-layer numbers a non-resume workload takes from one resume job
RESUME_LAYERS = ("pipeline.resume_read_s", "pipeline.buckets_skipped")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   help="extract_fixtures, curation or all")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measured time per workload")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input size multiplier for the self-test
    p.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    # corrupt one output row after every job (self-test of the checks)
    p.add_argument("--tamper", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def isolate(work: str, root: str) -> None:
    """Keep every file the run writes inside the checkout and give the
    Python workers the checkout's program.  This includes Spark's
    shuffle scratch, which ``get_spark`` would otherwise put on
    ``/dev/shm``; README.md gives the measured cost."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    local = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={shlex.quote(tmp)}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        # keep every job, stage and SQL execution for the traced readout
        "--conf spark.ui.retainedJobs=1000000",
        "--conf spark.ui.retainedStages=1000000",
        "--conf spark.sql.ui.retainedExecutions=1000000",
        "pyspark-shell",
    ])


class Bench:
    def __init__(self, args, root: str, work: str, spec: dict):
        import tracing

        self.args, self.root, self.work, self.spec = args, root, work, spec
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = tracing.Tracer(enabled=bool(args.trace))
        self.spark = None
        self.rss = None
        self.launch_s = None

    # ------------------------------------------------------------ session
    def start(self) -> float:
        from tool_documentsconverter_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app="perfbench",
                                   master=f"local[{self.nproc}]",
                                   shuffle_partitions=self.nproc)
        took = time.perf_counter() - t0
        if self.launch_s is None:
            import tracing

            self.launch_s = took
            self.jvm = self.spark.sparkContext._gateway.proc
            self.rss = tracing.RssSampler(self.jvm.pid)
        return took

    def close(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        if self.rss is not None:
            self.rss.close()
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        try:
            gateway.shutdown()
        finally:
            # the JVM exits when its stdin closes
            self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=60)
            except Exception:
                self.jvm.kill()
                self.jvm.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -------------------------------------------------------------- jobs
    def attempt(self, wl, probe=None, rss: bool = False):
        """Run and check one job; None when it raised or its output is
        wrong."""
        self.tracer.job += 1
        try:
            if rss:
                with self.rss.active():
                    res = wl.job(self.spark, probe)
            else:
                res = wl.job(self.spark, probe)
            if probe is not None:
                probe.flush()
            if self.args.tamper:
                tamper(wl)
            errs = wl.check(self.spark, res[2])
        except Exception:
            log(f"job raised:\n{traceback.format_exc()}")
            return None
        if errs:
            log("output check failed: " + "; ".join(errs))
            return None
        return res

    def run(self, name: str) -> dict:
        import tracing
        import workloads

        ctx = Ctx(self.args.seed, self.args.scale, self.nproc,
                  os.path.join(self.work, name), self.tracer)
        os.makedirs(ctx.work, exist_ok=True)
        wl = workloads.make(name, ctx)
        attempted = failed = 0
        setups, colds, starts, writes = [], [], [], []
        for k in range(SETUPS):
            self.tracer.enabled = bool(self.args.trace)
            start_s = self.start()
            t0 = time.perf_counter()
            write_s = wl.prepare()
            prepare_s = time.perf_counter() - t0
            if k == 0:
                wl.oracle()
            res = self.attempt(wl)
            attempted += 1
            failed += res is None
            cold = res[0] if res else 0.0
            setups.append(start_s + prepare_s + cold)
            colds.append(cold)
            starts.append(start_s)
            writes.append(write_s)
            log(f"{name} set-up {k}: start {start_s:.2f}s, inputs "
                f"{prepare_s:.2f}s, cold job {cold:.2f}s")

        plain, traced, layer_runs = [], [], []
        probe = tracing.SparkProbe(self.spark) if self.args.trace else None
        rows = 0
        t_start = time.perf_counter()
        i = 0
        while i < MIN_JOBS or time.perf_counter() - t_start < self.args.seconds:
            on = bool(self.args.trace) and i % 2 == 1
            self.tracer.enabled = on
            res = self.attempt(wl, probe if on else None, rss=on)
            attempted += 1
            i += 1
            if res is None:
                failed += 1
                continue
            elapsed, rows, summary, counters = res
            if on:
                traced.append(elapsed)
                layer_runs.append(wl.layers(self.spark, summary, counters))
            else:
                plain.append(elapsed)
        self.tracer.enabled = bool(self.args.trace)
        if self.args.trace and hasattr(wl, "resume_twin"):
            # the resume layer, measured once on this workload's input
            twin = wl.resume_twin()
            twin.build_template(self.spark)
            res = self.attempt(twin, probe)
            attempted += 1
            failed += res is None
            if res:
                resumed = twin.layers(self.spark, res[2], res[3])
                for r in layer_runs:
                    for key in RESUME_LAYERS:
                        r[key] = resumed[key]

        job_s = median(plain) if plain else 0.0
        log(f"{name}: {attempted} jobs, {failed} failed, error_rate "
            f"{failed / attempted:.3f}; warm jobs "
            + ", ".join(f"{x:.3f}" for x in plain))
        if not self.args.trace:
            values = {
                "job_s": job_s,
                "throughput_rows_per_s": rows / job_s if plain else 0.0,
                "setup_s": median(setups),
            }
        else:
            values = {k: 0.0 for k in self.metric_units("per_layer")}
            for key in layer_runs[0] if layer_runs else ():
                values[key] = median(r[key] for r in layer_runs)
            # the first job of a fresh JVM, as a spark-submit run pays
            # it; a restarted context's first job keeps the JIT's work
            values["cold_job_s"] = colds[0]
            values["session.start_s"] = median(starts)
            values["session.launch_s"] = self.launch_s
            values["sources.write_s"] = median(writes)
            values["memory.peak_rss_mb"] = self.rss.peak
            if traced and plain:
                values["tracing.overhead_s"] = median(traced) - job_s
            self.tracer.dump(os.path.join(
                self.root, "perfbench-traces",
                f"{name}-seed{self.args.seed}.json"))
        return self.result(values, attempted, failed)

    def metric_units(self, kind: str) -> dict:
        return {m["name"]: m["unit"] for m in self.spec[kind]}

    def result(self, values: dict, attempted: int, failed: int) -> dict:
        kind = "per_layer" if self.args.trace else "end_to_end"
        units = self.metric_units(kind)
        missing = set(units) - set(values)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                        for k in units},
        }


class Ctx:
    def __init__(self, seed, scale, nproc, work, tracer):
        self.seed, self.scale, self.nproc = seed, scale, nproc
        self.work, self.tracer = work, tracer


def tamper(wl) -> None:
    """Change the first row of one checked column in each of the job's
    outputs: flip a boolean, append a byte to a string, add 1 to a
    number."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for out, col in wl.tamper_targets():
        files = sorted(os.path.join(d, f) for d, _, fs in os.walk(out)
                       for f in fs if f.endswith(".parquet"))
        path = next(p for p in files if pq.read_metadata(p).num_rows)
        t = pq.read_table(path)
        i = t.schema.get_field_index(col)
        f = t.schema.field(i)
        vals = t.column(i).to_pylist()
        if pa.types.is_boolean(f.type):
            vals[0] = not vals[0]
        elif pa.types.is_string(f.type):
            vals[0] = (vals[0] or "") + "x"
        else:
            vals[0] = (vals[0] or 0) + 1
        pq.write_table(t.set_column(i, f, pa.array(vals, type=f.type)), path)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tool_documentsconverter_spark",
                                       "__init__.py")):
        log("no tool_documentsconverter_spark/ here: run from the root of "
            "a checkout of the program")
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [root, HERE]
    import workloads

    names = workloads.WORKLOADS if args.workload == "all" else (args.workload,)
    for n in names:
        if n not in workloads.WORKLOADS:
            log(f"unknown workload {n!r}")
            return 2
    work = os.path.join(root, ".perfbench_work", str(os.getpid()))
    isolate(work, root)
    results = {}
    try:
        for n in names:
            # a JVM per workload: each run's set-up 0 and cold_job_s are
            # those of a fresh spark-submit run
            bench = Bench(args, root, work, spec)
            try:
                results[n] = bench.run(n)
            finally:
                bench.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if len(names) == 1:
        print(json.dumps(results[names[0]]))
        return 0
    for n, r in results.items():
        print(json.dumps({"workload": n, **r}))
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{n}.{k}": v for n, r in results.items()
                    for k, v in r["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
