"""Link-graph benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_to_rank --seed 1 \
        --seconds 5 --trace 0

Runs from the root of a source checkout on local[nproc]. A run:

1. pins the environment: local[nproc], a 3g driver heap, and every
   Spark, checkpoint, block and temp directory under `.bench_work/` in
   the checkout (cleared at start and end);
2. starts the session (launching the JVM), then generates the seeded
   inputs and does any untimed graph build SETUP_REPS times; `setup_s`
   is the session start plus the median of those set-ups;
3. runs the op once on a 1/20-size input with its loops capped, to
   load and compile its code paths;
4. repeats the workload's timed operation for `--seconds` seconds,
   checking every operation's output against the numpy oracles
   outside the timed region, and reports the medians.

With `--trace 1` span wrappers record the engine's layers on every
other operation, each between two untraced ones (for the tracing
overhead),
Spark's event log attributes jobs to spans, and the per-layer metrics
replace the end-to-end ones on the last line. The spans and the full
per-layer JSON are written under `.bench_work/trace/`.

The last line of stdout is {"correct", "attempted", "failed",
"metrics"}; lines before it are a human-readable summary.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
WARM_SCALE = 20
DRIVER_MEMORY = "3g"


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _pin_environment(work: str) -> None:
    """Everything Spark, the JVM and Python write goes under `work`."""
    for sub in ("spark-local", "tmp", "eventlog", "trace"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    # no hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData"
    ).strip()
    tempfile.tempdir = tmp


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _reset_hwm(pid: int) -> None:
    """Restart the kernel's peak-RSS counter (clear_refs value 5)."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


class Session:
    """The run's SparkSession and the one driver JVM behind it."""

    def __init__(self, work: str, trace: bool) -> None:
        self.conf = {"spark.ui.showConsoleProgress": "false"}
        self.event_dir = os.path.join(work, "eventlog")
        if trace:
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = None
        self.gateway = None

    def start(self):
        from pagerankproject_spark import session

        self.spark = session.get_spark(
            app_name="perfbench", master=f"local[{_cpus()}]", extra_conf=self.conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.gateway = SparkContext._gateway
        return self.spark

    @property
    def jvm_pid(self) -> int:
        return self.gateway.proc.pid

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.gateway is not None:
            proc = self.gateway.proc
            self.gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            self.gateway = None


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _pin_environment(work)
    try:
        return _run(WORKLOADS[workload](), seed, seconds, trace, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(wl, seed: int, seconds: float, trace: bool, work: str) -> dict:
    sess = Session(work, trace)
    tracer = spans.Tracer(trace)
    try:
        # set-up = session start (once: it launches the JVM) + the median
        # of SETUP_REPS generations and graph builds
        t0 = time.perf_counter()
        spark = sess.start()
        get_spark_s = time.perf_counter() - t0
        inputs = os.path.join(work, "in")
        setup_reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.release()
            shutil.rmtree(inputs, ignore_errors=True)
            os.makedirs(inputs)
            wl.generate(seed, inputs)
            wl.setup(spark, inputs)
            setup_reps.append(time.perf_counter() - t0)
        wl.oracle()
        # load and compile the op's code paths: the op on a 1/20-size
        # input with every loop capped, unchecked
        t0 = time.perf_counter()
        warm, warm_in = type(wl)(scale=WARM_SCALE), os.path.join(work, "warm")
        os.makedirs(warm_in)
        warm.generate(seed, warm_in)
        warm.setup(spark, warm_in)
        warm.op(spark, warm_in, tracer, warm=True)
        warm.teardown_op()
        warm.release()
        warm_s = time.perf_counter() - t0

        results, failures = [], []
        attempted = failed = 0
        pids = (os.getpid(), sess.jvm_pid)
        for pid in pids:
            _reset_hwm(pid)
        start = time.perf_counter()
        # at least one op. When tracing, at least four: untraced,
        # untraced, traced, untraced, ..., ending untraced, so that every
        # traced op sits between two untraced ones of about the same
        # warmth (the first op runs colder than the rest and is left out)
        def traced_op(i: int) -> bool:
            return trace and i > 0 and i % 2 == 0

        while (attempted < (4 if trace else 1) or traced_op(attempted - 1)
               or time.perf_counter() - start < seconds):
            traced = traced_op(attempted)
            try:
                with tracer.op(spark, attempted, traced) as rec, (
                    tracer.installed(wl.trace_targets) if traced
                    else contextlib.nullcontext()
                ):
                    r = wl.op(spark, inputs, tracer)
                    rec["job_s"] = r.job_s
                wl.teardown_op()
            except Exception:
                r = None
                failures.append(traceback.format_exc(limit=4))
            if r is not None:
                failures += r.failures
                results.append(r)
            failed += r is None or bool(r.failures)
            attempted += 1
        peak_rss = sum(_vm_hwm_mb(pid) for pid in pids)
        app_id = spark.sparkContext.applicationId
    finally:
        sess.close()

    out = {
        "workload": wl.name,
        "ops": attempted,
        "failed": failed,
        "failures": failures[:5],
        "setup_s": get_spark_s + statistics.median(setup_reps),
        "get_spark_s": get_spark_s,
        "setup_samples": setup_reps,
        "warmup_s": warm_s,
        "peak_rss_mb": peak_rss,
    }
    if results:
        job = [r.job_s for r in results]
        out["job_s"] = statistics.median(job)
        out["job_samples"] = job
        out["edges_per_s"] = statistics.median(r.edge_passes / r.job_s for r in results)
        resumes = [r.resume_s for r in results if r.resume_s is not None]
        if resumes:
            out["resume_s"] = statistics.median(resumes)
    if trace and results:
        jobs = spans.read_event_log(sess.event_dir, app_id)
        layers = spans.layer_metrics(tracer, jobs, get_spark_s)
        base = os.path.join(ROOT, ".bench_work", "trace", f"{wl.name}-seed{seed}")
        os.makedirs(os.path.dirname(base), exist_ok=True)
        tracer.write(base + ".spans.jsonl")
        with open(base + ".layers.json", "w") as f:
            json.dump(layers, f, indent=1, sort_keys=True)
        out["layers"] = layers
    return out


UNITS = {"setup_s": "s", "job_s": "s", "edges_per_s": "edges/s",
         "resume_s": "s", "fail_ratio": "ratio", "peak_rss_mb": "MiB"}


def _layer_unit(name: str) -> str:
    if name.endswith("_s") or name.endswith("_s_p50"):
        return "s"
    if name.endswith("_mb") or name.endswith("_mb_per_iter"):
        return "MiB"
    if name.endswith(("task_skew", "busy_share", "jobs_per_iter")):
        return "ratio"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description="link-graph benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.find_spec("pagerankproject_spark")
    if spec is None or not spec.origin.startswith(ROOT + os.sep):
        print(f"pagerankproject_spark not found under {ROOT}: run from the "
              "root of a source checkout", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    import pyspark

    r = run(a.workload, a.seed, a.seconds, bool(a.trace))
    if "job_s" not in r:
        print(json.dumps(r, indent=1), file=sys.stderr)
        return 1
    r["fail_ratio"] = r["failed"] / r["ops"]
    env = {"cpus": _cpus(), "master": f"local[{_cpus()}]",
           "driver_memory": DRIVER_MEMORY, "spark": pyspark.__version__,
           "python": platform.python_version()}
    print("# env " + json.dumps(env))
    for k in ("setup_s", "job_s", "edges_per_s", "resume_s", "fail_ratio",
              "peak_rss_mb"):
        if k in r:
            print(f"# {a.workload} {k} = {r[k]:.6g} {UNITS[k]}")
    print(f"# ops={r['ops']} job_samples={[round(x, 3) for x in r['job_samples']]} "
          f"get_spark_s={r['get_spark_s']:.3f} "
          f"setup_samples={[round(x, 3) for x in r['setup_samples']]} "
          f"warmup_s={r['warmup_s']:.3f}")
    for f in r["failures"]:
        print("# FAILED: " + f.strip().replace("\n", "\n#   "))
    if a.trace:
        metrics = {k: {"value": v, "unit": _layer_unit(k)}
                   for k, v in sorted(r["layers"].items())}
    else:
        metrics = {k: {"value": r[k], "unit": UNITS[k]}
                   for k in ("job_s", "edges_per_s", "peak_rss_mb", "setup_s")}
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["ops"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
