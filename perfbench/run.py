"""The pulse benchmark: one command per named workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The last line of stdout is one JSON
object {"correct", "attempted", "failed", "metrics"}: with ``--trace 0``
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the
per-layer metrics (the traced run also writes its spans and turns on
Spark's event log).  A host record is printed on the line before it.
Progress and diagnostics go to stderr.  Everything the run writes lives
under ``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch", "stream_pipeline")


def _log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def _cpus() -> int:
    # nproc without OMP_NUM_THREADS: the cores this process may use
    return len(os.sched_getaffinity(0))


def _mem_available_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no MemAvailable in /proc/meminfo")


def _check_checkout() -> None:
    needed = ("__spark_entry__.py", "currency_market_pulse_spark",
              os.path.join("tools", "gen_sf.py"))
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        _log(f"not a pulse checkout (missing {missing}); nothing to run")
        sys.exit(2)


class Ctx:
    """What a workload gets: the session, its inputs and the tracer."""

    def __init__(self, args):
        from perfbench.trace import Tracer

        self.root = ROOT
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracer = Tracer(bool(args.trace))
        self.log = _log
        self.spark = None
        self.inputs: dict = {}
        self.sf_dir = None


def _environment(work: str, trace: bool) -> None:
    """Session settings that must be in place before the JVM starts."""
    cpus = str(_cpus())
    for d in ("spark-local", "tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the engine from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={work}/warehouse",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work}/tmp "
        f"-Dderby.system.home={work}/tmp",
    ]
    if trace:
        confs += ["spark.eventLog.enabled=true",
                  "spark.eventLog.compress=false",
                  f"spark.eventLog.dir=file://{work}/eventlog"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf '{c}'" for c in confs) + " pyspark-shell"


def _stop(spark) -> None:
    """Stop the session and wait for the Spark driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    _check_checkout()
    # import the benchmark as the ``perfbench`` package from the root,
    # never its modules as top-level names (``trace`` is a stdlib name)
    sys.path[:] = [ROOT] + [q for q in sys.path
                            if os.path.abspath(q or ".") != HERE]

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _run(args, work: str) -> int:
    import importlib

    _environment(work, bool(args.trace))
    from perfbench.trace import median, peak_rss_mb, read_event_log

    load0 = os.getloadavg()
    ctx = Ctx(args)
    mod = importlib.import_module(f"perfbench.{args.workload}")

    # ---- set-up: session start, input generation (median of three)
    # and the workload's own engine warm-up (reported back as warmup_s)
    from currency_market_pulse_spark.session import get_spark

    t0 = time.perf_counter()
    with ctx.tracer.span("session.start"):
        spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    ctx.spark = spark
    try:
        gen_s = []
        for i in range(3):
            t0 = time.perf_counter()
            with ctx.tracer.span("datagen"):
                ctx.inputs = mod.generate(ctx, os.path.join(work, f"in{i}"))
            gen_s.append(time.perf_counter() - t0)
        ctx.sf_dir = ctx.inputs.get("sf_dir")
        _log(f"session {session_s:.2f}s, inputs {sorted(gen_s)}")
        out = mod.run(ctx)
        rss = peak_rss_mb(spark)
        host = {
            "nproc": _cpus(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "pyspark": spark.version,
            "python": platform.python_version(),
            "loadavg_start": load0,
            "loadavg_end": os.getloadavg(),
            "mem_available_mb": round(_mem_available_mb()),
        }
    finally:
        _stop(spark)
        _log("session stopped")

    _log("layer values: " + json.dumps(out["layer"]))
    e2e = dict(out["e2e"])
    e2e["setup_s"] = session_s + median(gen_s) + out["warmup_s"]
    host.update(out.get("host", {}))
    host["peak_rss_mb"] = rss
    layer = {}
    if args.trace:
        layer = dict(out["layer"])
        layer["session.start_s"] = session_s
        layer["datagen_s"] = median(gen_s)
        layer["process.peak_rss_mb"] = rss
        # only the jobs of the gated section: not set-up, not the checks
        ev = read_event_log(os.path.join(work, "eventlog"), out["window"])
        layer.update({
            "exec.jobs": ev["jobs"], "exec.stages": ev["stages"],
            "exec.tasks": ev["tasks"], "exec.task_run_s": ev["run_s"],
            "exec.task_cpu_s": ev["cpu_s"], "exec.gc_s": ev["gc_s"],
            "exec.shuffle_write_mb": ev["shuffle_write_mb"],
            "exec.shuffle_read_mb": ev["shuffle_read_mb"],
            "exec.spill_mb": ev["spill_mb"]})
        spans_dir = os.path.join(ROOT, ".perfbench_spans")
        os.makedirs(spans_dir, exist_ok=True)
        spans_path = os.path.join(
            spans_dir, f"{args.workload}-seed{args.seed}.json")
        ctx.tracer.dump(spans_path)
        _log(f"spans written to {spans_path}")
    print(json.dumps({"host": host, "workload": args.workload,
                      "seed": args.seed, "trace": args.trace,
                      "detail": out.get("detail", {}),
                      "end_to_end": e2e, "per_layer": layer},
                     default=str), flush=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted, values = ((spec["per_layer"], layer) if args.trace
                      else (spec["end_to_end"], e2e))
    # a per-layer metric of a layer this workload does not cross is 0
    absent = [m["name"] for m in wanted if m["name"] not in values]
    if absent:
        _log(f"not exercised by {args.workload} (reported as 0): {absent}")
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": bool(out["correct"]),
                      "attempted": int(out["attempted"]),
                      "failed": int(out["failed"]),
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
