"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch,stream} --seed N \
        --seconds S --trace {0,1} [--toy]

Run from the root of a checkout.  One invocation is one fresh process:
it writes the workload's seeded inputs under ``.perfbench_work/``, sets
a ``local[N]`` session up several times, each in a freshly launched
driver JVM (the last one runs the workload), measures, checks the outputs untimed, and prints as its last
stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 0`` reports the end-to-end metrics, ``--trace
1`` the per-layer metrics of a traced run of the same inputs.  The line
before it holds the run's details and environment record.  ``--toy``
shrinks every input for a quick smoke run.

It exits non-zero without a result when the program is not importable
from the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SETUPS = 3          # cold set-ups per run; setup_s uses their median
# Task slots of the local[N] session.  Every operation here is bound by
# per-job overhead, not by data, so two slots lose little; leaving idle
# vCPUs lets the scheduler move work off a vCPU the hypervisor is
# stealing, which steadies the walls on a shared host.
CORES = 2


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["batch", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--toy", action="store_true")
    return ap.parse_args(argv)


def declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def cores() -> int:
    return max(1, min(CORES, len(os.sched_getaffinity(0))))


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def host_probe(spark) -> list[float]:
    """bench.py's fixed host-speed workload (range -> hash aggregate ->
    shuffle -> rollup, no program code): one untimed warm-up, then three
    timed runs."""
    from pyspark.sql import functions as F
    c = (spark.range(30_000_000)
         .select((F.col("id") % 1009).alias("k"),
                 (F.col("id") * 2654435761 % 97).cast("double").alias("v"))
         .groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n"))
         .groupBy((F.col("k") % 7).alias("g")).agg(F.sum("s"), F.sum("n")))
    times = []
    for _ in range(4):
        t0 = time.perf_counter()
        c.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return times[1:]


def steal_s() -> float:
    """CPU time the hypervisor took from this machine's vCPUs so far
    (/proc/stat's steal column), summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def stop_jvm() -> None:
    """Shut the Py4J gateway down and wait for the driver JVM (and with
    it every Python worker it forked) to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def environment(n: int) -> dict:
    import duckdb
    import pyspark
    try:
        java = subprocess.run(["java", "-version"], capture_output=True,
                              text=True, timeout=30).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = "unknown"
    return {"nproc": os.cpu_count(), "master": f"local[{n}]",
            "pyspark": pyspark.__version__, "java": java,
            "duckdb": duckdb.__version__, "python": sys.version.split()[0]}


def configure_environment(n: int) -> None:
    """Fix every setting the program reads from the environment before
    any of it is imported (session.py reads SPARK_GRAFT_CPUS at import
    time), so a run measures the same configuration whatever the
    caller's shell holds."""
    # worker processes (Python UDFs) import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    # no on-disk artifact store: every run computes from its own inputs
    os.environ.pop("SPARK_GRAFT_ARTIFACT_DIR", None)
    # scratch files of Python, the JVM and Spark stay inside the checkout
    tmp = os.path.join(ROOT, ".perfbench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    confs = {
        # a fixed-size driver heap, so the JVM's heap resizing does not
        # move peak_mem_mb from run to run
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(ROOT, ".perfbench_work", "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job and stage of the run at its end
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
        + ["pyspark-shell"])


def main(argv=None) -> int:
    args = parse_args(argv)
    n = cores()
    configure_environment(n)
    sys.path[:0] = [HERE, ROOT]
    try:   # the program under test must be importable from the checkout
        import __spark_entry__  # noqa: F401
        import mental_health_bigdata_project_spark  # noqa: F401
        import_s = time.perf_counter() - T_START
        import scripts.check_oracles  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program not found in {ROOT}: {e}", file=sys.stderr)
        return 2

    from workloads import WORKLOADS
    from tracing import Tracer

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    wl = WORKLOADS[args.workload](work, args.seed, args.seconds, args.toy)
    spark = None
    try:
        wl.prepare()

        from mental_health_bigdata_project_spark.session import get_spark
        # Each set-up launches a fresh driver JVM, as a new process would;
        # only the Python imports (once, from process start) are shared.
        setups, get_s, load_s = [], [], []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
                stop_jvm()
            t0 = time.perf_counter()
            spark = get_spark("perfbench", master=f"local[{n}]",
                              shuffle_partitions=n)
            t1 = time.perf_counter()
            wl.touch(spark)
            t2 = time.perf_counter()
            setups.append(t2 - t0)
            get_s.append(t1 - t0)
            load_s.append(t2 - t1)
        setup_s = import_s + statistics.median(setups)
        parts = spark.conf.get("spark.sql.shuffle.partitions")
        if parts != str(n):
            raise RuntimeError(f"session runs {parts} shuffle partitions, not {n}")

        tracer = Tracer(spark, bool(args.trace))
        probe = host_probe(spark) if args.trace else []
        steal0 = steal_s()
        e2e = wl.measure(spark, tracer)
        steal = steal_s() - steal0
        if args.trace:
            probe += host_probe(spark)
        pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
        peak_mem = sum(vm_hwm_mb(p) for p in pids)
        failed_checks = wl.check(spark)
        e2e.update(setup_s=setup_s, peak_mem_mb=peak_mem)
        if args.trace:
            layers = wl.layers(tracer)
            layers.update({
                "session.get_spark_s": statistics.median(get_s),
                "sources.load_table_s": statistics.median(load_s),
                "host.probe_s": statistics.median(probe),
                "traced.first_s": e2e["first_s"],
                "traced.repeat_s": e2e["repeat_s"],
            })
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.json"))
            metrics = {k: {"value": layers.get(k, 0), "unit": u}
                       for k, u in declared("per_layer").items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in declared("end_to_end").items()}
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    failed = wl.failed + failed_checks
    detail = dict(wl.detail, workload=args.workload, seed=args.seed,
                  trace=args.trace, import_s=import_s, setups=setups,
                  host_probe_s=probe,
                  host_steal_s=steal,
                  errors=wl.errors, env=environment(n))
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": wl.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
