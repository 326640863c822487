"""One benchmark run of one workload; the last stdout line is the result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Workloads, metric
names and units are those of BENCHMARK.json at that root. With
``--trace 0`` the result holds the end-to-end metrics, with
``--trace 1`` the per-layer metrics. Inputs, outputs, Spark's local
directories and temporary files all live under ``.perfbench_work/``
in the checkout, which is emptied at the start and removed at the
end; spans and run details go to ``.perfbench_results/``. The process
exits non-zero when an output differs from the DuckDB oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

import probe

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the environment the run started in, for the set-up-only processes
START_ENV = dict(os.environ)
# set-ups after the run's own, each in a fresh process: setup_s is the
# median of all of them
EXTRA_SETUPS = 1


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: the same script runs the single-thread baseline on
    # local[1], and the extra set-ups, as child processes
    ap.add_argument("--baseline", action="store_true")
    ap.add_argument("--setup-only", action="store_true")
    return ap.parse_args(argv)


def driver_memory_mb() -> int:
    """A fifth of physical memory, between 1 and 2 GiB: the inputs are
    tens of MB, and the heap is committed and touched at start (see
    spark_env), so it is held for the whole run."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return max(1024, min(2048, total // 5))


def spark_env(work: str) -> None:
    """Environment the driver JVM and its Python workers inherit; set
    before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    mem = driver_memory_mb()
    os.environ["SPARK_DRIVER_MEMORY"] = f"{mem}m"
    # a heap of fixed size, touched at start, keeps the driver's RSS
    # from tracking when the collector happened to grow the heap; JIT
    # compiler threads that live as long as the JVM let probe.ProgramCpu
    # leave their CPU out
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, [
        os.environ.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData", f"-Xms{mem}m", "-XX:+AlwaysPreTouch",
        "-XX:-UseDynamicNumberOfCompilerThreads"]))
    # workers unpickle library functions by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, ROOT)


def start_spark(master: str, work: str):
    from fluent_bit_spark.session import get_spark

    spark = get_spark("perfbench", master=master, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit: it exits
    when its stdin, a pipe from this process, closes."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def child_setup_s(args: argparse.Namespace) -> float:
    """Set-up time of a fresh process that sets up and stops."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "1", "--trace", "0", "--setup-only"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=120,
                         check=True, env=START_ENV, cwd=ROOT)
    return float(json.loads(out.stdout.strip().splitlines()[-1])["setup_s"])


def result_line(spec: list[dict], values: dict, o) -> dict:
    metrics = {}
    for m in spec:
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    return {"correct": o.failed == 0, "attempted": o.attempted, "failed": o.failed,
            "metrics": metrics}


def main(argv: list[str]) -> int:
    t_start = probe.process_start_time()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "fluent_bit_spark")):
        print("perfbench: no fluent_bit_spark package at the checkout root", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    host = probe.host_facts(ROOT)
    work = os.path.join(ROOT, ".perfbench_work")
    master = f"local[{host['cores']}]"
    if args.baseline:
        master, work = "local[1]", os.path.join(work, "baseline")
    elif args.setup_only:
        work = os.path.join(work, "setup")
    else:
        shutil.rmtree(work, ignore_errors=True)
    spark_env(work)
    spark = start_spark(master, work)
    setup_s = time.time() - t_start
    if args.setup_only:
        stop_spark(spark)
        print(json.dumps({"setup_s": setup_s}))
        return 0
    # the benchmark's own modules (NumPy, pyarrow, DuckDB) load after
    # the set-up is timed
    import workloads

    try:
        tracer = probe.Tracer(run_id=uuid.uuid4().hex[:12], enabled=bool(args.trace))
        jvm = spark.sparkContext._gateway.proc.pid
        ctx = workloads.Ctx(spark, work, args.seed, args.seconds, host["cores"],
                            bool(args.trace), tracer, probe.ProgramCpu(jvm))
        workload = workloads.WORKLOADS[args.workload](ctx)
        if args.baseline:
            print(json.dumps({"job_s": workload.baseline()}))
            return 0
        cpu0 = probe.cpu_ticks()
        with probe.RssSampler(jvm) as rss:
            ctx.cpu.observers.append(rss.tid)
            outcome = workload.run()
        steal = probe.steal_pct(cpu0, probe.cpu_ticks())
    finally:
        stop_spark(spark)

    values = dict(outcome.metrics)
    setups = [setup_s]
    if not args.trace:
        setups += [child_setup_s(args) for _ in range(EXTRA_SETUPS)]
        values["setup_s"] = statistics.median(setups)
        values["peak_rss_mb"] = rss.peak_mb
    spec = bench["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in spec if m["name"] not in values]
    if missing and not args.trace:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        outcome.failed = max(outcome.failed, 1)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "master": master, "steal_pct": round(steal, 2), "setup_s": setups,
              "driver_memory_mb": driver_memory_mb(), "work_dir": work, **host,
              **outcome.detail}
    results = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    tracer.write(os.path.join(results, stem + ".spans.json"))
    with open(os.path.join(results, stem + ".json"), "w") as fh:
        json.dump({"detail": detail, "values": values}, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    detail["wall_s"] = time.time() - t_start
    print(json.dumps(detail, default=str))
    print(json.dumps(result_line(spec, values, outcome)))
    return 0 if outcome.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
