"""Benchmark of lumbermill_spark: three oracle-checked workloads.

Run from the root of a checkout:

    python3 lmbench/run.py --workload agg_flagship --seed 1 --seconds 8 --trace 0

Workloads (closed loop: one client, one job at a time, local[nproc]):

- ``agg_flagship``: scan -> regex parse -> pre-aggregate -> map enrich ->
  route tag -> per-sink aggregate, collected;
- ``yaml_routed``: the flagship.yaml stage list through
  ``compile_pipeline(spark, spec).run(base)``: salted repartition, parse,
  two input-filtered modules, two parquet sinks and one gzip text sink,
  lineage and checkpoint commits;
- ``merge_ingest``: seeded increments drained by
  ``streaming.pipeline.run_merged`` into a merge sink keyed on doc_id.

``--trace 0`` measures the end-to-end metrics for ``--seconds`` seconds.
``--trace 1`` adds a traced run: spans around the program's eager layer
calls, each tagged with a Spark job group, stage metrics per group from
the status store, and a cumulative noop-sink ladder for the lazy layers.

Inputs come from ``--seed`` and are cached, with their oracle references,
under ``.lmbench/`` in the working directory; Spark's scratch space and the
per-run records (host, spans, all metrics) go there too.  The last stdout
line is one JSON object with the keys correct, attempted, failed and
metrics.  The exit code is 1 when an output does not match its reference,
2 when the program cannot be imported.
"""

from __future__ import annotations

import time

T_MAIN = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".lmbench")
DRIVER_MEM = "2g"          # far below RAM: peak RSS stays near 3.3 GB
CALIB_ITERS = 1_000_000
LOADED_CALIB_DROP = 0.8    # calib after / before below this: host was loaded
LADDER_REPS = 2            # runs of every ladder rung; the median is kept

END_TO_END = {             # name -> unit
    "seq_per_s": "seq/s",
    "tok_per_s": "tok/s",
    "batch_p50_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "scan.s": "s", "scan.input_bytes": "bytes",
    "tokens.decode_s": "s", "tokens.cpu_s": "s",
    "regex_parser.parse_s": "s", "regex_parser.cpu_s": "s",
    "field_actions.enrich_s": "s", "router.tag_s": "s",
    "pipeline.compile_s": "s", "pipeline.plan_scan_nodes": "count",
    "router.write_s": "s", "router.output_bytes": "bytes",
    "router.files_written": "count", "router.input_scans": "ratio",
    "skew.shuffle_write_bytes": "bytes", "skew.task_skew": "ratio",
    "checkpoint.commit_s": "s", "checkpoint.commit_n": "count",
    "checkpoint.lineage_s": "s", "checkpoint.lineage_n": "count",
    "checkpoint.read_s": "s", "checkpoint.read_n": "count",
    "checkpoint.files": "count",
    "stateful.upsert_s": "s", "stateful.shuffle_write_bytes": "bytes",
    "stateful.snapshot_rows": "count",
    "streaming.batches": "count", "streaming.batch_overhead_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.spill_bytes": "bytes",
    "spark.core_idle_frac": "ratio", "spark.task_skew": "ratio",
    "scaling_eff": "ratio",
    "trace.overhead_s": "s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_age() -> float:
    """Seconds between this process's start and ``T_MAIN``."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    age_now = up - start / os.sysconf("SC_CLK_TCK")
    return max(0.0, age_now - (time.time() - T_MAIN))


def calibrate() -> float:
    """Single-core probe: loop iterations per second, best of 3."""
    best = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(CALIB_ITERS):
            x += i * i
        best = max(best, CALIB_ITERS / (time.perf_counter() - t0))
    return best


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def configure_env() -> None:
    """Keep Spark's scratch files inside the working directory and the
    driver heap below the host's memory."""
    scratch = os.path.join(CACHE, "tmp")
    os.makedirs(scratch, exist_ok=True)
    os.environ["LMS_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = scratch
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def start_spark(cores: int):
    from lumbermill_spark.session import get_spark

    scratch = os.path.join(CACHE, "tmp")
    spark = get_spark("lmbench", cores=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": scratch,
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions":
            # a pre-touched fixed heap keeps the JVM's share of the peak
            # RSS from depending on when the GC chose to grow the heap
            f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and so its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(wl, spark, seconds: float):
    """Closed loop: run and check the workload for ``seconds``, at least
    once.  An iteration that would end past the deadline is not started,
    so a run's iteration count does not depend on small speed changes."""
    import workloads

    its = []
    end = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        try:
            it = wl.iterate(spark)
            wl.check(spark, it)
        except Exception as e:  # a failed run counts against error_rate
            traceback.print_exc()
            it = workloads.Iteration(time.perf_counter() - t0, 0, 0,
                                     bad=[f"run failed: {type(e).__name__}"])
        its.append(it)
        if it.bad or time.perf_counter() + (time.perf_counter() - t0) > end:
            return its


def end_to_end(its, setup_s: float, rss: float) -> dict:
    batches = [b for it in its for b in it.batch_secs] or [it.secs for it in its]
    return {
        "seq_per_s": statistics.median(it.seqs / it.secs for it in its),
        "tok_per_s": statistics.median(it.toks / it.secs for it in its),
        "batch_p50_s": statistics.median(batches),
        "setup_s": setup_s,
        "peak_rss_mb": rss,
    }


def run_ladder(spark, wl, run_id: str, reps: int, pid: int) -> dict:
    """Time every rung ``reps`` times, interleaved; per rung: median wall
    seconds, process CPU seconds and bytes the JVM read, and the stage
    metrics of its last rep."""
    import sparkstats

    sc = spark.sparkContext
    rungs = wl.ladder(spark)
    secs = {n: [] for n, _ in rungs}
    cpu = {n: [] for n, _ in rungs}
    read = {n: [] for n, _ in rungs}
    prefix = f"lmbr:{run_id}:"
    try:
        for r in range(reps):
            for name, fn in rungs:
                sc.setJobGroup(f"{prefix}{name}:{r}", name)
                r0, c0 = sparkstats.read_bytes(pid), sparkstats.cpu_s(pid)
                t0 = time.perf_counter()
                fn()
                secs[name].append(time.perf_counter() - t0)
                cpu[name].append(sparkstats.cpu_s(pid) - c0)
                read[name].append(sparkstats.read_bytes(pid) - r0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    groups = sparkstats.collect(spark, lambda g: g.startswith(prefix))
    return {n: {"secs": statistics.median(secs[n]),
                "cpu": statistics.median(cpu[n]),
                "read": statistics.median(read[n]),
                "stats": groups.get(f"{prefix}{n}:{reps - 1}",
                                    sparkstats.StageStats())}
            for n, _ in rungs}


def traced_run(spark, wl, cores: int, untraced_s: float,
               pid: int) -> tuple[dict, list, object]:
    """One traced iteration plus the ladder -> (per-layer metrics, spans,
    the traced iteration)."""
    import sparkstats
    import spans as tr
    import workloads

    run_id = f"{wl.name}-{os.getpid()}"
    tracer = tr.Tracer(run_id, spark.sparkContext)
    for mod, attr, name in workloads.WRAPPED:
        tracer.wrap(importlib.import_module(mod), attr, name)
    try:
        with tracer.span(f"{wl.name}.iteration") as root:
            tracer.root = root.id
            it = wl.iterate(spark, tracer)
    finally:
        tracer.unwrap_all()
    wl.check(spark, it)
    groups = sparkstats.collect(spark, lambda g: g.startswith(tracer.group_prefix()))
    rungs = run_ladder(spark, wl, run_id, LADDER_REPS, pid)

    m = {k: 0.0 for k in PER_LAYER}
    for metric, (rung, prev) in workloads.LADDER_LAYERS[wl.name].items():
        m[metric] = rungs[rung]["secs"] - (rungs[prev]["secs"] if prev else 0.0)
        for cpu_metric, of in workloads.CPU_LAYERS.items():
            if of == metric:
                m[cpu_metric] = rungs[rung]["cpu"] - rungs[prev]["cpu"]
    m["scan.input_bytes"] = rungs["scan"]["read"]
    run = sparkstats.merged(groups)
    m.update({
        "spark.jobs": run.jobs, "spark.stages": run.stages,
        "spark.tasks": run.tasks, "spark.executor_cpu_s": run.cpu_s,
        "spark.gc_s": run.gc_s, "spark.spill_bytes": run.spill_bytes,
        "spark.core_idle_frac": 1 - run.run_s / (it.secs * cores),
        "spark.task_skew": run.task_skew,
        "trace.overhead_s": it.secs - untraced_s,
    })
    m.update(wl.layer_metrics(spark, tracer.spans, rungs, groups))
    return m, tracer.dump(), it


def parse_args(argv=None):
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(workloads.SCALES), default="full")
    return p.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    sys.path.insert(1, ROOT)
    try:
        importlib.import_module("lumbermill_spark.session")
    except ImportError as e:
        print(f"lmbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    import sparkstats
    import workloads

    configure_env()
    t0 = time.time()
    cores = nproc()
    host = {"nproc": cores,
            "loadavg_pre": os.getloadavg(), "calib_pre": calibrate(),
            "git_sha": git_sha()}
    wl = workloads.WORKLOADS[args.workload](CACHE, args.seed, args.scale)
    wl.prepare()
    excluded = time.time() - t0     # host probe and input generation
    phases = {"prepared": time.time() - T_MAIN}

    spark = start_spark(cores)
    try:
        compile_s = []
        for _ in range(3):
            t0 = time.perf_counter()
            wl.compile(spark)
            compile_s.append(time.perf_counter() - t0)
        setup_s = (process_age() + time.time() - T_MAIN - excluded
                   - sum(compile_s) + statistics.median(compile_s))
        pid = sparkstats.jvm_pid(spark)
        host.update(spark=spark.version, pyarrow=importlib.import_module("pyarrow").__version__,
                    java=spark._jvm.System.getProperty("java.version"),
                    driver_mem=DRIVER_MEM, probe_and_input_s=excluded)
        phases["set_up"] = time.time() - T_MAIN
        wl.warm(spark)
        phases["warm"] = time.time() - T_MAIN

        calib0 = calibrate()
        its = measure(wl, spark, args.seconds)
        calib1 = calibrate()
        host.update(calib_run=[calib0, calib1],
                    loaded=calib1 < LOADED_CALIB_DROP * calib0)
        phases["measured"] = time.time() - T_MAIN
        rss = sparkstats.peak_rss_mb(pid)
        metrics = end_to_end(its, setup_s, rss)

        spans = []
        if args.trace:
            untraced = statistics.median(it.secs for it in its)
            layers, spans, traced = traced_run(spark, wl, cores, untraced, pid)
            its.append(traced)
            if args.workload == "agg_flagship":
                # the same harness at local[1], in the same (warm) JVM
                spark.stop()
                spark = start_spark(1)
                wl.iterate(spark)
                one = measure(wl, spark, args.seconds)
                its += one
                layers["scaling_eff"] = metrics["seq_per_s"] / (
                    cores * end_to_end(one, setup_s, rss)["seq_per_s"])
            metrics = layers
    finally:
        stop_spark(spark)

    phases["done"] = time.time() - T_MAIN
    host.update(loadavg_post=os.getloadavg(), calib_post=calibrate(),
                phases_s=phases)
    attempted = sum(it.attempted for it in its)
    failed = sum(min(len(it.bad), it.attempted) for it in its)
    units = PER_LAYER if args.trace else END_TO_END
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "host": host,
              "iterations": [vars(it) for it in its],
              "metrics": metrics, "spans": spans}
    os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
    with open(os.path.join(CACHE, "results", f"{args.workload}-s{args.seed}"
                           f"-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(json.dumps({"host": host}, default=str))
    for it in its:
        for b in it.bad:
            print(f"MISMATCH {args.workload}: {b}")
    for k, v in metrics.items():
        print(f"{k:32s} {v:14.6g} {units[k]}")
    print(f"{'error_rate':32s} {failed / attempted:14.6g} ratio")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
