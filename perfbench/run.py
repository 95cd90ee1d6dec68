"""sparkgrep benchmark: run one seeded workload and print its metrics.

    python3 perfbench/run.py --workload search|ingest --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from the seed
into a fresh directory under ``.perfbench/work/`` (removed at the end);
every search result is checked against the SQLite FTS5 oracle, and
every declared query of a traced ``ingest`` run against its DuckDB
oracle. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics, from a run
that also records spans and a Spark event log. The full record of a run
(host probe, session size, failures, traced end-to-end values and job
time by engine module) goes to ``.perfbench/out/``.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
# The driver's JVM heap, fixed (-Xms = -Xmx) so the collector sizes its
# generations the same way on every run. Ample for the benchmark's
# inputs; never more than a third of the host's memory.
DRIVER_MEM_GB = 2
# numpy sort probe (tools/hw_control.py) run before and after each run,
# recorded as host context: 4 workers, 4 tasks
HW_PROBE = ("import json, sys; sys.path.insert(0, 'tools'); import hw_control; "
            "print(json.dumps(hw_control.run(4, 4)))")


def hw_probe() -> "float | None":
    try:
        out = subprocess.run([sys.executable, "-c", HW_PROBE], cwd=ROOT,
                             capture_output=True, text=True, timeout=120)
        return float(out.stdout.strip().splitlines()[-1])
    except (subprocess.SubprocessError, ValueError, IndexError):
        return None


def stop_spark(spark) -> None:
    """Stop the session and its gateway JVM, and wait until the JVM has
    ended (it exits when its standard input closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def session(work: str, trace: bool):
    """A session sized to this host: local[nproc], nproc shuffle
    partitions, a bounded heap, and every scratch file under ``work``."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM spark-submit starts keeps its temp files under ``work``
    # and writes no hsperfdata file to the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    mem = f"{max(1, min(DRIVER_MEM_GB, int(phys_gb / 3)))}g"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    import tempfile

    tempfile.tempdir = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Xms{mem}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + log_dir
        conf["spark.eventLog.rolling.enabled"] = "false"  # one plain JSON file
        conf["spark.eventLog.compress"] = "false"
    from codebased_spark.session import get_spark

    spark = get_spark(master=f"local[{ncpu}]", shuffle_partitions=ncpu,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, ncpu


def end_to_end(run) -> dict:
    s = run.samples

    def med(xs):
        return float(statistics.median(xs)) if xs else 0.0

    return {
        "setup_s": med(s["setup"]),
        "op_p50_s": med(s["op"]),
        "bulk_per_s": run.bulk_per_s,
        "index_bytes_per_input_byte": run.index_bytes_per_input_byte,
        "mem_mb": run.mem_mb,
    }


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 scale: str = "full", perturb: bool = False) -> tuple[dict, dict]:
    """Run one workload; return (metrics by name, record of the run)."""
    from perfbench.spans import Tracer, read_event_log, self_times
    from perfbench.workloads import WORKLOADS, Run

    work = os.path.join(OUT, "work", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record: dict = {"workload": workload, "seed": seed, "seconds": seconds,
                    "trace": int(trace), "scale": scale,
                    "hw_np_sort_4w_s_before": hw_probe()}
    try:
        t0 = time.perf_counter()
        spark, ncpu = session(work, trace)
        record.update(session_s=time.perf_counter() - t0, local_cores=ncpu,
                      driver_mem=os.environ["SPARK_GRAFT_DRIVER_MEM"])
        try:
            tracer = Tracer(spark.sparkContext, enabled=trace)
            run = Run(spark, work, seed, seconds, tracer, scale=scale, perturb=perturb)
            WORKLOADS[workload](run).run()
            metrics = end_to_end(run)
        finally:
            stop_spark(spark)
        if trace:
            from perfbench.layers import MODULES, per_layer

            jobs = read_event_log(os.path.join(work, "eventlog"))
            layer = per_layer(workload, run, tracer.spans, jobs, ROOT)
            for name, value in metrics.items():
                layer[f"trace.{name}"] = value
            selfs = self_times(tracer.spans)
            record["spans"] = [dict(s, self_s=selfs[s["id"]]) for s in tracer.spans]
            record["job_s_by_module"] = {m: layer[f"jobs.{m}_s"]
                                         for m in MODULES + ("other",)}
            log_keep = os.path.join(OUT, "out", f"eventlog-{workload}")
            os.makedirs(os.path.dirname(log_keep), exist_ok=True)
            shutil.rmtree(log_keep, ignore_errors=True)
            shutil.move(os.path.join(work, "eventlog"), log_keep)
            metrics = layer
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record.update(attempted=run.attempted, failures=run.failures,
                  samples=run.samples,
                  hw_np_sort_4w_s_after=hw_probe())
    return metrics, record


def result_line(spec: dict, metrics: dict, record: dict, trace: bool) -> dict:
    """The benchmark's last output line: the declared metrics, in their
    declared units."""
    declared = spec["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        raise KeyError(f"metrics not produced: {missing}")
    failed = len(record["failures"])
    values = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
              for m in declared}
    correct = failed == 0 and (trace or all(v["value"] > 0 for v in values.values()))
    return {"correct": correct, "attempted": record["attempted"],
            "failed": failed, "metrics": values}


def invoke(args: list[str], cwd: str = ROOT) -> tuple[int, "dict | None"]:
    """Run this command in a subprocess; return (exit code, parsed last
    stdout line or None)."""
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("search", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs: a tiny input scale, and one deliberately corrupted
    # result that the checker must count as failed
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help=argparse.SUPPRESS)
    ap.add_argument("--perturb", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "codebased_spark", "__init__.py")):
        print(f"perfbench: no codebased_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    # import the benchmark as a package from the checkout root, never its
    # modules by bare name from the script's own directory
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    metrics, record = run_workload(args.workload, args.seed, args.seconds,
                                   bool(args.trace), args.scale, args.perturb)
    result = result_line(spec, metrics, record, bool(args.trace))
    record["result"] = result
    os.makedirs(os.path.join(OUT, "out"), exist_ok=True)
    out = os.path.join(OUT, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for op, why in list(record["failures"].items())[:20]:
        print(f"perfbench: FAILED {op}: {why}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
