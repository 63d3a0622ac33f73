"""The repository's benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates the workload's inputs
from the seed, runs the workload through the package's public functions
for about ``--seconds`` seconds, checks every output, and prints as its
last line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
from a run that records spans and Spark counters.

The command starts the workload in a fresh child process whose Spark
session is pinned to this host, writes everything under ``.perfbench/``
in the checkout, keeps a report per run in ``.perfbench/reports/`` and
removes the rest. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

from spans import host_cpu_ticks, p50, session_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
CHILD_TIMEOUT_S = 165  # the whole command must end within 180 s


def host_facts() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        ram_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {"nproc": nproc, "ram_mb": ram_kb // 1024, "python": platform.python_version()}


def driver_memory_mb(ram_mb: int) -> int:
    """A driver heap that leaves most of the host to everything else."""
    return max(512, min(2048, ram_mb // 4))


def driver_java_options(heap_mb: int) -> str:
    """The package's own driver option plus a fixed G1 heap and the C1 JIT
    only. The heap: all of it from the start, a quarter of it young, a fixed
    marking threshold; left to size the heap by GC time, G1 made the
    driver's peak RSS swing by a fifth between runs of the same input on a
    loaded host. C1 only: with C2 as well, a drain took about five runs of
    its input to stop getting faster, and the compiler threads' CPU made
    every pass until then slow down two to four times more than the CPU a
    neighbour stole (README)."""
    return f"-Duser.timezone=UTC -Xms{heap_mb}m -Xmn{heap_mb // 4}m -XX:-G1UseAdaptiveIHOP -XX:TieredStopAtLevel=1"


def source_id(root: str) -> str:
    """The git commit when there is one, else a digest of the package
    source, so a report names the code it measured."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(root, "ingestion_pipeline_spark")
    for dirpath, dirnames, names in os.walk(pkg):
        dirnames.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(dirpath, n), "rb") as fh:
                    h.update(n.encode() + fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


# --- child: one workload in one Spark session ----------------------------------------


def timed_phase(wl, seconds: float, tracer):
    """Whole passes, as many as fit ``seconds``: another pass starts while
    half of one, at the last pass's length, still fits. So the phase
    measures ``seconds`` give or take half a pass, and at least one pass."""
    results = []
    t0 = time.perf_counter()
    while not results or time.perf_counter() - t0 + results[-1].wall_s / 2 < seconds:
        c0, (s0, h0) = session_cpu_s(), host_cpu_ticks()
        results.append(wl.run_pass(len(results), tracer))
        s1, h1 = host_cpu_ticks()
        results[-1].cpu_s = session_cpu_s() - c0
        results[-1].steal = (s1 - s0) / max(1, h1 - h0)
    return results


def summarize(results) -> dict:
    ops = sum(r.ops for r in results)
    return {
        "ops": ops,
        # the median pass, so one pass slowed by the host does not move it
        "ops_per_s": p50(r.ops / r.wall_s for r in results if r.wall_s),  # 0.0 when every pass failed
        "op_p50_ms": p50(x for r in results for x in r.latencies_ms),  # 0.0 when every pass failed
        "op_samples": sum(len(r.latencies_ms) for r in results),
        "latencies_ms": [x for r in results for x in r.latencies_ms],
        "attempted": sum(r.attempted for r in results),
        "passes": len(results),
        "failed": sum(r.failed for r in results),
        "pass_wall_s": [r.wall_s for r in results],
        "pass_cpu_s": [r.cpu_s for r in results],
        "pass_steal": [r.steal for r in results],
    }


def child(args) -> int:
    t_start = time.perf_counter()
    sys.path.insert(0, os.getcwd())
    from ingestion_pipeline_spark.session import get_spark

    import spans
    from workloads import WORKLOADS, Context

    facts = host_facts()
    run_dir = os.path.abspath(args.run_dir)
    spark = get_spark(
        f"perfbench-{args.workload}",
        master=f"local[{facts['nproc']}]",
        shuffle_partitions=facts["nproc"],
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": driver_java_options(driver_memory_mb(facts["ram_mb"])),
        },
    )
    session_s = time.perf_counter() - t_start
    try:
        wl = WORKLOADS[args.workload](Context(spark, os.path.join(run_dir, "data"), args.seed))
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + gen_s + warm_s

        tracer = spans.Tracer() if args.trace else spans.NullTracer()
        results = timed_phase(wl, args.seconds, tracer)
        final_failed = wl.final_failures()
        layers = wl.layer_metrics(tracer) if args.trace else {}
        rss = {"jvm_mb": spans.vm_hwm_mb(spans.jvm_pid(spark)), "python_mb": spans.vm_hwm_mb()}
        jvm = spark.sparkContext._jvm.java.lang.System
        facts.update(
            spark=spark.version,
            java=jvm.getProperty("java.version"),
            seed=args.seed,
            source=source_id(os.getcwd()),
            driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            driver_java_options=spark.conf.get("spark.driver.extraJavaOptions"),
        )
    finally:
        spark.stop()

    timed = summarize(results)
    attempted = timed["attempted"]
    failed = min(attempted, timed["failed"] + final_failed)
    end_to_end = {
        "setup_s": setup_s,
        "ops_per_s": timed["ops_per_s"],
        "op_p50_ms": timed["op_p50_ms"],
        "peak_rss_mb": rss["jvm_mb"] + rss["python_mb"],
    }
    if args.trace:
        # the traced run's own end-to-end figures; minus an untraced run's
        # on the same workload and seed, they are the tracing overhead
        layers["trace.ops_per_s"] = timed["ops_per_s"]
        layers["trace.op_p50_ms"] = timed["op_p50_ms"]
    report = {
        "workload": args.workload,
        "trace": args.trace,
        "seconds": args.seconds,
        "facts": facts,
        "setup": {"session_s": session_s, "generate_s": gen_s, "warm_up_s": warm_s,
                  **getattr(wl, "setup_parts", {})},
        "peak_rss": rss,
        "timed": timed,
        "attempted": attempted,
        "failed": failed,
        "failed_ratio": failed / attempted if attempted else 1.0,
        "end_to_end": end_to_end,
        "per_layer": layers,
        "spans": tracer.dump(),
    }
    with open(os.path.join(run_dir, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    return 0


# --- parent: fresh process, log capture, result line -----------------------------------


def stop_group(proc: subprocess.Popen) -> None:
    """Stop what is left of the child's process group (the JVM and the
    Python workers) and wait until every member has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            proc.poll()  # reap the leader so it stops counting as a member
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                proc.wait()
                return
            time.sleep(0.1)
    proc.wait()


def parent(args) -> int:
    from spans import count_error_lines

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "ingestion_pipeline_spark")):
        print("perfbench: run from the root of a checkout (no ingestion_pipeline_spark/ here)", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench")
    run_dir = os.path.join(base, f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(os.path.join(run_dir, "spark-local"))
    os.makedirs(tmp)
    facts = host_facts()
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(facts["nproc"]),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_memory_mb(facts['ram_mb'])}m",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        # every JVM of the run (launcher and driver) keeps its temp files
        # in the checkout and writes no hsperfdata file to /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join([root, HERE, os.environ.get("PYTHONPATH", "")]),
    )
    log_path = os.path.join(run_dir, "child.log")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--child", "--run-dir", run_dir,
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
    report_path = os.path.join(run_dir, "report.json")
    if code != 0 or not os.path.exists(report_path):
        with open(log_path, errors="replace") as fh:
            tail = fh.readlines()[-40:]
        why = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: workload process {why}; log tail:\n{''.join(tail)}", file=sys.stderr)
        return 1

    with open(report_path) as fh:
        report = json.load(fh)
    report["per_layer"]["log.error_lines"] = count_error_lines(log_path)
    report["log_error_lines"] = report["per_layer"]["log.error_lines"]
    kept = os.path.join(base, "reports")
    os.makedirs(kept, exist_ok=True)
    with open(os.path.join(kept, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = report["per_layer"] if args.trace else report["end_to_end"]
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    f = report["facts"]
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} nproc={f['nproc']} ram_mb={f['ram_mb']} "
          f"spark={f['spark']} java={f['java']} python={f['python']} source={f['source']}")
    print(f"attempted={report['attempted']} failed={report['failed']} failed_ratio={report['failed_ratio']:.6g} "
          f"passes={report['timed']['passes']} op_samples={report['timed']['op_samples']} "
          f"log.error_lines={report['log_error_lines']}")
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": int(report["attempted"]),
        "failed": int(report["failed"]),
        "metrics": metrics,
    }))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--run-dir", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return child(args) if args.child else parent(args)


if __name__ == "__main__":
    sys.exit(main())
