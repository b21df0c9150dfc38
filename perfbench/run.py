"""Benchmark of the KG pipeline and the operator/query library.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Starts one local Spark session with one
task slot per available CPU, builds the workload's inputs from the seed,
runs the workload's op in a closed loop (one op at a time, no other
client) for about S seconds, checks every output, and prints one JSON
object as the last line of standard output. With --trace 0 it reports
the end-to-end metrics named in BENCHMARK.json; with --trace 1 it also
makes one traced run and reports the per-layer metrics instead. The full
record (environment, per-op times, spans, issues) goes to
.perfbench_work/results/. The metric reference is perfbench/METRICS.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

from tracing import Tracer, descendants, host_steal_s, tree_cpu_s

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
# the program files the benchmark needs from the checkout
REQUIRED = ("BENCHMARK.json", "__spark_entry__.py", "simkit_spark/__init__.py",
            "simkit_spark/pipeline/run.py", "tools/check_oracle.py")


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["kg_linking", "operator_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def prepare(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and make the checkout's sources importable by the driver
    and by Spark's Python workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [ROOT, os.path.dirname(os.path.abspath(__file__))]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        paths + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = paths
    import simkit_spark  # noqa: PLC0415

    if not os.path.abspath(simkit_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: simkit_spark resolves outside the checkout: {simkit_spark.__file__}")


def start_session(tmp: str):
    from simkit_spark.session import get_spark  # noqa: PLC0415

    nproc = len(os.sched_getaffinity(0))
    return get_spark(
        "perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
        # the JVM's scratch files stay in the checkout; no perf-counter
        # file in the system temp directory
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"},
    )


def stop_session(spark) -> None:
    """Stop Spark, end the JVM, and wait for its worker processes."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = descendants(proc.pid) - {proc.pid}
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:  # a JVM that will not stop is killed
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)
    for p in pids:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def environment(spark, warehouse: str) -> dict:
    import numpy  # noqa: PLC0415
    import pyarrow  # noqa: PLC0415

    return {
        "cpus": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": spark.conf.get("spark.driver.memory"),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "git_head": git_head(),
        "source_sha256": source_digest(),
        "warehouse_fs": fs_type(warehouse),
    }


def git_head() -> str | None:
    """HEAD from the checkout's own .git, if it has one (a bare source
    checkout has none)."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as f:
                return f.read().strip()
        return head
    except OSError:
        return None


def source_digest() -> str:
    """sha256 over the program's Python sources: names the code measured
    even where there is no git metadata."""
    h = hashlib.sha256()
    files = ["__spark_entry__.py"] + sorted(
        os.path.join(d, f) for d, _, fs in os.walk("simkit_spark") for f in fs if f.endswith(".py"))
    for p in files:
        h.update(p.encode())
        with open(os.path.join(ROOT, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding `path` (tmpfs vs disk moves
    the stage-write cost)."""
    path, best = os.path.realpath(path), ("", "unknown")
    with open("/proc/self/mounts") as f:
        for line in f:
            _dev, mnt, fstype = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best[0]):
                best = (mnt, fstype)
    return best[1]


def main() -> int:
    args = parse_args()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: run from a repository checkout; missing {missing}")
    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare(run_dir)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    t0 = time.perf_counter()
    spark = start_session(os.environ["TMPDIR"])
    session_s = time.perf_counter() - t0
    try:
        result, record = measure(spark, args, run_dir, session_s, spec)
    finally:
        stop_session(spark)
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    for issue in record["issues"]:
        print(f"perfbench issue: {issue}", file=sys.stderr)
    print(json.dumps({"perfbench_env": record["env"]}))
    print(json.dumps(result))
    return 0


def measure(spark, args, run_dir, session_s, spec):
    if args.workload == "kg_linking":
        from kg_linking import KgLinking as Workload  # noqa: PLC0415
    else:
        from operator_queries import OperatorQueries as Workload  # noqa: PLC0415
    wl = Workload(spark, run_dir, args.seed, bool(args.trace))
    jvm_pid = spark.sparkContext._gateway.proc.pid

    # set-up runs once: the run's time budget has no room to repeat it.
    # The warm-up also runs the once-per-invocation output checks.
    t0 = time.perf_counter()
    wl.setup()
    input_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    issues = wl.warmup()
    warmup_s = time.perf_counter() - t0

    # timed ops, closed loop: the next op starts when the last one ends,
    # until --seconds have passed (the last op may end after that)
    walls, cpus, steals, attempted, failed = [], [], [], 0, 0
    start = time.perf_counter()
    while time.perf_counter() - start < args.seconds:
        s0, c0, t0 = host_steal_s(), tree_cpu_s(jvm_pid), time.perf_counter()
        try:
            out = wl.run_op()
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            out = None
            issues.append(traceback.format_exc(limit=3))
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_s(jvm_pid) - c0)
        steals.append(host_steal_s() - s0)
        if out is None:
            attempted, failed = attempted + 1, failed + 1
            continue
        n, bad, found = wl.check_op(out)
        attempted, failed = attempted + n, failed + bad
        issues += found

    ops_end = time.perf_counter()
    wall = statistics.median(walls)
    precision, recall = wl.quality()
    decisions, guard_issues = wl.regime()
    issues += guard_issues
    e2e = {
        "wall_s": wall,
        "throughput": wl.units_per_op / wall,
        # CPU per op over the whole timed loop, not a per-op median: JIT
        # compilation and GC an op sets off run on in the next op, so a
        # per-op split of CPU time is mostly noise
        "cpu_s": sum(cpus) / len(cpus),
        "setup_s": session_s + input_s + warmup_s,
        "precision": precision,
        "recall": recall,
        "success_rate": 1.0 - failed / attempted,
    }
    layers = {"session.start_s": session_s, "corpus.setup_s": input_s,
              "warmup_s": warmup_s, **decisions}
    spans, tracer = [], None
    if args.trace:
        tracer = Tracer(spark, f"trace-{os.getpid()}")
        found_layers, found = wl.trace(tracer, wall)
        layers.update(found_layers)
        issues += found + [f"status store: {e}" for e in tracer.errors]
        spans = tracer.spans
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    unknown = set(values) - {m["name"] for m in spec["per_layer"] + spec["end_to_end"]}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # a layer this workload does not run reports 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in listed}
    result = {"correct": not issues, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": environment(spark, run_dir), "issues": issues,
        "op_walls_s": walls, "op_cpu_s": cpus, "op_host_steal_s": steals,
        "op_detail": getattr(wl, "passes", None),
        "loop_s": ops_end - start, "after_loop_s": time.perf_counter() - ops_end,
        "end_to_end": None if args.trace else e2e, "per_layer": layers, "spans": spans,
        "result": result,
    }
    return result, record


if __name__ == "__main__":
    sys.exit(main())
