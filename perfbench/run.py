"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload etl_sync --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics
named in BENCHMARK.json; ``--trace 1`` enables Spark's event log and
prints the per-layer metrics instead. ``--record FILE`` also writes the
full record (provenance, every metric, per-layer counts) for
``perfbench/compare.py``. All inputs, Spark scratch and outputs live in
a temporary directory under ``.perfbench_tmp/`` that the run removes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also write the full record to this file")
    return ap.parse_args(argv)


def configure_env(tmp: str, trace: bool) -> str | None:
    """Point every scratch location of Spark, the JVM and Python into
    ``tmp`` and make the package importable by Python workers. Returns
    the event-log directory of a traced run."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # every JVM (launcher and driver): temp files here, no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    log_dir = None
    if trace:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + log_dir
    # submit args, not SparkSession.builder confs, so get_spark's own confs still apply
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    return log_dir


def git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown"


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    that percentile; the maximum (percentile 100) below 11 samples."""
    xs = sorted(values)
    if not xs:
        return 0.0, 0.0
    if len(xs) < 11:
        return xs[-1], 100.0
    return xs[-11], 100.0 * (len(xs) - 10) / len(xs)


def process_tree(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo += children.get(p, [])
    return tree


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each live process's resident high-water mark (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    process started under this one has exited."""
    from pyspark import SparkContext

    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.time() + timeout
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = {w["name"] for w in spec["workloads"]}
    if args.workload not in names:
        raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(names)}")
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return run(args, spec, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


def run(args, spec: dict, tmp: str) -> int:
    log_dir = configure_env(tmp, bool(args.trace))
    sys.path.insert(0, ROOT)
    # without the package this fails here, before any result is printed
    from python_openetl_spark.session import get_spark

    import pyspark

    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    tracer = trace.Tracer()
    t_gen = time.perf_counter()
    wl = WORKLOADS[args.workload](tracer, args.seed, tmp)  # generates the inputs
    t_setup = time.perf_counter()
    phases = {"generate_s": t_setup - t_gen}
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer.bind(spark)
        phases["session_s"] = time.perf_counter() - t_setup
        wl.setup(spark)
        phases["program_setup_s"] = time.perf_counter() - t_setup - phases["session_s"]
        tracer.phase = "warmup"
        ops = wl.warmup()
        wl.recalls.clear()
        tracer.phase = "timed"
        t_first = time.perf_counter()
        setup_s = t_first - t_setup
        phases["warmup_s"] = setup_s - phases["session_s"] - phases["program_setup_s"]
        deadline = t_first + args.seconds
        timed = []
        # whole cycles, so every run has the same mix of calls and runs
        # of one seed make the same calls in the same order
        while not timed or time.perf_counter() < deadline:
            timed += [wl.run_op(kind) for kind in wl.cycle]
        rss = peak_rss_mb(process_tree(os.getpid()))
        phases["timed_s"] = time.perf_counter() - t_first
    finally:
        wl.stop()
        t_stop = time.perf_counter()
        stop_spark(spark)
        phases["stop_s"] = time.perf_counter() - t_stop
    print("phases: " + json.dumps({k: round(v, 2) for k, v in phases.items()}), file=sys.stderr)
    ops += timed
    log_data = trace.read_event_log(trace.event_log_files(log_dir)) if log_dir else None
    layers, mismatched = trace.layer_metrics(tracer.spans, log_data)
    span_counts: dict[str, list[list[int]]] = {}  # per call, in call order
    for s in tracer.spans:
        if s.phase != "warmup":
            span_counts.setdefault(s.name, []).append(
                [len(s.jobs), s.stages, s.tasks, s.failed_tasks])
    for name, values in tracer.extra.items():
        layers[name] = statistics.median(values)

    def secs(kind: str) -> list[float]:
        return [op.seconds for op in timed if op.ok and op.kind.startswith(kind)]

    def median(xs: list[float]) -> float:
        return statistics.median(xs) if xs else 0.0

    main, side = secs(wl.main), secs(wl.side)
    main_tail, tail_pct = tail(main)
    rows, busy = sum(op.rows for op in timed if op.ok), sum(op.seconds for op in timed if op.ok and op.rows)
    end_to_end = {
        "setup_s": setup_s,
        "rows_per_s": rows / busy if busy else 0.0,
        "peak_rss_mb": rss,
        "main_p50_s": median(main),
        "main_tail_s": main_tail,
        "side_p50_s": median(side),
        "recall": median(wl.recalls),
    }
    failed = sum(not op.ok for op in ops)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else end_to_end
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": units[m["name"]]}
               for m in wanted}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "provenance": {
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "sizes": wl.sizes,
            "spark": pyspark.__version__,
            "python": sys.version.split()[0],
            "commit": git_commit(),
        },
        "end_to_end": end_to_end,
        "named": {k: end_to_end[v] if v in end_to_end else median(secs(v))
                  for k, v in wl.NAMED.items()},
        "phases": phases,
        "ops": [[op.kind, op.seconds, op.ok] for op in timed],
        "warmup_ops": [[op.kind, op.seconds, op.ok] for op in ops[:len(ops) - len(timed)]],
        "calls": {"main": len(main), "side": len(side), "main_tail_percentile": tail_pct},
        "attempted": len(ops),
        "failed": failed,
        "fail_ratio": failed / len(ops),
        "layers": layers,
        "span_counts": span_counts,
        "count_mismatch": mismatched,
    }
    if args.record:
        with open(args.record, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
    print(json.dumps({"correct": failed == 0 and not mismatched, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
