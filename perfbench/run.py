#!/usr/bin/env python3
"""Benchmark of the sync engine: one closed-loop client against the
engine's public API on ``local[<cores>]``.

    python3 perfbench/run.py --workload webhook_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs with spans around every layer and Spark's
event log on, and prints the per-layer metrics. The last line of stdout
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
The command exits 1 when an oracle check fails and 2 when the engine is
not there to run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt-oracle", action="store_true",
                   help="drop one row of the oracle's input (harness self-test: must fail)")
    return p.parse_args(argv)


def prepare_env(work: str, trace: bool) -> str:
    """Keep every file Spark and Python write inside ``work``; returns the
    event-log dir (traced runs)."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    os.makedirs(tmp)
    os.makedirs(events)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # shuffle width sized for the 4-bucket stores and 4 cores (default 32)
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    # both JVMs spark-submit starts (its launcher and the Spark driver) keep
    # their temp files in ``work`` and write no /tmp/hsperfdata_*
    jvm = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm
    os.environ["SPARK_SUBMIT_OPTS"] = f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} {jvm}".strip()
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    return events


def peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process and its live descendants
    (the JVM and its Python workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        for child, pp in parent.items():
            if pp == pid and child not in tree:
                tree.add(child)
                frontier.append(child)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_loop(wl, tracer, seconds: float) -> tuple[list[dict], float]:
    """Closed loop: whole cycles of operations until ``seconds`` pass."""
    ops: list[dict] = []
    t0 = time.perf_counter()
    while True:
        for cls, kind, fn in wl.cycle():
            with tracer.operation(cls, kind) as op:
                try:
                    op["items"] = fn() or 0
                    op["ok"] = True
                except Exception:
                    op["ok"], op["items"] = False, 0
                    traceback.print_exc(file=sys.stderr)
            ops.append(op)
        if time.perf_counter() - t0 >= seconds:
            return ops, time.perf_counter() - t0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "stripe_sync_engine_spark", "__init__.py")):
        print("perfbench: run from the repository root (no stripe_sync_engine_spark/ here)", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import layers
    from workloads import CLASSES, WORKLOADS, mean

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    log_dir = prepare_env(work, bool(args.trace))

    from tracing import Tracer

    t0 = time.perf_counter()
    from stripe_sync_engine_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
    tracer.install()
    wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
    try:
        reps = []
        for rep in range(wl.setup_reps):
            t = time.perf_counter()
            wl.setup(rep)
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.start()
        setup_s = session_s + statistics.median(reps) + time.perf_counter() - t
        wrapper0 = tracer.wrapper_s
        ops, wall = run_loop(wl, tracer, args.seconds)
        wrapper_s = tracer.wrapper_s - wrapper0
        rss = peak_rss_mb()
        tracer.enabled = False
        if args.corrupt_oracle:
            wl.corrupt()
        t = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t
    finally:
        tracer.uninstall()
        stop_spark(spark)

    failed = sum(1 for o in ops if not o["ok"])
    ok = [o for o in ops if o["ok"]]
    by_class = {c: [o["s"] for o in ok if o["class"] == c] for c in CLASSES}
    e2e = {
        "setup_s": (setup_s, "s"),
        **{f"class_{c}_mean_s": (mean(by_class[c]), "s") for c in CLASSES},
        "throughput_per_s": (wl.throughput(ops), "1/s"),
    }
    print(f"workload {args.workload} seed {args.seed}: {len(ops)} ops in {wall:.1f}s "
          f"({sum(o['s'] for o in ops):.1f}s in operations) "
          f"({' '.join(f'{c}={len(v)}' for c, v in by_class.items())} samples; "
          f"slowest {max((o['s'] for o in ok), default=float('nan')):.2f}s), setup reps {[round(r, 2) for r in reps]}, "
          f"session start {session_s:.2f}s, oracle check {check_s:.1f}s")
    for c in CLASSES:
        print(f"  class {c}: " + ", ".join(f"{o['kind']} {o['s']:.2f}s" for o in ops if o["class"] == c))
    extra = {"error_rate": (failed / max(1, len(ops)), "share"), "peak_rss_mb": (rss, "MB")}
    for k, (v, unit) in {**e2e, **extra}.items():
        print(f"  {k:<28} {v:12.4f} {unit}")
    for m in wl.mismatches[:20]:
        print(f"  ORACLE MISMATCH: {m}")

    if args.trace:
        from tracing import attribute, read_event_log

        jobs = read_event_log(log_dir)
        attribute(jobs, tracer.ops, tracer.spans)
        metrics = layers.per_layer(wl, tracer, jobs, ops, wrapper_s, rss)
        tracer.dump(os.path.join(ROOT, ".bench_work", f"trace-{args.workload}-{args.seed}.json"))
        with open(os.path.join(ROOT, ".bench_work", f"jobs-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump([
                {"op": o["id"], "kind": o["kind"],
                 **{k: sum(j[k] for j in jobs if j["op"] == o["id"]) for k in ("stages", "tasks")},
                 "jobs": sum(1 for j in jobs if j["op"] == o["id"])}
                for o in tracer.ops
            ], f)
        for k, (v, unit) in metrics.items():
            print(f"  {k:<56} {v:14.4f} {unit}")
    else:
        metrics = e2e
    shutil.rmtree(work, ignore_errors=True)
    correct = not wl.mismatches
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
