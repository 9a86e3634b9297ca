#!/usr/bin/env python3
"""Self-tests of the benchmark harness (not of the engine).

    python3 perfbench/selftest.py [--seed N] [--seconds S]

For each workload:

1. two traced runs at one seed must give identical Spark job counts per
   operation;
2. an untraced run at the same seed gives the tracing overhead (traced
   minus untraced class medians), printed;
3. a run with ``--corrupt-oracle`` (one event or document dropped from
   the oracle's input) must exit 1.

Exits non-zero when a check fails. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def run(workload: str, seed: int, seconds: float, trace: int, *extra: str) -> tuple[int, dict | None]:
    proc = subprocess.run(
        RUN + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), *extra],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc.returncode, result


def job_counts(workload: str, seed: int) -> list[int]:
    with open(os.path.join(".bench_work", f"jobs-{workload}-{seed}.json")) as f:
        return [op["jobs"] for op in json.load(f)]


def check_workload(workload: str, seed: int, seconds: float) -> bool:
    ok = True
    counts, traced = [], None
    for _ in range(2):
        code, traced = run(workload, seed, seconds, 1)
        ok &= code == 0
        counts.append(job_counts(workload, seed))
    same = bool(counts[0]) and counts[0] == counts[1]
    print(f"{workload}: job counts per operation of two traced runs {'identical' if same else 'DIFFER'}: {counts}")
    ok &= same

    code, plain = run(workload, seed, seconds, 0)
    ok &= code == 0
    if plain and traced:
        for cls in "abcd":
            u = plain["metrics"][f"class_{cls}_mean_s"]["value"]
            t = traced["metrics"][f"trace.class_{cls}_mean_s"]["value"]
            print(f"{workload}: tracing overhead class {cls}: {t - u:+.3f}s ({(t - u) / u:+.1%} of {u:.3f}s)")
        print(f"{workload}:   of which wrappers {traced['metrics']['trace.wrapper_s_per_op']['value']:.4f}s per operation")

    code, res = run(workload, seed, seconds, 0, "--corrupt-oracle")
    caught = code == 1 and res is not None and res["correct"] is False
    print(f"{workload}: corrupted oracle input {'caught' if caught else 'NOT CAUGHT'} (exit {code})")
    return ok and caught


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--seconds", type=float, default=10)
    args = p.parse_args()
    ok = all([check_workload(w, args.seed, args.seconds) for w in ("webhook_ingest", "corpus_cdc")])
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
