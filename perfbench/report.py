#!/usr/bin/env python3
"""Every end-to-end metric of every workload as plain `workload name value
unit n=samples` lines, plus the environment, the tracing overhead (traced
minus untraced, per metric), the single-core baseline (local[1], the COST
check), the traced run's per-layer numbers and each layer's self time.

    python3 perfbench/report.py [--seed 1] [--seconds 6]

Run from the repository root. Exits 1 if any correctness check failed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import E2E_UNITS as UNITS  # noqa: E402

WORKLOADS = ["live_wearable", "replay_streaming", "replay_batch"]


def one_run(workload, seed, seconds, trace, cpus, keep):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--keep", keep]
    if cpus:
        cmd += ["--cpus", str(cpus)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"{workload} (trace={trace}, cpus={cpus or 'default'}) failed")
    with open(os.path.join(keep, "report.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    a = ap.parse_args()
    base = os.path.join(os.getcwd(), ".bench_work", "report")
    shutil.rmtree(base, ignore_errors=True)
    failed = 0
    for w in WORKLOADS:
        plain = one_run(w, a.seed, a.seconds, 0, None, os.path.join(base, w, "plain"))
        traced = one_run(w, a.seed, a.seconds, 1, None, os.path.join(base, w, "traced"))
        single = one_run(w, a.seed, a.seconds, 0, 1, os.path.join(base, w, "local1"))
        if w == WORKLOADS[0]:
            for k, v in plain["env"].items():
                print(f"env {k} {v}")
            for k, v in plain["spark_conf"].items():
                print(f"env spark_conf {k}={v}")
        for name, unit in UNITS.items():
            print(f"{w} {name} {plain['metrics'][name]!r} {unit} n={plain['counts'][name]}")
        frac = plain["failed"] / max(1, plain["attempted"])
        print(f"{w} failed_frac {frac!r} ratio n={plain['attempted']}")
        for name, unit in UNITS.items():
            d = traced["metrics"][name] - plain["metrics"][name]
            print(f"{w} trace_overhead.{name} {d!r} {unit}")
        for name, unit in UNITS.items():
            print(f"{w} local1.{name} {single['metrics'][name]!r} {unit} "
                  f"n={single['counts'][name]}")
        for name, v in traced["layers"].items():
            print(f"{w} layer.{name} {v!r}")
        for layer, ms in sorted(traced["self_ms"].items()):
            print(f"{w} self.{layer}_ms {ms!r} ms")
        print(f"{w} notes {json.dumps(plain['notes'], default=str)}")
        failed += sum(r["failed"] for r in (plain, traced, single))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
