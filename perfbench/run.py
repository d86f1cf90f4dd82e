#!/usr/bin/env python3
"""Stream benchmark: one run of one workload.

    python3 perfbench/run.py --workload live_wearable --seed 1 --seconds 6 --trace 0

Run from the repository root. Builds the program if needed (build.py),
generates the seeded inputs, runs the JVM harness (scala/), checks the
outputs outside the timed regions, and prints `name value unit n=...`
lines followed by one JSON line: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones. See README.md for the metric definitions.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

STREAMING_GATES = ["q_streaming_wearable", "q_streaming_slidingtime_bykey",
                   "q_streaming_taxi_q1", "q_streaming_taxi_q2", "q_streaming_slidingtime"]
BATCH_TWINS = ["q_wearable", "q_sliding_time", "q_taxi_q1", "q_taxi_q2", "q_graph_lowered"]

# Workload parameters. README.md and BENCHMARK.json quote these numbers.
LIVE_RATE = 2000        # offered events/s
LIVE_WARMUP_S = 6.0     # fed but not measured: the per-batch path is still JIT-warming
LIVE_DRAIN_S = 20.0     # deadline for the last event to commit
LIVE_SLICE_S = 2.5      # latency percentiles are medians over slices this long
REPLAY_EVENTS = 100000  # rows of the generated events table
REPLAY_WARMUP_S = 6.0   # untimed passes after set-up: pass times still fall as the JIT warms
SETUPS = 3              # set-ups per run; setup_s is their median
JVM_TIMEOUT_S = 165

# per-layer metrics only the live workload exercises (they read 0 on the replays)
LIVE_ONLY = ["plans.rewrite_ms", "plans.cost_ms", "plans.lower_ms", "plans.variants_n",
             "plans.partitionings_n", "plans.viable_n", "plans.predicted_util_max",
             "sources.backlog_events_max", "sources.gen_late_ms_p99"]
NOT_ADDITIVE = {"streaming.floor_ms_p50", "streaming.trigger_ms_p50",
                "streaming.trigger_ms_p95", "exec.busy_frac"}

E2E_UNITS = {"setup_s": "s", "throughput_eps": "1/s", "latency_p50_ms": "ms",
             "latency_p95_ms": "ms", "rss_peak_mb": "MB"}


def per_layer_units():
    units = {}
    for name in ["plans.rewrite_ms", "plans.cost_ms", "plans.lower_ms",
                 "sources.latest_offset_ms_sum", "sources.get_batch_ms_sum",
                 "streaming.planning_ms_sum", "streaming.wal_ms_sum", "streaming.commit_ms_sum",
                 "streaming.floor_ms_p50", "streaming.trigger_ms_p50", "streaming.trigger_ms_p95",
                 "exec.scheduler_delay_ms_sum", "streaming.add_batch_ms_sum",
                 "state.update_ms_sum", "state.commit_ms_sum", "state.removal_ms_sum",
                 "sql.sink_write_ms_sum", "streaming.start_ms_sum", "streaming.stop_ms_sum",
                 "sql.analysis_ms_sum", "sql.optimization_ms_sum", "sql.planning_ms_sum",
                 "sql.scan_ms_sum", "sql.broadcast_build_ms_sum", "exec.task_cpu_ms_sum",
                 "exec.task_run_ms_sum", "exec.fetch_wait_ms_sum", "jvm.gc_ms",
                 "sources.gen_late_ms_p99"]:
        units[name] = "ms"
    for name in ["plans.variants_n", "plans.partitionings_n", "plans.viable_n",
                 "streaming.batches_n", "exec.tasks_n", "state.rows_updated_sum",
                 "state.rows_end", "sql.shuffle_records", "sources.backlog_events_max"]:
        units[name] = "count"
    units.update({"plans.predicted_util_max": "ratio", "state.mem_bytes_end": "bytes",
                  "sql.shuffle_write_bytes": "bytes", "sql.spill_bytes": "bytes",
                  "exec.busy_frac": "ratio", "jvm.cpu_s": "s", "jvm.heap_peak_mb": "MB"})
    # replay_streaming is not among BENCHMARK.json's workloads (README.md):
    # its chunk build and gate walls are reported by report.py only
    for q in BATCH_TWINS:
        units[f"queries.{q}_s"] = "s"
    return units


# ---------------------------------------------------------------- environment

def ext_cpus(sample_s=0.25):
    """Busy cores of other processes (this one sleeps while sampling)."""
    def busy():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:8]) - v[3] - v[4]
    try:
        b0 = busy()
        time.sleep(sample_s)
        return max(0.0, (busy() - b0) / 100.0 / sample_s)
    except OSError:
        return -1.0


def nproc():
    return len(os.sched_getaffinity(0))


# ----------------------------------------------------------------- execution

def run_jvm(root, work, workload, seconds, trace, cpus):
    classes = build.ensure(root)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: with a growable one, G1's sizing decisions
    # made the resident peak vary by a quarter between identical runs
    cmd = ["java", "-XX:-UsePerfData", "-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", "-Xss4m",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if workload == "live_wearable":
        # Each trigger runs thousands of driver-side methods once. Under the
        # default tiered JIT their C2 compilation takes minutes of triggers
        # (trigger time fell from ~400 to ~180 ms over 60 s of feed, at a pace
        # set by host load); C1 alone with thresholds x0.1 is flat after ~3 s.
        cmd += ["-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.1"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--work", work,
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cpus", str(cpus), "--setups", str(SETUPS)]
    if workload == "live_wearable":
        cmd += ["--rate", str(LIVE_RATE), "--warmup", str(LIVE_WARMUP_S),
                "--drain", str(LIVE_DRAIN_S)]
    else:
        cmd += ["--warmup", str(REPLAY_WARMUP_S)]
    env = dict(os.environ, GRAFT_TMP_BASE=tmp)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=f, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    raw_path = os.path.join(work, "raw.json")
    if rc != 0 or not os.path.exists(raw_path):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness JVM failed ({rc})")
    with open(raw_path) as f:
        return json.load(f)


def make_inputs(work, workload, seed, seconds):
    if workload == "live_wearable":
        live = gen.live_stream(seed, LIVE_RATE, LIVE_WARMUP_S + seconds + 1.0)
        gen.write_live(live, os.path.join(work, "live.txt"))
        return live
    table = gen.events_table(seed, REPLAY_EVENTS)
    gen.write_events(table, os.path.join(work, "events.parquet"))
    return table


# ------------------------------------------------------------------- metrics

def _sum(xs):
    return float(sum(xs))


def stream_layers(bs):
    """Per-layer streaming numbers from a list of stats.batches()."""
    def dur(b, k):
        return float(b["durations"].get(k, 0))
    ops = lambda b: b["state"] or []  # noqa: E731
    trig = [b["trigger_ms"] for b in bs]
    last = {}
    for b in bs:  # final state per query run (batch ids restart per query)
        last[b["run"]] = b
    return {
        "sources.latest_offset_ms_sum": _sum(dur(b, "latestOffset") for b in bs),
        "sources.get_batch_ms_sum": _sum(dur(b, "getBatch") for b in bs),
        "streaming.planning_ms_sum": _sum(dur(b, "queryPlanning") for b in bs),
        "streaming.wal_ms_sum": _sum(dur(b, "walCommit") for b in bs),
        "streaming.commit_ms_sum": _sum(dur(b, "commitOffsets") for b in bs),
        "streaming.add_batch_ms_sum": _sum(dur(b, "addBatch") for b in bs),
        "streaming.floor_ms_p50": stats.percentile(
            [b["trigger_ms"] - dur(b, "addBatch") for b in bs], 50) if bs else 0.0,
        "streaming.trigger_ms_p50": stats.percentile(trig, 50) if bs else 0.0,
        "streaming.trigger_ms_p95": stats.percentile(trig, 95) if bs else 0.0,
        "streaming.batches_n": float(len(bs)),
        "state.update_ms_sum": _sum(o.get("allUpdatesTimeMs", 0) for b in bs for o in ops(b)),
        "state.commit_ms_sum": _sum(o.get("commitTimeMs", 0) for b in bs for o in ops(b)),
        "state.removal_ms_sum": _sum(o.get("allRemovalsTimeMs", 0) for b in bs for o in ops(b)),
        "state.rows_updated_sum": _sum(o.get("numRowsUpdated", 0) for b in bs for o in ops(b)),
        "state.rows_end": _sum(o.get("numRowsTotal", 0) for b in last.values() for o in ops(b)),
        "state.mem_bytes_end": _sum(o.get("memoryUsedBytes", 0)
                                    for b in last.values() for o in ops(b)),
    }


def exec_layers(buckets, wall_ms, cpus):
    t = lambda k: _sum(b["tasks"][k] for b in buckets)  # noqa: E731
    ex = [e for b in buckets for e in b["executions"]]
    return {
        "exec.scheduler_delay_ms_sum": t("scheduler_delay_ms"),
        "exec.tasks_n": t("tasks"),
        "exec.task_cpu_ms_sum": t("cpu_ms"),
        "exec.task_run_ms_sum": t("run_ms"),
        "exec.fetch_wait_ms_sum": t("fetch_wait_ms"),
        "exec.busy_frac": t("run_ms") / (cpus * wall_ms) if wall_ms > 0 else 0.0,
        "sql.shuffle_write_bytes": t("shuffle_write_bytes"),
        "sql.shuffle_records": t("shuffle_records"),
        "sql.spill_bytes": t("spill_bytes"),
        "sql.analysis_ms_sum": _sum(e["analysis_ms"] for e in ex),
        "sql.optimization_ms_sum": _sum(e["optimization_ms"] for e in ex),
        "sql.planning_ms_sum": _sum(e["planning_ms"] for e in ex),
        "sql.scan_ms_sum": _sum(e["scan_ms"] for e in ex),
        "sql.broadcast_build_ms_sum": _sum(e["broadcast_build_ms"] for e in ex),
    }


def trace_spans(raw):
    """The harness's spans plus one span per micro-batch and phase, parented
    to the harness span that was open when the batch ran."""
    spans = list(raw["spans"])
    ids = {(s["run"], s["name"]): s["id"] for s in spans}
    next_id = max((s["id"] for s in spans), default=-1) + 1
    if "calls" in raw:
        groups = [(ids[(f"pass{c['pass']}", f"queries.{c['query']}")], f"pass{c['pass']}",
                   stats.batches(c.get("progress", []))) for c in raw["calls"]]
    else:
        groups = [(ids[("live", "streaming.live")], "live",
                   [b for b in stats.batches(raw["progress"]) if b["batch"] >= 1])]
    for parent, run, bs in groups:
        extra = stats.trigger_spans(bs, parent, next_id, run)
        spans += extra
        next_id += len(extra)
    return spans


def setup_spans(raw, name):
    return [s["end_ms"] - s["start_ms"] for s in raw["spans"]
            if s["name"] == name and s["run"].startswith("setup")]


def live_metrics(raw, live, trace):
    p, off = raw["prime"], live["off_us"]
    t1, off_p = raw["t1_us"], int(off[p])

    def due_ms(i):
        return (t1 + int(off[i]) - off_p) / 1000.0

    bs = [dict(b, run=0) for b in stats.batches(raw["progress"])]
    lat = stats.event_latencies(raw["blocks"], bs, due_ms)
    lo, hi = raw["warmup_s"] * 1e6, (raw["warmup_s"] + raw["seconds"]) * 1e6
    measured = [i for i in sorted(lat) if lo <= int(off[i]) - off_p < hi]
    got = [lat[i] for i in measured if lat[i] is not None]
    missing = len(measured) - len(got)
    check = raw["check"]
    failed = missing if check["ok"] else len(measured)
    commits = [due_ms(i) + lat[i] for i in measured if lat[i] is not None]
    first_due = due_ms(measured[0]) if measured else 0.0
    # percentiles per slice of due time, then their median over the slices
    timed = [(int(off[i]) - off_p, lat[i]) for i in measured if lat[i] is not None]
    n_slices = max(1, round(raw["seconds"] / LIVE_SLICE_S))
    m = {
        "setup_s": statistics.median(raw["setup_s"]),
        "throughput_eps": len(got) / ((max(commits) - first_due) / 1000.0) if got else 0.0,
        "latency_p50_ms": stats.sliced_percentile(timed, lo, hi, n_slices, 50) if got else 0.0,
        "latency_p95_ms": stats.sliced_percentile(timed, lo, hi, n_slices, 95) if got else 0.0,
        "rss_peak_mb": raw["rss_peak_mb"],
    }
    counts = {"setup_s": len(raw["setup_s"]), "throughput_eps": len(got),
              "latency_p50_ms": len(got), "latency_p95_ms": len(got), "rss_peak_mb": 1}
    notes = {"latency_slices": n_slices,
             "latency_pooled_p50_ms": stats.percentile(got, 50) if got else 0.0,
             "latency_pooled_p95_ms": stats.percentile(got, 95) if got else 0.0,
             "latency_samples_beyond_p50": stats.beyond(got, m["latency_p50_ms"]) if got else 0,
             "latency_samples_beyond_p95": stats.beyond(got, m["latency_p95_ms"]) if got else 0,
             "missing_events": missing, "output_check": check}
    layers = {}
    if trace:
        after_setup = [b for b in bs if b["batch"] >= 1 and b["end"] > b["start"]]
        bucket = raw["trace_bucket"]
        wall = (raw["gen_end_ms"] - t1 / 1000.0)
        layers.update(stream_layers(after_setup))
        layers.update(exec_layers([bucket], wall, raw["cpus"]))
        layers["sql.sink_write_ms_sum"] = _sum(raw["sink_ms"][1:])
        plans = raw["plans"]
        layers.update({f"plans.{k}": float(plans[k]) for k in
                       ["rewrite_ms", "cost_ms", "variants_n", "partitionings_n",
                        "viable_n", "predicted_util_max"]})
        layers["plans.lower_ms"] = statistics.median(setup_spans(raw, "plans.lower"))
        layers["streaming.start_ms_sum"] = statistics.median(setup_spans(raw, "streaming.start"))
        layers["streaming.stop_ms_sum"] = _sum(
            s["end_ms"] - s["start_ms"] for s in raw["spans"] if s["name"] == "streaming.stop")
        layers["sources.chunk_build_s"] = 0.0
        dues = [due_ms(i) for i in sorted(lat)]
        layers["sources.backlog_events_max"] = float(stats.backlog_max(
            dues, [due_ms(i) + lat[i] for i in sorted(lat) if lat[i] is not None],
            [b["t0"] for b in after_setup]))
        late = [b[3] for b in raw["blocks"]]
        layers["sources.gen_late_ms_p99"] = stats.percentile(late, 99) if late else 0.0
        layers.update({f"jvm.{k}": float(v) for k, v in raw["jvm"].items()})
        layers.update({f"queries.{q}_s": 0.0 for q in STREAMING_GATES + BATCH_TWINS})
    return m, counts, len(measured), failed, notes, layers


def replay_metrics(raw, n_events, names, mismatches, trace):
    calls = [c for c in raw["calls"] if "error" not in c]
    walls = {q: [c["wall_s"] for c in calls if c["query"] == q] for q in names}
    med = {q: statistics.median(w) for q, w in walls.items() if w}
    # a pass's latency: input available to all of its queries' results forced
    pass_ms = {}
    for c in calls:
        pass_ms[c["pass"]] = pass_ms.get(c["pass"], 0.0) + c["wall_s"] * 1000.0
    lat = list(pass_ms.values())
    failed_q = {q for q in names if mismatches.get(q) or q not in med}
    attempted = len(raw["calls"])
    failed = sum(1 for c in raw["calls"] if c["query"] in failed_q)
    m = {
        "setup_s": statistics.median(raw["setup_s"]),
        "throughput_eps": n_events * len(med) / sum(med.values()) if med else 0.0,
        "latency_p50_ms": stats.percentile(lat, 50) if lat else 0.0,
        "latency_p95_ms": stats.percentile(lat, 95) if lat else 0.0,
        "rss_peak_mb": raw["rss_peak_mb"],
    }
    counts = {"setup_s": len(raw["setup_s"]), "throughput_eps": len(calls),
              "latency_p50_ms": len(lat), "latency_p95_ms": len(lat), "rss_peak_mb": 1}
    notes = {"passes": raw["passes"], "warmup_passes": raw["warmup_passes"],
             "mismatches": {q: r for q, r in mismatches.items() if r}}
    layers = {}
    if trace:
        passes = raw["passes"]
        bs, starts, stops, coverage = [], [], [], []
        for i, c in enumerate(calls):
            cb = [dict(b, run=i) for b in stats.batches(c["progress"])]
            bs += cb
            if cb:
                start = min(b["t0"] for b in cb) - c["start_ms"]
                stop = c["end_ms"] - max(b["t1"] for b in cb)
                starts.append(start)
                stops.append(stop)
                wall = c["end_ms"] - c["start_ms"]
                coverage.append((start + sum(b["trigger_ms"] for b in cb) + stop) / wall)
        sink = [e["duration_ms"] for c in calls for e in c["executions"]
                if e["logical"] == "InsertIntoHadoopFsRelationCommand"]
        wall_ms = sum(c["wall_s"] for c in calls) * 1000.0
        totals = {**stream_layers(bs), **exec_layers(calls, wall_ms, raw["cpus"]),
                  "sql.sink_write_ms_sum": _sum(sink), "streaming.start_ms_sum": _sum(starts),
                  "streaming.stop_ms_sum": _sum(stops), "jvm.cpu_s": raw["jvm"]["cpu_s"],
                  "jvm.gc_ms": raw["jvm"]["gc_ms"]}
        # report totals per pass; percentiles and ratios are not additive
        layers.update({k: v if k in NOT_ADDITIVE else v / passes for k, v in totals.items()})
        layers["jvm.heap_peak_mb"] = raw["jvm"]["heap_peak_mb"]
        chunk = setup_spans(raw, "sources.chunk_build")
        layers["sources.chunk_build_s"] = statistics.median(chunk) / 1000.0 if chunk else 0.0
        layers.update(dict.fromkeys(LIVE_ONLY, 0.0))
        for q in STREAMING_GATES + BATCH_TWINS:
            layers[f"queries.{q}_s"] = med.get(q, 0.0)
        notes["streaming_coverage_min"] = min(coverage) if coverage else None
    return m, counts, attempted, failed, notes, layers


# ---------------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["live_wearable", "replay_streaming", "replay_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # two Spark task threads: the cores are shared with other tenants, and a
    # stage of four parallel tasks waited for whichever core was taken
    # (one replay run read 2.5x slower while the JVM got a third less CPU)
    ap.add_argument("--cpus", type=int, default=min(2, nproc()))
    ap.add_argument("--keep", help="copy raw.json and the check report here")
    a = ap.parse_args(argv)

    root = os.getcwd()
    build.sources(root)  # fail fast outside a repository checkout
    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        env = {"nproc": nproc(), "cpus": a.cpus, "ext_cpus_before": ext_cpus()}
        inputs = make_inputs(work, a.workload, a.seed, a.seconds)
        raw = run_jvm(root, work, a.workload, a.seconds, a.trace == 1, a.cpus)
        if a.keep:
            os.makedirs(a.keep, exist_ok=True)
            shutil.copy(os.path.join(work, "raw.json"), a.keep)
            shutil.copy(os.path.join(work, "jvm.log"), a.keep)
        env["ext_cpus_after"] = ext_cpus()
        env["cpu_probe_ms"] = raw["cpu_probe_ms"]
        if a.workload == "live_wearable":
            m, counts, attempted, failed, notes, layers = live_metrics(raw, inputs, a.trace)
        else:
            names = STREAMING_GATES if a.workload == "replay_streaming" else BATCH_TWINS
            with open(os.path.join(work, "oracles.json")) as f:
                oracles = json.load(f)
            mism = oracle.compare(os.path.join(work, "events.parquet"), oracles,
                                  os.path.join(work, "out"))
            m, counts, attempted, failed, notes, layers = replay_metrics(
                raw, len(inputs), names, mism, a.trace)
        if a.keep:
            with open(os.path.join(a.keep, "report.json"), "w") as f:
                json.dump({"env": env, "metrics": m, "counts": counts, "notes": notes,
                           "layers": layers, "self_ms": stats.self_times(trace_spans(raw)) if a.trace else {},
                           "spark_conf": raw["spark_conf"], "attempted": attempted,
                           "failed": failed}, f, indent=1, default=str)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for k, v in env.items():
        print(f"# env {k} {v}")
    print(f"# notes {json.dumps(notes, default=str)}")
    units = per_layer_units() if a.trace else E2E_UNITS
    values = layers if a.trace else m
    out = {}
    for name, unit in units.items():
        v = float(values[name])
        out[name] = {"value": v, "unit": unit}
        print(f"{a.workload} {name} {v!r} {unit}" + (f" n={counts[name]}" if name in counts else ""))
    print(f"{a.workload} failed_frac {failed / max(1, attempted)!r} ratio n={attempted}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
