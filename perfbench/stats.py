"""Pure metric arithmetic: percentiles, offset→due→commit attribution,
backlog, span self time. No I/O, so it is unit-tested alone."""
import bisect
import statistics
from datetime import datetime


def percentile(values, q):
    """Linear-interpolated q-th percentile (0..100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(values, threshold):
    """How many samples lie strictly above `threshold`."""
    return sum(1 for v in values if v > threshold)


def sliced_percentile(samples, t0, t1, n, q):
    """Median over `n` equal time slices of [t0, t1) of each slice's q-th
    percentile. `samples` are (time, value) pairs; empty slices are skipped.
    A slowdown of the host that covers fewer than half the slices does not
    move it, a slowdown of the program that covers the run does."""
    width = (t1 - t0) / n
    slices = {}
    for t, v in samples:
        if t0 <= t < t1:
            slices.setdefault(min(n - 1, int((t - t0) / width)), []).append(v)
    if not slices:
        raise ValueError("percentile of no samples")
    return statistics.median(percentile(v, q) for v in slices.values())


def epoch_ms(iso):
    """Spark progress timestamp ('2026-01-01T00:00:00.123Z') → epoch ms."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def _offset(v):
    """A source offset as a number: memory streams report a bare count,
    file streams {"logOffset": n}; absent (first batch) is -1."""
    if isinstance(v, dict):
        v = v.get("logOffset")
    if v is None or v == "":
        return -1
    return int(v)


def batches(progress):
    """Data-carrying micro-batches as dicts with start/end source offsets,
    trigger start and end (epoch ms), sorted by batch id."""
    out = []
    for p in sorted(progress, key=lambda p: (p["runId"], p["batchId"])):
        src = p["sources"][0] if p.get("sources") else {}
        start, end = _offset(src.get("startOffset")), _offset(src.get("endOffset"))
        d = p.get("durationMs", {})
        t0 = epoch_ms(p["timestamp"])
        trig = float(d.get("triggerExecution", 0))
        out.append({"batch": p["batchId"], "start": start, "end": end, "t0": t0,
                    "t1": t0 + trig, "trigger_ms": trig, "durations": d,
                    "rows": p.get("numInputRows", 0),
                    "state": p.get("stateOperators", [])})
    return out


def commit_times(block_offsets, bs):
    """Source offset of each block → end time of the batch that committed it
    (None if no batch did): the batch with start < offset <= end."""
    data = sorted((b for b in bs if b["end"] > b["start"]), key=lambda b: b["end"])
    ends = [b["end"] for b in data]
    out = {}
    for o in block_offsets:
        i = bisect.bisect_left(ends, o)
        out[o] = data[i]["t1"] if i < len(data) and data[i]["start"] < o else None
    return out


def event_latencies(blocks, bs, due_ms):
    """Per-event (due → commit) latency in ms. `blocks` holds
    (offset, first event, count, late ms) rows; `due_ms(i)` is event i's
    scheduled time. Returns {event index: latency ms or None if uncommitted}."""
    commits = commit_times([b[0] for b in blocks], bs)
    lat = {}
    for off, first, count, _late in blocks:
        c = commits[off]
        for i in range(first, first + count):
            lat[i] = None if c is None else c - due_ms(i)
    return lat


def backlog_max(dues, commits, trigger_starts):
    """Largest queue a trigger saw: at each trigger start t, the events due
    by t minus the events already committed by t."""
    dues, done = sorted(dues), sorted(c for c in commits if c is not None)
    return max((bisect.bisect_right(dues, t) - bisect.bisect_right(done, t)
                for t in trigger_starts), default=0)


# micro-batch phases in the order a trigger runs them, with their span names
PHASES = [("latestOffset", "sources.latest_offset"), ("walCommit", "streaming.wal"),
          ("getBatch", "sources.get_batch"), ("queryPlanning", "streaming.planning"),
          ("addBatch", "streaming.add_batch"), ("commitOffsets", "streaming.commit")]


def trigger_spans(bs, parent, first_id, run):
    """Spans for micro-batches: one `streaming.trigger` per batch under
    `parent`, with its phases laid end to end inside it (progress reports
    phase durations, not their start times)."""
    out, i = [], first_id
    for b in bs:
        tid = i
        out.append({"id": tid, "name": "streaming.trigger", "start_ms": b["t0"],
                    "end_ms": b["t1"], "parent": parent, "run": run})
        i += 1
        t = b["t0"]
        for key, name in PHASES:
            d = float(b["durations"].get(key, 0))
            out.append({"id": i, "name": name, "start_ms": t, "end_ms": t + d,
                        "parent": tid, "run": run})
            i += 1
            t += d
    return out


def self_times(spans):
    """Self time of every span (its duration minus its children's) summed by
    layer, the name's prefix before the first dot. Spans carry id, name,
    start_ms, end_ms and parent (-1 at the root)."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end_ms"] - s["start_ms"])
    layers = {}
    for s in spans:
        own = (s["end_ms"] - s["start_ms"]) - child.get(s["id"], 0.0)
        layer = s["name"].split(".", 1)[0]
        layers[layer] = layers.get(layer, 0.0) + max(0.0, own)
    return layers
