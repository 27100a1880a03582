"""Turns one JVM run result into the benchmark's metrics.

Pure functions over the result JSON written by `graft.perfbench.Main`, so
the rules (tail percentile, span self time, metric names) are unit-tested
without Spark.
"""
import math
import re
import statistics

from plan import PORTAL_OPS

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
# every whole percentile from the median up, then the finer tail steps
LADDER = tuple(float(p) for p in range(50, 100)) + (99.9, 99.99)
LAYERS = ("bench", "ops", "ext", "plans", "service", "store", "streaming")


def valid_name(name):
    return bool(NAME_RE.match(name))


def percentile(samples, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it. Returns (value, samples beyond it)."""
    xs = sorted(samples)
    # the epsilon keeps float error (99.9 / 100 * 10000 = 9990.000...02)
    # from pushing an exact rank up by one
    rank = max(1, math.ceil(p * len(xs) / 100.0 - 1e-9))
    return xs[rank - 1], len(xs) - rank


def tail_percentile(samples, min_beyond=10):
    """The highest ladder percentile with at least `min_beyond` samples
    ranked above it.

    Returns (percentile, value, beyond, n), or None when even the median
    has fewer than `min_beyond` samples beyond it."""
    best = None
    for p in LADDER:
        value, beyond = percentile(samples, p)
        if beyond < min_beyond:
            break
        best = (p, value, beyond, len(samples))
    return best


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part of it covered by
    its children, each child clipped to the parent's interval."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["t0"], s["t1"]
        covered = union_ms([(max(a, c["t0"]), min(b, c["t1"]))
                            for c in kids.get(s["id"], [])
                            if min(b, c["t1"]) > max(a, c["t0"])])
        out[s["id"]] = (b - a) - covered
    return out


def _p50(xs):
    return percentile(xs, 50)[0] if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _unit_rates(done):
    """Completed ops per second of each unit (pass), unit by unit."""
    units = {}
    for o in done:
        units.setdefault(o["unit"], []).append(o)
    return [len(os_) / ((max(o["t1"] for o in os_) -
                         min(o["t0"] for o in os_)) / 1000.0)
            for os_ in units.values()]


def ops_per_s(result, workload):
    """Completed ops per second: the median over `analytics` passes, over
    the whole window for `portal`."""
    done = [o for o in result["ops"] if o["ok"]]
    if workload == "analytics":
        return statistics.median(_unit_rates(done))
    w = result["window"]
    return len(done) / ((w["t1"] - w["t0"]) / 1000.0)


def end_to_end(result, workload, setup_s):
    """Every end-to-end metric (name -> (value, unit)), plus notes printed
    beside them.

    `analytics` rates are medians over its passes (ops) and its ingests
    (rows), so one pass slowed by the machine moves them less; `portal`
    sessions differ in length, so its rates are over the whole window."""
    ops = result["ops"]
    done = [o for o in ops if o["ok"]]
    lat = [o["t1"] - o["t0"] for o in done]
    w = result["window"]
    window_s = (w["t1"] - w["t0"]) / 1000.0
    store = result["extra"]["store"]
    if workload == "portal":
        # rows the sessions committed, per second of the window
        rows_rate = (store["live_rows"] - store["live_rows_before"]) / window_s
    else:
        rows_rate = statistics.median(
            result["extra"]["event_rows"] / ((o["t1"] - o["t0"]) / 1000.0)
            for o in done if o["name"] == "ingestEvents")
    tail = tail_percentile(lat)
    if tail is None:
        raise ValueError(f"{len(lat)} completed ops: too few for a tail "
                         "percentile with 10 samples beyond it")
    metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (ops_per_s(result, workload), "1/s"),
        "latency_p50_ms": (percentile(lat, 50)[0], "ms"),
        "latency_tail_ms": (tail[1], "ms"),
        "rows_per_s": (rows_rate, "1/s"),
        "store_bytes_per_row": (store["bytes"] / store["live_rows"], "B"),
        "rss_peak_mb": (result["jvm"]["rss_peak_kb"] / 1024.0, "MB"),
    }
    notes = {"latency_tail_ms": f"p{tail[0]:g} of n={tail[3]} "
                                f"({tail[2]} samples beyond)",
             "ops": f"{len(done)} of {len(ops)} ops completed in "
                    f"{window_s:.2f} s"}
    return metrics, notes


def _layer_work(result, spans_by_id, layer):
    """Per-op means over the traced spans of one module layer."""
    spans = [s for s in spans_by_id.values() if s["layer"] == layer
             and spans_by_id.get(s["parent"], {}).get("layer") == "bench"]
    ids = {s["id"] for s in spans}
    jobs = [j for j in result["jobs"] if j["span"] in ids and j["t1"] >= 0]
    work = [result["work"].get(str(i), {}) for i in ids]
    n = len(spans) or 1
    wall = sum(s["t1"] - s["t0"] for s in spans)
    job_ms = sum(union_ms([(j["t0"], j["t1"]) for j in jobs if j["span"] == i])
                 for i in ids)
    return {
        "query_ms": wall / n, "job_ms": job_ms / n,
        "driver_ms": (wall - job_ms) / n,
        "plan_ms": sum(result["plan_ms"].get(str(i), 0.0) for i in ids) / n,
        "jobs": len(jobs) / n,
        "tasks": sum(x.get("tasks", 0) for x in work) / n,
        "shuffle_bytes": sum(x.get("shuffle_bytes", 0) for x in work) / n,
        "scan_bytes": sum(x.get("scan_bytes", 0) for x in work) / n,
        "spill_bytes": sum(x.get("spill_bytes", 0) for x in work) / n,
    }


def per_layer(result, workload, untraced_ops_per_s=None):
    """Every per-layer metric from a traced run (name -> (value, unit)).
    `untraced_ops_per_s` is the same workload's rate with tracing off,
    the base of the tracing overhead (0 when unknown)."""
    ops = result["ops"]
    spans = result["spans"]
    # micro-batches become child spans of the streaming span they ran in
    by_id = {s["id"]: s for s in spans}
    next_id = max(by_id, default=0) + 1
    for i, b in enumerate(result["batches"]):
        spans.append({"id": next_id + i, "parent": b["span"],
                      "trace": by_id[b["span"]]["trace"],
                      "name": "microbatch", "layer": "streaming",
                      "t0": b["t0"], "t1": b["t1"]})
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    roots = [s for s in spans if s["parent"] == 0]
    root_ms = sum(s["t1"] - s["t0"] for s in roots)
    m = {}
    for layer in LAYERS:
        own = sum(v for i, v in selfs.items() if by_id[i]["layer"] == layer)
        m[f"{layer}.self_ms"] = (own / max(1, len(roots)), "ms")
    m["bench.self_sum_pct"] = (
        100.0 * sum(selfs.values()) / root_ms if root_ms else 0.0, "%")
    off = untraced_ops_per_s
    m["bench.trace_overhead_pct"] = (
        100.0 * (off - ops_per_s(result, workload)) / off if off else 0.0,
        "%")
    m["bench.traced_ops"] = (len(roots), "count")

    setup, jw = result["setup"], result["jvm"]["window"]
    m["core.session_ms"] = (setup["session_ms"], "ms")
    m["core.warmup_ms"] = (setup["warmup_ms"], "ms")
    m["core.gc_ms"] = (jw["gc_ms"], "ms")
    m["core.jit_ms"] = (jw["jit_ms"], "ms")
    m["core.codegen_ms"] = (jw["codegen_ms"], "ms")
    m["core.codegen_classes"] = (jw["codegen_classes"], "count")

    for layer in ("ops", "ext"):
        w = _layer_work(result, by_id, layer)
        for k, unit in (("query_ms", "ms"), ("plan_ms", "ms"),
                        ("job_ms", "ms"), ("driver_ms", "ms"),
                        ("tasks", "count"), ("shuffle_bytes", "B"),
                        ("scan_bytes", "B"), ("spill_bytes", "B")):
            m[f"{layer}.{k}"] = (w[k], unit)
    w = _layer_work(result, by_id, "plans")
    for k, unit in (("query_ms", "ms"), ("job_ms", "ms"), ("tasks", "count"),
                    ("shuffle_bytes", "B")):
        m[f"plans.{k}"] = (w[k], unit)

    done = [o for o in ops if o["ok"]]
    for name in PORTAL_OPS:
        m[f"service.{name}_ms"] = (_p50(
            [o["t1"] - o["t0"] for o in done if o["name"] == name]), "ms")
    w = _layer_work(result, by_id, "service")
    m["service.jobs_per_op"] = (w["jobs"], "count")
    m["service.driver_ms"] = (w["driver_ms"], "ms")
    m["service.failed"] = (sum(1 for o in ops if not o["ok"]
                               and o["layer"] == "service"), "count")

    st = result["extra"].get("store", {})
    before = st.get("before", {})
    commits = st.get("commits", 0) - before.get("commits", 0)
    conflicts = sum(1 for o in ops if o["err"] == "ConcurrentWriteException")
    m["store.commits"] = (commits, "count")
    m["store.conflicts"] = (conflicts, "count")
    m["store.commit_ok_ratio"] = (
        commits / (commits + conflicts) if commits + conflicts else 1.0,
        "ratio")
    m["store.checkpoints"] = (
        st.get("checkpoints", 0) - before.get("checkpoints", 0), "count")
    m["store.files_written"] = (st.get("files_written", 0), "count")
    m["store.files_live"] = (st.get("files_live", 0), "count")
    m["store.bytes_written"] = (st.get("bytes_written", 0), "B")
    m["store.log_bytes"] = (st.get("log_bytes", 0), "B")
    m["store.read_ms"] = (_mean([o["t1"] - o["t0"] for o in done
                                 if o["name"] == "read.count"]), "ms")
    m["store.compact_ms"] = (_mean([o["t1"] - o["t0"] for o in done
                                    if o["name"] == "compactSmall"]), "ms")

    batches = result["batches"]
    ingest = [s for s in spans if s["layer"] == "streaming"
              and s["name"] == "ingestEvents"]
    stateful = [s for s in spans if s["layer"] == "streaming"
                and s["name"].startswith("ext_stream_")]
    state_ids = {s["id"] for s in stateful}
    state_b = [b for b in batches if b["span"] in state_ids]
    m["streaming.ingest_ms"] = (_mean([s["t1"] - s["t0"] for s in ingest]),
                                "ms")
    m["streaming.batches"] = (len(batches), "count")
    for key, name in (("triggerExecution", "batch_ms"),
                      ("addBatch", "addBatch_ms"),
                      ("walCommit", "walCommit_ms")):
        m[f"streaming.{name}"] = (_mean(
            [b["durations"].get(key, 0) for b in batches]), "ms")
    m["streaming.stateful_ms"] = (_mean(
        [s["t1"] - s["t0"] for s in stateful]), "ms")
    m["streaming.state_rows"] = (max([b["state_rows"] for b in state_b] + [0]),
                                 "count")
    m["streaming.state_memory_bytes"] = (
        max([b["state_bytes"] for b in state_b] + [0]), "B")
    return m
