"""Metric arithmetic of the benchmark: latency percentiles, error
accounting, and per-layer self times from the traced run's spans."""
import statistics

# Which layer each span's self time belongs to. `request` and `execute`
# self time is driver time between the other layers: job submission,
# adaptive re-planning, broadcast collection.
LAYER = {"request": "sched", "execute": "sched", "queries.declare": "queries",
         "write": "write", "plans.analysis": "plans", "plans.optimization": "plans",
         "plans.planning": "plans", "exec.stage": "exec"}
LAYERS = ["queries", "plans", "write", "sched", "exec"]
# Layer self times may miss the request wall by this share before the
# traced run flags the request (Spark stamps stages in whole ms).
WALL_TOLERANCE = 0.03


def tail(latencies):
    """(value, percentile, samples beyond it) for the highest percentile
    that has at least ten samples beyond it, or None when that
    percentile would fall below p66.7 (fewer than 30 samples): a window
    of 21 requests would otherwise report its median as the tail, and a
    window of 20 its maximum."""
    xs = sorted(latencies)
    i = len(xs) - 11
    if 3 * (i + 1) < 2 * len(xs):
        return None
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs) - 1 - i


def account(requests, failed_pairs):
    """Error accounting over the timed requests. A request fails if it
    threw, or if its (input, query) pair failed the oracle check; failed
    requests stay in the latency sample. `requests` are dicts with id,
    input, query, latency_s and error; returns (latencies, failures),
    failures as (request id, reason) pairs."""
    lat, failures = [], []
    for r in requests:
        lat.append(r["latency_s"])
        why = r["error"] or failed_pairs.get((r["input"], r["query"]))
        if why:
            failures.append((r["id"], why))
    return lat, failures


def account_untimed(requests, failed_pairs):
    """Error accounting over the requests outside the timed windows (the
    cold pass of set-up, the warm-up and its check block). One that
    threw fails its (input, query) pair in `failed_pairs`, so it counts
    against every timed request of the pair. Returns their failures
    like `account`."""
    for r in requests:
        if r["error"]:
            failed_pairs.setdefault((r["input"], r["query"]),
                                    "untimed request threw: " + r["error"])
    return account(requests, failed_pairs)[1]


def end_to_end(requests, failed_pairs, window_s, setup_s, cache_mb):
    lat, failures = account(requests, failed_pairs)
    n = len(requests)
    t = tail(lat)
    return {
        "throughput_qps": (n - len(failures)) / window_s,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": t[0] if t else max(lat),
        "success_rate": (n - len(failures)) / n,
        "setup_s": setup_s,
        "cache_mb": cache_mb,
    }, failures, t


def _union(intervals):
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def _minus(interval, covered):
    """Parts of `interval` not in the sorted disjoint list `covered`."""
    s, e = interval
    out = []
    for cs, ce in covered:
        if ce <= s or cs >= e:
            continue
        if cs > s:
            out.append((s, cs))
        s = max(s, ce)
    if s < e:
        out.append((s, e))
    return out


def self_intervals(spans):
    """For each span id, its interval clipped to its parent's, minus the
    union of its children's clipped intervals. A parent's id is smaller
    than its children's."""
    clipped, kids = {}, {}
    for sp in sorted(spans, key=lambda x: x["id"]):
        s, e = sp["start_us"], sp["end_us"]
        if sp["parent"] in clipped:
            ps, pe = clipped[sp["parent"]]
            s, e = max(s, ps), min(e, pe)
        clipped[sp["id"]] = (s, max(s, e))
        kids.setdefault(sp["parent"], []).append(sp["id"])
    return {i: _minus(iv, _union(clipped[k] for k in kids.get(i, [])))
            for i, iv in clipped.items()}


def layer_self_ms(spans):
    """Per-layer self time (ms) of one request's spans: the length of
    the union of the self intervals of the layer's spans, so stages that
    run side by side count once."""
    own = self_intervals(spans)
    by_layer = {l: [] for l in LAYERS}
    for sp in spans:
        by_layer[LAYER[sp["name"]]].extend(own[sp["id"]])
    return {l: sum(e - s for s, e in _union(iv)) / 1000.0 for l, iv in by_layer.items()}


def per_layer(spans, counts, summary, traced_qps, plain_qps):
    """Per-layer metrics of the traced window: per-request means of the
    counts and self times, with ratios taken over the window's totals.
    Also returns, per request, (wall ms, layer self ms)."""
    by_req = {}
    for sp in spans:
        by_req.setdefault(sp["req"], []).append(sp)
    rows, phase = [], {"analysis": [], "optimization": [], "planning": []}
    for req in sorted(by_req):
        sps = by_req[req]
        root = next(s for s in sps if s["parent"] == -1)
        wall = (root["end_us"] - root["start_us"]) / 1000.0
        rows.append((req, wall, layer_self_ms(sps)))
        own = self_intervals(sps)
        for p in phase:
            phase[p].append(sum(e - s for sp in sps if sp["name"] == "plans." + p
                                for s, e in own[sp["id"]]) / 1000.0)
    n = len(rows)

    def mean(key):
        return sum(c[key] for c in counts) / n

    def total(key):
        return sum(c[key] for c in counts)

    m = {
        "engine.session_ms": summary["engine.session_ms"],
        "engine.warmup_ms": summary["engine.warmup_ms"],
        "queries.declare_ms": sum(r[2]["queries"] for r in rows) / n,
        "queries.declare_jobs": mean("queries.declare_jobs"),
        "plans.analysis_ms": sum(phase["analysis"]) / n,
        "plans.optimization_ms": sum(phase["optimization"]) / n,
        "plans.planning_ms": sum(phase["planning"]) / n,
        "plans.exchanges": mean("plans.exchanges"),
        "plans.broadcasts": mean("plans.broadcasts"),
        "cache.lookups": mean("cache.lookups"),
        "cache.hit_ratio": total("cache.hits") / max(1.0, total("cache.lookups")),
        "cache.mem_bytes": mean("cache.mem_bytes"),
        "sched.jobs": mean("sched.jobs"),
        "sched.stages": mean("sched.stages"),
        "sched.tasks": mean("sched.tasks"),
        "sched.outside_stage_ms": sum(r[1] - r[2]["exec"] for r in rows) / n,
        "sched.task_wait_ms": mean("sched.task_wait_ms"),
        "exec.stage_busy_ms": sum(r[2]["exec"] for r in rows) / n,
        "exec.task_run_ms": mean("exec.task_run_ms"),
        "exec.task_cpu_ms": mean("exec.task_cpu_ms"),
        "exec.gc_ms": mean("exec.gc_ms"),
        "exec.failed_tasks": mean("exec.failed_tasks"),
        "scan.bytes": mean("scan.bytes"),
        "scan.rows": mean("scan.rows"),
        "scan.time_ms": mean("scan.time_ms"),
        "shuffle.write_bytes": mean("shuffle.write_bytes"),
        "shuffle.write_ms": mean("shuffle.write_ms"),
        "shuffle.fetch_wait_ms": mean("shuffle.fetch_wait_ms"),
        "dedup.candidates": total("dedup.candidates") / max(1.0, total("dedup.requests")),
        "dedup.verify_yield": total("dedup.result_rows") / max(1.0, total("dedup.candidates")),
        "write.ms": sum(r[2]["write"] for r in rows) / n,
        "write.bytes": mean("write.bytes"),
        "trace.overhead_pct": 100.0 * (plain_qps - traced_qps) / plain_qps,
    }
    return m, rows
