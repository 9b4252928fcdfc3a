"""Per-query table of a traced perfbench run.

Usage: python3 scripts/perquery.py <trace dir>

<trace dir> holds the `spans.jsonl` and `counts.jsonl` that
`perfbench/run.py --trace 1` leaves in
`.bench_build/perfbench/<workload>-trace1/`. Requests are grouped by the
query they declared; each column is the mean per request:

  declare ms   self time of the declaration span (`queries.declare`)
  execute ms   length of the `execute` span (the noop write)
  wall ms      length of the request span
  jobs         Spark jobs of the request (`sched.jobs`)
  lookups      CacheOnce lookups (`cache.lookups`)
  hits         CacheOnce hits (`cache.hits`)

Self times use perfbench's own span arithmetic (`perfbench/report.py`).
"""
import collections
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "perfbench"))
import report  # noqa: E402

COLUMNS = ["n", "declare ms", "execute ms", "wall ms", "jobs", "lookups", "hits"]


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def per_query(spans, counts):
    """{query: {column: mean}} over the requests that declared it."""
    by_req = collections.defaultdict(list)
    for sp in spans:
        by_req[sp["req"]].append(sp)
    count_of = {c["req"]: c for c in counts}
    rows = collections.defaultdict(list)
    for req, sps in by_req.items():
        declare = next((s for s in sps if s["name"] == "queries.declare"), None)
        if declare is None:
            continue
        execute = [s for s in sps if s["name"] == "execute"]
        root = next(s for s in sps if s["parent"] == -1)
        c = count_of.get(req, {})
        rows[declare["query"]].append({
            "declare ms": report.layer_self_ms(sps)["queries"],
            "execute ms": sum(s["end_us"] - s["start_us"] for s in execute) / 1000.0,
            "wall ms": (root["end_us"] - root["start_us"]) / 1000.0,
            "jobs": c.get("sched.jobs", 0.0),
            "lookups": c.get("cache.lookups", 0.0),
            "hits": c.get("cache.hits", 0.0),
        })
    out = {}
    for query, rs in rows.items():
        out[query] = {"n": len(rs)}
        for col in COLUMNS[1:]:
            out[query][col] = sum(r[col] for r in rs) / len(rs)
    return out


def table(stats):
    lines = ["| query | " + " | ".join(COLUMNS) + " |",
             "|---|" + "---:|" * len(COLUMNS)]
    for query in sorted(stats):
        s = stats[query]
        cells = [str(s["n"])] + ["%.1f" % s[c] for c in COLUMNS[1:]]
        lines.append("| %s | %s |" % (query, " | ".join(cells)))
    return "\n".join(lines)


def main(trace_dir):
    stats = per_query(read_jsonl(os.path.join(trace_dir, "spans.jsonl")),
                      read_jsonl(os.path.join(trace_dir, "counts.jsonl")))
    print(table(stats))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
