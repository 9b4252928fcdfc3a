#!/usr/bin/env python3
"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and
the harness with sbt (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. See perfbench/README.md.
"""
import argparse
import collections
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
# the repository's oracle comparison (column order, float and NULL
# normalisation), shared with the correctness check
sys.path.insert(1, os.path.join(ROOT, "scripts"))

import duckdb  # noqa: E402
try:
    import check  # noqa: E402
except ImportError:  # not a checkout of the repository; main() says so
    check = None

import report  # noqa: E402
import workloads  # noqa: E402

# The sf0.1 tables of the repository's test data (TESTDATA.md).
SF_DIR = os.path.expanduser("~/testdata/sf0.1")
CORES = min(4, len(os.sched_getaffinity(0)))
JVM_TIMEOUT_S = 150
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src/main/scala/**/*.scala"), recursive=True))
    return files + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")]


def build():
    """Compile with sbt unless the classpath file is newer than a build
    of the same sources; returns the runtime classpath."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(f.encode() + b"\0" + open(f, "rb").read())
    stamp = os.path.join(HERE, "target", "build.stamp")
    cp_file = os.path.join(HERE, "target", "runtime.classpath")
    if not (os.path.exists(stamp) and open(stamp).read() == digest.hexdigest()
            and os.path.exists(cp_file)):
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SPARK_HOME" not in env:
            env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
                os.path.realpath(shutil.which("spark-submit"))))
        env.setdefault("SBT_OPTS", " ".join([
            "-Dsbt.override.build.repos=true",
            "-Dsbt.repository.config=%s" % os.path.expanduser("~/.sbt/repositories"),
            "-Dsbt.offline=true", "-Xmx3g"]))
        log("[perfbench] building with sbt ...")
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, check=True, timeout=840)
        with open(stamp, "w") as f:
            f.write(digest.hexdigest())
    return open(cp_file).read().strip()


def stage_inputs(work, workload, seed):
    block, reqs = workloads.plan(workload, seed)
    workloads.write_plan(os.path.join(work, "plan.tsv"), reqs)
    if workload == "ingest_refresh":
        workloads.write_batch(os.path.join(work, "batch.tsv"), seed, SF_DIR)
    return ["--block", str(block), "--warm-blocks", str(workloads.WARM_BLOCKS[workload])]


def run_jvm(cp, work, args):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main", "--work", work, "--sf", SF_DIR,
              "--cores", str(CORES)] + args)
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        log(open(os.path.join(work, "jvm.log")).read()[-4000:])
        raise SystemExit("[perfbench] engine run failed (%s)" % code)


def read_tsv(path):
    with open(path) as f:
        return [l.rstrip("\n").split("\t") for l in f if l.strip()]


def _rows(con, sql):
    rel = con.execute(sql)
    return [c[0] for c in rel.description], rel.fetchall()


def compare(con, got_sql, exp_sql):
    """None if the two queries return the same rows, else the reason
    they differ; rows compared as scripts/check.py does (columns matched
    by name, values normalised, rows as a multiset)."""
    got_cols, got = _rows(con, got_sql)
    exp_cols, exp = _rows(con, exp_sql)
    if sorted(got_cols) != sorted(exp_cols):
        return "columns differ: %s vs oracle %s" % (sorted(got_cols), sorted(exp_cols))
    g, e = check.canon(got, got_cols), check.canon(exp, exp_cols)
    if g != e:
        cg, ce = collections.Counter(g), collections.Counter(e)
        return ("rows differ from the oracle: %d rows vs %d, %d only in the result, "
                "%d only in the oracle" % (len(g), len(e), sum((cg - ce).values()),
                                           sum((ce - cg).values())))
    return None


def oracle_check(work):
    """Compare each dumped (input, query) result with the DuckDB oracle
    on the same files. Returns {(input, query): reason} of the pairs
    that failed, and the number of pairs checked."""
    failed, cons = {}, {}
    rows = read_tsv(os.path.join(work, "checks.tsv"))
    for inp, q, data_dir, dump, cls, msg in rows:
        sql_file = os.path.join(work, "oracle", q + ".sql")
        if cls:
            failed[(inp, q)] = "%s: %s" % (cls, msg)
            continue
        if not os.path.exists(sql_file):
            failed[(inp, q)] = "no oracle SQL for %s" % q
            continue
        if data_dir not in cons:
            con = cons[data_dir] = duckdb.connect()
            con.execute("SET enable_progress_bar = false")
            con.execute("SET temp_directory = '%s'" % os.path.join(work, "tmp"))
            for t in TABLES:
                p = os.path.join(data_dir, t + ".parquet")
                src = p + "/*.parquet" if os.path.isdir(p) else p
                con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, src))
        try:
            why = compare(cons[data_dir], "SELECT * FROM '%s/*.parquet'" % dump,
                          open(sql_file).read())
        except duckdb.Error as e:
            why = "oracle error: %s" % str(e)[:300]
        if why:
            failed[(inp, q)] = why
    return failed, len(rows)


def load_requests(work, window):
    out = []
    for w, rid, inp, q, s, e, cls, msg in read_tsv(os.path.join(work, "requests.tsv")):
        if w == window:
            out.append({"id": int(rid), "input": inp, "query": q,
                        "latency_s": (int(e) - int(s)) / 1e9,
                        "error": "%s: %s" % (cls, msg) if cls else None})
    return out


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if check is None or not os.path.exists(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        raise SystemExit("[perfbench] engine sources or scripts/check.py not found under %s" % ROOT)

    cp = build()
    # set-up is timed from here, after the build
    t0_ms = int(time.time() * 1000)
    work = os.path.join(ROOT, ".bench_build", "perfbench", "%s-trace%d" % (a.workload, a.trace))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = stage_inputs(work, a.workload, a.seed)
    run_jvm(cp, work, args + [
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--t0-ms", str(t0_ms)])
    t_check = time.time()
    failed_pairs, n_pairs = oracle_check(work)
    log("[perfbench] engine run %.1f s, oracle check %.1f s"
        % (t_check - t0_ms / 1000, time.time() - t_check))
    untimed = sum((load_requests(work, w) for w in ("cold", "check", "warm")), [])
    untimed_failures = report.account_untimed(untimed, failed_pairs)
    summary = {k: float(v) for k, v in read_tsv(os.path.join(work, "summary.tsv"))}
    plain = load_requests(work, "plain")
    e2e, failures, t = report.end_to_end(plain, failed_pairs, summary["window_s"],
                                         summary["setup_s"], summary["cache_mb"])
    traced = load_requests(work, "traced")
    _, traced_failures = report.account(traced, failed_pairs)

    print("workload %s seed %d: local[%d], %d requests in %.2f s, %d of %d (query, input) "
          "pairs failed" % (a.workload, a.seed, CORES, len(plain), summary["window_s"],
                            len(failed_pairs), n_pairs))
    print("error_rate %.4f (%d of %d requests)" % (len(failures) / len(plain), len(failures), len(plain)))
    for (inp, q), why in sorted(failed_pairs.items()):
        print("  check failed: %s on %s: %s" % (q, inp, why))
    for rid, why in failures[:20]:
        print("  request %d failed: %s" % (rid, why))
    for r in untimed:
        if r["error"]:
            print("  untimed request %s on %s threw: %s" % (r["query"], r["input"], r["error"]))
    print("latency_tail_s is " + ("p%.1f with %d samples beyond it" % (t[1], t[2]) if t
                                  else "the maximum: fewer than 30 samples"))
    if a.trace:
        traced_qps = (len(traced) - len(traced_failures)) / summary["traced_window_s"]
        metrics, rows = report.per_layer(
            read_jsonl(os.path.join(work, "spans.jsonl")),
            read_jsonl(os.path.join(work, "counts.jsonl")), summary,
            traced_qps, e2e["throughput_qps"])
        print("request  wall_ms  " + "  ".join("%8s" % l for l in report.LAYERS) + "    sum_ms")
        off = 0
        for req, wall, layer in rows:
            total = sum(layer.values())
            flag = abs(total - wall) > report.WALL_TOLERANCE * wall
            off += flag
            print("%7d %8.1f  " % (req, wall) + "  ".join("%8.1f" % layer[l] for l in report.LAYERS)
                  + "  %8.1f%s" % (total, "  (off)" if flag else ""))
        print("layer self times add up to the wall within %.0f%% on %d of %d requests"
              % (100 * report.WALL_TOLERANCE, len(rows) - off, len(rows)))
        print("tracing overhead: %.2f qps traced vs %.2f qps untraced (%.1f%%)"
              % (traced_qps, e2e["throughput_qps"], metrics["trace.overhead_pct"]))
    else:
        metrics = e2e
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
           for m in spec["per_layer" if a.trace else "end_to_end"]}
    for k, v in out.items():
        print("  %-24s %14.4f %s" % (k, v["value"], v["unit"]))
    for d in ("versions", "dumps", "local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    attempted = len(untimed) + len(plain) + len(traced)
    n_failed = len(untimed_failures) + len(failures) + len(traced_failures)
    print(json.dumps({"correct": n_failed == 0 and not failed_pairs, "attempted": attempted,
                      "failed": n_failed, "metrics": out}))


if __name__ == "__main__":
    main()
