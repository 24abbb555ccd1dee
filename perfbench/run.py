#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload olap_star --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the library
and the harness with sbt (perfbench/build.sbt); later runs reuse the build
while no source file changed. The harness JVM then sets up a session,
runs one untimed validation pass whose results are checked here against
a DuckDB replay of the oracle SQL, and timed passes over the workload's
frozen query list (perfbench/workloads.json), each in an order fixed by
--seed. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs a warm-up pass,
then untraced and traced passes in ABBA blocks, and reports the per-layer
metrics, writing
the spans to perfbench/.work/runs/<workload>-<seed>-trace/spans.json.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170          # a run must end within 180 s
BUILD_DEADLINE_S = 600    # the first run of a checkout also builds, within 900 s
HEAP = "3g"
LAYER_SUM_TOL = 0.05      # traced layers must sum to latency within ±5%
LAYER_SUM_TOL_MS = 2.0    # ...or within the 1 ms resolution of 2 Spark timestamps
REF_MS = 45.0             # the harness's reference work on a quiet 4-vCPU host


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def data_dir():
    d = os.environ.get("GRAFT_BENCH_DATA") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1")
    if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
        fail(f"no sf0.1 test data at {d} (set GRAFT_BENCH_DATA)")
    return d


def source_digest():
    """Hash of every input of the build, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft and the harness once per source state; returns the
    JVM command prefix (options + classpath) that sbt wrote."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.isfile(launch) and os.path.isfile(stamp) and open(stamp).read() == digest:
        return read_launch(launch)
    log("building graft and the harness with sbt")
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    with open(os.path.join(WORK, "build.log"), "w") as out:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                               cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_DEADLINE_S)
        except subprocess.TimeoutExpired:
            fail("build timed out", 3)
    if r.returncode != 0 or not os.path.isfile(launch):
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return read_launch(launch)


def read_launch(path):
    lines = open(path).read().splitlines()
    # the root build's -Xmx is replaced by the benchmark's own heap size
    opts = [o for o in lines[1:] if not o.startswith("-Xmx")]
    return opts, lines[0]


def run_harness(opts, cp, run_dir, queries, data, args, deadline):
    """Runs the harness JVM; answers its validation handshake with the
    oracle check. Returns (result dict, check results)."""
    local = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={local}",
            f"-Dspark.local.dir={local}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"]
           + opts + ["-cp", cp, "perfbench.Harness",
                     "--queries", ",".join(queries), "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--data", data, "--cores", str(cores), "--out", run_dir])
    checks = None
    with open(os.path.join(run_dir, "harness.log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.PIPE,
                                stdout=subprocess.PIPE, stderr=err, text=True)
        timer = threading.Timer(max(1.0, deadline - time.time()), proc.kill)
        timer.start()
        try:
            for line in proc.stdout:
                if line.startswith("PERFBENCH_CHECK "):
                    checks = oracle_check(line.split(" ", 1)[1].strip(), data, queries, run_dir)
                    proc.stdin.write("go\n")
                    proc.stdin.flush()
                else:
                    sys.stderr.write(line)
            proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
            proc.wait()
    result_path = os.path.join(run_dir, "result.json")
    if proc.returncode != 0 or checks is None or not os.path.isfile(result_path):
        fail(f"harness failed (exit {proc.returncode}), see {run_dir}/harness.log", 4)
    with open(result_path) as fh:
        return json.load(fh), checks


def oracle_check(check_dir, data, queries, run_dir):
    """dev/check.py's rule: each oracle-covered result must equal the DuckDB
    replay of its oracle SQL (sorted rows, exact string values; file paths
    pinned to the sf0.01 gate rebased onto the data under test); every
    other result must be non-empty. Returns {query: None or problem}."""
    import duckdb
    con = duckdb.connect(config={"threads": len(os.sched_getaffinity(0)),
                                 "memory_limit": "1GB",
                                 "temp_directory": os.path.join(run_dir, "duckdb")})
    tables = sorted(f for f in os.listdir(data) if f.endswith(".parquet"))
    for f in tables:
        con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data, f)}'")
    fingerprint = json.dumps([duckdb.__version__] + [
        (f, os.stat(os.path.join(data, f)).st_size, os.stat(os.path.join(data, f)).st_mtime_ns)
        for f in tables])
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    sf_name = os.path.basename(data.rstrip("/"))
    oracle = {k: v.replace("_sf0.01/", f"_{sf_name}/") for k, v in oracle.items()}
    out = {}
    for name in queries:
        spark_dir = os.path.join(check_dir, name)
        if not os.path.isdir(spark_dir):
            out[name] = "no output"
            continue
        try:
            sdf = con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'").df()
            if name not in oracle:
                out[name] = None if len(sdf) > 0 else "empty result"
                continue
            expected = expected_rows(con, oracle[name], fingerprint)
        except Exception as e:  # noqa: BLE001 - reported as a wrong result
            out[name] = f"duckdb: {e}"[:300]
            continue
        out[name] = compare(expected, canonical(sdf))
    return out


def expected_rows(con, sql, fingerprint):
    """The canonical oracle result. An oracle that reads only the data
    tables depends on nothing but its SQL and those files, so its result
    is cached under .work/oracle keyed by both; an oracle that reads a
    file a query wrote (a quoted path) is replayed every time."""
    if "'/" in sql:
        return canonical(con.sql(sql).df())
    key = hashlib.sha256((fingerprint + sql).encode()).hexdigest()
    path = os.path.join(WORK, "oracle", key + ".json")
    if os.path.isfile(path):
        with open(path) as fh:
            return json.load(fh)
    rows = canonical(con.sql(sql).df())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(rows, fh)
    os.replace(path + ".tmp", path)
    return rows


def canonical(df):
    """Columns sorted by name, rows sorted by value, every value a string."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:  # arrays are unhashable/unsortable in pandas
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns))
    return {"columns": list(df.columns), "rows": df.astype(str).values.tolist()}


def compare(o, s):
    if o["columns"] != s["columns"]:
        return f"columns oracle={o['columns']} spark={s['columns']}"
    if len(o["rows"]) != len(s["rows"]):
        return f"rows oracle={len(o['rows'])} spark={len(s['rows'])}"
    for i, (a, b) in enumerate(zip(o["rows"], s["rows"])):
        if a != b:
            return f"row {i}: oracle={a} spark={b}"[:300]
    return None


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def pass_ms(p):
    """A pass's wall time less the reference work timed inside it."""
    return p["wall_ms"] - sum(q["ref_ms"] for q in p["queries"])


def end_to_end(res):
    """The end-to-end metrics, and the wall times they are scaled from.

    The host is shared: how fast it runs this JVM drifts by a quarter and
    more between runs a few minutes apart. So the timed latencies are
    scaled by the reference work the harness times before every query
    (REF_MS over the run's median reference time): `pass_ref_s` and
    `query_geomean_ref_ms` are the wall times the run would have shown had
    the host run the reference in REF_MS. The raw wall times go on the
    summary line."""
    setups = res["setups"]
    untraced = [p for p in res["passes"] if not p["traced"]]
    lat = {}
    for p in untraced:
        for q in p["queries"]:
            if q["error"] is None:
                lat.setdefault(q["name"], []).append(q["build_ms"] + q["action_ms"])
    ref_ms = median([q["ref_ms"] for p in untraced for q in p["queries"]])
    pass_s = median([pass_ms(p) for p in untraced]) / 1000
    # each query's median over the passes, so that one pass slowed by a
    # burst of host load does not set it; then the median and the geometric
    # mean over the list. The geometric mean weighs every query's relative
    # change alike and, unlike the median of five, does not hang on the one
    # middle query: it spread half as much over ten runs.
    per_query = [median(v) for v in lat.values()]
    query_p50_ms = median(per_query)
    query_geomean_ms = (math.exp(statistics.fmean(math.log(x) for x in per_query))
                        if per_query else float("nan"))
    wall = {"pass_s": (pass_s, "s"), "query_p50_ms": (query_p50_ms, "ms"),
            "query_geomean_ms": (query_geomean_ms, "ms"), "ref_ms": (ref_ms, "ms")}
    return {
        "setup_s": (median([s["build_ms"] + s["warmup_ms"] + s["prepare_ms"]
                            for s in setups]) / 1000, "s"),
        "pass_ref_s": (pass_s * REF_MS / ref_ms, "s"),
        "query_geomean_ref_ms": (query_geomean_ms * REF_MS / ref_ms, "ms"),
        "heap_peak_mb": (res["heap_peak_mb"], "MB"),
    }, wall, sum(len(v) for v in lat.values())


def per_layer(res):
    """Per-layer metrics: each is a per-query mean over one traced pass
    (a ratio of pass totals for shares and fractions), then the median
    over the traced passes."""
    cores = res["cores"]
    setups = res["setups"]
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]

    def per_pass(fn):
        return median([fn([q for q in p["queries"] if q["error"] is None]) for p in traced])

    def mean(key):
        return per_pass(lambda qs: sum(q["layers"][key] for q in qs) / max(1, len(qs)))

    def ratio(num, den):
        return per_pass(lambda qs: sum(num(q) for q in qs) / max(1e-9, sum(den(q) for q in qs)))

    def lat(q):
        return q["build_ms"] + q["action_ms"]

    def attributed(q):
        L = q["layers"]
        return (q["build_ms"] + L["analysis_ms"] + L["optimizer_ms"] + L["planning_ms"]
                + L["prep_ms"] + L["exec_ms"] + L["commit_ms"])

    cleanups = [s["cleanup_ms"] for s in setups if s["cleanup_ms"] is not None] + [res["cleanup_ms"]]
    m = {
        "session.build_ms": (median([s["build_ms"] for s in setups]), "ms"),
        "session.warmup_ms": (median([s["warmup_ms"] for s in setups]), "ms"),
        "fixtures.prepare_ms": (median([s["prepare_ms"] for s in setups]), "ms"),
        "fixtures.cleanup_ms": (median(cleanups), "ms"),
        "tables.build_ms": (per_pass(lambda qs: sum(q["build_ms"] for q in qs) / max(1, len(qs))), "ms"),
        "tables.build_share": (ratio(lambda q: q["build_ms"], lat), "frac"),
        "tables.build_jobs": (mean("build_jobs"), "count"),
        "tables.build_job_ms": (mean("build_job_ms"), "ms"),
        "tables.scans": (mean("scans"), "count"),
        "plans.analysis_ms": (mean("analysis_ms"), "ms"),
        "plans.optimizer_ms": (mean("optimizer_ms"), "ms"),
        "plans.planning_ms": (mean("planning_ms"), "ms"),
        "plans.graft_rule_ms": (mean("graft_rule_ms"), "ms"),
        "plans.graft_rule_effective_frac": (
            ratio(lambda q: q["layers"]["graft_rule_effective"],
                  lambda q: q["layers"]["graft_rule_calls"]), "frac"),
        "exec.prep_ms": (mean("prep_ms"), "ms"),
        "exec.ms": (mean("exec_ms"), "ms"),
        "exec.commit_ms": (mean("commit_ms"), "ms"),
        "exec.jobs": (mean("exec_jobs"), "count"),
        "exec.stages": (mean("stages"), "count"),
        "exec.tasks": (mean("tasks"), "count"),
        "exec.task_run_ms": (mean("task_run_ms"), "ms"),
        "exec.task_cpu_ms": (mean("task_cpu_ms"), "ms"),
        "exec.gc_ms": (mean("gc_ms"), "ms"),
        "exec.core_util": (ratio(lambda q: q["layers"]["task_run_ms"],
                                 lambda q: q["layers"]["exec_ms"] * cores), "frac"),
        "exec.driver_gap_ms": (mean("driver_gap_ms"), "ms"),
        "exec.spill_mb": (mean("spill_mb"), "MB"),
        "shuffle.write_mb": (mean("shuffle_write_mb"), "MB"),
        "shuffle.read_mb": (mean("shuffle_read_mb"), "MB"),
        "shuffle.blocks": (mean("shuffle_blocks"), "count"),
        "io.input_mb": (mean("input_mb"), "MB"),
        "io.input_rows": (mean("input_rows"), "count"),
        "io.output_mb": (mean("output_mb"), "MB"),
        "io.output_rows": (mean("output_rows"), "count"),
        "cache.stored_mb": (per_pass(lambda qs: max([q["layers"]["cache_stored_mb"] for q in qs],
                                                    default=0.0)), "MB"),
        "trace.overhead_frac": (median([pass_ms(p) for p in traced])
                                / median([pass_ms(p) for p in untraced]) - 1, "frac"),
        "trace.unattributed_ms": (per_pass(lambda qs: sum(lat(q) - attributed(q) for q in qs)
                                           / max(1, len(qs))), "ms"),
    }
    # layer-sum self-check over every traced query
    bad = []
    worst = 0.0
    for p in traced:
        for q in p["queries"]:
            if q["error"] is not None:
                continue
            gap = lat(q) - attributed(q)
            worst = max(worst, abs(gap) / lat(q))
            if abs(gap) > max(LAYER_SUM_TOL * lat(q), LAYER_SUM_TOL_MS):
                bad.append(f"{q['name']}: latency {lat(q):.1f} ms, layers sum {attributed(q):.1f} ms")
    m["trace.layer_sum_max_err"] = (worst, "frac")
    return m, bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    # on SIGTERM, unwind through run_harness's finally, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a graft checkout: {os.path.join(ROOT, need)} is missing")
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)["workloads"]
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; choose from {sorted(workloads)}")
    queries = workloads[args.workload]["queries"]
    data = data_dir()
    opts, cp = build()

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{'trace' if args.trace else 'e2e'}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    res, checks = run_harness(opts, cp, run_dir, queries, data, args,
                              time.time() + DEADLINE_S)
    shutil.rmtree(os.path.join(run_dir, "check"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    problems = []
    for v in res["validation"]:
        why = v["error"] or checks.get(v["name"])
        if why:
            problems.append(f"{v['name']} (validation): {why}")
    runs = [q for p in res["passes"] for q in p["queries"]]
    problems += [f"{q['name']}: {q['error']}" for q in runs if q["error"] is not None]
    attempted = len(res["validation"]) + len(runs)
    failed = len(problems)
    for p in problems:
        log(f"FAILED {p}")

    log("steps: " + " ".join(f"{k}={v / 1000:.1f}s" for k, v in res["step_ms"].items()))
    e2e, wall, n = end_to_end(res)
    order = [q["name"] for q in res["passes"][0]["queries"]]
    summary = " ".join(f"{k}={v:.4g} {u}" for k, (v, u) in {**e2e, **wall}.items())
    print(f"perfbench {args.workload} seed={args.seed} cores={res['cores']} "
          f"passes={len(res['passes'])} samples={n} {summary} "
          f"failed_frac={failed / attempted:.4g} ({failed}/{attempted}) "
          f"first_order={','.join(order)}")
    metrics = e2e
    if args.trace:
        metrics, bad = per_layer(res)
        for b in bad:
            log(f"LAYER SUM OFF {b}")
        if bad:
            failed += len(bad)
        log(f"spans: {os.path.join(run_dir, 'spans.json')}")
    missing = [k for k, (v, _) in metrics.items() if not math.isfinite(v)]
    if missing:
        log(f"no value for {', '.join(missing)}")
        failed += 1
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v if math.isfinite(v) else None, "unit": u}
                       for k, (v, u) in metrics.items()}}
    log(f"run took {time.time() - start:.1f} s")
    print(json.dumps(out))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
