#!/usr/bin/env python3
"""Repository benchmark: warm, closed-loop statement latency of the engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload olap_scan --seed 1 --seconds 12 --trace 0

One run is one JVM with one client that sends its next statement when the
previous one returned. A statement is a registry entry,
`SparkEntry.queries(name)(spark, sf)`, followed by `.count()` -- what
`graft.Bench` times. The run builds the program from source
(perfbench/build.py), sets up a session, warms up, then runs timed passes
over the workload's statements in an order permuted by --seed for
--seconds, finishing the pass in flight.

Every statement is checked once per run against its DuckDB oracle
(`SparkEntry.oracleSql`, rendered in the same JVM after the statements
ran) over the same parquet, with a typed compare; every timed `.count()`
is checked against the oracle's row count. A statement that threw or
mismatched counts as failed.

--trace 0 prints the end-to-end metrics; --trace 1 alternates plain and
traced passes and prints the per-layer metrics (per pass, summed over the
workload's statements). Either way the last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; a human-readable summary
precedes it. Per-statement figures, spans and the noise sentinel go to
<build>/perfbench/<workload>-seed<N>-trace<T>.json (<build> as in
build.py). The JVM's scratch (java.io.tmpdir, Spark local dirs, result
dumps) lives under <build>/perfbench/run-<pid> and is removed after the run.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# A copy of the test tables described in TESTDATA.md, so that a run reads
# only its own checkout. With PERFBENCH_TESTDATA set to the directory that
# holds the live sf0.01/ and sf0.1/, a run first checks that the copy still
# matches them (see check_data).
DATA = os.path.join(HERE, "data")
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

# name -> (scale factor, statements of one pass, statements that write
#          through GraftSession, statements that run driver-side job loops
#          while they build).
# olap_scan is where exec and input do the work; mixed_loops is where
# build, codegen and write do (see the "why" of each in BENCHMARK.json).
# Each statement runs once a pass. mixed_loops has nine reads to three
# heavy statements, so its median falls among the samples of several
# reads rather than on the slowest one or two, whose run-to-run swings
# (q10 and q19 move 20-40% between JVMs) then set stmt_p50_s alone.
WORKLOADS = {
    "olap_scan": ("sf0.1", ["h3_shipping_priority", "h21_waiting_suppliers",
                            "jb7_lang_explode"], [], []),
    "mixed_loops": ("sf0.01", [
        "c27_point_lookup", "q2_predicates", "q10_distinct", "x4_jsonb_sql",
        "q19_scalar_subquery", "x7_sql_macro", "jb1_top_collections",
        "jb3_post_repost_like", "q12_union",
        "x9_sql_delete_using", "x1_recursive_cte", "d14_dup_clusters"],
        ["x9_sql_delete_using"],
        ["x1_recursive_cte", "d14_dup_clusters"]),
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_TIMEOUT_S = 170
# A fixed heap (-Xms = -Xmx): the resident set then does not follow the
# collector's resizing decisions, and peak_rss_mb moves with off-heap
# memory (metaspace, generated classes, code cache, native buffers).
HEAP = "2g"
ADD_OPENS = [a for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

# Metric names, units and directions are defined once, in BENCHMARK.json at
# the repository root.
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
LAYER_KEYS = [m["name"] for m in SPEC["per_layer"]]


def percentile(xs, q):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def check_data(sf):
    """With PERFBENCH_TESTDATA set, fails unless every table of the copy
    under DATA has the size and SHA-256 of the live table of that name."""
    live = os.environ.get("PERFBENCH_TESTDATA")
    if not live:
        return
    def digest(path):
        with open(path, "rb") as f:
            return os.path.getsize(path), hashlib.sha256(f.read()).hexdigest()
    stale = [t for t in TABLES
             if digest(os.path.join(DATA, sf, f"{t}.parquet"))
             != digest(os.path.join(live, sf, f"{t}.parquet"))]
    if stale:
        raise SystemExit(f"run: perfbench/data/{sf} differs from {live}/{sf} in "
                         + ", ".join(stale) + "; copy the live tables over it")


def run_jvm(workload, seed, seconds, trace, classpath, out):
    sf, stmts, _, _ = WORKLOADS[workload]
    cores = os.cpu_count() or 1
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + ADD_OPENS +
           ["-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Runner",
            f"seed={seed}", f"seconds={seconds}",
            f"trace={int(trace)}", f"sf={os.path.join(DATA, sf)}", f"out={out}",
            f"cores={cores}", "stmts=" + ",".join(stmts)])
    launched = time.time()
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"run: the JVM took more than {JVM_TIMEOUT_S} s")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"run: the JVM exited with {rc}")
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    marks = [("launch", launched * 1e3)] + list(run["setup_marks_ms"].items())
    run["setup_s"] = (marks[-1][1] - launched * 1e3) / 1e3
    run["setup_split_s"] = {k: (t - marks[i][1]) / 1e3 for i, (k, t) in enumerate(marks[1:])}
    return run


def _typed_diff(con, result_dir, sql):
    """None when the Spark dump equals the oracle by column names, DuckDB
    column types, row count and values (exact; NaN equals NaN), in the
    manner of tools/check.py; else a one-line reason."""
    spark = f"SELECT * FROM read_parquet('{result_dir}/*.parquet')"
    srel = con.execute(spark)
    sn = [c[0] for c in srel.description]
    srows = srel.fetchall()
    orel = con.execute(sql)
    on = [c[0] for c in orel.description]
    orows = orel.fetchall()
    if sorted(sn) != sorted(on):
        return f"columns differ: {sorted(sn)} vs {sorted(on)}"
    stypes = dict(con.execute(f"SELECT column_name, column_type FROM (DESCRIBE {spark})").fetchall())
    otypes = dict(con.execute(f"SELECT column_name, column_type FROM (DESCRIBE {sql})").fetchall())
    bad = [c for c in sn if stypes.get(c) != otypes.get(c)]
    if bad:
        return f"type of {bad[0]}: {stypes.get(bad[0])} vs {otypes.get(bad[0])}"
    perm = [on.index(c) for c in sn]
    orows = [tuple(r[i] for i in perm) for r in orows]
    if len(srows) != len(orows):
        return f"rows: {len(srows)} vs {len(orows)}"
    for i, (sr, orr) in enumerate(zip(srows, orows)):
        for c, a, b in zip(sn, sr, orr):
            nan = isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b)
            if a != b and not nan:
                return f"row {i} col {c}: {a!r} vs {b!r}"
    return None


def check(run, workload, out):
    """Oracle compare of the dumps, and of every timed count. Returns
    (per-statement problems, oracle row count per statement)."""
    import duckdb
    sf = os.path.join(DATA, WORKLOADS[workload][0])
    con = duckdb.connect(config={"temp_directory": os.path.join(out, "tmp", "duckdb"),
                                 "threads": 2})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    problems, oracle_rows = {}, {}
    for name in WORKLOADS[workload][1]:
        sql = run["oracles"].get(name)
        if sql is None:
            problems[name] = "no oracle"
            continue
        try:
            oracle_rows[name] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            if run["cold_s"].get(name, -1) < 0:
                problems[name] = "statement threw while dumping its result"
            else:
                diff = _typed_diff(con, os.path.join(out, "results", name), sql)
                if diff:
                    problems[name] = diff
        except Exception as e:  # an oracle or read error is a failed check
            problems[name] = f"{type(e).__name__}: {str(e)[:200]}"
    con.close()
    return problems, oracle_rows


def end_to_end(run, samples, workload):
    """The end-to-end metrics, plus write_p50_s where the workload writes."""
    _, _, writes, loops = WORKLOADS[workload]
    lat = [s["s"] for s in samples]
    reads = [s["s"] for s in samples if s["stmt"] not in writes and s["stmt"] not in loops]
    writes_lat = [s["s"] for s in samples if s["stmt"] in writes]
    extra = {"write_p50_s": statistics.median(writes_lat) if writes_lat else None}
    return {
        "setup_s": run["setup_s"],
        "stmt_p50_s": statistics.median(lat),
        "stmt_p90_s": percentile(lat, 0.9),
        # the closed-loop rate achieved: statements over the time they took
        "stmts_per_s": len(lat) / sum(lat),
        "read_p50_s": statistics.median(reads),
        "peak_rss_mb": run["peak_rss_mb"],
    }, extra


def per_layer(run, samples, stmts):
    """Per-pass sums of the traced statements' layer figures, with
    per-statement medians for the artifact."""
    traced = [s for s in samples if s["traced"] and "layers" in s]
    passes = len({s["pass"] for s in traced}) or 1
    keys = [k for k in LAYER_KEYS if k not in
            ("exec.slot_util", "input.records_per_row_out", "trace.overhead_s")]
    tot = {k: sum(s["layers"][k] for s in traced) / passes for k in keys}
    rows = sum(s["layers"]["rows_out"] for s in traced) / passes
    tot["exec.slot_util"] = (tot["exec.task_run_s"] / (tot["exec.s"] * run["cores"])
                             if tot["exec.s"] else 0.0)
    tot["input.records_per_row_out"] = tot["input.records_read"] / rows if rows else 0.0
    plain = [s["s"] for s in samples if not s["traced"]]
    tot["trace.overhead_s"] = (statistics.median([s["s"] for s in traced]) - statistics.median(plain)
                               if traced and plain else 0.0)
    by_stmt = {n: {k: statistics.median(s["layers"][k] for s in traced if s["stmt"] == n)
                   for k in keys + ["rows_out"]}
               for n in stmts if any(s["stmt"] == n for s in traced)}
    return tot, by_stmt


def self_times(spans, passes):
    """Seconds per pass of each span kind not covered by its child spans."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        covered, reach = 0, s["start_us"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, reach), min(b, s["end_us"])
            if b > a:
                covered += b - a
                reach = b
        own = (s["end_us"] - s["start_us"] - covered) / 1e6 / passes
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def main():
    # a terminated run still stops its JVM and removes its scratch (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    check_data(WORKLOADS[a.workload][0])
    classpath, build_dir = build.build()
    base = os.path.join(build_dir, "perfbench")
    out = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        run = run_jvm(a.workload, a.seed, a.seconds, a.trace, classpath, out)
        problems, oracle_rows = check(run, a.workload, out)
    finally:
        shutil.rmtree(out, ignore_errors=True)

    stmts = WORKLOADS[a.workload][1]
    samples = run["samples"]
    for s in samples:
        if "error" in s:
            s["problem"] = s["error"]
        elif s["stmt"] in oracle_rows and s["rows"] != oracle_rows[s["stmt"]]:
            s["problem"] = f"count {s['rows']} != oracle rows {oracle_rows[s['stmt']]}"
    attempted = len(samples) + len(stmts)
    failed = sum(1 for s in samples if "problem" in s) + len(problems)
    ran = [s for s in samples if not s["traced"] and "error" not in s]
    if not ran:
        raise SystemExit("run: every timed statement threw")
    e2e, extra = end_to_end(run, ran, a.workload)
    layers, by_stmt = per_layer(run, samples, stmts) if a.trace else ({}, {})
    traced_passes = len({s["pass"] for s in samples if s["traced"]}) or 1

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "passes": run["passes"], "measured_s": run["measured_s"],
        "samples_timed": len(samples), "cores": run["cores"],
        "end_to_end": e2e, **extra, "fail_frac": failed / attempted,
        "oracle_problems": problems,
        "sample_problems": [(s["stmt"], s["pass"], s["problem"]) for s in samples if "problem" in s],
        "setup_split_s": run["setup_split_s"], "cold_pass_s": run["cold_s"], "sentinel_s": run["sentinel_s"],
        "stmt_median_s": {n: statistics.median(s["s"] for s in samples if s["stmt"] == n)
                          for n in stmts if any(s["stmt"] == n for s in samples)},
        "samples": [[s["stmt"], s["pass"], s["traced"], s["s"]] for s in samples],
        "per_layer": layers, "per_layer_by_stmt": by_stmt,
        "self_s_per_pass": self_times(run.get("spans", []), traced_passes),
        "spans": run.get("spans", []),
    }
    os.makedirs(base, exist_ok=True)
    art = os.path.join(base, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(art, "w") as f:
        json.dump(artifact, f)

    print(f"workload {a.workload} seed {a.seed}: {run['passes']} passes, "
          f"{len(samples)} timed statements ({len(WORKLOADS[a.workload][1])} per pass), "
          f"{failed} of {attempted} failed; artifact {art}")
    for n, why in list(problems.items()) + [(s["stmt"], s["problem"]) for s in samples if "problem" in s]:
        print(f"  FAIL {n}: {why}")
    if a.trace:
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in SPEC["per_layer"]}
        for k, v in artifact["self_s_per_pass"].items():
            print(f"  self time per pass: {k:<10} {v:.4f} s")
        cols = ["build.s", "build.jobs", "loops.jobs", "catalyst.optimize_s",
                "codegen.compiles", "exec.s", "write.jobs"]
        print("  per statement (median of traced runs): " + ", ".join(cols))
        for n, v in by_stmt.items():
            print(f"    {n:<24} " + " ".join(f"{v[c]:.3f}" for c in cols))
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in SPEC["end_to_end"]}
        shown = dict(e2e, **extra, fail_frac=failed / attempted)
        units = dict({m["name"]: m["unit"] for m in SPEC["end_to_end"]},
                     write_p50_s="s", fail_frac="ratio")
        for k, v in shown.items():
            print(f"  {k:<12} {'n/a' if v is None else f'{v:.4f}'} {units[k]}")
    print("  sentinel " + " ".join(f"{k}={v:.4f}s" for k, v in run["sentinel_s"].items()))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
