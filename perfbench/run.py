#!/usr/bin/env python3
"""Window-aggregation benchmark: end-to-end and per-layer metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--tiny]
  python3 perfbench/run.py --selftest

Workloads (see perfbench/README.md): window_core, window_holistic,
operator_pipelines. The first run in a checkout compiles the engine with
the harness (sbt project in perfbench/); later runs reuse the build while
the sources are unchanged. Each run starts one JVM with a fresh
local[nproc] Spark session (perfbench.Main), which writes raw samples;
this script checks every query's output against DuckDB once per run and
prints the metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 it holds the
end-to-end metrics, with --trace 1 the per-layer metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("window_core", "window_holistic", "operator_pipelines")
# A fixed, pre-touched heap: VmHWM then reads heap plus native memory, not
# how far the collector happened to grow the heap in this run.
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs the launcher's module opens.
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- arithmetic (unit-checked by --selftest) --------------------------------

def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n). With ten or fewer samples no percentile
    qualifies, and the maximum is returned with percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def union_ms(intervals):
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time (ms) per span: its duration minus the part of its interval
    that its children cover. Spans are dicts with trace, name, parent,
    start_ms and end_ms; a child names its parent and shares its trace."""
    out = []
    for sp in spans:
        kids = [(max(c["start_ms"], sp["start_ms"]), min(c["end_ms"], sp["end_ms"]))
                for c in spans
                if c is not sp and c["trace"] == sp["trace"] and c["parent"] == sp["name"]]
        kids = [(s, e) for s, e in kids if e > s]
        out.append((sp, sp["end_ms"] - sp["start_ms"] - union_ms(kids)))
    return out


# ---- build ------------------------------------------------------------------

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala; run from a full checkout")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    digest = source_hash()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(cp_file).read().strip(), digest


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


# ---- run --------------------------------------------------------------------

def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return None


def run_jvm(cp, workload, seed, seconds, trace, tiny, out):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, *HEAP, *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--out", out, "--root", ROOT] + (["--tiny"] if tiny else [])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{workload} did not finish within {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    raw_path = os.path.join(out, "raw.json")
    if rc != 0 or not os.path.exists(raw_path):
        fail(f"{workload} JVM exited with code {rc}")
    with open(raw_path) as fh:
        return json.load(fh)


def check(raw):
    """Compare each query's output with its DuckDB oracle, normalised as the
    repository's oracle gate does: columns by name, rows as a multiset,
    equal types, exact values. Returns {query: reason} for mismatches."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    for name, path in raw["tables"].items():
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    bad = {}
    for q in raw["queries"]:
        if q["name"] in raw["failures"]:
            continue
        got = f"read_parquet('{q['result']}/*.parquet')"
        try:
            con.execute(f"CREATE OR REPLACE TEMP TABLE exp AS {q['oracle']}")
            gt = sorted(c[:2] for c in con.execute(f"DESCRIBE SELECT * FROM {got}").fetchall())
            et = sorted(c[:2] for c in con.execute("DESCRIBE exp").fetchall())
            if gt != et:
                bad[q["name"]] = f"schema {gt} vs {et}"
                continue
            cols = ", ".join(f'"{c}"' for c, _ in gt)
            n_got = con.execute(f"SELECT count(*) FROM {got}").fetchone()[0]
            n_exp = con.execute("SELECT count(*) FROM exp").fetchone()[0]
            if n_got != n_exp:
                bad[q["name"]] = f"rows {n_got} vs {n_exp}"
                continue
            diff = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {got} "
                               f"EXCEPT ALL SELECT {cols} FROM exp)").fetchone()[0]
            if diff:
                bad[q["name"]] = f"{diff} rows differ"
        except duckdb.Error as e:
            bad[q["name"]] = f"oracle error: {e}"
    con.close()
    return bad


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw):
    untraced = [p for p in raw["passes"] if not p["traced"]]
    samples = [q["s"] for p in untraced for q in p["queries"]]
    pass_s = median([p["wall_s"] for p in untraced])
    rows_per_pass = raw["input_rows"] * len(untraced[0]["queries"])
    tail_v, tail_pct, n = tail(samples)
    setup = median([r["session_s"] + r["data_s"] for r in raw["setup"]["reps"]]) \
        + raw["setup"]["warmup_s"]
    metrics = {
        "setup_s": (setup, "s"),
        "pass_s": (pass_s, "s"),
        "rows_per_s": (rows_per_pass / pass_s, "1/s"),
        "query_p50_s": (median(samples), "s"),
        "query_tail_s": (tail_v, "s"),
        "peak_rss_mb": (raw["proc"]["vmhwm_kb"] / 1024.0, "MB"),
    }
    info = {"query_samples": n, "query_tail_percentile": tail_pct,
            "rows_per_pass": rows_per_pass, "passes": len(untraced),
            "setup": raw["setup"], "query_median_s": query_medians(untraced)}
    return metrics, info


def query_medians(passes):
    names = [q["name"] for q in passes[0]["queries"]] if passes else []
    return {k: round(median([q["s"] for p in passes for q in p["queries"] if q["name"] == k]), 4)
            for k in names}


def per_layer(raw):
    passes = raw["passes"]
    traced = [i for i, p in enumerate(passes) if p["traced"]]
    untraced = [p["wall_s"] for p in passes if not p["traced"]]
    spans = raw["spans"]
    stages = raw["stages"]
    counters = raw["counters"]
    cores = raw["cores"]

    def per_pass(fn):
        return median([fn(i) for i in traced])

    def span_ms(name):
        return [s["end_ms"] - s["start_ms"] for s in spans if s["name"] == name]

    def span_sum_s(i, name):
        return sum(s["end_ms"] - s["start_ms"] for s in spans
                   if s["name"] == name and s["trace"] // 1000 == i) / 1e3

    def ctr(i, phase, key):
        return sum(c[key] for c in counters
                   if c["qid"] // 1000 == i and (phase is None or c["phase"] == phase))

    def phase_s(i, phase):
        return sum(q.get("phases", {}).get(phase, 0.0) for q in passes[i]["queries"])

    def skew(i):
        worst = 1.0
        for s in stages:
            if s["qid"] // 1000 == i and s["phase"] == "exec" and len(s["task_ms"]) >= 2:
                med = statistics.median(s["task_ms"])
                if med > 0:
                    worst = max(worst, max(s["task_ms"]) / med)
        return worst

    def util(i):
        exec_s = span_sum_s(i, "exec")
        return ctr(i, "exec", "task_ms") / 1e3 / (exec_s * cores) if exec_s > 0 else 0.0

    mb = 1024.0 * 1024.0
    m = {
        "parser.parse_ms": (median(span_ms("parse")), "ms"),
        "validate.validate_ms": (median(span_ms("validate")), "ms"),
        "sqlemit.emit_ms": (median(span_ms("emit")), "ms"),
        "engine.build_ms": (median(span_ms("build")), "ms"),
        "SparkEntry.construct_s": (per_pass(lambda i: span_sum_s(i, "SparkEntry")), "s"),
        "SparkEntry.construct_jobs": (per_pass(lambda i: ctr(i, "construct", "jobs")), "count"),
        "catalyst.analysis_s": (per_pass(lambda i: phase_s(i, "analysis")), "s"),
        "catalyst.optimization_s": (per_pass(lambda i: phase_s(i, "optimization")), "s"),
        "catalyst.planning_s": (per_pass(lambda i: phase_s(i, "planning")), "s"),
        "exec.s": (per_pass(lambda i: span_sum_s(i, "exec")), "s"),
        "exec.task_s": (per_pass(lambda i: ctr(i, "exec", "task_ms") / 1e3), "s"),
        "exec.cpu_s": (per_pass(lambda i: ctr(i, "exec", "cpu_ns") / 1e9), "s"),
        "exec.gc_s": (per_pass(lambda i: ctr(i, "exec", "gc_ms") / 1e3), "s"),
        "exec.shuffle_write_mb": (per_pass(lambda i: ctr(i, "exec", "shuffle_write") / mb), "MB"),
        "exec.shuffle_read_mb": (per_pass(lambda i: ctr(i, "exec", "shuffle_read") / mb), "MB"),
        "exec.spill_mb": (per_pass(lambda i: ctr(i, "exec", "spill") / mb), "MB"),
        "exec.jobs": (per_pass(lambda i: ctr(i, "exec", "jobs")), "count"),
        "exec.stages": (per_pass(lambda i: ctr(i, "exec", "stages")), "count"),
        "exec.tasks": (per_pass(lambda i: ctr(i, "exec", "tasks")), "count"),
        "exec.core_util": (per_pass(util), "ratio"),
        "exec.task_skew": (per_pass(skew), "ratio"),
        "exec.peak_exec_mem_mb": (per_pass(lambda i: max(
            [c["peak_mem"] for c in counters if c["qid"] // 1000 == i], default=0) / mb), "MB"),
        "sources.scan_rows": (per_pass(lambda i: ctr(i, None, "in_rows")), "count"),
        "sources.scan_mb": (per_pass(lambda i: ctr(i, None, "in_bytes") / mb), "MB"),
        "functions.codegen_fallbacks": (raw["codegen_fallbacks"], "count"),
        "engine.holistic_slope": (holistic_slope(raw), "log2"),
        "trace.overhead_pct": (
            100.0 * (median([passes[i]["wall_s"] for i in traced]) / median(untraced) - 1.0), "%"),
    }
    stage_spans = [{"trace": s["qid"], "name": "stage", "parent": stage_parent(s, spans),
                    "start_ms": s["start_ms"], "end_ms": s["end_ms"]}
                   for s in stages if s["start_ms"] > 0]
    selfs = {}
    for sp, t in self_times(spans + stage_spans):
        selfs.setdefault(sp["name"], []).append((sp["trace"] // 1000, t))
    for name in ("query", "construct", "parse", "validate", "emit", "build",
                 "SparkEntry", "plan", "exec", "stage"):
        vals = selfs.get(name, [])
        m[f"span.{name}.self_s"] = (per_pass(
            lambda i: sum(t for p, t in vals if p == i) / 1e3), "s")
    return m


def stage_parent(stage, spans):
    """The span that caused a stage: exec for the timed action; for a job
    launched while the query was being constructed (an eager pin), the
    innermost construction span open when the stage was submitted."""
    if stage["phase"] == "exec":
        return "exec"
    open_spans = [s for s in spans if s["trace"] == stage["qid"]
                  and s["name"] not in ("query", "plan", "exec")
                  and s["start_ms"] <= stage["start_ms"] <= s["end_ms"]]
    return max(open_spans, key=lambda s: s["start_ms"])["name"] if open_spans else "construct"


def holistic_slope(raw):
    """log2 of the per-partition time ratio between the two partition sizes
    (one double the other) for the running MEDIAN and DISCRETE_PERCENTILE
    queries, counting only their time above the ACCUMULATE control on the
    same layout (scan, exchange and sort are common to both). About 2 when
    the per-partition cost is quadratic in the partition size, about 1 when
    linear. 0 on workloads without a size ladder or without excess time."""
    parts = raw.get("partitions")
    if not parts:
        return 0.0

    def med(name):
        return median([q["s"] for p in raw["passes"] for q in p["queries"] if q["name"] == name])

    excess = {k: sum(med(f"{k}_{fn}") - med(f"{k}_accumulate")
                     for fn in ("median", "discrete_percentile")) for k in parts}
    if excess["g1"] <= 0 or excess["g2"] <= 0:
        return 0.0
    return math.log2((excess["g2"] / parts["g2"]) / (excess["g1"] / parts["g1"]))


def construct_by_query(raw):
    """Per query: mean SparkEntry construction seconds and eager jobs per
    traced pass, for the record."""
    traced = [i for i, p in enumerate(raw["passes"]) if p["traced"]]
    names = {q["qid"]: q["name"] for i in traced for q in raw["passes"][i]["queries"]}
    out = {}
    for c in raw["counters"]:
        if c["phase"] == "construct" and c["qid"] in names:
            out.setdefault(names[c["qid"]], {"jobs": 0, "construct_s": 0.0})["jobs"] += c["jobs"]
    for s in raw["spans"]:
        if s["name"] == "SparkEntry" and s["trace"] in names:
            e = out.setdefault(names[s["trace"]], {"jobs": 0, "construct_s": 0.0})
            e["construct_s"] += (s["end_ms"] - s["start_ms"]) / 1e3
    n = max(len(traced), 1)
    return {k: {"jobs": v["jobs"] / n, "construct_s": round(v["construct_s"] / n, 4)}
            for k, v in sorted(out.items())}


def contention(raw, load_start, load_end):
    a, b = raw["proc"]["start"], raw["proc"]["end"]
    hz = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
    wall = (b["wall_ms"] - a["wall_ms"]) / 1e3
    foreign = ((b["machine_busy_jiffies"] - a["machine_busy_jiffies"])
               - (b["self_jiffies"] - a["self_jiffies"])) / hz / wall if wall > 0 else None
    return {"loadavg_start": load_start, "loadavg_end": load_end,
            "foreign_cores": foreign, "timed_wall_s": wall}


def measure(workload, seed, seconds, trace, tiny):
    """One run: build if needed, measure in a fresh JVM, check the outputs.
    Returns the raw samples, the failures and the record's stamp."""
    cp, digest = build()
    load_start = loadavg()
    out = os.path.join(BUILD, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        raw = run_jvm(cp, workload, seed, seconds, trace, tiny, out)
        failures = dict(raw["failures"], **check(raw))
    finally:
        load_end = loadavg()
        shutil.rmtree(out, ignore_errors=True)
    record = {
        "workload": workload, "seed": seed, "trace": trace, "tiny": tiny,
        "env": dict(raw["env"], commit=git_commit(), source_sha256=digest, nproc=raw["cores"],
                    heap=" ".join(HEAP), input_rows=raw["input_rows"]),
        "contention": contention(raw, load_start, load_end),
        "failed_frac": len(failures) / len(raw["queries"]),
        "failures": failures,
    }
    return raw, failures, record


def run(args):
    raw, failures, record = measure(args.workload, args.seed, args.seconds, args.trace, args.tiny)
    if args.trace:
        metrics = per_layer(raw)
        record["info"] = {"construct_by_query": construct_by_query(raw)}
    else:
        metrics, record["info"] = end_to_end(raw)
    print("record " + json.dumps(record, sort_keys=True))
    for name, (value, unit) in metrics.items():
        print(f"  {name:32s} {value:14.6g} {unit}")
    print(json.dumps({"correct": not failures, "attempted": len(raw["queries"]),
                      "failed": len(failures),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def selftest():
    """Unit checks of the arithmetic, then every workload end to end at tiny
    size: outputs correct, and both metric sets match BENCHMARK.json."""
    v, pct, n = tail(list(range(1, 101)))
    assert (v, pct, n) == (90, 90.0, 100), (v, pct, n)
    assert tail([3, 1, 2]) == (3, 100.0, 3)
    v, pct, _ = tail(list(range(11)))
    assert (v, round(pct, 4)) == (0, round(100 / 11, 4))
    assert union_ms([(0, 2), (1, 3), (5, 6)]) == 4
    spans = [{"trace": 1, "name": "query", "parent": "", "start_ms": 0, "end_ms": 10},
             {"trace": 1, "name": "construct", "parent": "query", "start_ms": 0, "end_ms": 4},
             {"trace": 1, "name": "parse", "parent": "construct", "start_ms": 1, "end_ms": 2},
             {"trace": 1, "name": "exec", "parent": "query", "start_ms": 3, "end_ms": 9},
             {"trace": 2, "name": "exec", "parent": "query", "start_ms": 0, "end_ms": 10}]
    got = {(s["trace"], s["name"]): t for s, t in self_times(spans)}
    assert got == {(1, "query"): 1, (1, "construct"): 3, (1, "parse"): 1, (1, "exec"): 6,
                   (2, "exec"): 10}, got
    print("selftest: arithmetic ok", file=sys.stderr)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ok = True
    for w in WORKLOADS:
        raw, failures, _ = measure(w, 1, 2, 1, True)
        e2e, _ = end_to_end(raw)
        layers = per_layer(raw)
        names_ok = (set(e2e) == {m["name"] for m in spec["end_to_end"]}
                    and set(layers) == {m["name"] for m in spec["per_layer"]})
        print(f"selftest: {w}: failures {failures or 'none'}, metric names "
              f"{'match' if names_ok else 'DIFFER from'} BENCHMARK.json", file=sys.stderr)
        ok &= names_ok and not failures
    print("selftest: " + ("ok" if ok else "FAILED"), file=sys.stderr)
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, for the self-test")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM is stopped and awaited
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.selftest:
        sys.exit(selftest())
    if not args.workload:
        ap.error("--workload is required")
    run(args)


if __name__ == "__main__":
    main()
