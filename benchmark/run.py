#!/usr/bin/env python3
"""graft benchmark: one seeded workload, closed loop with one client.

    python3 benchmark/run.py --workload analytics --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run compiles graft's sources and
the benchmark's Scala driver into .bench_build/ (build.py); later runs
reuse the classes while the sources are unchanged. The last line of
standard output is the result JSON; the line before it carries details
(tail percentiles, sample counts, failures). See benchmark/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
from build import BUILD, build, fail, spark_jars  # noqa: E402

# Each mix is a fixed list of registry queries; the seed fixes the inputs
# and the order of the queries within each pass. `pass_s` is the nominal
# time of one warm pass: set-up runs round(WARM_S / pass_s) untimed passes
# (at least one) and a run measures round(seconds / pass_s) whole passes
# (at least two), so every run of a workload measures the same ops after
# the same warm-up. Why each query is in its mix is in README.md.
WORKLOADS = {
    "analytics": {"sf": 0.001, "pass_s": 1.6, "queries": [
        "q3_shipping_priority", "la_gram", "ml_kmeans"]},
    "curation": {"sf": 0.001, "pass_s": 1.75, "queries": [
        "dd_minhash_pairs", "dd_semantic_advised", "txt_quality"]},
    "ingest": {"sf": 0.001, "pass_s": 2.8, "queries": ["st_sliding"],
        "index": {"index_rows": 2000, "index_k": 32, "append_rows": 200,
                  "probe_rows": 50, "slices": 64}},
}
# One warm pass left the next measured passes up to 1.7x slower than the
# later ones (JIT still compiling); about 4 s of warm-up removes most of it.
WARM_S = 4.0
JVM_TIMEOUT_S = 150
JAVA_OPTS = [
    # a fixed heap and young generation keep the peak resident set a
    # measure of what the run retains, not of when the heap grew
    "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss8m",
    "-XX:-UsePerfData", "-Dspark.callstack.depth=200",
    "--add-modules", "jdk.incubator.vector",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def run_jvm(classes, jars, work, kv):
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp",
           os.pathsep.join([classes] + jars), "graft.benchmark.Runner"] +
           [f"{k}={v}" for k, v in kv.items()])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S, cwd=work)
        except subprocess.TimeoutExpired:
            fail(f"driver timed out after {JVM_TIMEOUT_S}s; log: {work}/jvm.log")
    if r.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            print(f.read()[-4000:], file=sys.stderr)
        fail(f"driver exited with {r.returncode}")
    with open(os.path.join(work, "run.json")) as f:
        rec = json.load(f)
    with open(os.path.join(work, "oracles.json")) as f:
        return rec, json.load(f)


def check_ops(rec, expected):
    """Mark every op of the measured windows right or wrong; returns
    {window: [(name, kind, secs, rows, error or None)]}."""
    con = oracle.connect()
    out = {}
    for window, _, name, kind, secs, rows, err, out_dir in rec["ops"]:
        if err is None and kind == "query":
            try:
                err = oracle.check(con, out_dir, expected.get(name))
            except Exception as e:  # an unreadable result is a wrong result
                err = f"unreadable result: {e}"
        out.setdefault(window, []).append((name, kind, secs, rows, err))
    return out


def window_metrics(ops, passes_s, setup_ops):
    """End-to-end metrics of the measured window, and the detail line."""
    ok = [o for o in ops if o[4] is None]
    q = [o[2] for o in ok if o[1] == "query"]
    t, pct, n = metrics.tail(q)
    out = {"queries_per_min": len(q) / passes_s * 60.0,
           "query_p50_s": statistics.median(q), "query_tail_s": t}
    detail = {"query_tail_pct": round(pct, 1), "query_n": n,
              "attempted": len(ops), "failed": len(ops) - len(ok),
              "failed_frac": (len(ops) - len(ok)) / len(ops)}
    builds = [o[2] for o in setup_ops if o[1] == "build" and o[4] is None]
    if builds:
        probes = [o[2] for o in ok if o[1] == "probe"]
        pt, ppct, pn = metrics.tail(probes)
        appends = [o for o in ok if o[1] == "append"]
        out.update({
            "index.build_s": statistics.median(builds),
            "index.append_rows_per_s": sum(o[3] for o in appends) / sum(o[2] for o in appends),
            "index.probe_p50_s": statistics.median(probes),
            "index.probe_tail_s": pt})
        detail.update({"probe_tail_pct": round(ppct, 1), "probe_n": pn,
                       "build_n": len(builds)})
    return out, detail


def trace_metrics(rec, main_out):
    tr = rec["trace"]
    spans, lst = tr["spans"], tr["listener"]
    out, untagged_cpu, untagged_frac = metrics.layer_counters(lst["stages"], spans)
    kinds = metrics.span_totals(spans)
    out["queries.build_s"] = kinds.get("queries.build", 0.0)
    out["plans.plan_s"] = kinds.get("plans.plan", 0.0)
    out["sink.run_s"] = kinds.get("sink.run", 0.0)
    busy = [(j[1], j[2]) for j in lst["jobs"] if j[2] >= 0]
    out["driver.self_s"] = metrics.self_time([(s, e) for _, _, s, e in spans], busy) / 1e3
    out["sink.stages_skipped_frac"] = metrics.skipped_frac(lst["jobs"])
    out.update(metrics.streaming_metrics(tr["streaming"]))
    out["host.calib_s"] = statistics.median(rec["calib"])
    out["trace.untagged_frac"] = untagged_frac
    out["trace.untagged_cpu_s"] = untagged_cpu
    out["trace.cpu_s"] = lst["cpu_total_ns"] / 1e9
    secs = {w: [p[2] for p in rec["passes"] if p[0] == w] for w in ("main", "traced")}
    out["trace.overhead_frac"] = (statistics.median(secs["traced"]) /
                                  statistics.median(secs["main"]) - 1.0)
    for k in ("index.build_s", "index.append_rows_per_s", "index.probe_p50_s",
              "index.probe_tail_s"):
        out[k] = main_out.get(k, 0.0)
    return out


UNITS = {"setup_s": "s", "queries_per_min": "1/min", "query_p50_s": "s",
         "query_tail_s": "s", "rss_peak_mb": "MB"}


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    return "ratio" if name.endswith("_frac") else "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    t0 = time.perf_counter()
    gen.write_tables(args.seed, wl["sf"], inputs)
    kv = {"work": work, "inputs": inputs, "queries": ",".join(wl["queries"]),
          "seed": args.seed, "trace": args.trace,
          "warm": max(1, round(WARM_S / wl["pass_s"])),
          "passes": max(2, round(args.seconds / wl["pass_s"])),
          "cpus": os.cpu_count() or 1}
    if "index" in wl:
        ix = wl["index"]
        kv["corpus"] = os.path.join(inputs, "corpus.parquet")
        gen.write_corpus(args.seed, ix["index_rows"] + ix["slices"] * ix["append_rows"],
                         kv["corpus"])
        kv.update(ix)
    gen_s = time.perf_counter() - t0
    try:
        t1 = time.perf_counter()
        rec, oracles = run_jvm(classes, jars, work, kv)
        t2 = time.perf_counter()
        with open(gen.__file__, "rb") as f:
            gen_version = hashlib.sha256(f.read()).hexdigest()
        expected = oracle.expectations(os.path.join(BUILD, "expect"),
                                       [args.seed, wl["sf"], gen_version], inputs, oracles)
        by_window = check_ops(rec, expected)
        t3 = time.perf_counter()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    main_s = sum(p[2] for p in rec["passes"] if p[0] == "main")
    main_out, detail = window_metrics(by_window["main"], main_s,
                                      by_window.get("setup", []))
    e2e = {"setup_s": gen_s + rec["setup_s"],
           "queries_per_min": main_out["queries_per_min"],
           "query_p50_s": main_out["query_p50_s"],
           "query_tail_s": main_out["query_tail_s"],
           "rss_peak_mb": rec["rss_peak_mb"]}
    if args.trace:
        values = trace_metrics(rec, main_out)
    else:
        values = e2e
    attempted = sum(len(v) for v in by_window.values())
    failures = [(w, o[0], o[4]) for w, v in by_window.items() for o in v if o[4]]
    detail.update({k: round(v, 6) for k, v in {**e2e, **main_out}.items()})
    detail["failures"] = failures[:10]
    detail["wall"] = {"gen_s": round(gen_s, 2), "jvm_s": round(t2 - t1, 2),
                      "check_s": round(t3 - t2, 2), "calib_s": rec["calib"],
                      "passes_s": [round(p[2], 2) for p in rec["passes"]]}
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}}))


if __name__ == "__main__":
    main()
