#!/usr/bin/env python3
"""graft's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload fanout --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. It builds graft and the driver from source
(perfbench/build.py), generates the seeded input (perfbench/gen.py, cached),
runs the driver in one JVM with one Spark session, checks the outputs outside
the timed region (perfbench/checks.py), prints every metric with its unit
and ends with one JSON line:

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones (plus a span table with self times). Build output, the
input cache and traces go under $CARGO_TARGET_DIR (default .bench_build).
perfbench/METRICS.md describes every metric and workload.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("fanout", "neardup_curate")
# Session + warm-up job repetitions per run; setup_s is their median.
SETUPS = 3
HEAP = "3g"
# The JVM must finish within this many seconds of starting.
JVM_DEADLINE_S = 150

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def driver_args(workload, manifest):
    if workload == "fanout":
        return ([a for b in checks.BRANCHES for a in ("--spec", checks.spec(b))] +
                [a for b in checks.PROBES for a in ("--probe", checks.spec(b))] +
                ["--ship", os.path.join(HERE, "scripts", checks.SHIPPED_SCRIPT)])
    p = manifest["params"]
    return ["--shingle-n", str(p["shingle_n"]), "--tau", str(p["tau"])]


def run_driver(classpath, workload, input_dir, manifest, work, seconds, trace, cpus):
    result = os.path.join(work, "result.json")
    log = os.path.join(work, "driver.log")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    cmd = (["java", "-Xmx" + HEAP] +
           [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.local.dir=" + os.path.join(work, "local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graft.perfbench.Driver",
            "--workload", workload, "--input", input_dir, "--work", work,
            "--result", result, "--seconds", str(seconds), "--trace", str(trace),
            "--setups", str(SETUPS), "--clock-ticks", str(os.sysconf("SC_CLK_TCK"))] +
           driver_args(workload, manifest))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    with open(log, "w") as logf:
        # own process group, so a timeout stops the JVM and every child it forked
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work,
                                env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit("perfbench: driver %s" % ("timed out" if rc is None else "exited %d" % rc))
    with open(result) as f:
        return json.load(f)


def data_bytes(path):
    total = 0
    for root, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names
                     if not n.startswith((".", "_")))
    return total


def run_checks(workload, cache_dir, res, cpus):
    """[(check, ok, expected, matched)], the workload's recall, and the
    known-defect probes as [(spec, fails, reason)]."""
    input_dir = os.path.join(cache_dir, "input")
    if workload == "neardup_curate":
        results, recall = checks.check_neardup(input_dir, cache_dir, res["last_out"], cpus)
        return results, recall, []
    results = checks.check_fanout(input_dir, [
        (b, os.path.join(res["last_out"], b[0])) for b in checks.BRANCHES], cpus)
    recall = stats.ratio(sum(r[3] for r in results), sum(r[2] for r in results))
    probes = []
    for b, p in zip(checks.PROBES, res.get("probes", [])):
        if p["error"]:
            probes.append((p["spec"], True, p["error"]))
        else:
            _, ok, expected, matched = checks.check_fanout(
                input_dir, [(b, os.path.join(p["out"], b[0]))], cpus)[0]
            probes.append((p["spec"], not ok, "%d of %d expected rows" % (matched, expected)))
    return results, recall, probes


def end_to_end(res, manifest, recall, attempted, failed):
    jobs = [j for j in res["jobs"] if not j["traced"]]
    job_s = stats.median(j["wall_s"] for j in jobs)
    return {
        "setup_s": stats.median(s["create_s"] + s["warmup_job_s"] for s in res["setups"]),
        "job_s": job_s,
        "records_per_s": manifest["records"] / job_s,
        "cpu_s": stats.median(j["cpu_s"] for j in jobs),
        "peak_heap_mb": stats.median(j["peak_heap_mb"] for j in jobs),
        "output_bytes_ratio": data_bytes(res["last_out"]) / manifest["input_bytes"],
        "success_ratio": (attempted - failed) / attempted,
        "recall": recall,
    }


def per_layer(res, manifest, probes, names):
    traced = [j for j in res["jobs"] if j["traced"]]
    untraced = [j for j in res["jobs"] if not j["traced"]]
    keys = set(k for j in traced for k in j["layers"])
    m = {k: stats.median(j["layers"].get(k, 0.0) for j in traced) for k in keys}
    m.update(res["plan"])
    m["session.create_s"] = stats.median(s["create_s"] for s in res["setups"])
    m["session.warmup_job_s"] = stats.median(s["warmup_job_s"] for s in res["setups"])
    m["jvm.gc_s"] = stats.median(j["gc_s"] for j in traced)
    m["jvm.gc_count"] = stats.median(j["gc_count"] for j in traced)
    m["exec.child_cpu_s"] = stats.median(j["child_cpu_s"] for j in traced)
    m["scan.read_amplification"] = m.get("scan.bytes_read", 0.0) / manifest["input_bytes"]
    m["lsh.verify_yield"] = stats.ratio(m.get("lsh.verified_pairs", 0.0),
                                        m.get("lsh.candidate_pairs", 0.0))
    m["trace.overhead_ratio"] = (stats.median(j["wall_s"] for j in traced) /
                                 stats.median(j["wall_s"] for j in untraced))
    m["probe.known_defect_failures"] = float(sum(1 for p in probes if p[1]))
    unknown = sorted(k for k in m if k not in names)
    if unknown:
        sys.stderr.write("perfbench: unlisted per-layer values %s\n" % ", ".join(unknown))
    return {k: m.get(k, 0.0) for k in names}


def span_report(res, path):
    spans = res.get("spans", [])
    self_ms = stats.self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(
            (s["end_ms"] - s["start_ms"], self_ms[s["id"]]))
    print("span                          count  median_ms   self_ms")
    for name in sorted(by_name):
        v = by_name[name]
        print("%-28s %6d %10.1f %9.1f" % (name, len(v), stats.median(d for d, _ in v),
                                          stats.median(s for _, s in v)))
    with open(path, "w") as f:
        json.dump([dict(s, self_ms=self_ms[s["id"]]) for s in spans], f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM unwind normally, so the driver JVM and its children are stopped
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    build_root = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath = build.build(build_root)
    cpus = len(os.sched_getaffinity(0))
    cache_dir, manifest = gen.cached_input(os.path.join(build_root, "perfbench", "inputs"),
                                           args.workload, args.seed)
    work = os.path.join(build_root, "perfbench", "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.monotonic()
        res = run_driver(classpath, args.workload, os.path.join(cache_dir, "input"), manifest,
                         work, args.seconds, args.trace, cpus)
        print("driver: %.1f s; setups (create+warm-up s): %s; jobs (s): %s" % (
            time.monotonic() - t0,
            " ".join("%.2f+%.2f" % (s["create_s"], s["warmup_job_s"]) for s in res["setups"]),
            " ".join("%.2f%s" % (j["wall_s"], "t" if j["traced"] else "") for j in res["jobs"])))
        print("jobs: cpu (s) %s; peak heap (MB) %s" % (
            " ".join("%.2f" % j["cpu_s"] for j in res["jobs"]),
            " ".join("%.0f" % j["peak_heap_mb"] for j in res["jobs"])))
        results, recall, probes = run_checks(args.workload, cache_dir, res, cpus)
        for name, ok, expected, matched in results:
            print("check %-14s %s expected=%d matched=%d" % (name, "ok" if ok else "FAILED",
                                                            expected, matched))
        for spec, bad, reason in probes:
            print("known-defect probe %r: %s (%s)" % (spec, "fails" if bad else "passes", reason))
        attempted = len(res["jobs"]) + len(results)
        failed = sum(1 for r in results if not r[1])
        if args.trace:
            traces = os.path.join(build_root, "perfbench", "traces")
            os.makedirs(traces, exist_ok=True)
            span_report(res, os.path.join(traces, "%s-s%d.json" % (args.workload, args.seed)))
            values = per_layer(res, manifest, probes, [m["name"] for m in bench["per_layer"]])
            listed = bench["per_layer"]
        else:
            values = end_to_end(res, manifest, recall, attempted, failed)
            listed = bench["end_to_end"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    for name, v in metrics.items():
        print("%-34s %18.6f %s" % (name, v["value"], v["unit"]))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
