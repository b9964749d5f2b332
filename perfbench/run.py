#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source if needed (see build.py),
runs the workload in one JVM over the bundled sf0.01 tables, checks
every query's result against digests.json, and prints every metric by
name with its unit. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones.
Every run also writes a result file (path printed before the JSON line)
with the raw samples, the machine facts and, when traced, the spans.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

SCALE = "sf0.01"
DATA = os.path.join(HERE, "data", SCALE)
DIGESTS = os.path.join(HERE, "digests.json")
WORKLOADS = ("dashboard", "dashboard_concurrent", "recap_batch")
# queries whose values are approximate or seeded (sketches, k-means,
# ANN candidates): checked on row count and schema only
ROWS_ONLY = ("ev11", "ev15", "ev16", "ev27", "tx28", "sim06", "sim08", "sim11", "km01")
DEADLINE_S = 170  # a run must end within 180 s
# A fixed 128 MB young generation makes the driver collect every ~100 MB
# allocated, so heap_peak_mb (the largest heap in use after a collection)
# samples a query's in-flight memory on every run, not only when the
# collector's adaptive sizing happens to run a collection during it.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xmn128m", "-Xss8m", "-Duser.timezone=UTC"] + [
    x for p in ("java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]

END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_p90_s": "s",
    "ok_ratio": "ratio", "heap_peak_mb": "MB", "cores_used": "cores"}
PER_LAYER_UNITS = {
    "tables.load_ms": "ms", "tables.jobs": "count", "construct.ms": "ms", "construct.jobs": "count",
    "construct.share": "ratio", "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.single_task_stages": "count", "exec.tasks": "count", "exec.task_cpu_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.gc_s": "s", "codegen.compilations": "count", "codegen.compile_ms": "ms",
    "codegen.disabled_stages": "count", "codegen.large_task_binaries": "count",
    "cache.rdds_after_query": "count", "cache.mb_after_query": "MB"}


def percentile(values, p):
    """The p-th percentile, interpolated between the two samples beside it
    (statistics.quantiles' inclusive method). The measured phase runs
    whole passes, so every query is sampled equally often. With fewer
    samples than a percentile needs beyond it, the interpolated value
    moves less with the slowest single sample than the nearest rank."""
    if len(values) < 2:
        return values[0] if values else None
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def check_results(checks, expected):
    """Compares the run's per-query checks with the recorded ones.
    Returns {query: reason} for every query that failed."""
    bad = {}
    for q, exp in expected.items():
        got = checks.get(q)
        if got is None:
            bad[q] = "not run"
        elif "error" in got:
            bad[q] = "error: " + got["error"]
        elif got["schema"] != exp["schema"]:
            bad[q] = "schema %s != %s" % (got["schema"], exp["schema"])
        elif got["rows"] != exp["rows"]:
            bad[q] = "rows %d != %d" % (got["rows"], exp["rows"])
        elif exp["check"] == "digest" and got["digest"] != exp["digest"]:
            bad[q] = "digest differs"
    for q in checks:
        if q not in expected:
            bad[q] = "no recorded digest"
    return bad


def summarize(raw, expected):
    """Turns the JVM's result into the printed metrics and counts."""
    wl_queries = raw["queries"]
    bad = check_results(raw["checks"], {q: expected[q] for q in wl_queries if q in expected})
    phases = [raw[k] for k in ("untraced", "traced", "untraced_after") if k in raw]
    samples = [s for ph in phases for s in ph["samples"]]
    errors = [s for s in samples if s["error"]]
    attempted = len(raw["checks"]) + len(samples)
    failed = len(bad) + len(errors)
    plain = raw["untraced"]
    lat = [s["latency_s"] for s in plain["samples"] if not s["error"]]
    e2e = {
        "setup_s": raw["setup_s"],
        "wall_s": plain["wall_s"],
        "query_p50_s": statistics.median(lat) if lat else None,
        "query_p90_s": percentile(lat, 90),
        "ok_ratio": 1.0 - failed / attempted,
        "heap_peak_mb": plain["heap_peak_mb"],
        "cores_used": plain["cores_used"],
    }
    return e2e, attempted, failed, bad, errors


def cpu_steal_s():
    """Seconds of CPU the host took from this machine since boot, summed
    over its processors: a run whose count grows a lot shared its cores."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classpath, args, work, timeout):
    log_path = os.path.join(work, "jvm.log")
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                 "-cp", classpath, "graftbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout after %ds" % timeout
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError("benchmark JVM failed (%s); log tail:\n%s" % (code, tail))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record this run's checks in digests.json before comparing")
    a = ap.parse_args(argv)

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    try:
        if not os.path.isdir(DATA):
            raise build.BuildError("benchmark tables not found at %s" % DATA)
        classpath, source_stamp = build.build(build_dir)
    except build.BuildError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 2
    t_start = time.time()  # the deadline counts from the end of the build
    load_start = os.getloadavg()[0]
    steal_start = cpu_steal_s()
    tag = "%s-seed%d-trace%d-%d" % (a.workload, a.seed, a.trace, int(time.time() * 1000))
    work = os.path.join(build_dir, "runs", tag)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    try:
        run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                            "--trace", str(a.trace), "--data", DATA, "--out", raw_path, "--work", work],
                work, DEADLINE_S - (time.time() - t_start))
    except RuntimeError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 1
    with open(raw_path) as f:
        raw = json.load(f)
    steal = cpu_steal_s()
    steal_s = steal - steal_start if steal is not None and steal_start is not None else None

    if a.record:
        prefixes = tuple(p + "_" for p in ROWS_ONLY)
        try:
            with open(DIGESTS) as f:
                recorded = json.load(f)
        except FileNotFoundError:
            recorded = {}
        for q, v in raw["checks"].items():
            if "error" in v:
                print("perfbench: %s failed, not recorded: %s" % (q, v["error"]), file=sys.stderr)
                return 1
            recorded[q] = dict(v, check="rows" if q.startswith(prefixes) else "digest")
        with open(DIGESTS, "w") as f:
            json.dump(dict(sorted(recorded.items())), f, indent=1)
            f.write("\n")
    with open(DIGESTS) as f:
        expected = json.load(f)

    e2e, attempted, failed, bad, errors = summarize(raw, expected)
    for q, why in sorted(bad.items()):
        print("check failed: %s: %s" % (q, why), file=sys.stderr)
    for s in errors[:10]:
        print("query failed: %s: %s" % (s["query"], s["error"]), file=sys.stderr)

    if a.trace:
        layers = raw["layers"]
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in layers["metrics"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    result = {
        "correct": failed == 0 and all(m["value"] is not None for m in metrics.values()),
        "attempted": attempted, "failed": failed, "metrics": metrics}
    report = {
        "result": result, "end_to_end": e2e, "workload": a.workload, "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace, "scale": SCALE, "nproc": raw["nproc"],
        "git_commit": git_commit(), "source_stamp": source_stamp,
        "jvm": raw["jvm"], "spark": raw["spark"], "python": platform.python_version(),
        "loadavg_1m": [load_start] + raw["loadavg_1m"] + [os.getloadavg()[0]],
        "calibration_ms": raw["calibration_ms"], "cpu_steal_s": steal_s,
        "check_failures": bad, "raw": raw}
    if a.trace:
        report["tracing_overhead_s"] = raw["tracing_overhead_s"]
    out_path = os.path.join(work, "result.json")
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)

    print("workload %s  seed %d  nproc %d  scale %s  passes %d  calibration %.1f ms  load %.2f  steal %s s"
          % (a.workload, a.seed, raw["nproc"], SCALE, raw["untraced"]["passes"],
             raw["calibration_ms"][0], load_start, "%.1f" % steal_s if steal_s is not None else "?"))
    if a.trace:
        print_layers(raw)
    for k, m in metrics.items():
        print("%-28s %14.6f %s" % (k, m["value"] if m["value"] is not None else float("nan"), m["unit"]))
    print("result file: %s" % os.path.relpath(out_path, ROOT))
    print(json.dumps(result))
    return 0


def print_layers(raw):
    lay = raw["layers"]
    total = lay["latency_ms"]
    print("self time per pass (ms), traced run:")
    for k, v in lay["self_ms"].items():
        print("  %-24s %10.1f  %5.1f%%" % (k, v, 100 * v / total if total else 0))
    print("  %-24s %10.1f  (sum of self times %.1f)" % ("query latency", total, sum(lay["self_ms"].values())))
    print("tracing overhead: %+.3f s per pass (traced wall_s %.3f; untraced before %.3f, after %.3f)"
          % (raw["tracing_overhead_s"], raw["traced"]["wall_s"], raw["untraced"]["wall_s"],
             raw["untraced_after"]["wall_s"]))


if __name__ == "__main__":
    sys.exit(main())
