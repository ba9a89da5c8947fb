#!/usr/bin/env python3
"""Tap-sync benchmark: one workload per run, in one benchmark JVM.

    python3 perfbench/run.py --workload sync_singer --seed 1 --seconds 20 --trace 0

Run it from the repository root. It builds the program and the harness
from source into `.bench_build/` (once per source state), generates the
fixture tables (once per checkout) and the run's inputs from `--seed`,
starts the JVM harness, checks every pass against DuckDB, and prints every
metric by name with its unit. The last stdout line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. See perfbench/README.md.
"""
import argparse
import datetime as dt
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

import inputs  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars"
SETUPS = 3
# passes after the cold one still speed up for a few seconds as the JIT
# compiles; the passes of this many seconds are checked but not timed
WARMUP_SECONDS = 3
HEAP = "4g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# name -> (unit, better); printed with --trace 0
END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "records_per_s": ("1/s", "higher"),
    "first_output_s": ("s", "lower"),
    "bytes_per_record": ("B", "lower"),
    "heap_live_peak_mb": ("MB", "lower"),
}

MODULES = ["tap", "sources", "operators", "sinks", "state"]
MODULE_FIELDS = {"jobs": ("count", "lower"), "stages": ("count", "lower"),
                 "task_ms": ("ms", "lower"), "gc_ms": ("ms", "lower"),
                 "shuffle_mb": ("MB", "lower"), "spill_mb": ("MB", "lower")}

# name -> (unit, better); printed with --trace 1. A metric a workload has no
# use for reads 0 (a RECORD-mode metric on the BATCH workload and so on).
PER_LAYER = {
    "sources.plan_ms": ("ms", "lower"),
    "sources.scan_ms": ("ms", "lower"),
    "sources.rows": ("count", "higher"),
    "sources.partitions": ("count", "higher"),
    "operators.encode_ms": ("ms", "lower"),
    "sinks.singer.emit_ms": ("ms", "lower"),
    "sinks.singer.driver_ms": ("ms", "lower"),
    "sinks.singer.jobs": ("count", "lower"),
    "sinks.singer.gap_max_ms": ("ms", "lower"),
    "sinks.singer.state_msgs": ("count", "lower"),
    "sinks.batch.write_ms_sum": ("ms", "lower"),
    "sinks.batch.write_ms_max": ("ms", "lower"),
    "sinks.batch.files": ("count", "lower"),
    "sinks.batch.bytes": ("B", "lower"),
    "sinks.batch.task_skew": ("ratio", "lower"),
    "state.readback_ms": ("ms", "lower"),
    "state.save_ms": ("ms", "lower"),
    "tap.jobs_concurrent_max": ("count", "higher"),
    "tap.bytes_per_s": ("B/s", "higher"),
    "source_db.insert_ms": ("ms", "lower"),
    "trace.untraced_pass_ms": ("ms", "lower"),
    "trace.traced_pass_ms": ("ms", "lower"),
    "trace.overhead_ms": ("ms", "lower"),
}
for _m in MODULES:
    for _f, _spec in MODULE_FIELDS.items():
        PER_LAYER["%s.%s" % (_m, _f)] = _spec


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")]:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as fh:
        code = subprocess.call(["sbt", "-batch", "compile"], cwd=HERE,
                               stdout=fh, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if code != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed (log: %s)" % log)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print("build: %.1f s" % (time.time() - t0), file=sys.stderr)


def run_jvm(work, params):
    params_path = os.path.join(work, "inputs.json")
    with open(params_path, "w") as fh:
        json.dump(params, fh)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xms" + HEAP, "-Xmx" + HEAP, "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
            "-cp", CLASSES + ":" + SPARK_JARS + "/*",
            "perfbench.Main", "--inputs", params_path]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        sys.stderr.write(open(log).read()[-6000:])
        fail("benchmark JVM exited with %s" % code)
    with open(params["result"]) as fh:
        return json.load(fh)


def same_bookmark(got, want):
    if got is None:
        return False
    if isinstance(want, dt.datetime):
        try:
            return dt.datetime.fromisoformat(got) == want
        except ValueError:
            return False
    return got == str(want)


def check_pass(p, expect):
    """Problems with one pass's outputs, as a list of strings."""
    bad = []
    if p.get("bad_lines", 0) or p.get("bad_file_lines", 0):
        bad.append("lines that do not parse as JSON: %d stdout, %d file" % (
            p.get("bad_lines", 0), p.get("bad_file_lines", 0)))
    if "stream_rows" in p:
        if not p["manifest_ok"]:
            bad.append("BATCH manifests do not name exactly the files on disk")
        for sid, e in expect["streams"].items():
            got = p["stream_rows"].get(e["name"], 0)
            if got != e["count"]:
                bad.append("%s: %d rows in files, oracle %d" % (sid, got, e["count"]))
    else:
        want = sum(e["count"] for e in expect["streams"].values())
        if not p["record_lines"] == p["returned_records"] == want:
            bad.append("%d RECORD lines, syncAll returned %d, oracle %d" % (
                p["record_lines"], p["returned_records"], want))
    if "keys" in p:
        k, e = p["keys"], expect["keys"]
        if k["distinct"] != k["count"]:
            bad.append("repeated keys: %d of %d distinct" % (k["distinct"], k["count"]))
        for f in ("count", "min", "max", "sum"):
            if k[f] != e[f]:
                bad.append("delta keys %s %s, inserted %s" % (f, k[f], e[f]))
    for sid, e in expect["streams"].items():
        got = p["bookmarks"].get(sid)
        if not same_bookmark(got, e["max"]):
            bad.append("%s: final bookmark %s, source max %s" % (sid, got, e["max"]))
    return bad


def percentile_note(xs):
    """Highest of p75/p90/p95/p99 with at least ten samples beyond it."""
    best = None
    for q in (75, 90, 95, 99):
        if len(xs) * (100 - q) / 100.0 >= 10:
            best = (q, statistics.quantiles(xs, n=100)[q - 1])
    return best


def untimed(res):
    """The cold pass and the warm-up passes: checked, not timed."""
    return [res["first_pass"]] + res["warmup_passes"]


def end_to_end(res):
    warm = res["passes"]
    return {
        "setup_s": median(res["setup_s"]),
        "pass_s": median([p["wall_s"] for p in warm]),
        "records_per_s": median([p["records"] / p["wall_s"] for p in warm]),
        "first_output_s": median([p["first_output_s"] for p in warm]),
        "bytes_per_record": median([p["bytes"] / p["records"] for p in warm]),
        "heap_live_peak_mb": max([res["heap_live_end_mb"]] + [
            p["heap_live_mb"] for p in untimed(res) + res["passes"]
            if "heap_live_mb" in p]),
    }


def per_layer(res):
    traced = res["traced_passes"]
    out = {}
    for name in PER_LAYER:
        vals = [p["layers"][name] for p in traced if name in p["layers"]]
        out[name] = median(vals) if vals else 0.0
    untraced = median([p["wall_s"] for p in res["passes"]]) * 1e3
    traced_ms = median([p["wall_s"] for p in traced]) * 1e3
    out["trace.untraced_pass_ms"] = untraced
    out["trace.traced_pass_ms"] = traced_ms
    out["trace.overhead_ms"] = traced_ms - untraced
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(inputs.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the repository root: the program source src/main/scala is missing")
    if shutil.which("sbt") is None or not os.path.isdir(SPARK_JARS):
        fail("needs sbt and the Spark jars in " + SPARK_JARS)
    build()

    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        gen = inputs.generate(args.workload, args.seed, BUILD, work)
        params = dict(gen["params"], workload=args.workload, seed=args.seed,
                      seconds=args.seconds, trace=bool(args.trace),
                      cores=os.cpu_count(), setups=SETUPS,
                      warmup_seconds=WARMUP_SECONDS, work_dir=work,
                      result=os.path.join(work, "result.json"),
                      spans=os.path.join(BUILD, "traces", tag + ".json"))
        t0 = time.time()
        res = run_jvm(work, params)
        print("jvm: %.1f s" % (time.time() - t0), file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    passes = untimed(res) + res["passes"] + res["traced_passes"]
    failed = 0
    for p in passes:
        problems = check_pass(p, gen["expect"](p["index"]))
        if problems:
            failed += 1
            print("pass %d FAILED: %s" % (p["index"], "; ".join(problems)), file=sys.stderr)

    metrics = per_layer(res) if args.trace else end_to_end(res)
    units = PER_LAYER if args.trace else END_TO_END
    print("workload %s  seed %d  seconds %g  trace %d  passes %d (timed %d)" % (
        args.workload, args.seed, args.seconds, args.trace, len(passes),
        len(res["passes"]) + len(res["traced_passes"])))
    for name, v in metrics.items():
        print("  %-28s %14.4f %-6s (%s is better)" % (name, v, units[name][0],
                                                      units[name][1]))
    print("  first_pass_s %.4f s (not gated: one cold sample per run)" % (
        res["first_pass"]["wall_s"]))
    walls = [p["wall_s"] for p in res["passes"]]
    note = percentile_note(walls)
    if note:
        print("  pass_s p%d %.4f s over %d timed passes" % (note[0], note[1], len(walls)))
    if len(walls) >= 6:
        half = len(walls) // 2
        print("  in-JVM drift: median pass of second half / first half = %.3f" % (
            median(walls[half:]) / median(walls[:half])))
    print("  rss_peak_mb %.1f MB (VmHWM; not a gated metric, see README)" % res["rss_peak_mb"])
    print("  failed_frac %.4f (%d of %d passes)" % (failed / len(passes), failed, len(passes)))

    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", tag + ".json"), "w") as fh:
        json.dump({"seed": args.seed, "workload": args.workload, "metrics": metrics,
                   "failed": failed, "attempted": len(passes), "raw": res}, fh)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(passes), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
