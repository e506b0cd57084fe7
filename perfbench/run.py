"""Gaze-engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload fleet_calibrate --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (cached under
.bench_build/perfbench), generates the seeded inputs, runs the workload in
one JVM on local[<cores>], checks every output, prints each workload
metric with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones (tracing off); with --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the engine's build.sbt
    names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = spark_jars()
JVM_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit (same list as the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Which workload metric each end-to-end metric reports.
HEADLINE = {
    "fleet_calibrate": {"rate_per_s": "sessions_per_s", "latency_s": "iteration_s"},
    "session_pipeline": {"rate_per_s": "pipeline_rows_per_s", "latency_s": "memo_rerun_s"},
    "stream_ingest": {"rate_per_s": "stream_rows_per_s", "latency_s": "lag_p50_s"},
    "corpus_index": {"rate_per_s": "search_qps", "latency_s": "iteration_s"},
}
UNITS = {"sessions_per_s": "1/s", "iteration_s": "s", "pipeline_wall_s": "s",
         "pipeline_rows_per_s": "rows/s", "memo_rerun_s": "s",
         "stream_rows_per_s": "rows/s", "lag_p50_s": "s", "lag_tail_s": "s",
         "lag_tail_quantile": "fraction", "lag_samples": "count",
         "renamer_late_s_p50": "s", "renamer_late_s_max": "s",
         "offered_chunks_per_s": "1/s", "queue_wait_s_p50": "s",
         "backlog_files_max": "count", "dedup_docs_per_s": "docs/s",
         "search_qps": "queries/s", "recall_at_10": "fraction",
         "index_write_s": "s", "setup_s": "s", "peak_rss_mb": "MB",
         "error_rate": "fraction"}


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def build():
    """Compile the engine (src/main) and the benchmark (perfbench/src)
    with the Scala compiler in Spark's jars; cached by source hash."""
    engine = sorted(os.path.join(d, f) for d, _, fs in os.walk(os.path.join(ENGINE_SRC, "scala"))
                    for f in fs if f.endswith(".scala"))
    if not engine:
        fail("engine sources not found under " + ENGINE_SRC)
    if not os.path.isdir(SPARK_JARS):
        fail("Spark jars not found at " + SPARK_JARS)
    bench = sorted(os.path.join(HERE, "src", f) for f in os.listdir(os.path.join(HERE, "src")))
    h = hashlib.sha256()
    for f in engine + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp%d" % os.getpid()
    os.makedirs(tmp)
    args = os.path.join(tmp, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(engine + bench))
    cp = os.path.join(SPARK_JARS, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        "-Djava.io.tmpdir=" + tmp, "-cp", cp,
                        "scala.tools.nsc.Main", "-classpath", cp, "-d", tmp,
                        "-nowarn", "@" + args], capture_output=True, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("compile failed")
    os.remove(args)
    shutil.copytree(os.path.join(ENGINE_SRC, "resources"), tmp, dirs_exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("classes-") and os.path.join(BUILD, old) != tmp:
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.rename(tmp, out)
    return out


def inputs(workload, seed):
    with open(gen.__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "inputs", "%s-%d-%s" % (workload, seed, version))
    if not os.path.isdir(d):
        tmp = d + ".tmp%d" % os.getpid()
        gen.generate(workload, seed, tmp)
        os.rename(tmp, d)
    return d


def run_jvm(classes, workload, seed, seconds, trace, cores):
    work = os.path.join(BUILD, "work", "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    # a fixed, pre-touched heap: VmHWM then moves only with off-heap memory,
    # not with when the collector chose to grow the heap
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"), "perfbench.Main",
            "--workload", workload, "--input", inputs(workload, seed), "--work", work,
            "--out", out, "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores)]
    try:
        with open(log, "w") as fh:
            r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        code = r.returncode
    except subprocess.TimeoutExpired:
        code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        shutil.rmtree(work, ignore_errors=True)
        fail("benchmark JVM failed (%s)" % code)
    with open(out) as fh:
        rec = json.loads(fh.read())
    # the JVM writes NaN (no value) as a string
    for it in rec["iterations"] + rec.get("traced_iterations", []) + rec.get("local1_iteration", []):
        it["wallS"] = float(it["wallS"])
        it["named"] = {k: float(v) for k, v in it["named"].items()}
    shutil.rmtree(work, ignore_errors=True)
    return rec


def medians(iters):
    """Median of each named workload metric over the iterations that
    report it; `iteration_s` is the iteration's wall time."""
    vals = {}
    for it in iters:
        named = dict(it["named"])
        if it["wallS"] == it["wallS"]:   # not NaN
            named["iteration_s"] = it["wallS"]
        for k, v in named.items():
            vals.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in vals.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    rec = run_jvm(build(), a.workload, a.seed, a.seconds, a.trace, os.cpu_count())
    iters = rec["iterations"] + rec.get("traced_iterations", []) + rec.get("local1_iteration", [])
    failed = [it for it in iters if it["failures"]]
    for it in failed:
        print("check failed: " + "; ".join(it["failures"]), file=sys.stderr)
    named = medians(rec["iterations"])
    if "pipeline_wall_s" in named:
        named["pipeline_rows_per_s"] = gen.SESSION_SECONDS * gen.EYE_HZ * 2 / named["pipeline_wall_s"]
    named.update(setup_s=statistics.median(rec["setup_s"]), peak_rss_mb=rec["peak_rss_mb"],
                 error_rate=len(failed) / len(iters))
    print("%s seed=%d cores=%d iterations=%d phases: %s" % (
        a.workload, a.seed, rec["cores"], len(rec["iterations"]),
        " ".join("%s=%.1fs" % kv for kv in rec["phase_s"].items())))
    print("  set-ups: " + " ".join("%.2fs" % x for x in rec["setup_s"]))
    for k in sorted(named):
        print("  %-22s %14.6g %s" % (k, named[k], UNITS.get(k, "")))

    if a.trace:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in analyze.per_layer(rec).items()}
        for k in sorted(metrics):
            print("  %-40s %14.6g %s" % (k, metrics[k]["value"], metrics[k]["unit"]))
    else:
        metrics = {"setup_s": {"value": named["setup_s"], "unit": "s"},
                   "peak_rss_mb": {"value": named["peak_rss_mb"], "unit": "MB"}}
        for k, src in HEADLINE[a.workload].items():
            metrics[k] = {"value": named[src], "unit": UNITS[src]}
    print(json.dumps({"correct": not failed, "attempted": len(iters),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
