#!/usr/bin/env python3
"""Benchmark of the VESC engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload ride_upload --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness (`perfbench/harness`, an sbt build that depends on the engine's
sources) into `.bench_build/`; later runs reuse that build while the
sources are unchanged. Inputs are generated from the seed by
`perfbench/synth.py` into `.bench_work/`, which is removed afterwards; a
failed run prints the tail of the harness log to standard error.

With `--trace 0` the last line of standard output is one JSON object with
the end-to-end metrics; with `--trace 1` it carries the per-layer metrics
of a traced run instead. Every operation's output is checked against
facts derived from the generated inputs; a failed check counts as a
failed operation. Exit code 0 means the run completed and printed its
result (check `correct` for the verdict); any other code means no result.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
import synth  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
HARNESS = os.path.join(HERE, "harness")
DEADLINE_S = 170          # a run must end within 180 s ...
FIRST_DEADLINE_S = 890    # ... except the one that builds, within 900 s

WORKLOADS = ("ride_upload", "long_ride")

END_TO_END = {"latency_s": "s", "setup_s": "s"}

# Per-layer metrics of the traced run; see perfbench/LAYERS.md.
PER_LAYER = {
    "raw_log_reader.analysis_s": "s", "raw_log_reader.self_s": "s",
    "raw_log_reader.rows": "count", "raw_log_reader.malformed_errors": "count",
    "resampler.analysis_s": "s", "resampler.self_s": "s",
    "resampler.grid_rows": "count",
    "annotations.analysis_s": "s", "annotations.self_s": "s",
    "annotations.ranges": "count",
    "window_assembler.analysis_s": "s", "window_assembler.self_s": "s",
    "window_assembler.windows": "count", "window_assembler.kept_ratio": "ratio",
    "normalizer.self_s": "s",
    "cnn_scorer.self_s": "s", "cnn_scorer.forward_us": "us",
    "cnn_scorer.macs_per_window": "count",
    "postprocess.self_s": "s", "postprocess.timeline_rows": "count",
    "export.self_s": "s",
    "app.refresh_s": "s", "app.jobs_per_upload": "count",
    "serve.post_s": "s", "serve.figure_get_s": "s",
    "streaming.trigger_wait_s": "s",
    "spark.analysis_s": "s", "spark.planning_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.parallelism": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.gc_s": "s", "spark.plan_nodes": "count", "spark.queries": "count",
    "jvm.heap_peak_mb": "MB",
    "trace.warm_latency_s": "s", "trace.overhead_s": "s",
}

# Layers a workload's traced run does not measure: its path never enters
# them, or (annotations, normalizer: training layers) they are measured on
# ride_upload's short ride only, to keep long_ride's traced run within its
# time limit. The run reports them as 0 so every traced run carries the
# full metric set.
NOT_ON_PATH = {
    "ride_upload": (),
    "long_ride": ("app.", "serve.", "streaming.", "annotations.", "normalizer."),
}

# The parts of setup_s, as the harness records them (one sample each).
SETUP_PARTS = {"session_s": "JVM and session", "assets_s": "cold asset load",
               "app_s": "App.start"}

# What latency_s measures on each workload, printed under this name too.
E2E_NAME = {"ride_upload": "upload_to_figure_s.p50", "long_ride": "analyze_s"}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                HARNESS):
        for d, dirs, names in os.walk(top):
            # skip build outputs: target/ and sbt's project/project/
            dirs[:] = sorted(x for x in dirs if x != "target" and not (
                x == "project" and os.path.basename(d) == "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))
                      or "resources" in d]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last build; return (runtime classpath, whether it built)."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read(), False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=max(1, deadline - time.time()),
            ).returncode
        except subprocess.TimeoutExpired:
            fail("build timed out; see " + log)
    with open(log) as f:
        lines = [x.strip() for x in f if x.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        fail("build failed; see " + log)
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp, True


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_harness(cp, workload, manifest, seconds, trace, work, deadline):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--manifest", manifest, "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--out", out,
            "--cores", str(cpu_count())]
    log = os.path.join(work, "harness.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            tail(log)
            fail("harness exceeded the run deadline")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        tail(log)
        fail("harness exited with code %d" % proc.returncode)
    with open(out) as f:
        return json.load(f)


def tail(path, n=30):
    with open(path, errors="replace") as f:
        for line in f.readlines()[-n:]:
            sys.stderr.write(line)


def summarize(workload, res, trace):
    """Turn the harness's samples into the reported metrics."""
    s = res["samples"]
    metrics, notes = {}, []
    if not trace:
        parts = {k[len("setup."):]: v[0] for k, v in s.items() if k.startswith("setup.")}
        metrics["setup_s"] = sum(parts.values())
        notes.append("setup_s = " + " + ".join(
            "%s %.3f s" % (SETUP_PARTS[k], v) for k, v in parts.items()))
        if s.get("latency_s"):
            metrics["latency_s"] = s["latency_s"][0]
            notes.append("%s = %.4f s (latency_s: the first operation)"
                         % (E2E_NAME[workload], metrics["latency_s"]))
        warm = s.get("warm_latency_s", [])
        if warm:
            p = stats.tail_percentile(len(warm))
            notes.append("warm latency: p50 %.4f s%s (n=%d)" % (
                stats.median(warm),
                ", p%g %.4f s" % (p, stats.percentile(warm, p)) if p and p > 50 else "",
                len(warm)))
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}, notes
    layers = res["layers"]
    out = {}
    for name, unit in PER_LAYER.items():
        if name in layers:
            out[name] = {"value": layers[name]["value"], "unit": unit}
        elif any(name.startswith(p) for p in NOT_ON_PATH[workload]):
            out[name] = {"value": 0, "unit": unit}
    return out, notes


def main():
    ap = argparse.ArgumentParser(description="VESC engine benchmark, one run.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    # a terminated run still stops its JVM (see run_harness)
    signal.signal(signal.SIGTERM, lambda *_: fail("terminated"))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of an engine checkout (build.sbt and "
             "src/main/scala/graft are missing)")
    cp, built = build(started + FIRST_DEADLINE_S - DEADLINE_S)
    deadline = started + (FIRST_DEADLINE_S if built else DEADLINE_S)
    work = os.path.join(WORK, "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        synth.generate(a.workload, a.seed, os.path.join(work, "inputs"))
        res = run_harness(cp, a.workload, os.path.join(work, "inputs", "manifest.json"),
                          a.seconds, bool(a.trace), work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics, notes = summarize(a.workload, res, bool(a.trace))
    wanted = PER_LAYER if a.trace else END_TO_END
    missing = sorted(set(wanted) - set(metrics))
    attempted, failed = res["attempted"], res["failed"]
    for e in res["errors"]:
        print("error: " + e)
    for n in res["notes"]:
        print(n)
    for m in missing:
        print("error: metric %s was not measured" % m)
    for n in notes:
        print(n)
    for k, v in sorted(metrics.items()):
        print("%s = %.6g %s" % (k, v["value"], v["unit"]))
    print("error_rate = %.4g (%d failed of %d attempted)"
          % (failed / attempted if attempted else 1.0, failed, attempted))
    correct = attempted >= 1 and failed == 0 and not res["errors"] and not missing
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed if attempted else 1, "metrics": metrics}))


if __name__ == "__main__":
    main()
