#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ods_cdc --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the engine's
sources together with the JVM driver (perfbench/src) with sbt; later runs
reuse the build while no source changed. Each run generates its inputs
from the seed, drives the workload in a closed loop for `--seconds`,
checks every output against DuckDB, and prints the metrics table followed
by one JSON line: end-to-end metrics with `--trace 0`, per-layer metrics
(plus the tracing overhead) with `--trace 1`.
"""
import argparse
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

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ods_cdc", "llm_curation")
HEAP = "4g"
# The driver's share of the 180 s a run may take; generation and checks
# need under 10 s, so a run twice as slow as the seed code still reports.
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def spark_home():
    """The Spark install whose jars the engine compiles and runs against:
    $SPARK_HOME, else the one whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME") or (
        shutil.which("spark-submit") and os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit")))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: no Spark install found; set SPARK_HOME")
    return home


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the driver; skipped while the sources match
    the last successful build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources at src/main/scala; run from the repository root")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    log("compiling engine + driver with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
                        "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"build took {time.time() - t0:.0f} s")
    return classes


# A fixed set of JIT compiler threads, so the driver can subtract their CPU
# from each op's exactly (README, "End-to-end metrics").
JIT_FLAGS = ["-XX:-UseDynamicNumberOfCompilerThreads"]


def run_jvm(classes, workload, seconds, trace, inp, work, out):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+ExplicitGCInvokesConcurrent"] + JIT_FLAGS + [
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{spark_home()}/jars/*", "perfbench.Main",
              "--workload", workload, "--seconds", str(seconds), "--trace", str(trace),
              "--in", inp, "--work", work, "--out", out])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: driver exited with {rc}")
    with open(f"{out}/result.json") as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    a = ap.parse_args(argv)

    classes = build()
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp, out = f"{work}/in", f"{work}/out"
    try:
        t0 = time.time()
        gen.generate(a.workload, a.seed, inp)
        log(f"inputs generated in {time.time() - t0:.1f} s")
        t0 = time.time()
        res = run_jvm(classes, a.workload, a.seconds, a.trace, inp, work, out)
        log(f"driver ran {time.time() - t0:.1f} s (set-up {res['setup']['setup_s']:.1f}, "
            f"loop {res['loop_s']:.1f}, finish {res['finish_s']:.1f})")
        t0 = time.time()
        verdict = check.run(a.workload, inp, out, res)
        log(f"checks took {time.time() - t0:.1f} s")
        if a.trace:
            values, table = metrics.per_layer(a.workload, res, verdict)
            trace_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(trace_dir, exist_ok=True)
            with open(f"{trace_dir}/{a.workload}-seed{a.seed}-trace.json", "w") as f:
                json.dump({"spans": res.get("spans", []), "layers": table}, f)
        else:
            values, table = metrics.end_to_end(a.workload, res, verdict)
        for line in table:
            print(line)
        for problem in verdict["problems"]:
            print(f"CHECK FAILED: {problem}")
        ops = res["ops"]
        summary = {
            "correct": not verdict["problems"],
            "attempted": len(ops),
            "failed": sum(1 for o in ops if not o["ok"]),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
        }
        print(json.dumps(summary))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
