#!/usr/bin/env python3
"""Benchmark of the Jobcan integrator and its BI read path.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cold_sync --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source when either changed
(sbt, first run only), generates a seeded tenant, runs the workload in
one JVM on local[nproc] for --seconds, checks every output, and prints
one provenance record line and then, as the last line, the result:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
the per-layer ones. Exits non-zero if any output check failed.
"""
import argparse
import hashlib
import json
import math
import os
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
# Tenant size divisor: 20,000 requests / SCALE (see METRICS.md).
SCALE = 20
XMX = "2g"
DEADLINE_S = 170
# The TPC-H-style tables the traced bi_read run's operator pass reads.
QUERY_TABLES = os.path.join(BENCH, "data", "sf0.01")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
MARKER = "PERFBENCH_RECORD "


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(sha, deadline):
    stamp = os.path.join(BUILD, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) \
            and open(stamp).read() == sha:
        return
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "-batch", "compile"], BENCH, out, out,
                         deadline - time.time(), env=local_tmp_env())
    if rc != 0:
        die(f"build failed (exit {rc}), see {log}", 3)
    with open(stamp, "w") as fh:
        fh.write(sha)


def local_tmp_env():
    """Environment that keeps every JVM's and script's temporary files
    inside the checkout."""
    tmp = os.path.join(BUILD, "tmp")
    env = dict(os.environ, TMPDIR=tmp)
    env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        env.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}"]))
    return env


def run_bounded(cmd, cwd, stdout, stderr, timeout, env=None):
    """Run cmd in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
                         start_new_session=True, env=env)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} exceeded its time limit", 4)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def head_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()
    # a terminated run still stops and waits for its JVM (run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("run from the root of a checkout of the program "
            "(src/main/scala/graft not found)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME must name the Spark distribution")
    spark_jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    sha = source_sha()
    build(sha, started + 850)

    work = os.path.join(BUILD, "work", a.workload)
    load_before = os.getloadavg()[0]
    cmd = (["java", f"-Xmx{XMX}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
              "-cp", os.pathsep.join([CLASSES, os.path.join(ROOT, "src", "main", "resources"),
                                      os.path.join(spark_jars, "*")]),
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--scale", str(SCALE), "--queries", QUERY_TABLES])
    out_path = os.path.join(BUILD, "tmp", f"{a.workload}.out")
    with open(out_path, "w") as out:
        rc = run_bounded(cmd, ROOT, out, sys.stderr, started + DEADLINE_S - time.time(),
                         env=local_tmp_env())
    lines = [l for l in open(out_path, encoding="utf-8") if l.startswith(MARKER)]
    if rc != 0 or not lines:
        die(f"benchmark JVM exited {rc} without a record", 5)
    rec = json.loads(lines[-1][len(MARKER):])
    rec["provenance"] = {
        "nproc": os.cpu_count(), "xmx": XMX, "head": head_commit(),
        "source_sha": sha, "seed": a.seed, "tenant_scale": SCALE,
        "sf": 0.01 if a.trace and a.workload == "bi_read" else None,
        "load1m_before": load_before,
        "load1m_after": os.getloadavg()[0], "traced": bool(a.trace),
        "seconds": a.seconds,
    }
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    if a.trace:
        rec["per_layer"]["trace.overhead_s"], rec["provenance"]["overhead_base"] = \
            tracing_overhead(records, rec)
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            os.replace(spans, os.path.join(
                records, f"{a.workload}-s{a.seed}-{int(started)}.spans.json"))
    with open(os.path.join(records,
                           f"{a.workload}-s{a.seed}-t{a.trace}-{int(started)}.json"),
              "w") as fh:
        json.dump(rec, fh, indent=1, ensure_ascii=False)
    print(json.dumps(rec, ensure_ascii=False))

    metrics, missing = {}, []
    if a.trace:
        layer = rec["per_layer"]
        for m in spec["per_layer"]:
            # a layer the workload never calls did no work: 0
            v = layer.get(m["name"], 0.0)
            if v is None:
                missing.append(m["name"])
            else:
                metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    else:
        e2e = rec["end_to_end"]
        for m in spec["end_to_end"]:
            v = e2e_value(e2e, m["name"])
            if v is None or not math.isfinite(v) or v <= 0:
                missing.append(m["name"])
            else:
                metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
    correct = rec["failed"] == 0 and rec["attempted"] > 0 and not missing
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


def tracing_overhead(records, rec):
    """Traced iteration time minus the median untraced one, over the
    untraced records of the same workload and sources in this checkout.
    Returns (seconds, number of untraced records); (0.0, 0) when the
    traced run is the first."""
    base = []
    for f in os.listdir(records):
        if not f.endswith(".json") or f.endswith(".spans.json"):
            continue
        with open(os.path.join(records, f)) as fh:
            r = json.load(fh)
        p = r.get("provenance", {})
        it = r.get("end_to_end", {}).get("iteration_s", {}).get("p50")
        if (r.get("workload") == rec["workload"] and not p.get("traced")
                and p.get("source_sha") == rec["provenance"]["source_sha"]
                and it is not None):
            base.append(it)
    traced = rec["end_to_end"].get("iteration_s", {}).get("p50")
    if not base or traced is None:
        return 0.0, 0
    base.sort()
    mid = len(base) // 2
    med = base[mid] if len(base) % 2 else (base[mid - 1] + base[mid]) / 2
    return traced - med, len(base)


def e2e_value(e2e, name):
    """A value measured once (setup_s) or a timing's median."""
    m = e2e.get(name, {})
    return m.get("value", m.get("p50"))


if __name__ == "__main__":
    main()
