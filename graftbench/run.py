#!/usr/bin/env python3
"""The engine's benchmark: one command, two closed-loop workloads.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine
together with the harness (``graftbench/harness``, offline sbt) into
``.bench_build/``; later runs reuse the build while the sources are
unchanged. Each run then

1. generates its inputs from ``--seed`` (untimed),
2. starts the harness JVM, which sets up a Spark session (warm-up
   included, reported as ``setup_s``) and runs the workload's operations
   until ``--seconds`` have passed,
3. checks every output (DuckDB oracle for the query mix, generator-derived
   expectations for the ELT batches; untimed),
4. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

All Spark state of a run lives in one temporary directory under
``.bench_build/`` that is removed at the end.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))

LAUNCH_TIMEOUT_S = 150
# Input sizes per workload (graftbench/layers.json describes them).
TABLE_SCALE = 0.2       # relational tables and events, relative to sf0.1
TEXT_SCALE = 0.5        # documents and embeddings
ELT_BATCHES = 8
ELT_ORDERS_PER_BATCH = 20000

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every input to the build: engine sources, harness, build files."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, REPO).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must name a Spark installation with a jars/ directory")
    return os.path.join(home, "jars")


def build():
    """Compile engine + harness offline unless the last build matches."""
    if not os.path.isfile(os.path.join(REPO, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no engine sources under src/main/scala: run from the root of a source checkout")
    spark_jars()
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(CLASSES):
        return
    os.makedirs(BUILD, exist_ok=True)
    # the environment's offline sbt/coursier settings, as the root build uses
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log("building engine + harness (sbt, offline)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "compile"],
                             cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(open(os.path.join(BUILD, "build.log")).read()[-4000:])
        fail(f"build failed (exit {rc})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f}s")


def make_inputs(workload, seed, data):
    if workload == "elt_daily":
        expected = gen.make_landing(os.path.join(data, "landing"), seed, ELT_BATCHES,
                                    ELT_ORDERS_PER_BATCH)
        return {"expected": expected}
    gen.make_tables(os.path.join(data, "tables"), seed, TABLE_SCALE, TEXT_SCALE)
    return {}


def launch(workload, seed, seconds, trace, data, root, out):
    """The harness JVM: set up, measure `seconds`, write records.json."""
    for d in ("local", "tmp", "derby", "warehouse"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xms3g",
           *[a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
           f"-Djava.io.tmpdir={root}/tmp", f"-Dderby.system.home={root}/derby",
           "-Dspark.ui.enabled=false",
           "-cp", f"{CLASSES}:{spark_jars()}/*", "graftbench.Main",
           "--workload", workload, "--data", data, "--root", root, "--out", out,
           "--seconds", str(seconds), "--trace", str(trace), "--seed", str(seed)]
    log_path = os.path.join(out + ".log")
    with open(log_path, "w") as lf:
        launch_us = int(time.time() * 1e6)
        proc = subprocess.Popen(cmd + ["--launch-us", str(launch_us)], cwd=root, stdout=lf,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=LAUNCH_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:  # timed out or interrupted: stop it
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    log(f"launch ended in {time.time() - launch_us / 1e6:.1f}s")
    records = os.path.join(out, "records.json")
    if rc != 0 or not os.path.isfile(records):
        sys.stderr.write(open(log_path, errors="replace").read()[-4000:])
        fail(f"harness launch failed ({rc})", 4)
    return json.load(open(records))


def end_to_end(workload, rec):
    ops = [o for o in rec["ops"] if o["timed"] and o["ok"]]
    times = [o["t_s"] for o in ops]
    if not times:
        return None
    if workload == "elt_daily":
        p50 = statistics.median(times)
    else:
        # each query has its own latency; the median over queries of each
        # query's median is robust to the gaps between queries that a plain
        # median of the mixed set lands in
        kinds = {}
        for o in ops:
            kinds.setdefault(o["name"], []).append(o["t_s"])
        p50 = statistics.median(statistics.median(v) for v in kinds.values())
    return {
        "setup_s": rec["setup_s"],
        "op_p50_s": p50,
        "ops_per_s": len(times) / sum(times),
        "retained_heap_mb": rec["retained_heap_mb"],
    }


def per_layer(workload, rec, verdict):
    """Per-layer metrics; a layer the workload does not use reads 0."""
    out = {m["name"]: rec.get("layer", {}).get(m["name"], 0.0) for m in SPEC["per_layer"]}
    ops = rec["ops"]
    timed = [o for o in ops if o["timed"] and o["ok"]]
    if workload == "elt_daily":
        a = [o["t_s"] for o in timed if "traced_run_t_s" in o]
        b = [o["traced_run_t_s"] for o in timed if "traced_run_t_s" in o]
        if a and b:
            out["trace.overhead_frac"] = statistics.median(b) / statistics.median(a) - 1
    else:
        by = {}
        for o in timed:
            by.setdefault((o["name"], o["traced"]), []).append(o["t_s"])
        qs = sorted({n for n, _ in by})
        for q in qs:
            if (q, True) in by:
                out[f"query.{q}.p50_s"] = statistics.median(by[(q, True)])
        pairs = [q for q in qs if (q, True) in by and (q, False) in by]
        if pairs:
            out["trace.overhead_frac"] = (
                sum(statistics.median(by[(q, True)]) for q in pairs) /
                sum(statistics.median(by[(q, False)]) for q in pairs) - 1)
        # index build: first call (build + probe) minus the steady probe time
        for q, key in (("d12_incremental_dedup_indexed", "index.d12_build_s"),
                       ("s16_ivf_indexed", "index.s16_build_s")):
            first = [o["t_s"] for o in ops if o["name"] == q and o["pass"] == 0 and o["ok"]]
            steady = [o["t_s"] for o in timed if o["name"] == q]
            if first and steady:
                out[key] = statistics.median(first) - statistics.median(steady)
    out["error_rate"] = verdict["failed"] / max(1, verdict["attempted"])
    return out


def report(verdict, metrics, trace):
    """The result line: every metric BENCHMARK.json lists for this mode."""
    spec = SPEC["per_layer" if trace else "end_to_end"]
    return {
        "correct": verdict["failed"] == 0,
        "attempted": verdict["attempted"],
        "failed": verdict["failed"],
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec},
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    build()
    os.makedirs(BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=BUILD)
    try:
        data = os.path.join(tmp, "data")
        t0 = time.time()
        inputs = make_inputs(args.workload, args.seed, data)
        log(f"inputs generated in {time.time() - t0:.1f}s")
        inputs["data"] = data
        out = os.path.join(tmp, "out")
        rec = launch(args.workload, args.seed, args.seconds, args.trace, data,
                     os.path.join(tmp, "root"), out)
        t0 = time.time()
        verdict = checks.verify(args.workload, rec, inputs, out)
        log(f"outputs checked in {time.time() - t0:.1f}s")
        for msg in verdict["messages"][:20]:
            log(f"check failed: {msg}")
        metrics = (per_layer(args.workload, rec, verdict) if args.trace
                   else end_to_end(args.workload, rec))
        if metrics is None:
            fail("no operation completed", 5)
        print(json.dumps(report(verdict, metrics, args.trace)))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
