#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload {build,daily,search,curate} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The first run builds the engine and the
benchmark driver from source (sbt, perfbench/build.sbt) into
`.bench_build/`, and generates the synthetic corpus (scale 0.01) there;
later runs reuse both. Each run writes the seed's permuted corpus copy,
runs the JVM driver (graft.perfbench.PerfBench) against it, checks every
distinct output against its DuckDB oracle, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`). A wrong
output or a failed op prints `"correct": false` and exits 1.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["build", "daily", "search", "curate"]
# corpus scale factor: 60k lineitem rows
SCALE = 0.01
END_TO_END = [("latency_p50_s", "s"), ("queries_per_s", "1/s"),
              ("input_rows_per_s", "rows/s"), ("setup_s", "s")]
# persisted blocks may not grow across measured ops by more than this
STORAGE_GROWTH = 1.5
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 800
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group to completion; kill the whole
    group (and wait) on timeout, or when this process is terminated.
    Returns the exit code (-9 on timeout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def kill():
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()

    def stop(signum, _frame):
        kill()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill()
        return -9
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark distribution the engine compiles and runs against."""
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: SPARK_HOME must name a Spark distribution")
    return home


def build():
    """Compile engine + driver with sbt unless the sources are unchanged
    since the last build. Returns the JVM classpath."""
    classes = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
    stamp = os.path.join(BUILD, "build.stamp")
    want = source_hash()
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        log("building engine and driver (sbt compile)")
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -XX:-UsePerfData" +
                           ("" if "-Dsbt.offline" in env.get("SBT_OPTS", "")
                            else " -Dsbt.offline=true")).strip()
        t0 = time.time()
        build_log = os.path.join(BUILD, "build.log")
        with open(build_log, "w") as logf:
            rc = run_child(["sbt", "-batch", "-Dsbt.server.forcestart=false", "compile"],
                           BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=logf,
                           stderr=subprocess.STDOUT)
        if rc != 0:
            with open(build_log) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit("perfbench: build failed")
        with open(stamp, "w") as f:
            f.write(want)
        log(f"built in {time.time() - t0:.1f}s")
    return classes + os.pathsep + os.path.join(spark_home(), "jars", "*")


def run_jvm(cp, args, out, cpus):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the engine's own JVM options (build.sbt), a fixed heap, and every
    # scratch path inside the build directory
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-XX:+UnlockDiagnosticVMOptions",
              "-XX:GCLockerRetryAllocationCount=100", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
              "-cp", cp, "graft.perfbench.PerfBench"] + [str(a) for a in args])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_CPUS=str(cpus))
    env.pop("SPARK_GRAFT_CONF", None)
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        rc = run_child(cmd, JVM_TIMEOUT_S, cwd=out, env=env, stdout=logf,
                       stderr=subprocess.STDOUT)
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: driver exited with {rc}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the root of a checkout of the engine "
                         "(src/main/scala/graft not found)")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()

    corpus_root = os.path.join(BUILD, "corpus")
    base_dir, corpus_id = corpus.base(corpus_root, SCALE)
    data = corpus.for_seed(corpus_root, base_dir, a.seed)
    out = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    t0 = time.time()
    run_jvm(cp, [a.workload, data, a.seed, a.seconds, a.trace, out, cpus], out, cpus)
    log(f"driver finished in {time.time() - t0:.1f}s")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    checks = oracle.check(res["outputs"], os.path.join(out, "outputs"), data,
                          corpus.TABLES, corpus_id, os.path.join(BUILD, "oracle_cache.json"))
    shutil.rmtree(data, ignore_errors=True)
    bad_keys = {k for k, ok, _ in checks if not ok}
    ops = res["ops"]
    # every output repeats its warm-up digest, so a key that fails the
    # oracle fails every op that produced it
    failed_ops = [o for o in ops if not o["ok"] or bad_keys & set(o["keys"])]
    for k, ok, detail in checks:
        log(("PASS " if ok else "FAIL ") + k, detail)
    for e in res["errors"]:
        log("ERROR", e)

    # a cache leak shows as persisted storage growing from op to op
    measured = [o for o in ops if o["phase"] != "warmup"]
    storage = [o["storage_mb"] for o in measured]
    if storage[-1] > STORAGE_GROWTH * storage[0] + 1.0 and measured[-1] not in failed_ops:
        failed_ops.append(measured[-1])
        log(f"ERROR persisted storage grew from {storage[0]:.2f} MB to {storage[-1]:.2f} MB")

    plain = [o["wall_s"] for o in ops if o["phase"] == "plain"]
    traced = [o["wall_s"] for o in ops if o["phase"] == "traced"]
    if a.trace:
        with open(os.path.join(out, "spans.json")) as f:
            trace = json.load(f)
        values = layers.summarize(trace, plain, traced)
        values["storage_mb"] = storage[-1]
        metrics = {k: {"value": values[k], "unit": unit_of(k)}
                   for k in layers.metric_names() + ["storage_mb"]}
        log("modules seen:", json.dumps(layers.modules_seen(trace), sort_keys=True))
    else:
        values = {
            "latency_p50_s": statistics.median(plain),
            "queries_per_s": len(plain) / sum(plain),
            "input_rows_per_s": res["input_rows"] * len(plain) / sum(plain),
            "setup_s": res["setup_s"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}

    provenance = {
        "workload": a.workload, "seed": a.seed, "scale": SCALE, "trace": a.trace,
        "corpus_id": corpus_id, "fingerprint": res["corpus"], "calibration": res["calibration"],
        "cpus": cpus, "session_s": res["session_s"], "prepare_s": res["prepare_s"],
        "setup_s": res["setup_s"],
        "input_rows": res["input_rows"], "ops_measured": len(plain) + len(traced),
        "op_wall_s": plain + traced, "latency_max_s": max(plain + traced),
        "storage_mb": [o["storage_mb"] for o in ops],
        "oracle": {k: ok for k, ok, _ in checks}, "errors": res["errors"],
    }
    with open(os.path.join(out, "provenance.json"), "w") as f:
        json.dump(provenance, f, indent=1)
    log("provenance:", json.dumps(provenance)[:2000])

    correct = not failed_ops
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": len(failed_ops), "metrics": metrics}))
    sys.exit(0 if correct else 1)


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "fraction"
    return "count"


if __name__ == "__main__":
    main()
