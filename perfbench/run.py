#!/usr/bin/env python3
"""kerfspark benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload <interactive_mix|corpus_pipeline|ingest_mixed>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine plus the
benchmark program (perfbench/build.sbt) into perfbench/target and caches
the classpath under .bench_build/; later runs reuse it while the sources
are unchanged. Each run then generates its inputs from the seed
(perfbench/gen.py), starts one JVM with Spark at local[nproc], sets up,
warms every operation type, runs operations back to back for --seconds
(the next operation, or ingest step, starts only if one as long as the
last still fits, or while some kind of operation has not run yet), checks
the outputs in DuckDB, and prints one JSON object as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1
(see perfbench/LAYERS.md). A traced run leaves its spans in
.bench_build/trace-<workload>.json; a run whose checks fail keeps its
directory under .bench_build/runs/. Exits non-zero without a result on
any error.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["interactive_mix", "corpus_pipeline", "ingest_mixed"]
DEADLINE_S = 170          # the whole run, build excluded
JVM_HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project"), os.path.join(HERE, "build.sbt")]:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs
            if "target" not in os.path.relpath(d, HERE).split(os.sep))
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build once per source state; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_hash()
        cache = os.path.join(BUILD, "classpath.json")
        if os.path.isfile(cache):
            with open(cache) as f:
                c = json.load(f)
            if c["hash"] == digest:
                return c["classpath"]
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # keep the build's JVMs (sbt and its launcher probes) out of the
        # system temp directory
        env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp}".strip()
        env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"],
                               cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=840)
        with open(log) as f:
            lines = [ln.strip() for ln in f if ln.strip()]
        cp = [ln for ln in lines if not ln.startswith("[") and ".jar" + os.pathsep in ln]
        if r.returncode != 0 or not cp:
            fail(f"build failed (see {log})")
        with open(cache, "w") as f:
            json.dump({"hash": digest, "classpath": cp[-1]}, f)
        return cp[-1]


# Spark 4 on JDK 17 outside spark-submit needs these (the engine build's list)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def jvm(cp, work):
    """The java command line of a measured run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", *ADD_OPENS, f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"]


def jvm_env():
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    return env


def run_jvm(cp, workload, in_dir, work, seconds, trace, budget_s):
    cmd = jvm(cp, work) + [workload, in_dir, work, str(seconds), str(trace)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=jvm_env(), stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM exceeded {budget_s:.0f}s (see {work}/jvm.log)")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.readlines()[-15:]
        fail(f"JVM exited {rc}:\n{''.join(tail)}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def checks(workload, in_dir, inputs, rec):
    c = rec["counters"]
    if workload == "interactive_mix":
        return check.interactive(os.path.join(in_dir, "tables"), c)
    if workload == "corpus_pipeline":
        return check.corpus(in_dir, inputs, c)
    return check.ingest(c)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the repository root")
    cp = classpath()

    t_setup = time.time()
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "in")
    inputs = gen.generate(in_dir, a.seed, a.workload, a.seconds)
    t_jvm = time.time()
    rec = run_jvm(cp, a.workload, in_dir, work, a.seconds, a.trace,
                  DEADLINE_S - (time.time() - t_setup))
    t_check = time.time()
    setup_s = rec["first_op_epoch_ms"] / 1000.0 - t_setup

    fails = checks(a.workload, in_dir, inputs, rec)
    t_end = time.time()
    for sel, msg in fails:
        print(f"CHECK FAIL {sel}: {msg}", file=sys.stderr)
    tainted = {sel for sel, _ in fails}
    ops = rec["ops"]
    failed = sum(1 for o in ops if o["error"] or "*" in tainted or o["name"] in tainted)
    attempted = len(ops)
    if attempted == 0:
        fail("no operation completed inside the window")

    if a.trace:
        values = metrics.per_layer(rec, failed, attempted)
        kind = "per_layer"
    else:
        values = metrics.end_to_end(rec, setup_s)
        kind = "end_to_end"
    host = dict(rec["host"], setup_s=setup_s)
    print("host " + json.dumps(host, sort_keys=True))
    print(f"ops {attempted} failed {failed} window_ms {rec['window_ms']:.1f} "
          f"setup: session {rec['session_ms']:.0f} ms, set-up {rec['setup_ms']:.0f} ms, "
          f"warm-up {rec['warmup_ms']:.0f} ms; run: inputs {t_jvm - t_setup:.1f} s, "
          f"JVM {t_check - t_jvm:.1f} s, checks {t_end - t_check:.1f} s")
    result = {"correct": not fails and failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics.emit(values, kind)}
    if a.trace:
        # the spans of the latest traced run, for looking into a result
        shutil.copy(os.path.join(work, "result.json"),
                    os.path.join(BUILD, f"trace-{a.workload}.json"))
    if not fails:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
