#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from `src/main` and the
JVM harness from `perfbench/harness` (cached under `.bench_build/`),
generates the workload's inputs from the seed, runs one JVM on
`local[nproc]`, checks every op's output, and prints one JSON object as
the last line of stdout. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer ones (see README.md).

`--all-ops` runs every op of the workload's families instead of its fixed
subset (the full correctness sweep). A traced run keeps its raw samples,
spans and events in `.bench_build/trace-<workload>-<seed>.json`.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

BUILD = ".bench_build"
JVM_TIMEOUT_S = 170  # a run must end within 180 s
ALL_OPS_TIMEOUT_S = 900  # the full correctness sweep is not a timed run
INGEST = "ingest:"  # op prefix: publish a replay of this generated table
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def heap_gb():
    """MemTotal/2 clamped to 2-8 GB, the test suite's sizing rule."""
    return max(2, min(8, mem_total_kb() // (2 * 1024 * 1024)))


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "harness")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def scalac(classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail(f"compilation failed:\n{r.stdout[-4000:]}")


def spark_jars(root):
    """The Spark jar directory the build compiles against (build.sbt's unmanagedBase)."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def build(root):
    """Compiles program + harness into .bench_build/classes-<digest>."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repository root: src/main/scala not found")
    jar_dir = spark_jars(root)
    jars = ":".join(sorted(os.path.join(jar_dir, j) for j in os.listdir(jar_dir)
                           if j.endswith(".jar")))
    files = sources(root)
    digest = source_digest(files)
    out = os.path.join(root, BUILD, f"classes-{digest}")
    prog, harness = os.path.join(out, "program"), os.path.join(out, "harness")
    if not os.path.exists(os.path.join(out, "DONE")):
        for stale in glob.glob(os.path.join(root, BUILD, "classes-*")):
            shutil.rmtree(stale, ignore_errors=True)
        scalac(jars, prog, [f for f in files if not f.startswith(HERE)])
        scalac(f"{jars}:{prog}", harness, [f for f in files if f.startswith(HERE)])
        open(os.path.join(out, "DONE"), "w").close()
    return f"{jars}:{prog}:{harness}", digest


def shm_entries():
    try:
        return {e for e in os.listdir("/dev/shm") if e.startswith("graft_")}
    except OSError:
        return set()


def commit_id(root, digest):
    head = os.path.join(root, ".git", "HEAD")
    if os.path.exists(head):
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    return f"source-{digest}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all-ops", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    wl = WORKLOADS[a.workload]
    ops = [] if a.all_ops else wl["ops"]  # [] = every op of the families

    classpath, digest = build(root)
    t_setup = time.time()
    nproc = os.cpu_count()
    run_dir = os.path.join(root, BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    data_dir = os.path.join(run_dir, "data")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    gen.write(a.seed, wl["sf"], data_dir,
              [o.split(":", 1)[1] for o in ops if o.startswith(INGEST)])
    cfg = {
        "ops": ops, "families": wl["families"], "data_dir": data_dir, "run_dir": run_dir,
        "cpus": nproc, "trace": bool(a.trace), "seed": a.seed, "seconds": a.seconds,
        "warmup_passes": 1 if a.all_ops else wl["warmup_passes"],
        "min_passes": 2 if a.trace else 1,
        "out_file": os.path.join(run_dir, "result.json"),
    }
    with open(os.path.join(run_dir, "config.json"), "w") as f:
        json.dump(cfg, f)
    shm_before = shm_entries()
    cmd = ["java", f"-Xmx{heap_gb()}g", "-XX:+UseG1GC", "-Xss8m",
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.ui.enabled=false"] + ADD_OPENS + [
           "-cp", classpath, "perfbench.Harness", os.path.join(run_dir, "config.json")]
    log_path = os.path.join(run_dir, "jvm.log")
    # a terminated benchmark takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=ALL_OPS_TIMEOUT_S if a.all_ops else JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    for e in shm_entries() - shm_before:  # the program's staging of this run
        shutil.rmtree(os.path.join("/dev/shm", e), ignore_errors=True)
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness exited with {rc}")
    with open(cfg["out_file"]) as f:
        out = json.load(f)

    samples, ops = out["samples"], out["ops"]
    verdicts = oracle.check(root, data_dir, os.path.join(run_dir, "outputs"),
                            [o for o in ops if not o.startswith(INGEST)],
                            os.path.join(run_dir, "goldens"))
    bad_ops = {op for op, v in verdicts.items() if v != "pass"}
    attempted = [s for s in samples if not s["warmup"]]
    failed = [s for s in attempted if s["error"] or s["op"] in bad_ops]
    setup_s = out["timed_start_ms"] / 1e3 - t_setup
    e2e, info = metrics.e2e(samples, setup_s)
    chosen = metrics.per_layer(out) if a.trace else e2e
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "ops": len(ops), "sf": wl["sf"], "nproc": nproc, "mem_total_kb": mem_total_kb(),
        "heap_gb": heap_gb(), "peak_rss_mb": out["peak_rss_kb"] / 1024,
        "jdk": out["jdk"], "spark": out["spark_version"],
        "commit": commit_id(root, digest), "session_s": out["session_s"],
        "fixture_s": out["fixture_s"], "warmup_s": out["warmup_s"],
        "timed_s": (out["timed_end_ms"] - out["timed_start_ms"]) / 1e3,
        "after_timed_s": time.time() - out["timed_end_ms"] / 1e3, **info,
        "oracle": {k: v for k, v in verdicts.items() if v != "pass"} or "all pass",
        "errors": sorted({f'{s["op"]}: {s["error"]}' for s in failed if s["error"]})[:10],
    }
    print(json.dumps({"run": stamp}))
    if a.trace:
        shutil.move(cfg["out_file"], os.path.join(root, BUILD, f"trace-{a.workload}-{a.seed}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not failed, "attempted": len(attempted), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))


if __name__ == "__main__":
    main()
