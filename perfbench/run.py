#!/usr/bin/env python3
"""Run one perfbench workload and print its metrics.

    python3 perfbench/run.py --workload atlas_x15_zarr --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run builds
the program (src/main) and the harness (perfbench/scala) with scalac and
javac against the Spark jars into .bench_build/; later runs reuse the build
while the sources are unchanged. Each run starts one JVM at local[<cores>]
and works in its own directory under .bench_work/, removed at the end.

Standard output ends with one JSON line: correct, attempted, failed and
the metrics (end-to-end with --trace 0, per-layer with --trace 1). The
lines before it print every metric with its unit, the run's ambient
context (load, CPU steal, free disk) and, in a traced run, the self time
of every span name.
"""

import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("atlas_x15_zarr", "atlas_x2_readback", "doc_dedup_mix")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_DIR = os.path.join(ROOT, ".bench_work")
JVM_DEADLINE_S = 170
# a fixed, pre-touched heap: peak RSS is then the heap plus everything the
# program holds outside it, not an artefact of when G1 chose to grow
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources(rel):
    out = []
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, rel)):
        out += [os.path.join(dirpath, f) for f in files]
    return sorted(out)


def jars():
    """The Spark jars the program builds and runs against: $SPARK_JARS, else
    $SPARK_HOME/jars, else the `unmanagedBase` directory build.sbt names."""
    d = os.environ.get("SPARK_JARS")
    if not d and os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not d and os.path.exists(os.path.join(ROOT, "build.sbt")):
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        d = m and m.group(1)
    js = sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar")) if d and os.path.isdir(d) else []
    if not js:
        raise SystemExit(f"no Spark jars found (directory: {d})")
    return js


def digest(files, extra=()):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    for e in extra:
        h.update(e.encode())
    return h.hexdigest()[:16]


def compile_once(out, steps, after=None):
    """Run the build `steps` into `out` unless an earlier run finished them."""
    if os.path.exists(os.path.join(out, "done")):
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    for cmd in steps:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            log(r.stdout[-4000:])
            raise SystemExit(f"build step failed: {' '.join(cmd[:6])} ...")
    if after:
        after()
    open(os.path.join(out, "done"), "w").close()
    log(f"built {os.path.basename(out)} in {time.time() - t0:.1f} s")


def build():
    """Compile the program (src/main) and the harness, each once per
    source state; returns the run classpath."""
    main_src = sources("src/main/scala") + sources("src/main/java")
    java_src = [f for f in main_src if f.endswith(".java")]
    resources = sources("src/main/resources")
    harness_src = [f for f in sources("perfbench/scala") if f.endswith(".scala")]
    if not main_src or not harness_src:
        raise SystemExit("program sources (src/main) or harness sources (perfbench/scala) missing")
    cp = ":".join(jars())
    names = [os.path.basename(j) for j in jars()]
    program_key = digest(main_src + resources, names)
    program = os.path.join(BUILD_DIR, "program-" + program_key)
    harness = os.path.join(BUILD_DIR, "harness-" + digest(harness_src, names + [program_key]))
    scalac = ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn"]

    def copy_resources():
        res_root = os.path.join(ROOT, "src/main/resources")
        for f in resources:
            dst = os.path.join(program, os.path.relpath(f, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy(f, dst)

    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        compile_once(program, [scalac + ["-d", program, "-classpath", cp] + main_src]
                     + ([["javac", "-nowarn", "-d", program, "-cp", program + ":" + cp] + java_src]
                        if java_src else []), copy_resources)
        compile_once(harness, [scalac + ["-d", harness, "-classpath", program + ":" + cp] + harness_src])
    return harness + ":" + program + ":" + cp


def ambient():
    """Load average, the /proc/stat CPU counters (steal comes from the
    difference of two samples) and free disk."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"load1": load1, "cpu": cpu, "disk_free_gb": shutil.disk_usage(ROOT).free / 1e9}


def steal_pct(a, b):
    d = [y - x for x, y in zip(a["cpu"], b["cpu"])]
    total = sum(d[:8]) or 1
    return 100.0 * (d[7] if len(d) > 7 else 0) / total


def run_jvm(cp, args, work, raw_path):
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:G1HeapRegionSize=32m",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--work", work, "--out", raw_path])
    logf = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT)
    timer = threading.Timer(JVM_DEADLINE_S, proc.kill)
    timer.start()
    try:
        _pid, status, usage = os.wait4(proc.pid, 0)
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    finally:
        timer.cancel()
        logf.close()
    proc.returncode = os.waitstatus_to_exitcode(status)
    return proc.returncode, usage.ru_maxrss / 1024.0  # ru_maxrss is KiB


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    metrics.check_names(metrics.END_TO_END, metrics.PER_LAYER)
    # a terminated runner still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    os.makedirs(WORK_DIR, exist_ok=True)
    for d in os.listdir(WORK_DIR):  # left by a runner that was killed
        if not os.path.exists(f"/proc/{d.rsplit('-', 1)[-1]}"):
            shutil.rmtree(os.path.join(WORK_DIR, d), ignore_errors=True)
    work = os.path.join(WORK_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        before = ambient()
        raw_path = os.path.join(work, "raw.json")
        code, rss_mb = run_jvm(cp, args, work, raw_path)
        after = ambient()
        if code != 0 or not os.path.exists(raw_path):
            with open(os.path.join(work, "jvm.log"), errors="replace") as f:
                log(f.read()[-6000:])
            raise SystemExit(f"benchmark JVM exited with {code}")
        with open(raw_path) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct, attempted, failed = metrics.outcome(raw)
    if args.trace:
        values, units = metrics.per_layer(raw), dict(metrics.PER_LAYER)
        print("self time by span (s):")
        for name, n, self_s in metrics.span_report(raw["spans"]):
            print(f"  {name:<40} {n:>7} spans {self_s:12.4f}")
        if values["trace.layer_pass_s"]:
            print(f"x15 layer pass over one slab: layer self times sum to "
                  f"{values['trace.layer_pass_s']:.4f} s; untraced spark.task_run_s per slab op "
                  f"{metrics.task_run_per_op(raw, 'x15_write'):.4f} s")
    else:
        values, units = metrics.end_to_end(raw, rss_mb), dict(metrics.END_TO_END)
    print(f"context: load1 {before['load1']:.2f} -> {after['load1']:.2f}, "
          f"cpu steal {steal_pct(before, after):.2f}%, disk free {after['disk_free_gb']:.1f} GB, "
          f"cores {raw['cores']}, passes {len(raw['passes'])}")
    for kind, phase, n, med in metrics.op_report(raw):
        print(f"  op {kind:<36} {phase:<7} {n:>4} x, median {med:9.4f} s")
    for name, v in values.items():
        print(f"  {name:<52} {v:16.6f} {units[name]}")
    for o in raw["ops"]:
        if not (o["ok"] and o["correct"]):
            print(f"  op {o['kind']} #{o['id']}: {'wrong' if o['ok'] else 'failed'}: {o['error'][:300]}")
    result = {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
