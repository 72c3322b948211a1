#!/usr/bin/env python3
"""Forecast-cycle benchmark of the graft engine.

    python3 perfbench/run.py --workload landfall_scored --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt into .bench_build/ (later runs reuse the build while
the sources are unchanged), writes the workload's inputs for the seed,
then measures one fresh JVM. Every metric is printed as
"metric <name> <value> <unit>"; the last line is the JSON result.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

WORKLOADS = ("landfall_scored", "curation_daily")
PINNED = "perfbench/pinned.json"
BUILD = ".bench_build"
RUN_LIMIT_S = 170  # whole run, build excluded
JVM_OPTS = ["-Xmx3g", "-Xss16m", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.abspath(os.path.join(BUILD, 'tmp'))}"]


def fail(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_stamp():
    h = hashlib.sha256()
    roots = ["src/main/scala", "perfbench/src", "perfbench/build.sbt",
             "perfbench/project/build.properties", "perfbench/.jvmopts"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath of an identical build exists."""
    stamp = sources_stamp()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "sbt-target", "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd="perfbench", stdout=out, timeout=850)
    if rc != 0:
        fail(f"build failed (exit {rc}), see {log}", 1)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    # inputs written by an earlier build's generators are stale
    subprocess.run(["rm", "-rf", os.path.join(BUILD, "inputs")], check=True)
    with open(cp_file) as cf:
        return cf.read().strip()


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def generate(cp, workload, seed):
    d = os.path.join(BUILD, "inputs", f"{workload}-{seed}")
    # generation is cached per seed; a half-written directory is redone
    if os.path.isdir(d) and not os.path.exists(os.path.join(d, "DONE")):
        subprocess.run(["rm", "-rf", d], check=True)
    if not os.path.exists(os.path.join(d, "DONE")):
        rc = run_child(["java"] + JVM_OPTS + ["-cp", cp, "perfbench.Generate", "--workload", workload,
                        "--seed", str(seed), "--out", d], timeout=120,
                       stdout=sys.stderr, stderr=sys.stderr)
        if rc != 0:
            fail(f"input generation failed (exit {rc})", 1)
    return d


def cpu_times():
    with open("/proc/stat") as fh:
        f = fh.readline().split()[1:]
    return [int(x) for x in f]


def other_jvms():
    n = 0
    me = os.getpid()
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv0 = fh.read().split(b"\0")[0]
        except OSError:
            continue
        if int(pid) != me and argv0.endswith(b"java"):
            n += 1
    return n


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala/graft") or not os.path.isfile("perfbench/build.sbt"):
        fail("run from the root of a checkout of the engine (src/main/scala/graft not found)")

    cp = build()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    t_start = time.monotonic()
    inputs = generate(cp, a.workload, a.seed)
    work = os.path.abspath(os.path.join(BUILD, "work", a.workload))
    subprocess.run(["rm", "-rf", work], check=True)
    os.makedirs(work)
    pinned = {}
    if os.path.exists(PINNED):
        with open(PINNED) as fh:
            pinned = json.load(fh)
    digest = pinned.get("digests", {}).get(a.workload) if pinned.get("seed") == a.seed else None

    meta = {"nproc": os.cpu_count(), "loadavg_start": os.getloadavg()[0], "other_jvms": other_jvms()}
    cpu0 = cpu_times()
    local = os.path.abspath(os.path.join(BUILD, "spark-local"))
    cmd = (["java"] + JVM_OPTS + [
        f"-Dspark.local.dir={local}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dlog4j2.level=warn", "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
        "--add-opens=java.base/java.nio=ALL-UNNAMED", "--add-opens=java.base/java.lang=ALL-UNNAMED",
        "--add-opens=java.base/java.util=ALL-UNNAMED",
        "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
        "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--inputs", os.path.abspath(inputs), "--work", work]
        + (["--pinned", digest] if digest else []))
    out_path = os.path.join(work, "stdout.txt")
    err_path = os.path.join(work, "stderr.txt")
    budget = RUN_LIMIT_S - (time.monotonic() - t_start)
    with open(out_path, "w") as out, open(err_path, "w") as err:
        rc = run_child(cmd, timeout=max(10, budget), stdout=out, stderr=err)
    cpu1 = cpu_times()
    d = [b - a_ for a_, b in zip(cpu0, cpu1)]
    meta.update({"loadavg_end": os.getloadavg()[0],
                 "steal_pct": round(100.0 * (d[7] if len(d) > 7 else 0) / max(1, sum(d)), 2),
                 "jvm_exit": rc, "wall_s": round(time.monotonic() - t_start, 3)})

    with open(out_path) as fh:
        lines = fh.read().splitlines()
    result = None
    for line in lines:
        if line.startswith('{"correct"'):
            result = line
        elif line.startswith(("[perfbench]", "metric ")):
            print(line)
    print("[perfbench] run " + json.dumps(meta))
    if rc != 0 or result is None:
        with open(err_path) as fh:
            tail = fh.read().splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        sys.exit(1)
    print(result)


if __name__ == "__main__":
    main()
