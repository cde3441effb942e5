#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload nemsis_load --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The first run builds the program together
with the benchmark (perfbench/build.sbt, sbt offline) and caches the class
path under the build directory ($CARGO_TARGET_DIR, default .bench_build);
later runs reuse it until a source file changes. The JVM writes a run record
(<build>/runs/); this script adds the host's CPU steal and load average to
it, and prints the metrics BENCHMARK.json lists as the last line of
standard output.
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

WORKLOADS = ("nemsis_load", "corpus_curate")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    h = hashlib.sha256()
    tops = ["src/main", "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


CHILD = None


def stop_child():
    """Kill the running child's process group and wait for it."""
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()


def on_signal(signum, _frame):
    stop_child()
    sys.exit(128 + signum)


def run_limited(cmd, cwd, env, limit, capture):
    """Run cmd in its own process group; kill the whole group on timeout."""
    global CHILD
    CHILD = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                             stdout=subprocess.PIPE if capture else sys.stderr,
                             stderr=sys.stderr, text=True)
    try:
        out, _ = CHILD.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        stop_child()
        raise
    return CHILD.returncode, out


def spark_jars():
    """The installed Spark's jar directory: $SPARK_HOME/jars, else the jars
    directory beside a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("[perfbench] no Spark installation found (set SPARK_HOME)")


def build(root, build_dir, deadline):
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building the program and the benchmark (sbt, offline)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-Dsbt.server.autostart=false",
            f"-Dperfbench.sparkJars={spark_jars()}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    code, out = run_limited(cmd, os.path.join(root, "perfbench"), env,
                            max(60, deadline - time.time()), capture=True)
    lines = [l for l in out.splitlines() if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"[perfbench] build failed (exit {code})")
    cp = lines[-1].strip()
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cpu_times():
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    return [int(x) for x in fields]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    start = time.time()
    root = os.getcwd()
    for need in ("src/main/scala/graft", "perfbench/build.sbt", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            log(f"no {need} here: run from the root of a checkout of the program")
            return 2
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(root, build_dir, start + BUILD_LIMIT_S)

    run_id = f"{args.workload}_seed{args.seed}_trace{args.trace}"
    work = os.path.join(build_dir, "work", f"{run_id}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record_path = os.path.join(build_dir, "runs", f"{run_id}.json")
    trace_path = os.path.join(build_dir, "traces", f"{run_id}.json")
    os.makedirs(os.path.dirname(record_path), exist_ok=True)
    cores = str(max(1, min(4, len(os.sched_getaffinity(0)))))
    # The metrics are process CPU of one cold JVM. C1 only: C2's background
    # compiles would double that CPU without shortening a cold cycle. Serial
    # GC: collection work runs on the one thread that allocates, not on
    # concurrent threads whose share of the CPU varies from run to run.
    cmd = (["java", "-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp",
              "-Dderby.system.durability=test",
              f"-Dderby.stream.error.file={work}/derby.log",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cores", cores, "--record", record_path,
              "--trace-file", trace_path])
    if os.path.exists(record_path):
        os.remove(record_path)
    stat0, load0 = cpu_times(), os.getloadavg()
    try:
        code, _ = run_limited(cmd, root, dict(os.environ), RUN_LIMIT_S, capture=False)
    except subprocess.TimeoutExpired:
        log("run exceeded its time limit")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stat1, load1 = cpu_times(), os.getloadavg()
    if code != 0 or not os.path.exists(record_path):
        log(f"benchmark JVM exited with {code}")
        return 1
    with open(record_path) as f:
        record = json.load(f)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.trace:
        # a layer the workload never calls did no work: its counters are 0
        metrics = {m["name"]: {"value": record["per_layer"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        missing = [m["name"] for m in bench["end_to_end"] if m["name"] not in record["end_to_end"]]
        if missing:
            log(f"run reported no {missing}")
            return 1
        metrics = {m["name"]: {"value": record["end_to_end"][m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    result = {"correct": record["correct"], "attempted": record["attempted"],
              "failed": record["failed"], "metrics": metrics}

    d = [b - a for a, b in zip(stat0, stat1)]
    user, steal = d[0] + d[1], d[7] if len(d) > 7 else 0
    host = {"steal_share_of_user": steal / user if user else 0.0,
            "loadavg_1m_start": load0[0], "loadavg_1m_end": load1[0]}
    record.update(host=host)
    with open(record_path, "w") as f:
        json.dump(record, f, indent=1)
    log(f"host: steal/user {host['steal_share_of_user']:.3f}, "
        f"load {load0[0]:.2f} -> {load1[0]:.2f}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
