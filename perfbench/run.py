#!/usr/bin/env python3
"""Build the program and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds with sbt (the
checkout's own build plus perfbench/build.sbt) and records the runtime
classpath; later calls reuse it while the sources are unchanged. The last
line of standard output is the benchmark's JSON result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_TIMEOUT_S = 840
# Flags for steady timings in sub-minute runs (README "Running it"):
JVM_FLAGS = [
    # A fixed, pre-faulted heap on huge pages.
    "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages",
    # C1 only: C2 does not settle within a run. C1's default 48 MB code
    # cache fills with Spark's generated classes and stops the JIT.
    "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
    # The pinning mode of the repo's own Bench and Verify mains
    # (graft.operators.CacheScope.pin).
    "-Dgraft.pin.checkpoint=true",
    # No hsperfdata file in the system temp directory.
    "-XX:-UsePerfData",
]
# Workloads listed in BENCHMARK.json must finish within 180 s; the two
# heavier ingest workloads (run by hand) get longer.
RUN_TIMEOUT_S = {"search_serve": 170, "corpus_curate": 170,
                 "corpus_ingest": 600, "mention_feed": 600}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash(root):
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(root, "project"),
            os.path.join(BENCH_DIR, "src", "main"), os.path.join(BENCH_DIR, "project")]
    files = [os.path.join(root, "build.sbt"), os.path.join(BENCH_DIR, "build.sbt")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; kill the group on timeout
    or when this script is terminated, and wait for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def build(root, build_dir):
    stamp = os.path.join(build_dir, "perfbench.stamp")
    cp_file = os.path.join(build_dir, "perfbench.classpath")
    digest = source_hash(root)
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return cp_file
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dperfbench.classpath={os.path.abspath(cp_file)}", "writeClasspath"]
    with open(os.path.join(build_dir, "build.log"), "w") as log:
        code = run_group(cmd, BUILD_TIMEOUT_S, cwd=BENCH_DIR, env=env,
                         stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.isfile(cp_file):
        with open(os.path.join(build_dir, "build.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {code}); log in {build_dir}/build.log")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp_file


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(RUN_TIMEOUT_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout: the program's sources are missing")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cp_file = build(root, build_dir)
    with open(cp_file) as fh:
        classpath = fh.read().strip()

    work_root = os.path.join(root, ".bench_work")
    work = os.path.join(work_root, f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_FLAGS
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
              f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work])
    out_path = os.path.join(work_root, f"stdout-{os.getpid()}.txt")
    with open(out_path, "w") as out:
        code = run_group(cmd, RUN_TIMEOUT_S[a.workload], cwd=root, stdout=out, stdin=subprocess.DEVNULL)
    with open(out_path) as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    os.remove(out_path)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not lines:
        fail(f"benchmark process ended with {'a timeout' if code is None else f'exit {code}'}")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail("the benchmark process printed no result")
    for l in lines:
        print(l)
    sys.exit(0)


if __name__ == "__main__":
    main()
