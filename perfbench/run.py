#!/usr/bin/env python3
"""Run one graft benchmark workload from one seed.

    python3 perfbench/run.py --workload flat_search --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and
the benchmark with sbt (into target/ and perfbench/target/) and records
the runtime classpath under .bench_build/; later runs reuse it while the
sources are unchanged. Each run then starts one JVM in a fresh scratch
directory under .bench_build/runs/, which is removed afterwards, so the
index caches, checkpoints and spark-warehouse a run creates never
outlive it.

The JVM prints one line per metric (name, value, unit, sample count) and,
last, the result object; this script relays that output only when the
run succeeded. The run's report (run record and every metric) and, for
--trace 1, its span file are kept under .bench_build/out/.

    python3 perfbench/run.py --test     # the benchmark's own fast tests
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["flat_search", "ann_search", "upsert_search", "dedup_batch"]
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (the root build.sbt's
# javaOptions carry the same list).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio",
         "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, as paths relative to the root."""
    out = []
    for top in ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/main"]:
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(top)
        for d, dirs, files in os.walk(p):
            dirs.sort()
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(files)]
    return out


def source_hash():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, env=None, stdout=subprocess.PIPE, stderr=None):
    """Run cmd in its own process group; kill the whole group on timeout
    and wait for it, so nothing outlives the call."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    return env


def build(src_hash):
    """Compile graft and the benchmark; return the runtime classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read().strip() == src_hash:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building graft and the benchmark (sbt compile)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as errlog:
        code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                               "compile", "export Runtime/fullClasspath"],
                              BENCH, BUILD_TIMEOUT_S, env=sbt_env(), stderr=errlog)
    if code != 0:
        log(f"build failed (exit {code}); see .bench_build/build.log")
        if out:
            sys.stderr.write(out[-4000:])
        sys.exit(1)
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines)
               if not l.startswith("[") and ".jar" in l), None)
    if cp is None:
        log("build printed no classpath")
        sys.exit(1)
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp, "w") as f:
        f.write(src_hash + "\n")
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run(args):
    src_hash = source_hash()
    cp = build(src_hash)
    out_dir = os.path.join(BUILD, "out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dgraftbench.commit=" + commit(),
            "-Dgraftbench.source=" + src_hash,
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out-dir", out_dir]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    try:
        with open(os.path.join(out_dir, f"{tag}.log"), "w") as errlog:
            code, out = run_group(cmd, run_dir, RUN_TIMEOUT_S, env=env, stderr=errlog)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        log(f"run failed (exit {code}); see .bench_build/out/{tag}.log")
        sys.exit(1)
    lines = out.rstrip("\n").splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        log("run printed no result line")
        sys.exit(1)
    sys.stdout.write(out if out.endswith("\n") else out + "\n")
    sys.stdout.flush()


def test():
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                        BENCH, BUILD_TIMEOUT_S, env=sbt_env(), stdout=None)
    sys.exit(0 if code == 0 else 1)


def main():
    # a SIGTERM unwinds like an exception, so run_group kills and reaps
    # the child process group and the scratch directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--test", action="store_true",
                    help="run the benchmark's own tests and exit")
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no graft sources under {ROOT}; run from the root of a graft checkout")
        sys.exit(2)
    if args.test:
        test()
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    run(args)


if __name__ == "__main__":
    main()
