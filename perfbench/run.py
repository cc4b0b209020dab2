#!/usr/bin/env python3
"""Repository benchmark: problem_lookup and continual_ingest.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-check

The first call in a checkout builds the engine and the benchmark from
source with sbt (perfbench/build.sbt depends on the root build). Each call
then starts one JVM that runs one workload with one closed-loop client on
local[<nproc>], checks every output and prints a summary; the last line of
standard output is the result JSON. See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["problem_lookup", "continual_ingest"]
HEAP = "4g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_digest():
    """Digest of every input of the build, so a stale build is redone."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, timeout, out, err=subprocess.STDOUT):
    """Runs cmd in its own process group; kills the group on timeout (and
    re-raises) and always waits for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=err,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Builds engine + benchmark if the sources changed; returns the
    runtime classpath."""
    stamp = os.path.join(BUILD, "build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=/root/.sbt/repositories "
                   "-Dsbt.offline=true -Xmx2g")
    blog = os.path.join(BUILD, "build.log")
    log(f"building engine and benchmark with sbt (log: {blog})")
    t0 = time.time()
    with open(blog, "wb") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.autostart=false", "compile",
                          "export Runtime/fullClasspath"],
                         HERE, env, BUILD_TIMEOUT_S, out)
    with open(blog, encoding="utf-8", errors="replace") as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if "perfbench" in l and l.count(":") > 1
          and not l.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (sbt exit {rc})")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           capture_output=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cp, workload, seed, seconds, trace, tiny=False):
    """One workload run in a fresh JVM; returns (result dict or None,
    stdout lines)."""
    tag = f"{workload}-s{seed}-t{trace}" + ("-tiny" if tiny else "")
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    artifact = os.path.join(BUILD, "results", f"{tag}.json")
    # every file the JVM writes stays in the work directory
    # A fixed heap and the stop-the-world parallel collector: no heap
    # resizing and no concurrent GC threads competing with the 4 task
    # threads, which made same-seed runs differ by up to a fifth.
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC",
            "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              f"-Dspark.local.dir={work}/spark-local",
              f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              f"-Djava.io.tmpdir={work}/tmp",
              "-cp", cp, "perfbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--work", work,
              "--master", f"local[{nproc()}]", "--tiny", "1" if tiny else "0",
              "--artifact", artifact])
    env = dict(os.environ, PERFBENCH_GIT_COMMIT=git_commit())
    env.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    out_path = os.path.join(BUILD, "results", f"{tag}.stdout")
    err_path = os.path.join(BUILD, "results", f"{tag}.stderr")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    try:
        with open(out_path, "wb") as out, open(err_path, "wb") as err:
            rc = run_bounded(cmd, work, env, JVM_TIMEOUT_S, out, err)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(out_path, encoding="utf-8", errors="replace") as f:
        lines = f.read().replace("\x00", "").splitlines()
    res = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if rc != 0 or not res:
        with open(err_path, encoding="utf-8", errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        log(f"{workload}: JVM exit {rc}, result line {'found' if res else 'missing'}")
        return None, lines
    return json.loads(res[-1][len("PERFBENCH_RESULT "):]), \
        [l for l in lines if not l.startswith("PERFBENCH_RESULT ")]


def self_check(cp):
    """All workloads at tiny sizes, untraced and traced: every named metric
    present and every output check passing."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: [m["name"] for m in spec["end_to_end"]],
            1: [m["name"] for m in spec["per_layer"]]}
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            res, lines = run_jvm(cp, w, 1, 1, trace, tiny=True)
            print("\n".join(lines))
            if res is None:
                print(f"SELF-CHECK FAIL {w} trace={trace}: no result")
                ok = False
                continue
            missing = [m for m in want[trace] if m not in res["metrics"]]
            bad = [m for m in want[trace] if m in res["metrics"]
                   and res["metrics"][m]["value"] is None]
            good = res["correct"] and res["failed"] == 0 and not missing and not bad
            ok &= good
            print(f"SELF-CHECK {'ok  ' if good else 'FAIL'} {w} trace={trace}: "
                  f"correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} missing={missing} null={bad}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    if not a.self_check and (a.workload is None or a.seed is None
                             or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"not a checkout of the engine: {need} is missing")
    cp = build()
    if a.self_check:
        ok = self_check(cp)
        print("SELF-CHECK " + ("PASSED" if ok else "FAILED"))
        sys.exit(0 if ok else 1)
    res, lines = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace)
    print("\n".join(lines))
    if res is None:
        sys.exit(1)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
