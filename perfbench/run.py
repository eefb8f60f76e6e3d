#!/usr/bin/env python3
"""Ingest benchmark: the FAST ingest job and its incremental merge.

    python3 perfbench/run.py --workload fast_all --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload
    python3 perfbench/run.py --self-test                  # generator and check

Builds the engine and the harness from source (sbt, offline; cached in
`.bench_build/` and each build's `target/` until a source file changes),
generates the workload's inputs from the seed, runs the harness
(`perfbench.Main`) in one JVM and prints its result as the last line of
standard output: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. See perfbench/README.md.
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout
import gen  # noqa: E402

WORKLOADS = ("fast_all", "viaf_heavy", "upsert_batches")
RUN_LIMIT_S = 170       # a run must end within 180 s,
BUILD_LIMIT_S = 700     # and the first one, which also builds, within 900 s
HEAP = "3g"

# What the harness compiles from: the engine's sources and build, and the
# benchmark's own.
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait until it has ended. Returns (returncode or None on timeout, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = p.communicate(timeout=max(1, timeout))
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def tree_hash(rels, h):
    """Feed every file under `rels` (paths relative to the checkout) into
    the hash `h`, path and bytes, in a fixed order."""
    for rel in rels:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def source_stamp():
    return tree_hash(SOURCES, hashlib.sha256(ROOT.encode()))


def build():
    """Compile engine and harness unless already built from these sources;
    returns {"stamp", "classpath", "jvm"}."""
    missing = [p for p in ("build.sbt", "src/main/scala", "perfbench/build.sbt")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"not a checkout of the engine: missing {', '.join(missing)}")
        sys.exit(2)
    stamp = source_stamp()
    info_path = os.path.join(BUILD, "launch.json")
    if os.path.exists(info_path):
        with open(info_path) as f:
            info = json.load(f)
        if info.get("stamp") == stamp:
            return info
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx3g")
    log("building engine and harness (sbt) ...")
    t0 = time.time()
    build_log = os.path.join(BUILD, "build.log")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(build_log, "w") as out:
        rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData",
                           f"-J-Djava.io.tmpdir={tmp}", "launchFile"],
                          BUILD_LIMIT_S, cwd=HERE, env=env, stdout=out,
                          stderr=subprocess.STDOUT)
    if rc != 0:
        with open(build_log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        log("build failed" if rc is not None else "build timed out")
        sys.exit(1)
    with open(os.path.join(HERE, "target", "launch.txt")) as f:
        lines = f.read().splitlines()
    info = {"stamp": stamp, "classpath": lines[0],
            "jvm": [o for o in lines[1:] if o and not o.startswith("-Xmx")]}
    with open(info_path, "w") as f:
        json.dump(info, f)
    log(f"built in {time.time() - t0:.0f} s")
    return info


def harness(info, args, work, log_name, timeout):
    """Run perfbench.Main; returns its stdout lines, or exits on failure."""
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + info["jvm"] + ["-cp", info["classpath"], "perfbench.Main"] + args)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, log_name)
    with open(log_path, "w") as err:
        rc, out = run_group(cmd, timeout, cwd=work, env=env,
                            stdout=subprocess.PIPE, stderr=err)
    with open(log_path) as f:
        notes = [l for l in f if l.startswith("[perfbench]")]
    sys.stderr.write("".join(notes))
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        log(f"harness {'failed' if rc is not None else 'timed out'}; log: {log_path}")
        sys.exit(1)
    return out.decode().splitlines()


def digest_key():
    """Output digests are remembered per version of the benchmark's own
    files (generator, harness, check), not per build of the program: the
    job's output is deterministic, so a change to the program must give
    the same digest at a seed as the program before it."""
    return tree_hash(["perfbench/gen.py", "perfbench/src"], hashlib.sha256())[:16]


def cores():
    return len(os.sched_getaffinity(0))


def run_workload(info, workload, seed, seconds, trace, deadline):
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        gen.generate(workload, seed, os.path.join(work, "in"))
        args = ["--workload", workload, "--input", os.path.join(work, "in"),
                "--work", os.path.join(work, "run"), "--seconds", str(seconds),
                "--trace", str(trace), "--cores", str(cores()),
                "--digest-file", os.path.join(BUILD, "digests", digest_key(),
                                              f"{workload}-{seed}.txt")]
        if trace:
            args += ["--spans-file", os.path.join(BUILD, "traces", f"{workload}-seed{seed}.jsonl")]
        lines = harness(info, args, work, f"{workload}-seed{seed}-trace{trace}.log",
                        deadline - time.time())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log(f"malformed result: {lines[-1]}")
        sys.exit(1)
    return result


def self_test(info):
    """The generator is deterministic, and the output check rejects a
    table with one row dropped, one label changed or one altLabel dropped."""
    base = os.path.join(BUILD, "work", f"self-test-{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    try:
        for w in WORKLOADS:
            a, b, c = (os.path.join(base, w, x) for x in "abc")
            gen.generate(w, 7, a)
            gen.generate(w, 7, b)
            gen.generate(w, 8, c)
            same, other = gen.digest_dir(a), gen.digest_dir(b)
            if same != other or same == gen.digest_dir(c):
                log(f"generator for {w} is not a function of its seed")
                return 1
            log(f"self-test: {w} inputs byte-identical at one seed, differ across seeds")
        lines = harness(info, ["--workload", "fast_all",
                               "--input", os.path.join(base, "fast_all", "a"),
                               "--work", os.path.join(base, "run"),
                               "--cores", str(cores()), "--self-test", "1"],
                        base, "self-test.log", RUN_LIMIT_S)
        print(lines[-1])
        return 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    info = build()
    if a.self_test:
        sys.exit(self_test(info))
    if a.workload != "all":
        result = run_workload(info, a.workload, a.seed, a.seconds, a.trace,
                              time.time() + RUN_LIMIT_S)
        print(json.dumps(result))
        return
    results = {}
    for w in WORKLOADS:
        results[w] = run_workload(info, w, a.seed, a.seconds, a.trace,
                                  time.time() + RUN_LIMIT_S)
        for name, m in results[w]["metrics"].items():
            print(f"{w:15s} {name:45s} {m['value']:14.6g} {m['unit']}")
        print(f"{w:15s} {'failed/attempted':45s} "
              f"{results[w]['failed']:>8d}/{results[w]['attempted']}")
    print(json.dumps(results))


if __name__ == "__main__":
    main()
