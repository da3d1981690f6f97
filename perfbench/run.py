#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ref_file --seed 1 --seconds 16 --trace 0

Run from the repository root. The library and the harness are built from
source with sbt (the build in perfbench/ depends on the root project) on
the first run and again whenever a digest of their sources and build files
changes; the classpath is cached under .bench_build/ against that digest.
Each run gets a fresh directory under .bench_build/runs/ for its fixtures
and Spark scratch space, removed when the run ends; the run record (and,
traced, the spans) are kept under .bench_build/records/.

With --trace 1 on ref_file, this script also times a numpy replica of the
reference `to_frame` over the same fixture (ref.numpy_frame_s).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import struct
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(WORK, "launch.txt")
# The benchmark JVM's time limit. A run that does not build must end in
# 180 s; one that builds gets BUILD_LIMIT_S more.
RUN_LIMIT_S = 160
BUILD_LIMIT_S = 700
WORKLOADS = ("ref_file", "fleet")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    return env


def source_digest():
    """Digest of everything the benchmark JVM is built from: the library's
    and the harness's sources and build definitions."""
    h = hashlib.sha256()
    for base in ("", "perfbench"):
        top = os.path.join(ROOT, base)
        paths = [os.path.join(top, "build.sbt")]
        paths += sorted(os.path.join(d, f) for d, _, fs in os.walk(os.path.join(top, "src", "main")) for f in fs)
        # build definition: project/*.sbt, *.scala, build.properties (not its target/)
        proj = os.path.join(top, "project")
        paths += sorted(os.path.join(proj, f) for f in os.listdir(proj)
                        if os.path.isfile(os.path.join(proj, f))) if os.path.isdir(proj) else []
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile library + harness whenever their sources changed since the
    last build in this checkout. Returns (digest, classpath, JVM options)."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("library sources (build.sbt, src/main/scala) not found next to perfbench/")
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        stamp = LAUNCH + ".digest"
        current = os.path.isfile(LAUNCH) and os.path.isfile(stamp) and open(stamp).read() == digest
        if not current:
            for stale in (LAUNCH, stamp):
                if os.path.exists(stale):
                    os.remove(stale)
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dperfbench.launch={LAUNCH}", "benchLaunch"],
                cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                text=True, timeout=BUILD_LIMIT_S)
            if proc.returncode != 0 or not os.path.isfile(LAUNCH):
                sys.stderr.write("\n".join(proc.stdout.splitlines()[-40:]) + "\n")
                fail(f"build failed (sbt exit {proc.returncode})")
            with open(stamp, "w") as f:
                f.write(digest)
        with open(LAUNCH) as f:
            lines = f.read().splitlines()
    return digest, lines[0], lines[1:]


def commit_id(digest):
    """The git commit, or the source digest when not in a git checkout."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-sha256:" + digest[:16]


def numpy_frame_s(path, reps=5):
    """Median time of a numpy replica of the reference `to_frame` over every
    archive: read the file, frombuffer('>u4,>f8'), drop zero timestamps,
    sort each archive, build the frame. Returns (seconds, rows)."""
    import numpy as np
    import pandas as pd
    point = np.dtype([("timestamp", ">u4"), ("value", ">f8")])
    times, rows = [], 0
    for _ in range(reps):
        t0 = time.perf_counter()
        with open(path, "rb") as f:
            raw = f.read()
        count = struct.unpack(">IIfI", raw[:16])[3]
        rows = 0
        for i in range(count):
            offset, _spp, points = struct.unpack(">III", raw[16 + 12 * i:28 + 12 * i])
            a = np.frombuffer(raw, dtype=point, count=points, offset=offset)
            a = a[a["timestamp"] != 0]
            a = a[np.argsort(a["timestamp"], kind="stable")]
            frame = pd.DataFrame({
                "timestamp": pd.to_datetime(a["timestamp"].astype("int64"), unit="s"),
                "value": a["value"].astype("float64"),
            })
            rows += len(frame)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    digest, classpath, jvm_options = build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", tag)
    records = os.path.join(WORK, "records")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(records, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           *jvm_options, "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--run-dir", run_dir, "--commit", commit_id(digest),
           "--benchmark", os.path.join(ROOT, "BENCHMARK.json")]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run exceeded {RUN_LIMIT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"benchmark JVM failed (exit {proc.returncode})")
    result = json.loads(lines[-1])

    if args.trace == 1:
        value = 0.0
        if args.workload == "ref_file":
            fixture = os.path.join(run_dir, "fixture-3", "graft_bench_ref.wsp")
            value, rows = numpy_frame_s(fixture)
            if rows != 3925070:
                result["correct"] = False
                print(f"numpy replica read {rows} rows, expected 3925070", file=sys.stderr)
        result["metrics"]["ref.numpy_frame_s"] = {"value": value, "unit": "s"}

    record_path = os.path.join(run_dir, "record.json")
    if args.trace == 1 and os.path.exists(record_path):
        with open(record_path) as f:
            record = json.load(f)
        record["per_layer"]["ref.numpy_frame_s"] = result["metrics"]["ref.numpy_frame_s"]["value"]
        record["correct"] = result["correct"]
        with open(record_path, "w") as f:
            json.dump(record, f)
    for name in ("record.json", "spans.jsonl"):
        src = os.path.join(run_dir, name)
        if os.path.exists(src):
            shutil.copy(src, os.path.join(records, f"{tag}.{name}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(f"record: {os.path.relpath(os.path.join(records, tag + '.record.json'), ROOT)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
