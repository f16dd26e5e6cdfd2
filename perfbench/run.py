#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload mr_corpus --seed 1 --seconds 20 --trace 0

Builds the harness and the program under test from source whenever the
tree differs from the one built last (sbt, offline), then for one run:
  * takes a CPU and a disk probe (the "weather" bracket, env.*),
  * starts one fresh JVM in an emptied run directory, which sets the
    workload up (setup_s: process start to the first timed item) and
    then runs the timed items; a traced run first starts one untraced
    one-pass JVM on the same seed, the baseline for trace.overhead_s,
  * takes the probes again and writes a run record under
    .bench_build/records/.
The last line of stdout is one JSON object: correct, attempted, failed
and the metrics BENCHMARK.json lists (end_to_end with --trace 0,
per_layer with --trace 1). Exits non-zero, printing no result, when
the build or the run fails.

`--record-expected` runs the fixture workloads once and rewrites
perfbench/expected_sf0.1.tsv from the answers seen; use it only on a
tree whose answers `tools/check.py` passes.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
FIXTURE = os.path.join(HERE, "fixture", "sf0.1")
EXPECTED = os.path.join(HERE, "expected_sf0.1.tsv")
WORKLOADS = ("mr_corpus", "batch_mix", "stream_gates")
BUILD_TIMEOUT = 840
RUN_BUDGET = 170  # seconds for every JVM of one run together
# Appended to the root build's javaOptions; the last -Xmx wins. The heap
# is fixed and pre-touched because a heap that grows on demand made
# VmHWM (peak_rss_mb) and wall_s follow G1's sizing choices, which
# differ from run to run (quartile spread 0.14-0.16 against <= 0.01).
JAVA_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every file the build reads, so an edited tree rebuilds."""
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, subdirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compiles the program and the harness unless the tree is the one
    built last; returns the build's fingerprint, classpath and the root
    build's JVM options."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("program source (src/main/scala/graft) not found")
    os.makedirs(BUILD, exist_ok=True)
    state_file = os.path.join(BUILD, "build.json")
    fp = fingerprint()
    try:
        with open(state_file) as f:
            state = json.load(f)
        if state["fingerprint"] == fp:
            return state
    except (OSError, ValueError, KeyError):
        pass
    # the compiled classes are about to change: forget the last build
    # first, so a failed build is never taken for a finished one
    if os.path.exists(state_file):
        os.remove(state_file)
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's own global state goes inside the checkout too
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile) ...")
    t0 = time.monotonic()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "benchRuntime"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT)
    except (OSError, subprocess.TimeoutExpired) as e:
        raise BenchError(f"build failed: {e}")
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(p.stdout + p.stderr)
    if p.returncode != 0:
        raise BenchError(f"build failed (exit {p.returncode}), see .bench_build/build.log")
    with open(os.path.join(HERE, "target", "bench-runtime.txt")) as f:
        lines = f.read().splitlines()
    state = {"fingerprint": fp, "classpath": lines[0], "java_options": lines[1:]}
    with open(state_file, "w") as f:
        json.dump(state, f, indent=1)
    log(f"built in {time.monotonic() - t0:.0f} s")
    return state


def cpu_probe():
    """Seconds for a fixed pure-Python loop: box CPU health."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t0


def disk_probe(d):
    """MB/s writing and syncing 32 MiB in the run's directory."""
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, "disk_probe.bin")
    block = b"\0" * (1 << 20)
    t0 = time.perf_counter()
    with open(p, "wb") as f:
        for _ in range(32):
            f.write(block)
        f.flush()
        os.fsync(f.fileno())
    dt = time.perf_counter() - t0
    os.remove(p)
    return 32 / dt


def fresh(d):
    """Empties the run directory: no staged input, catalog or checkpoint
    outlives the JVM that wrote it."""
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))


def run_jvm(built, run_dir, args, timeout):
    """Runs one harness JVM; returns (setup seconds, result dict or None)."""
    fresh(run_dir)
    cmd = ["java"] + built["java_options"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={run_dir}/tmp",
        "-cp", built["classpath"], "perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    setup_s, result = None, None
    with open(os.path.join(BUILD, "jvm.log"), "a") as err:
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=err, text=True)
        killer = threading.Timer(max(timeout, 1), p.kill)
        killer.start()
        try:
            for line in p.stdout:
                if line.startswith("PERFBENCH_SETUP_DONE"):
                    setup_s = time.monotonic() - t0
                elif line.startswith("PERFBENCH_RESULT "):
                    result = json.loads(line[len("PERFBENCH_RESULT "):])
            p.wait()
        finally:
            killer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or setup_s is None:
        raise BenchError(f"JVM exited with {p.returncode}, see .bench_build/jvm.log")
    return setup_s, result


def run(opts, spec):
    built = build()
    run_dir = os.path.join(BUILD, "run", opts.workload)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "jvm.log"), "w"):
        pass
    before = {"cpu_s": cpu_probe(), "disk_mbps": disk_probe(BUILD)}
    common = ["--workload", opts.workload, "--seed", str(opts.seed),
              "--run-dir", run_dir, "--fixture", FIXTURE, "--expected", EXPECTED]
    extra = ["--seconds", str(opts.seconds)]
    trace_out = os.path.join(BUILD, "traces", f"{opts.workload}-seed{opts.seed}.json")
    t_start = time.monotonic()
    base = None
    if opts.trace:
        extra += ["--trace-out", trace_out]
        # the untraced baseline for trace.overhead_s: same build, same
        # seed, one pass
        _, base = run_jvm(built, run_dir, common + ["--seconds", "0"], RUN_BUDGET)
        if base is None:
            raise BenchError("the harness printed no result, see .bench_build/jvm.log")
    setup_s, result = run_jvm(built, run_dir, common + extra,
                              RUN_BUDGET - (time.monotonic() - t_start))
    if result is None:
        raise BenchError("the harness printed no result, see .bench_build/jvm.log")
    after = {"cpu_s": cpu_probe(), "disk_mbps": disk_probe(BUILD)}

    values = {
        "setup_s": setup_s,
        "wall_s": result["wall_s"],
        "item_geomean_s": result["item_geomean_s"],
        "peak_rss_mb": result["peak_rss_mb"],
    }
    if opts.trace:
        values.update(result["layers"])
        values["env.calib_cpu_s"] = (before["cpu_s"] + after["cpu_s"]) / 2
        values["env.disk_mbps"] = (before["disk_mbps"] + after["disk_mbps"]) / 2
        values["trace.wall_s"] = result["wall_s"]
        values["trace.overhead_s"] = result["wall_s"] - base["wall_s"]
    wanted = spec["per_layer"] if opts.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise BenchError(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    record = {
        "workload": opts.workload, "seed": opts.seed, "seconds": opts.seconds,
        "trace": opts.trace, "cpus": os.cpu_count(), "commit": commit(),
        "build": built["fingerprint"],
        "items": list(result["items"]), "setup_s": setup_s,
        "env_before": before, "env_after": after, "result": result,
        "untraced_result": base,
    }
    rec_dir = os.path.join(BUILD, "records")
    os.makedirs(rec_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(rec_dir, f"{opts.workload}-{stamp}-seed{opts.seed}"
                                    f"-trace{opts.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    # the baseline's answers are checked too
    runs = [result] + ([base] if base else [])
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    for f in (f for r in runs for f in r["failures"]):
        log(f"FAIL {f}")
    log(f"env before {before} after {after}; passes {result['passes']}")
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def commit():
    """The checked-out commit, when the tree is a git repository."""
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def record_expected():
    """Rewrites the expected answers from one pass of each fixture workload."""
    built = build()
    lines = []
    for wl in ("batch_mix", "stream_gates"):
        out = os.path.join(BUILD, f"expected-{wl}.tsv")
        run_jvm(built, os.path.join(BUILD, "run", wl),
                ["--workload", wl, "--seed", "0", "--run-dir", os.path.join(BUILD, "run", wl),
                 "--fixture", FIXTURE, "--expected", EXPECTED, "--seconds", "0",
                 "--record", out], 600)
        with open(out) as f:
            lines += f.read().splitlines()
    with open(EXPECTED, "w") as f:
        f.write("# query\trows\tcanonical hash (perfbench/src/main/scala/perfbench/Canon.scala)\n")
        f.write("\n".join(lines) + "\n")
    log(f"wrote {len(lines)} answers to {EXPECTED}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    opts = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        if opts.record_expected:
            record_expected()
            return 0
        if opts.workload is None:
            ap.error("--workload is required")
        if opts.seconds is None:
            opts.seconds = spec["run_seconds"]
        run(opts, spec)
        return 0
    except (BenchError, OSError, KeyError, ValueError) as e:
        log(f"error: {e}")
        return 1


if __name__ == "__main__":
    sys.exit(main())
