#!/usr/bin/env python3
"""Benchmark of the graft engine: the broadcast-rules stream (s1), the keyed
pattern stream (s4) and sweeps of batch queries, each measured end to end and,
in a separate traced run, layer by layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload rules-stream --seed 1 --seconds 10 --trace 0

Workloads: rules-stream, keyed-stream, scan-batch (listed in BENCHMARK.json)
and ladder-batch (runs the same way, but is too slow for the timed suite).

The first run in a checkout compiles the program and the benchmark with sbt
(offline) into the checkout's `target/` directories and caches the classpath
under `.bench_build/`. A batch workload's first run also writes its query set
with `graft.Verify` and checks it with `tools/parity.py` against the DuckDB
oracle; later runs compare digests of their timed results with that output.

Every run ends with one JSON line on stdout: correct, attempted, failed and
the metrics BENCHMARK.json names (end-to-end ones untraced, per-layer ones with
--trace 1). A traced run writes its spans to .bench_build/traces/ and reports
`trace.overhead_pct`, the traced run's headline metric against untraced runs
of the same workload in this checkout (making one first if there is none).
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

WORKLOADS = ("rules-stream", "keyed-stream", "scan-batch", "ladder-batch")
HEAP = "2g"
JVM_TIMEOUT_S = 160
# the generated star-schema tables, one directory per scale factor
DATA_ROOT = os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata"))
# headline metric of each workload, and whether higher is better
HEADLINE = {
    "rules-stream": ("lat_p50_ms", False),
    "keyed-stream": ("throughput_per_s", True),
    "scan-batch": ("lat_p50_ms", False),
    "ladder-batch": ("lat_p50_ms", False),
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# offline, from the resolvers in ~/.sbt/repositories and their local caches
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
            "-Dsbt.server.autostart=false -Xmx2g")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def run_proc(cmd, cwd, timeout, env=None, stdout=None):
    """Runs cmd in its own process group; kills the whole group on timeout
    and always waits for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout or subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, ""
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out or ""


def source_key(root):
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = []
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"):
        path = os.path.join(root, top)
        if os.path.isfile(path):
            files.append(path)
        for d, _, names in os.walk(path):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(root, cache, key):
    """Compiles program and benchmark; returns the runtime classpath."""
    cp_file = os.path.join(cache, f"classpath-{key}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    log("building the program and the benchmark with sbt")
    tmp = os.path.join(cache, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=f"{SBT_OPTS} -Djava.io.tmpdir={tmp}")
    rc, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       os.path.join(root, "perfbench"), 840, env)
    lines = [l for l in out.splitlines() if l.startswith("/") and ".jar" in l]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("sbt build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def java_cmd(cp, run_dir, main_args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a pinned, pre-touched heap: resident memory beyond it is native memory
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
             f"-Djava.io.tmpdir={run_dir}"] + opens +
            ["-cp", cp, "perfbench.Main"] + main_args)


def cores():
    return len(os.sched_getaffinity(0))


def verify(root, cache, key, cp, workload):
    """Writes the batch query set with graft.Verify and checks it against the
    DuckDB oracle with tools/parity.py, once per source tree. Returns the
    output directory if every query passed, else None."""
    done = os.path.join(cache, f"verified-{key}-{workload}")
    if os.path.exists(os.path.join(done, "PASSED")):
        return done
    if os.path.exists(os.path.join(done, "FAILED")):
        return None
    rc, out = run_proc(["java", "-cp", cp, "perfbench.Main", "--list", workload], cache, 60)
    if rc != 0:
        fail(f"cannot list the query set of {workload}")
    sf, *names = out.strip().splitlines()[-1].split()
    sf_dir = os.path.join(DATA_ROOT, sf)
    shutil.rmtree(done, ignore_errors=True)
    os.makedirs(done)
    log(f"verifying {len(names)} queries of {workload} at {sf} against the oracle")
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    rc, out = run_proc(["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={done}"] + opens +
                       ["-cp", cp, "graft.Verify", sf_dir, done] + names, done, 600, env)
    failed_q = [l for l in out.splitlines() if l.startswith("[verify]")]
    rc2, parity = run_proc([sys.executable, os.path.join(root, "tools", "parity.py"),
                            sf_dir, done] + names, root, 600)
    summary = [l for l in parity.splitlines() if l.startswith("==")]
    ok = (rc == 0 and not failed_q and rc2 == 0 and
          summary == [f"== {len(names)} pass, 0 fail =="])
    for n in ("spark-warehouse", "spark-local"):
        shutil.rmtree(os.path.join(done, n), ignore_errors=True)
    with open(os.path.join(done, "PASSED" if ok else "FAILED"), "w") as fh:
        fh.write("\n".join(failed_q + parity.splitlines()[-50:]) + "\n")
    log(f"oracle parity: {summary[-1] if summary else 'no summary'}")
    return done if ok else None


def run_jvm(root, cache, key, cp, args, trace):
    run_dir = os.path.join(cache, "runs", f"{args.workload}-{args.seed}-{os.getpid()}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    main_args = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(trace),
                 "--cores", str(cores()), "--heap", HEAP, "--run-dir", run_dir,
                 "--data-root", DATA_ROOT]
    if args.workload.endswith("-batch"):
        verified = verify(root, cache, key, cp, args.workload)
        if verified:
            main_args += ["--verified", verified]
    try:
        rc, out = run_proc(java_cmd(cp, run_dir, main_args), run_dir, JVM_TIMEOUT_S)
        result_file = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(result_file):
            sys.stderr.write(out[-6000:])
            fail(f"benchmark JVM {'timed out' if rc is None else f'exited with {rc}'}", 1)
        with open(result_file) as fh:
            result = json.load(fh)
        trace_file = os.path.join(run_dir, "trace.jsonl")
        if trace and os.path.exists(trace_file):
            os.makedirs(os.path.join(cache, "traces"), exist_ok=True)
            dest = os.path.join(cache, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            shutil.move(trace_file, dest)
            log(f"spans written to {os.path.relpath(dest, root)}")
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def history_path(cache, key, workload):
    """Headline figures of this source tree's untraced runs of a workload."""
    return os.path.join(cache, "history", f"{workload}-{key}.jsonl")


def main():
    started = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft", "tools/parity.py",
                 "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout of the program")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cache = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(cache, exist_ok=True)
    key = source_key(root)
    cp = build(root, cache, key)

    headline, higher = HEADLINE[args.workload]
    hist = history_path(cache, key, args.workload)
    untraced = None
    if args.trace and not os.path.exists(hist):
        log("no untraced run of this workload yet: making one for the overhead figure")
        untraced = run_jvm(root, cache, key, cp, args, 0)
    result = run_jvm(root, cache, key, cp, args, args.trace)
    e2e, layer = result["end_to_end"], result["per_layer"]
    if not args.trace or untraced:
        os.makedirs(os.path.dirname(hist), exist_ok=True)
        with open(hist, "a") as fh:
            rec = (untraced or result)["end_to_end"][headline]["value"]
            fh.write(json.dumps({"seed": args.seed, headline: rec}) + "\n")
    if untraced:
        result["attempted"] += untraced["attempted"]
        result["failed"] += untraced["failed"]
        result["failures"] += untraced["failures"]
    if args.trace:
        with open(hist) as fh:
            base = sorted(json.loads(l)[headline] for l in fh if l.strip())
        base = base[len(base) // 2]
        traced = e2e[headline]["value"]
        layer["trace.overhead_pct"] = {"value": 100.0 * (traced - base) / base, "unit": "%"}
        result["notes"]["trace_overhead"] = (
            f"{headline}: traced {traced:.3f} vs untraced {base:.3f} "
            f"({traced - base:+.3f}, {'higher' if higher else 'lower'} is better)")

    for k, v in result["config"].items():
        print(f"config {k} = {v}")
    print(f"config wall_s = {time.time() - started:.1f}")
    for k, v in e2e.items():
        print(f"metric {k} = {v['value']:.4f} {v['unit']}")
    for k, v in result["notes"].items():
        print(f"metric {k} = {v}")
    attempted, failed = result["attempted"], result["failed"]
    print(f"metric error_rate = {failed / max(1, attempted):.6f} ({failed} of {attempted} operations)")
    for f in result["failures"]:
        print(f"failure: {f}")
    if args.trace:
        for k, v in sorted(layer.items()):
            print(f"layer {k} = {v['value']:.4f} {v['unit']}")

    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    source = layer if args.trace else e2e
    missing = [n for n in names if n not in source or source[n]["value"] is None]
    if missing:
        fail(f"run did not measure {', '.join(missing)}", 1)
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": source[n]["value"], "unit": source[n]["unit"]} for n in names},
    }
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
