#!/usr/bin/env python3
"""Lakehouse benchmark: one command, three workloads, outputs checked.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
program and the benchmark with sbt (offline, from the pre-warmed caches)
into `target/` directories and caches the launch line under
`.bench_build/`; later runs reuse it while no source file changes.

Workloads (see README.md in this directory for what each stands for;
BENCHMARK.json lists the last two):
  lakehouse_build    closed loop of full Lakehouse.build rebuilds + contract
  dashboard_serving  2 clients issuing page views and SafeSql requests
  analytics_sweep    warm passes over 15 SparkEntry queries

Every run generates its inputs from the seed, sets up, warms up, measures
for `--seconds`, then checks the program's outputs against DuckDB
outside the timed region. A wrong answer or an exception counts as a
failed operation, never as a timing. The last stdout line is

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (`--trace 0`) or its
per-layer metrics (`--trace 1`). The line before it carries the
workload's named figures and the record's stamp (box, cores, heap, seed,
commit, warm-up operations).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402  (benchmark module, next to this file)
import tpch_gen  # noqa: E402

WORKLOADS = ("lakehouse_build", "dashboard_serving", "analytics_sweep")
CLIENTS = {"lakehouse_build": 1, "dashboard_serving": 2, "analytics_sweep": 1}
ANALYTICS_SCALE = 1.0        # 60k lineitem rows, the sf0.01 shape
RUN_MARGIN_S = 155           # set-up, warm-up and the JVM's tail, beyond --seconds
BUILD_TIMEOUT_S = 840
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true "
                "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                " -Dsbt.offline=true -Xmx2g",
}


def fail(msg: str) -> None:
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash() -> str:
    """Hash of every file the build reads: program and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d) if f.endswith((".sbt", ".properties"))]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns.sort()
            files += [os.path.join(dp, f) for f in fns]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build() -> dict:
    """Compiles program + benchmark once per source state; returns the launch spec."""
    cache_dir = os.path.join(ROOT, ".bench_build")
    cache = os.path.join(cache_dir, "launch.json")
    digest = source_hash()
    if os.path.isfile(cache):
        with open(cache) as f:
            spec = json.load(f)
        if spec.get("source_sha") == digest and all(
                os.path.exists(p) for p in spec["classpath"].split(os.pathsep) if "/target/" in p):
            return spec
    os.makedirs(cache_dir, exist_ok=True)
    with open(os.path.join(cache_dir, "build.log"), "w") as log:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                       cwd=HERE, env={**os.environ, **SBT_ENV}, stdout=log,
                       timeout=BUILD_TIMEOUT_S)
    if rc != 0:
        fail(f"build failed (sbt exit {rc}); see .bench_build/build.log")
    with open(os.path.join(HERE, "target", "launch.txt")) as f:
        opts, cp = f.read().splitlines()[:2]
    spec = {"source_sha": digest, "java_options": opts.split(), "classpath": cp}
    with open(cache, "w") as f:
        json.dump(spec, f)
    return spec


def run_group(cmd, timeout, **kw) -> int:
    """Runs `cmd` in its own process group and waits for it; on timeout the
    whole group is killed and waited for."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def heap_gb() -> int:
    """Half the machine's memory in GB, clamped to 2..8 (the repository's
    tier-1 test heap formula)."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2, min(8, kb // 2097152))


def stamp(args, spec, heap, warmup_ops) -> dict:
    try:
        with open("/proc/sys/kernel/random/boot_id") as f:
            boot = f.read().strip()[:8]
    except OSError:
        boot = "nob"
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        commit = "none"
    return {"box": f"{socket.gethostname()}/{boot}", "nproc": os.cpu_count(),
            "heap": f"{heap}g", "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "clients": CLIENTS[args.workload],
            "commit": commit, "source_sha": spec["source_sha"][:16], "warmup_ops": warmup_ops}


def main() -> None:
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"program sources not found under {ROOT} (build.sbt, src/main/scala/graft)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    t_build = time.time()
    spec = build()
    build_s = time.time() - t_build

    work = os.path.join(ROOT, ".bench_build", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "out"))
    try:
        data = os.path.join(work, "data")
        if args.workload == "analytics_sweep":
            os.makedirs(data)
            tpch_gen.generate(data, args.seed, ANALYTICS_SCALE)
        heap = heap_gb()
        # a fixed heap: the collector neither shrinks nor regrows it between
        # queries, so run-to-run timings do not depend on page re-faulting
        cmd = (["java", f"-Xms{heap}g", f"-Xmx{heap}g"] + spec["java_options"] +
               ["-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
                "-cp", spec["classpath"], "lakebench.Main",
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--work", work, "--data", data, "--cpus", str(os.cpu_count()),
                "--clients", str(min(CLIENTS[args.workload], os.cpu_count())),
                # set-up time counts from this process's start, less the build
                "--start-ms", str(int((t_start + build_s) * 1000))])
        env = {**os.environ, "SPARK_LOCAL_DIRS": f"{work}/tmp"}
        remaining = args.seconds + RUN_MARGIN_S - (time.time() - t_start - build_s)
        with open(os.path.join(work, "stdout"), "w") as out, \
                open(os.path.join(ROOT, ".bench_build", "last_run.log"), "w") as err:
            rc = run_group(cmd, timeout=remaining, cwd=work, env=env, stdout=out, stderr=err)
        t_jvm = time.time()
        with open(os.path.join(work, "stdout")) as f:
            lines = [l for l in f.read().splitlines() if l.startswith("{")]
        if rc != 0 or not lines:
            fail(f"benchmark JVM exited {rc} without a record; see .bench_build/last_run.log")
        rec = json.loads(lines[-1])

        # output checks against DuckDB, outside any timed region
        checks = oracle.check(args.workload, work, data)
        t_checks = time.time()
        attempted = rec["attempted"] + len(checks)
        failures = rec["failures"] + [c for c in checks if c]
        failed = rec["failed"] + sum(1 for c in checks if c)

        metrics = rec["metrics"]
        if set(metrics) != set(units):
            fail(f"record metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(units)}")
        valid = all(isinstance(v, (int, float)) for v in metrics.values())
        report = dict(rec["report"], failed_share=failed / attempted, peak_rss_mb=rec["peak_rss_mb"],
                      run_s={"build": build_s, "jvm": t_jvm - t_start - build_s,
                             "checks": t_checks - t_jvm,
                             "jvm_exit": t_jvm - rec["printed_ms"] / 1000})
        print(json.dumps({"workload": args.workload, "report": report,
                          "failures": failures[:10],
                          "stamp": stamp(args, spec, heap, rec["warmup_ops"])}))
        print(json.dumps({
            "correct": failed == 0 and valid,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": (v if isinstance(v, (int, float)) else 0.0), "unit": units[k]}
                        for k, v in sorted(metrics.items())}}))
    finally:
        t_clean = time.time()
        shutil.rmtree(work, ignore_errors=True)
        print(f"lakebench: removed the run's files in {time.time() - t_clean:.1f} s", file=sys.stderr)


if __name__ == "__main__":
    main()
