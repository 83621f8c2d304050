#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JSON verdict.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload dedup_curation --seed 1 --seconds 20 --trace 0

Steps: build the harness against the checkout's sources (skipped while
the sources are unchanged), generate the workload's inputs from the seed,
run the harness in one JVM, grade the first pass against the DuckDB oracle
with `scripts/check.py`, and print the metrics. The last line of standard
output is the JSON verdict: end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`. Everything the run writes goes under
`.bench_build/perfbench/` in the checkout.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import summarize  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
# A run (after any build) must end within 180 s; the JVM gets what is left
# of this budget.
DEADLINE_S = 170

WORKLOADS = {
    # Dedup and curation over 4 content-identical copies: kernels, TopK
    # pair enumeration, exchange and image decode dominate.
    "dedup_curation": {
        "gen": {"sf": 0.005, "docs": 250, "vecs": 250, "copies": 4},
        "queries": ["dedup_image_phash", "agg_market_basket", "dedup_minhash_lsh"],
    },
    # The hourly DAG: micro-batches merged into the live orders table,
    # then the write-path queries.
    "hourly_upsert": {
        "gen": {"sf": 0.01, "docs": 500, "vecs": 500, "batches": 64,
                "batch_frac": 0.02},
        "batches_per_pass": 3,
        "queries": ["pipe_upsert_partitioned", "pipe_cdc_apply", "pipe_scd2_dimension"],
    },
}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads: the program's sources and build
    definition, and the harness."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, f) for f in
             ("build.sbt", "project/build.properties")]
    files += [os.path.join(HARNESS, f) for f in
              ("build.sbt", "project/build.properties")]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def heap_size():
    """MemTotal/2, clamped to 2-8 GB (the project's Tier-1 sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def build():
    """Compile the harness and the program; returns (classpath, JVM options)."""
    stamp_file = os.path.join(STATE, "build.stamp")
    launcher = os.path.join(HARNESS, "target", "launcher.txt")
    stamp = source_stamp()
    if os.path.exists(launcher) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        lines = open(launcher).read().splitlines()
        return lines[0], lines[1:]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    env["SPARK_DRIVER_MEM"] = heap_size()
    log_path = os.path.join(STATE, "build.log")
    log("perfbench: building the harness and the program (sbt)")
    t0 = time.time()
    with open(log_path, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                         cwd=HARNESS, env=env, stdout=out, timeout=840)
    if rc != 0 or not os.path.exists(launcher):
        with open(log_path) as f:
            log("".join(f.readlines()[-30:]))
        fail(f"build failed (exit {rc}); log in {log_path}", 1)
    log(f"perfbench: built in {time.time() - t0:.0f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    lines = open(launcher).read().splitlines()
    return lines[0], lines[1:]


def run_bounded(cmd, timeout, **kw):
    """Run a process in its own group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def inputs(workload, seed):
    """The workload's inputs for this seed, generated once and cached. The
    cache key includes a hash of the generator and the workload's spec, so
    a change to either generates afresh."""
    spec = WORKLOADS[workload]["gen"]
    h = hashlib.sha256(json.dumps(spec, sort_keys=True).encode())
    with open(gen.__file__, "rb") as f:
        h.update(f.read())
    out = os.path.join(STATE, "inputs", f"{workload}-{seed}-{h.hexdigest()[:12]}")
    if not os.path.exists(os.path.join(out, "manifest.json")):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(spec, seed, tmp)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    with open(os.path.join(out, "manifest.json")) as f:
        return out, json.load(f)


def oracle_check(results_dir, tables, queries, work):
    """Grade the first-pass results with the project's DuckDB oracle check.
    Returns {query: verdict}."""
    out = os.path.join(work, "check.json")
    env = dict(os.environ, GRAFT_CHECK_JSON=out)
    with open(os.path.join(work, "check.log"), "w") as f:
        run_bounded([sys.executable, os.path.join(ROOT, "scripts", "check.py"),
                     results_dir, tables, ",".join(queries)],
                    timeout=60, env=env, stdout=f, stderr=subprocess.STDOUT)
    if not os.path.exists(out):
        return {q: "CHECK_DID_NOT_RUN" for q in queries}
    with open(out) as f:
        graded = json.load(f)["queries"]
    return {q: graded.get(q, "MISSING") for q in queries}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft", "scripts/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the root of a checkout: {need} is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(STATE, exist_ok=True)
    wl = WORKLOADS[args.workload]

    classpath, jvm_opts = build()
    started = time.time()  # a build may take longer than a run is allowed
    in_dir, manifest = inputs(args.workload, args.seed)
    tables = os.path.join(in_dir, "tables")
    work = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "harness.json")
    conf = {"tables": tables, "work": work, "queries": ",".join(wl["queries"]),
            "seconds": args.seconds, "trace": args.trace, "out": result_file}
    if wl.get("batches_per_pass"):
        sums = os.path.join(work, "checksums.txt")
        with open(sums, "w") as f:
            f.writelines(" ".join(map(str, c)) + "\n" for c in manifest["batch_checksums"])
        conf.update(batches=os.path.join(in_dir, "batches"), checksums=sums,
                    batches_per_pass=wl["batches_per_pass"])
    cmd = ["java"] + jvm_opts + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", classpath, "perfbench.Harness"] + [f"{k}={v}" for k, v in conf.items()]
    env = dict(os.environ, LC_ALL="C.utf8")
    t_jvm = time.time()
    os.makedirs(os.path.join(STATE, "logs"), exist_ok=True)
    harness_log = os.path.join(STATE, "logs", f"{args.workload}-{args.seed}.log")
    with open(harness_log, "w") as f:
        rc = run_bounded(cmd, timeout=max(10, DEADLINE_S - (time.time() - started)),
                         cwd=work, env=env, stdout=f, stderr=subprocess.STDOUT)
    t_check = time.time()
    if rc != 0 or not os.path.exists(result_file):
        with open(harness_log) as f:
            log("".join(f.readlines()[-30:]))
        fail(f"harness failed (exit {rc})", 1)
    with open(result_file) as f:
        res = json.load(f)
    graded = oracle_check(os.path.join(work, "results"), tables, wl["queries"], work)
    log(f"perfbench: inputs {t_jvm - started:.1f} s, harness {t_check - t_jvm:.1f} s, "
        f"oracle check {time.time() - t_check:.1f} s")

    report = summarize.report(res, graded, manifest)
    for line in report["lines"]:
        print(line)
    if args.trace:
        trace_dir = os.path.join(STATE, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump(res, f)
        for line in summarize.layer_table(res):
            print(line)
        print(f"trace written to {os.path.relpath(trace_file, ROOT)}")
        names = summarize.PER_LAYER
        values = report["per_layer"]
    else:
        names = summarize.END_TO_END
        values = report["end_to_end"]
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }))


if __name__ == "__main__":
    main()
