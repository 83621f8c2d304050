#!/usr/bin/env python3
"""Metrics and layer summaries of one harness run.

`report` turns the harness's raw samples into the end-to-end and
per-layer metrics. `layer_table` prints, for a traced run, each layer's
self time and span count per traced pass, and the tracing overhead.

Standalone, it summarizes traces written by `run.py --trace 1`:

    python3 perfbench/summarize.py .bench_build/perfbench/traces/*.json
"""
import json
import sys
from collections import defaultdict

END_TO_END = [("setup_s", "s"), ("makespan_s", "s"), ("first_pass_s", "s"),
              ("query_p50_s", "s"), ("query_tail_s", "s"), ("peak_heap_mb", "MB")]

# Counters the tracer sums per operation; summed per pass here.
COUNTERS = [
    ("queries.build_s", "s"), ("plan.analysis_s", "s"), ("plan.optimize_s", "s"),
    ("plan.physical_s", "s"), ("codegen.compile_s", "s"), ("codegen.classes", "count"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.delay_s", "s"), ("sched.task_failures", "count"),
    ("scan.rows", "rows"), ("scan.bytes", "bytes"), ("scan.time_s", "s"),
    ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.write_records", "rows"),
    ("shuffle.read_bytes", "bytes"), ("shuffle.fetch_wait_s", "s"),
    ("shuffle.write_s", "s"), ("topk.rows_in", "rows"), ("topk.rows_out", "rows"),
    ("spill.mem_bytes", "bytes"), ("spill.disk_bytes", "bytes"),
    ("write.bytes", "bytes"), ("write.files", "count"), ("write.rows", "rows"),
    ("upsert.call_s", "s"), ("stream.batches", "count"), ("stream.batch_s", "s"),
    ("stream.commit_s", "s"), ("stream.input_rows", "rows"),
]
LAYER_ALL = COUNTERS + [
    ("cache.frames", "count"), ("scan.rows_kept_frac", "ratio"),
    ("exec.peak_mem_mb", "MB"), ("batch_p50_s", "s"), ("batch_tail_s", "s"),
    ("upsert_rows_per_s", "rows/s"), ("trace.overhead_s", "s"),
]
# Times (and a rate derived from them) that read exactly 0 on every run of
# some workload are printed but not reported: shuffle fetch wait (no remote fetch in local mode), task GC
# time (passes at these sizes rarely collect), and the micro-batch times
# (dedup_curation runs no stream).
PRINTED_ONLY = {"shuffle.fetch_wait_s", "exec.gc_s", "upsert.call_s", "stream.batch_s",
                "stream.commit_s", "batch_p50_s", "batch_tail_s", "upsert_rows_per_s"}
PER_LAYER = [(n, u) for n, u in LAYER_ALL if n not in PRINTED_ONLY]


def median(xs):
    return percentile(xs, 0.5)


def percentile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_q(n):
    """The highest percentile with at least 10 samples beyond it (p50 at least)."""
    return max(0.5, 1.0 - 10.0 / n) if n else 0.5


# Nesting depth of each span kind; time is charged to the deepest span
# active at each instant ("self time").
DEPTH = {"op": 0, "build": 1, "execute": 1, "microbatch": 2, "plan": 3,
         "job": 3, "stage": 4}


def passes(res, traced):
    """{pass: [ops]} over steady-state passes (pass 0 is the cold pass)."""
    out = defaultdict(list)
    for o in res["ops"]:
        if o["pass"] > 0 and o["traced"] == traced:
            out[o["pass"]].append(o)
    return out


def label(op):
    return op["name"] if op["kind"] == "query" else "micro-batch"


def report(res, graded, manifest):
    untraced = passes(res, False)
    ops = [o for p in untraced.values() for o in p]
    q_lat = defaultdict(list)
    for o in ops:
        if o["kind"] == "query":
            q_lat[o["name"]].append(o["seconds"])
    # each query's steady-state median; p50 and tail are taken over these
    q_medians = [median(v) for v in q_lat.values()]
    b_ops = [o for o in ops if o["kind"] == "batch"]
    b_lat = [o["seconds"] for o in b_ops]
    makespans = [sum(o["seconds"] for o in p) for p in untraced.values()]
    # Each position in the pass (same operation order every pass) at its
    # median over passes: one disturbed pass does not move the sum.
    by_pos = defaultdict(list)
    for p in untraced.values():
        for i, o in enumerate(p):
            by_pos[i].append(o["seconds"])
    first = [o for o in res["ops"] if o["pass"] == 0]
    b_tail = tail_q(len(b_lat))

    bad_ops = [o for o in res["ops"] if not o["ok"]]
    bad_oracle = {q: v for q, v in graded.items() if not v.startswith("OK")}
    e2e = {
        "setup_s": res["jvm_to_main_s"] + res["setup_s"],
        "makespan_s": sum(median(v) for v in by_pos.values()),
        "first_pass_s": sum(o["seconds"] for o in first),
        "query_p50_s": median(q_medians),
        "query_tail_s": max(q_medians, default=0.0),
        "peak_heap_mb": max(res["old_after_gc_mb"][1:]),
    }
    traced = passes(res, True)
    per_pass = []
    for p in traced.values():
        c = defaultdict(float)
        for o in p:
            for k, v in o["counters"].items():
                c[k] = max(c[k], v) if k == "exec.peak_mem_mb" else c[k] + v
            c["cache.frames"] += o["cache_frames"]
        c["scan.rows_kept_frac"] = (c["scan.kept_rows"] / c["scan.out_rows"]
                                    if c["scan.out_rows"] else 0.0)
        c["makespan"] = sum(o["seconds"] for o in p)
        per_pass.append(c)
    layer = {n: median([c[n] for c in per_pass]) for n, _ in LAYER_ALL}
    layer.update({
        "batch_p50_s": median(b_lat),
        "batch_tail_s": percentile(b_lat, b_tail),
        "upsert_rows_per_s": (sum(o["rows"] for o in b_ops) / sum(b_lat)) if b_lat else 0.0,
        "trace.overhead_s": (median([c["makespan"] for c in per_pass])
                             - median(makespans)) if per_pass else 0.0,
    })

    ctx = res["context"]
    lines = [
        f"inputs: seed {manifest['seed']}, rows {manifest['rows']}",
        f"host: nproc {ctx['nproc']}, local[{ctx['nproc']}], loadavg {ctx['loadavg']}, "
        f"other JVMs {ctx['other_jvms']} (context only)",
        f"set-up (cold) {res['setup_s']:.3f} s; JVM start to main {res['jvm_to_main_s']:.3f} s",
        f"steady passes: {len(makespans)} untraced, {len(per_pass)} traced; "
        f"query samples {sum(map(len, q_lat.values()))}"
        + (f"; batch samples {len(b_lat)} (tail = p{100 * b_tail:.0f})" if b_lat else ""),
    ]
    for n, u in END_TO_END:
        lines.append(f"  {n:<16} {e2e[n]:12.4f} {u}")
    if b_lat:
        for n, u in (("batch_p50_s", "s"), ("batch_tail_s", "s"),
                     ("upsert_rows_per_s", "rows/s")):
            lines.append(f"  {n:<16} {layer[n]:12.4f} {u}")
    first_by, steady_by = defaultdict(list), defaultdict(list)
    for o in first:
        first_by[label(o)].append(o["seconds"])
    for o in ops:
        steady_by[label(o)].append(o["seconds"])
    for name in first_by:
        lines.append(f"    {name:<28} first {median(first_by[name]):8.3f} s   "
                     f"steady median {median(steady_by[name]):8.3f} s")
    if per_pass:
        lines.append("per layer, median over traced passes:")
        lines += [f"  {n:<22} {layer[n]:16.4f} {u}" for n, u in LAYER_ALL]
    for q, v in sorted(graded.items()):
        lines.append(f"  oracle {q}: {v}")
    for o in bad_ops:
        lines.append(f"  FAILED pass {o['pass']} {o['name']}: {o['error'] or 'wrong result'}")
    return {
        "lines": lines,
        "end_to_end": e2e,
        "per_layer": layer,
        "attempted": len(res["ops"]) + len(graded),
        "failed": len(bad_ops) + len(bad_oracle),
    }


def self_times(spans):
    """{kind: (self seconds, span count)} for one operation's spans."""
    cuts = sorted({t for s in spans for t in (s["start_ms"], s["end_ms"])})
    out = defaultdict(lambda: [0.0, 0])
    for s in spans:
        out[s["kind"]][1] += 1
    for a, b in zip(cuts, cuts[1:]):
        live = [s for s in spans if s["start_ms"] <= a and s["end_ms"] >= b]
        if live:
            deepest = max(live, key=lambda s: DEPTH.get(s["kind"], 0))
            out[deepest["kind"]][0] += (b - a) / 1e3
    return out


def layer_table(res):
    by_op = defaultdict(list)
    for s in res["spans"]:
        by_op[s["op"]].append(s)
    traced = passes(res, True)
    n = max(1, len(traced))
    total = defaultdict(lambda: [0.0, 0])
    for spans in by_op.values():
        for kind, (sec, cnt) in self_times(spans).items():
            total[kind][0] += sec
            total[kind][1] += cnt
    lines = [f"layer self time per traced pass ({len(traced)} traced passes)",
             f"  {'span':<12} {'self_s':>10} {'count':>8}"]
    for kind in sorted(total, key=lambda k: DEPTH.get(k, 9)):
        sec, cnt = total[kind]
        lines.append(f"  {kind:<12} {sec / n:10.4f} {cnt / n:8.1f}")
    untraced = [sum(o["seconds"] for o in p) for p in passes(res, False).values()]
    traced_ms = [sum(o["seconds"] for o in p) for p in traced.values()]
    if untraced and traced_ms:
        lines.append(f"tracing overhead: traced makespan {median(traced_ms):.4f} s - "
                     f"untraced {median(untraced):.4f} s = "
                     f"{median(traced_ms) - median(untraced):+.4f} s")
    return lines


def main():
    for path in sys.argv[1:]:
        with open(path) as f:
            res = json.load(f)
        print(path)
        for line in layer_table(res):
            print(line)


if __name__ == "__main__":
    main()
