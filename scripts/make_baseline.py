#!/usr/bin/env python3
"""Regenerate docs/BENCH_BASELINE.json from a clean BENCH_DETAIL sidecar.

Usage: python3 scripts/make_baseline.py <BENCH_DETAIL.json> <source-note>

Warm = min of the repeat runs (runs[1:]; runs[0] is the cold first
execution). Refuses a detail file with contended or failing queries —
the baseline must come from a clean run. Emits the "n" entry count the
gate's parse self-check verifies (Bench.parseBaseline).

`warm` and `dirty` are the one warm rule and the one dirty-entry
refusal; merge_baseline.py and ab_epoch.py import them.
"""
import sys, json


def warm(entry):
    """A detail entry's warm seconds: min of the repeats, else the cold run."""
    runs = entry["runs"]
    return min(runs[1:]) if len(runs) > 1 else runs[0]


def dirty(name, entry):
    """Why a detail entry must not enter a baseline (empty when clean)."""
    bad = []
    if entry.get("contended"):
        bad.append(f"{name}: contended")
    if entry.get("rows", 0) < 0:
        bad.append(f"{name}: failed (rows=-1)")
    return bad


def main():
    detail_path, source = sys.argv[1], sys.argv[2]
    d = json.load(open(detail_path))
    out_warm, bad = {}, []
    for name, q in sorted(d["detail"].items()):
        bad += dirty(name, q)
        out_warm[name] = round(warm(q), 3)
    if bad:
        sys.exit("refusing to baseline a dirty run:\n  " + "\n  ".join(bad))
    out = {"source": source, "n": len(out_warm), "sf": d.get("sf", "?"),
           "warm": out_warm}
    with open("docs/BENCH_BASELINE.json", "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"docs/BENCH_BASELINE.json: {len(out_warm)} queries from {detail_path}")

if __name__ == "__main__":
    main()
