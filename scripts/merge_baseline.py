#!/usr/bin/env python3
"""Merge SELECTED queries' warm times from a clean BENCH_DETAIL sidecar
into docs/BENCH_BASELINE.json, leaving every other entry untouched.

Usage: merge_baseline.py <BENCH_DETAIL.json> <source-note> <q1,q2,...>

The skill's baseline policy: when only SOME plans changed, merge those
entries instead of re-ratcheting the whole file from one host epoch
(a wholesale regen from a hot run loosens every gate; from a calm run
it tightens unchanged entries the change did not earn). Refuses
contended/failed source entries and computes warm with make_baseline.py's
own rules.
"""
import sys, json
from make_baseline import warm, dirty

def main():
    detail_path, source, qlist = sys.argv[1], sys.argv[2], sys.argv[3]
    queries = [q for q in qlist.split(",") if q]
    detail_full = json.load(open(detail_path))
    d = detail_full["detail"]
    base = json.load(open("docs/BENCH_BASELINE.json"))
    # Scale-factor consistency (r14 ADVICE): a detail captured at a
    # different sf dir would silently write wrong warm times.
    if detail_full.get("sf") != base.get("sf"):
        sys.exit(f"refusing: detail sf {detail_full.get('sf')!r} != "
                 f"baseline sf {base.get('sf')!r}")
    bad = []
    for q in queries:
        e = d.get(q)
        if e is None:
            bad.append(f"{q}: absent from detail"); continue
        bad += dirty(q, e)
    if bad:
        sys.exit("refusing to merge dirty entries:\n  " + "\n  ".join(bad))
    for q in queries:
        base["warm"][q] = round(warm(d[q]), 3)
    base["n"] = len(base["warm"])
    base["source"] = base.get("source", "") + f" | merged {len(queries)} entries: {source}"
    with open("docs/BENCH_BASELINE.json", "w") as f:
        json.dump(base, f, indent=1)
        f.write("\n")
    print(f"merged {len(queries)} entries; n={base['n']}")

if __name__ == "__main__":
    main()
