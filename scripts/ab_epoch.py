#!/usr/bin/env python3
"""Old-code/new-code epoch A/B over BENCH_DETAIL sidecars (r11 protocol).

Usage: ab_epoch.py <committed_old_detail> <oldcode_today_detail> \
                   <newcode_today_detail>

For the queries all three runs share, prints the per-query warm ratio
medians:
  - oldcode-today / committed-old  -> the HOST EPOCH alone (same binary)
  - newcode-today / committed-old  -> epoch x code drift
  - newcode-today / oldcode-today  -> code drift alone (same host session)
Warm is make_baseline.py's rule: min of runs[1:] (runs[0] is cold).
Failed queries (rows < 0) are left out.
"""
import sys, json, statistics
from make_baseline import warm


def warm_map(path):
    d = json.load(open(path))["detail"]
    return {name: warm(q) for name, q in d.items()
            if q.get("rows", 0) >= 0 and q.get("runs")}


def main():
    old_commit, old_today, new_today = map(warm_map, sys.argv[1:4])
    common = sorted(set(old_commit) & set(old_today) & set(new_today))
    print(f"common queries: {len(common)}")

    def med(a, b, label):
        rs = sorted(b[q] / a[q] for q in common if a[q] > 0)
        m = statistics.median(rs)
        lo, hi = rs[len(rs) // 10], rs[-1 - len(rs) // 10]
        print(f"{label}: median {m:.3f}  p10 {lo:.3f}  p90 {hi:.3f}")
        return m

    med(old_commit, old_today, "oldcode-today / committed-old (EPOCH)")
    med(old_commit, new_today, "newcode-today / committed-old (epoch*code)")
    med(old_today, new_today, "newcode-today / oldcode-today (CODE)")


if __name__ == "__main__":
    main()
