#!/usr/bin/env python3
"""Machine-checkable per-key bench diff between two round-stamped per-key
records (e.g. tools/bench_perkey_r{N}.json, written by graft.Bench when
SPARK_GRAFT_BENCH_OUT=tools/bench_perkey_r{N}.json; bench_result.json, the
default, has the same shape).

Prints keys added/removed and every key whose wall-clock moved more than
--threshold (ratio, default 1.5x) AND more than --floor seconds (default
0.5 s — sub-second keys flap with JIT/GC noise). Exit code 0 always: the
diff is evidence for the verdict, not a gate (load-shaped inflation is
expected on a busy box — compare the records' "load" fields first).

Usage: python3 tools/bench_diff.py tools/bench_perkey_r12.json \
           tools/bench_perkey_r13.json [--threshold 1.5] [--floor 0.5]
"""
import argparse
import json


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=1.5)
    ap.add_argument("--floor", type=float, default=0.5)
    a = ap.parse_args()
    old = json.load(open(a.old))
    new = json.load(open(a.new))
    oq, nq = old["queries"], new["queries"]
    print(f"old: total={old['value']:.1f}s n={len(oq)} load={old.get('load')}")
    print(f"new: total={new['value']:.1f}s n={len(nq)} load={new.get('load')}")
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))
    if added:
        print(f"added ({len(added)}): " + ", ".join(
            f"{k}={nq[k]:.2f}s" for k in added))
    if removed:
        print(f"removed ({len(removed)}): " + ", ".join(removed))
    moved = []
    for k in sorted(set(oq) & set(nq)):
        o, n = oq[k], nq[k]
        if o < 0 or n < 0:  # -1 records a crashed key, not a time
            moved.append((k, o, n, float("inf")))
            continue
        if abs(n - o) >= a.floor and (n > o * a.threshold or o > n * a.threshold):
            moved.append((k, o, n, n / o if o > 0 else float("inf")))
    if moved:
        print(f"moved >{a.threshold}x and >{a.floor}s ({len(moved)}):")
        for k, o, n, r in sorted(moved, key=lambda t: -abs(t[2] - t[1])):
            print(f"  {k}: {o:.2f}s -> {n:.2f}s ({r:.2f}x)")
    else:
        print("no per-key movement past threshold")
    common = set(oq) & set(nq)
    tot_o = sum(v for k, v in oq.items() if k in common and v >= 0)
    tot_n = sum(v for k, v in nq.items() if k in common and v >= 0)
    if tot_o > 0:
        print(f"common-key total: {tot_o:.1f}s -> {tot_n:.1f}s "
              f"({tot_n / tot_o:.3f}x)")


if __name__ == "__main__":
    main()
