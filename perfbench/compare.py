#!/usr/bin/env python3
"""Compare two result sets of the benchmark, or show the spread of one.

Usage (from the repository root):
  python3 perfbench/compare.py BASE.jsonl [NEW.jsonl]

A result set is the file run.py --append-to writes: one line per run. For
each workload x end-to-end metric the table shows each set's median and
quartiles (statistics.quantiles, n=4), its spread (quartile distance over
median), the metric's bound from BENCHMARK.json, and with two sets a
verdict:
  regressed   NEW's median is worse than BASE's by more than the bound;
  unresolved  not regressed, but a set's spread is wider than the bound
              and not every NEW run reads better than every BASE run;
  unchanged   otherwise.
Exits 1 when any row regressed or a run was not correct.
"""
import json
import os
import statistics
import sys


def load(path):
    runs = {}
    for line in open(path):
        if line.strip():
            r = json.loads(line)
            if r["trace"] == 0:
                runs.setdefault(r["workload"], []).append(r["result"])
    return runs


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def verdict(base, new, bound, higher_better):
    (bm, *_, bs), (nm, *_, ns) = summary(base), summary(new)
    worse = (bm - nm) / bm if higher_better else (nm - bm) / bm
    if worse > bound:
        return "regressed"
    all_better = min(new) > max(base) if higher_better else max(new) < min(base)
    if max(bs, ns) > bound and not all_better:
        return "unresolved"
    return "unchanged"


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    spec = json.load(open(os.path.join(os.getcwd(), "BENCHMARK.json")))
    sets = [load(p) for p in sys.argv[1:]]
    bad = 0
    cols = "workload metric bound " + " ".join(
        f"{tag}:median {tag}:q1 {tag}:q3 {tag}:spread {tag}:n" for tag in ("base", "new")[:len(sets)])
    print(cols + (" verdict" if len(sets) == 2 else ""))
    for w in [w["name"] for w in spec["workloads"]]:
        if any(w not in s for s in sets):
            continue
        for s in sets:
            incorrect = sum(not r["correct"] for r in s[w])
            if incorrect:
                print(f"{w}: {incorrect} runs not correct")
                bad += 1
        for m in spec["end_to_end"]:
            vals = [[r["metrics"][m["name"]]["value"] for r in s[w]] for s in sets]
            row = [w, m["name"], f"{m['bound']:g}"]
            for v in vals:
                med, q1, q3, spread = summary(v)
                row += [f"{med:.6g}", f"{q1:.6g}", f"{q3:.6g}", f"{spread:.3f}", str(len(v))]
            if len(sets) == 2:
                v = verdict(vals[0], vals[1], m["bound"], m["better"] == "higher")
                bad += v == "regressed"
                row.append(v)
            print(" ".join(row))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
