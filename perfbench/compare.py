#!/usr/bin/env python3
"""Compare two sets of benchmark runs, per workload and end-to-end metric.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR
    python3 perfbench/compare.py --same FIRST_DIR SECOND_DIR

Each directory holds the per-run detail files run.py writes to
.bench_work/results/ (untraced runs; traced ones are skipped). Runs pair
up by workload and seed.

Default mode: for a parent commit (BASE) and a change, print each side's
median and quartiles, the paired win fraction, and a verdict by the rule of
the choosing-metrics guide, section 8:
  improved    the change wins at least 9/10 of the pairs (ties count for
              neither), the medians differ by more than the parent's own
              spread (the distance between its quartiles), and the change
              fails no larger share of its operations than the parent;
  no worse    the change's median is not worse than the parent's by more
              than the metric's bound in BENCHMARK.json;
  worse       it is worse by more than the bound, with the parent's spread
              within the bound;
  unresolved  otherwise: the spread is wider than the bound and not every
              run of the change reads better than every run of the parent.

--same: both sets come from one commit. Each metric's spread (quartile
distance over median) must stay within its bound and the second median
must not be worse than the first by more than the bound. Exit status 1 if
any check fails.

Every operation's failures count: a run whose fail ratio is above 0 is
listed, and two runs of one workload and seed in one directory are an
error (exit status 2).
"""

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    """{workload: {seed: metrics}} and {workload: [fail ratio per run]}."""
    runs, fails, seen = {}, {}, {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        if p.endswith(".spans.json"):
            continue
        with open(p) as f:
            r = json.load(f)
        if "layers" in r:
            continue
        key = (r["workload"], r["env"]["seed"])
        if key in seen:
            print(f"{d}: two runs of {key[0]} seed {key[1]}: "
                  f"{os.path.basename(seen[key])}, {os.path.basename(p)}")
            sys.exit(2)
        seen[key] = p
        runs.setdefault(r["workload"], {})[r["env"]["seed"]] = r["metrics"]
        fails.setdefault(r["workload"], []).append(r["fail_ratio"])
        if r["fail_ratio"] > 0:
            print(f"{d}: {key[0]} seed {key[1]} failed "
                  f"{r['fail_ratio']:.4f} of its operations")
    return runs, fails


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)["end_to_end"]


def worse_by(base, new, better):
    """Relative worsening of `new` against `base` (positive = worse)."""
    return (new - base) / base if better == "lower" else (base - new) / base


def verdict(b, c, m, more_failures):
    lower = m["better"] == "lower"
    pairs = [(b[s], c[s]) for s in sorted(set(b) & set(c))]
    wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
    bq1, bmed, bq3 = quartiles(list(b.values()))
    _, cmed, _ = quartiles(list(c.values()))
    spread = (bq3 - bq1) / bmed if bmed else float("inf")
    frac = wins / len(pairs) if pairs else 0.0
    better_med = cmed < bmed if lower else cmed > bmed
    if (pairs and frac >= 0.9 and better_med and abs(cmed - bmed) > bq3 - bq1
            and not more_failures):
        v = "improved"
    elif spread > m["bound"]:
        every = (max(c.values()) < min(b.values()) if lower
                 else min(c.values()) > max(b.values()))
        v = "no worse" if every else "unresolved"
    elif worse_by(bmed, cmed, m["better"]) <= m["bound"]:
        v = "no worse"
    else:
        v = "worse"
    return frac, len(pairs), v


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--same", action="store_true")
    ap.add_argument("first")
    ap.add_argument("second")
    a = ap.parse_args()
    (A, fa), (B, fb) = load(a.first), load(a.second)
    ok = True
    for w in sorted(set(A) | set(B)):
        ra, rb = fa.get(w, [0.0]), fb.get(w, [0.0])
        more_failures = sum(rb) / len(rb) > sum(ra) / len(ra)
        print(f"{w:14s} fail_ratio mean A {sum(ra) / len(ra):.4f} "
              f"B {sum(rb) / len(rb):.4f}")
        if a.same and (sum(ra) or sum(rb)):
            ok = False
        for m in metrics():
            n = m["name"]
            b = {s: r[n] for s, r in A.get(w, {}).items() if n in r}
            c = {s: r[n] for s, r in B.get(w, {}).items() if n in r}
            if not b or not c:
                print(f"{w:14s} {n:17s} missing runs")
                ok = False
                continue
            bq, cq = quartiles(list(b.values())), quartiles(list(c.values()))
            desc = (f"{w:14s} {n:17s} {m['unit']:4s} "
                    f"A med {bq[1]:.4g} [{bq[0]:.4g},{bq[2]:.4g}] n={len(b)}  "
                    f"B med {cq[1]:.4g} [{cq[0]:.4g},{cq[2]:.4g}] n={len(c)}")
            if a.same:
                sa = (bq[2] - bq[0]) / bq[1]
                sb = (cq[2] - cq[0]) / cq[1]
                shift = worse_by(bq[1], cq[1], m["better"])
                good = (shift <= m["bound"] and sa <= m["bound"]
                        and sb <= m["bound"])
                ok &= good
                print(f"{desc}  spread {sa:.3f}/{sb:.3f} shift {shift:+.3f} "
                      f"bound {m['bound']} {'ok' if good else 'FAIL'}")
            else:
                frac, npairs, v = verdict(b, c, m, more_failures)
                print(f"{desc}  wins {frac:.2f} of {npairs}  {v}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
