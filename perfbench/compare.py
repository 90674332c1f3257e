#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or report the spread of one set.

    python3 perfbench/compare.py BASE_DIR [NEW_DIR]

A set is a directory of files, each the saved standard output of one
`perfbench/run.py` run (any file name). Runs are grouped by workload and by
traced/untraced.

With one set: for each workload and end-to-end metric, the median, the
quartiles and the spread (IQR / median) beside a third of the metric's
bound from BENCHMARK.json, which is the steadiness the benchmark aims for.

With two sets: for each workload and end-to-end metric, both medians and
quartiles, the share of pairs (i-th base run against i-th new run) the new
set won, and a verdict against the metric's bound:
  improved    new won >= 90% of pairs and the medians differ by more than
              the base set's own IQR, in the better direction
  worse       the new median is worse than the base median by more than the
              bound
  no-worse    neither, and the base set's spread is within the bound
  unresolved  neither, but the base set's spread is wider than the bound
Then the per-layer deltas (medians of the traced runs), and the tracing
overhead (traced minus untraced end-to-end medians) where a set holds both.
"""
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
HEADER = re.compile(r"^# (\S+) seed=(\d+) trace=([01]) ")
E2E_LINE = re.compile(r"^  ([a-z0-9_]+)\s+(-?[0-9.]+(?:e[-+]?\d+)?)\s+(\S+)")


def load_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"]}


def load_set(d):
    """{(workload, traced): [run]} where run = {"e2e": {...}, "layers": {...}}."""
    runs = {}
    for name in sorted(os.listdir(d)):
        path = os.path.join(d, name)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            lines = f.read().splitlines()
        head = next((HEADER.match(l) for l in lines if HEADER.match(l)), None)
        if not head or not lines or not lines[-1].startswith("{"):
            continue
        workload, traced = head.group(1), head.group(3) == "1"
        e2e = {m.group(1): float(m.group(2)) for m in map(E2E_LINE.match, lines) if m}
        last = json.loads(lines[-1])
        layers = {k: v["value"] for k, v in last["metrics"].items()} if traced else {}
        runs.setdefault((workload, traced), []).append({"e2e": e2e, "layers": layers})
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def fmt(x):
    return f"{x:.4g}"


def report_spread(runs, spec):
    print(f"{'workload':<14} {'metric':<18} {'n':>3} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'target':>7}")
    for (workload, traced), rs in sorted(runs.items()):
        if traced:
            continue
        for name, m in spec.items():
            xs = [r["e2e"][name] for r in rs if name in r["e2e"]]
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            target = m["bound"] / 3
            flag = "" if spread(xs) < target or name == "setup_s" else "  <-- too wide"
            print(f"{workload:<14} {name:<18} {len(xs):>3} {fmt(med):>10} {fmt(q1):>10} "
                  f"{fmt(q3):>10} {spread(xs):>7.3f} {target:>7.3f}{flag}")


def verdict(base, new, m):
    lower = m["better"] == "lower"
    bq1, bmed, bq3 = quartiles(base)
    _, nmed, _ = quartiles(new)
    pairs = list(zip(base, new))
    wins = sum((n < b) if lower else (n > b) for b, n in pairs)
    won = wins / len(pairs) if pairs else 0.0
    gain = (bmed - nmed) if lower else (nmed - bmed)
    if won >= 0.9 and gain > (bq3 - bq1):
        v = "improved"
    elif -gain > m["bound"] * abs(bmed):
        v = "worse"
    elif spread(base) <= m["bound"]:
        v = "no-worse"
    else:
        v = "unresolved"
    return won, v


def report_compare(a, b, spec):
    print(f"{'workload':<14} {'metric':<18} {'base med [q1,q3]':>28} {'new med [q1,q3]':>28} "
          f"{'won':>5}  verdict")
    for key in sorted(set(a) & set(b)):
        workload, traced = key
        if traced:
            continue
        for name, m in spec.items():
            xa = [r["e2e"][name] for r in a[key] if name in r["e2e"]]
            xb = [r["e2e"][name] for r in b[key] if name in r["e2e"]]
            if not xa or not xb:
                continue
            (a1, am, a3), (b1, bm, b3) = quartiles(xa), quartiles(xb)
            won, v = verdict(xa, xb, m)
            print(f"{workload:<14} {name:<18} {fmt(am):>10} [{fmt(a1)},{fmt(a3)}]".ljust(62) +
                  f"{fmt(bm):>10} [{fmt(b1)},{fmt(b3)}]".ljust(29) + f"{won:>5.2f}  {v}")
    for key in sorted(set(a) & set(b)):
        workload, traced = key
        if not traced:
            continue
        print(f"\nper-layer deltas, {workload} (medians of traced runs)")
        names = sorted(set(a[key][0]["layers"]) | set(b[key][0]["layers"]))
        for name in names:
            xa = [r["layers"].get(name, 0.0) for r in a[key]]
            xb = [r["layers"].get(name, 0.0) for r in b[key]]
            ma, mb = statistics.median(xa), statistics.median(xb)
            if ma == 0 and mb == 0:
                continue
            rel = f"{(mb - ma) / ma:+.1%}" if ma else "n/a"
            print(f"  {name:<34} {fmt(ma):>12} -> {fmt(mb):>12}  {rel}")


def report_overhead(label, runs, spec):
    for (workload, traced), rs in sorted(runs.items()):
        if traced or (workload, True) not in runs:
            continue
        print(f"\ntracing overhead, {label} {workload} (traced minus untraced medians)")
        for name in spec:
            xu = [r["e2e"][name] for r in rs if name in r["e2e"]]
            xt = [r["e2e"][name] for r in runs[(workload, True)] if name in r["e2e"]]
            if xu and xt:
                mu, mt = statistics.median(xu), statistics.median(xt)
                print(f"  {name:<18} {fmt(mu):>10} -> {fmt(mt):>10}  {mt - mu:+.4g}")


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    spec = load_spec()
    a = load_set(sys.argv[1])
    if len(sys.argv) == 2:
        report_spread(a, spec)
        report_overhead("", a, spec)
    else:
        b = load_set(sys.argv[2])
        report_compare(a, b, spec)
        report_overhead("base", a, spec)
        report_overhead("new", b, spec)


if __name__ == "__main__":
    main()
