#!/usr/bin/env python3
"""Compare two sets of benchmark results, workload by workload, metric by metric.

A result set is a JSON-lines file; each line is one run's result object as
perfbench/run.py prints it, plus its "workload" and "seed" (run.py appends
exactly such lines to .bench_build/results.jsonl). For every workload and
metric present on both sides this prints each side's median and quartiles
and a verdict:

  worse       the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json
  unresolved  the parent's own spread (q3 - q1) / median exceeds the bound,
              and not every change run beats every parent run
  gain        the change wins at least 9 of 10 pairs (ties count for
              neither) and the medians differ by more than the parent's
              interquartile spread (choosing-metrics guide, section 8)
  same        none of the above

Runs are paired by seed where both sides ran the seed, otherwise in file
order. Metrics without a bound (per-layer ones) get gain/same only.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl
    python3 perfbench/compare.py --self-check
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec(path):
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}


def load_runs(path):
    """workload -> metric -> [(seed, value)] in file order."""
    runs = {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            r = json.loads(line)
            for name, m in r["metrics"].items():
                runs.setdefault(r["workload"], {}).setdefault(name, []).append((r.get("seed"), m["value"]))
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def pairs(base, change):
    by_seed = dict(base)
    common = [(by_seed[s], v) for s, v in change if s is not None and s in by_seed]
    if len(common) == min(len(base), len(change)):
        return common
    return list(zip([v for _, v in base], [v for _, v in change]))


def verdict(base, change, better, bound):
    """One metric on one workload; base and change are [(seed, value)]."""
    b = [v for _, v in base]
    c = [v for _, v in change]
    bq1, bmed, bq3 = quartiles(b)
    _, cmed, _ = quartiles(c)
    sign = 1.0 if better == "lower" else -1.0  # sign * (x - y) > 0: x is worse than y
    spread = bq3 - bq1
    ps = pairs(base, change)
    wins = sum(1 for x, y in ps if sign * (x - y) > 0)
    if bound is not None and sign * (cmed - bmed) > bound * abs(bmed):
        return "worse"
    if bound is not None and bmed and spread / abs(bmed) > bound:
        if all(sign * (x - y) > 0 for x in b for y in c):
            return "gain"
        return "unresolved"
    if ps and wins >= 0.9 * len(ps) and sign * (bmed - cmed) > spread:
        return "gain"
    return "same"


def compare(base_runs, change_runs, spec):
    rows = []
    for wl in sorted(set(base_runs) & set(change_runs)):
        for name in sorted(set(base_runs[wl]) & set(change_runs[wl])):
            m = spec.get(name, {})
            base, change = base_runs[wl][name], change_runs[wl][name]
            v = verdict(base, change, m.get("better", "lower"), m.get("bound"))
            rows.append((wl, name, m.get("unit", ""), quartiles([x for _, x in base]),
                         quartiles([x for _, x in change]), m.get("bound"), v))
    return rows


def report(rows):
    print(f"{'workload':10s} {'metric':28s} {'parent median [q1, q3]':>34s} "
          f"{'change median [q1, q3]':>34s} {'delta':>8s} {'bound':>6s}  verdict")
    for wl, name, unit, (b1, b2, b3), (c1, c2, c3), bound, v in rows:
        delta = f"{(c2 - b2) / b2:+.1%}" if b2 else "n/a"
        print(f"{wl:10s} {name:28s} {b2:12.4f} [{b1:.4f}, {b3:.4f}] "
              f"{c2:12.4f} [{c1:.4f}, {c3:.4f}] {delta:>8s} "
              f"{'' if bound is None else f'{bound:.2f}':>6s}  {v} {unit}")
    worse = [r for r in rows if r[-1] == "worse"]
    print(f"{len(rows)} comparisons: {len(worse)} worse, "
          f"{sum(r[-1] == 'unresolved' for r in rows)} unresolved, "
          f"{sum(r[-1] == 'gain' for r in rows)} gain")
    return 1 if worse else 0


def self_check():
    fx = os.path.join(HERE, "fixtures")
    spec = load_spec(os.path.join(fx, "spec.json"))
    base = load_runs(os.path.join(fx, "parent.jsonl"))
    change = load_runs(os.path.join(fx, "change.jsonl"))
    got = {(wl, name): v for wl, name, *_, v in compare(base, change, spec)}
    with open(os.path.join(fx, "expected.json")) as f:
        want = {tuple(k.split("/")): v for k, v in json.load(f).items()}
    bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
    for (wl, name), (g, w) in sorted(bad.items()):
        print(f"self-check FAIL {wl}/{name}: got {g}, want {w}")
    if set(got) != set(want):
        print(f"self-check FAIL: compared {sorted(got)}, expected {sorted(want)}")
        return 1
    print(f"self-check {'FAIL' if bad else 'ok'}: {len(want)} verdicts")
    return 1 if bad else 0


def main(argv):
    if argv == ["--self-check"]:
        return self_check()
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    spec = load_spec(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    return report(compare(load_runs(argv[0]), load_runs(argv[1]), spec))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
