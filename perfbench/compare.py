#!/usr/bin/env python3
"""Compare two sets of benchmark results, as saved by `run.py --save DIR`.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

For each workload and end-to-end metric it prints each side's median and
quartiles over its runs, the change in the median, and the pair-win count:
runs are paired by seed and the change wins a pair when its value is better
in the metric's direction (ties count for neither side). Following the
choosing-metrics guide, a metric whose median worsened by more than its
bound is a regression whatever else it shows; a gain is claimed only when the
change wins at least nine tenths of the pairs, the medians differ by more
than the base's own spread (quartile distance), and the change completed no
fewer ops and failed no larger share of them than the base (summed over its
runs); a metric whose base spread is wider than its bound is reported as
unresolved, not as unchanged.

Traced runs (`--trace 1`) on both sides explain the delta layer by layer:
the per-layer medians and their change, largest first. The per-query
medians of untraced runs show which ops moved. Where a side has both traced
and untraced runs, the tracing overhead is the traced op_p50 over the
untraced one.
"""
import collections
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    """{(workload, traced): {seed: result}}"""
    out = collections.defaultdict(dict)
    for f in glob.glob(os.path.join(d, "*.json")):
        r = json.load(open(f))
        raw = r["raw"]
        out[(raw["workload"], "layers" in raw)][raw["seed"]] = r
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def values(runs, name):
    return {s: r["metrics"][name]["value"] for s, r in runs.items() if name in r["metrics"]}


def fmt(x):
    return f"{x:.4g}"


def completed(runs):
    """(ops completed, share of ops failed or wrong) over `runs`."""
    attempted = sum(r["attempted"] for r in runs.values())
    failed = sum(r["failed"] for r in runs.values())
    return attempted - failed, failed / max(attempted, 1)


def compare_metric(name, better, bound, base, change):
    a, b = values(base, name), values(change, name)
    if not a or not b:
        return None
    qa, qb = quartiles(list(a.values())), quartiles(list(b.values()))
    sign = 1 if better == "higher" else -1
    seeds = sorted(set(a) & set(b))
    wins = sum(1 for s in seeds if sign * (b[s] - a[s]) > 0)
    losses = sum(1 for s in seeds if sign * (b[s] - a[s]) < 0)
    delta = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
    spread = (qa[2] - qa[0]) / qa[1] if qa[1] else 0.0
    (done_a, fail_a), (done_b, fail_b) = completed(base), completed(change)
    if bound is not None and -sign * delta > bound:
        verdict = "REGRESSION"
    elif (seeds and wins >= 0.9 * len(seeds) and abs(qb[1] - qa[1]) > qa[2] - qa[0]
          and sign * (qb[1] - qa[1]) > 0 and done_b >= done_a and fail_b <= fail_a):
        verdict = "GAIN"
    elif bound is not None and spread > bound:
        verdict = "unresolved"
    else:
        verdict = "within bound" if bound is not None else ""
    return (f"  {name:30s} base {fmt(qa[1]):>9s} [{fmt(qa[0])}, {fmt(qa[2])}]  "
            f"change {fmt(qb[1]):>9s} [{fmt(qb[0])}, {fmt(qb[2])}]  {100 * delta:+6.1f}%  "
            f"wins {wins}/{len(seeds)} (losses {losses})  {verdict}")


def per_query(runs):
    by = collections.defaultdict(list)
    for r in runs.values():
        for name, ms in r["raw"]["ops"]:
            by[name].append(ms)
    return {k: statistics.median(v) for k, v in by.items()}


def main(base_dir, change_dir):
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    base, change = load(base_dir), load(change_dir)
    for wl in [w["name"] for w in bench["workloads"]]:
        print(f"== {wl}")
        b0, c0 = base.get((wl, False), {}), change.get((wl, False), {})
        print(f" end to end ({len(b0)} base runs, {len(c0)} change runs)")
        for m in bench["end_to_end"]:
            line = compare_metric(m["name"], m["better"], m["bound"], b0, c0)
            if line:
                print(line)
        if b0 and c0:
            qa, qb = per_query(b0), per_query(c0)
            moved = sorted(set(qa) & set(qb), key=lambda k: -abs(qb[k] - qa[k]))[:8]
            print(" ops that moved most (median ms per op name)")
            for k in moved:
                print(f"  {k:30s} {qa[k]:9.1f} -> {qb[k]:9.1f}  {qb[k] - qa[k]:+8.1f} ms")
        b1, c1 = base.get((wl, True), {}), change.get((wl, True), {})
        if b1 and c1:
            print(f" layers, per op ({len(b1)} base traced runs, {len(c1)} change traced runs)")
            rows = []
            for m in bench["per_layer"]:
                a, b = values(b1, m["name"]), values(c1, m["name"])
                if a and b:
                    ma, mb = statistics.median(a.values()), statistics.median(b.values())
                    rows.append((abs(mb - ma) / (abs(ma) or 1.0), m["name"], ma, mb, m["unit"]))
            for _, name, ma, mb, unit in sorted(rows, reverse=True):
                if ma != mb:
                    print(f"  {name:30s} {fmt(ma):>12s} -> {fmt(mb):>12s} {unit}")
        for side, runs0, runs1 in (("base", b0, b1), ("change", c0, c1)):
            u, t = values(runs0, "op_p50_ms"), values(runs1, "trace.op_p50_ms")
            if u and t:
                mu, mt = statistics.median(u.values()), statistics.median(t.values())
                print(f" tracing overhead ({side}): traced op_p50 {mt:.1f} ms vs untraced "
                      f"{mu:.1f} ms ({100 * (mt / mu - 1):+.1f}%)")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(*sys.argv[1:])
