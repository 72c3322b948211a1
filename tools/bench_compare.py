#!/usr/bin/env python3
"""Compare benchmark results of a base and a changed checkout.

    bench_compare.py OLD.json NEW.json
        Two Bench JSON lines (round-over-round): per-query deltas,
        sorted by regression size. A probe in either line's `failed`
        array prints as FAILED, and differing `n_queries` get a warning:
        a total that shrank because a probe failed is not a speed-up.

    bench_compare.py --runs BASE.log ... -- CHANGE.log ... [--metrics a,b]
        Outputs of `python3 perfbench/run.py` (one run per file). Runs
        pair up in the order given: the i-th base run with the i-th
        change run. For every end-to-end metric of BENCHMARK.json (or
        the metrics named with --metrics) it prints each run, the
        median and quartiles per side, how many pairs the change won
        and whether the medians differ by more than the base's
        interquartile range.
"""
import json
import os
import statistics
import sys

BENCHMARK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")


def load(path):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("{"):
                return json.loads(line)
    raise SystemExit(f"no JSON line in {path}")


def compare_bench(old_path, new_path):
    old, new = load(old_path), load(new_path)
    print(f"total: {old['value']:.1f}s -> {new['value']:.1f}s "
          f"({new['value'] - old['value']:+.1f}s)")
    if old["n_queries"] != new["n_queries"]:
        print(f"WARNING: n_queries differ ({old['n_queries']} -> {new['n_queries']}); "
              "the totals cover different probe sets")
    oq, nq = old["queries"], new["queries"]
    failed = set(old.get("failed", [])) | set(new.get("failed", []))
    rows = []
    for name in sorted(set(oq) | set(nq) | failed):
        a, b = oq.get(name), nq.get(name)
        if name in failed:
            side = " / ".join(s for s, line in (("old", old), ("new", new))
                              if name in line.get("failed", []))
            rows.append((0.0, f"{name:30s}  FAILED  ({side})"))
        elif a is None:
            rows.append((0.0, f"{name:30s}    NEW   {b:6.2f}s"))
        elif b is None:
            rows.append((0.0, f"{name:30s} REMOVED  ({a:6.2f}s)"))
        else:
            rows.append((b - a, f"{name:30s} {a:6.2f}s -> {b:6.2f}s ({b - a:+.2f}s)"))
    for _, line in sorted(rows, key=lambda r: -r[0]):
        print(line)


def run_metrics(path):
    """Metric values of one perfbench/run.py output ("metric <name> <value> <unit>")."""
    out = {}
    with open(path) as f:
        for line in f:
            parts = line.split()
            if len(parts) == 4 and parts[0] == "metric":
                out[parts[1]] = float(parts[2])
    if not out:
        raise SystemExit(f"no metric lines in {path}")
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def compare_runs(base_paths, change_paths, names):
    if len(base_paths) != len(change_paths):
        raise SystemExit(f"{len(base_paths)} base runs but {len(change_paths)} change runs")
    with open(BENCHMARK) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec.get("per_layer", [])}
    names = names or [m["name"] for m in spec["end_to_end"]]
    base = [run_metrics(p) for p in base_paths]
    change = [run_metrics(p) for p in change_paths]
    for name in names:
        b = [r.get(name) for r in base]
        c = [r.get(name) for r in change]
        if None in b or None in c:
            print(f"{name}: missing in some runs")
            continue
        lower = better.get(name, "lower") == "lower"
        won = sum(1 for x, y in zip(b, c) if (y < x if lower else y > x))
        bq1, bmed, bq3 = quartiles(b)
        cq1, cmed, cq3 = quartiles(c)
        rel = (cmed - bmed) / bmed if bmed else float("nan")
        print(f"{name} ({better.get(name, 'lower')} is better)")
        print("  pairs  " + "  ".join(f"{x:.4g}->{y:.4g}" for x, y in zip(b, c)))
        print(f"  base   median {bmed:.4g}  quartiles [{bq1:.4g}, {bq3:.4g}]")
        print(f"  change median {cmed:.4g}  quartiles [{cq1:.4g}, {cq3:.4g}]")
        print(f"  median {rel:+.1%}; change won {won}/{len(b)} pairs; "
              f"|median delta| {abs(cmed - bmed):.4g} vs base IQR {bq3 - bq1:.4g}")


def main(argv):
    if argv and argv[0] == "--runs":
        args = argv[1:]
        names = None
        if "--metrics" in args:
            i = args.index("--metrics")
            names = args[i + 1].split(",")
            args = args[:i] + args[i + 2:]
        if "--" not in args:
            raise SystemExit(__doc__)
        i = args.index("--")
        compare_runs(args[:i], args[i + 1:], names)
    elif len(argv) == 2:
        compare_bench(argv[0], argv[1])
    else:
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
