#!/usr/bin/env python3
"""Compare two traced runs layer by layer.

    python3 perfbench/layer_diff.py BASE_TRACE [NEW_TRACE] [--top N]

Traces are the files a `--trace 1` run writes under <build dir>/traces/.
Prints every per-layer metric of both runs with the ratio NEW/BASE, the
entries whose self time moved most (per layer, median cold and median warm
pass), and the task-time skew and CPU use of dedup_near and dedup_simhash,
the entries whose cost is attributed to hot LSH buckets. With one trace it
prints that run's figures alone.
"""
import argparse
import json
import statistics

SKEW_ENTRIES = ("dedup_near", "dedup_simhash")
CORES = 4


def load(path):
    with open(path) as f:
        return json.load(f)


def entry_table(trace):
    """{kind: {entry: row}} for kind cold and warm (medians over that kind's passes)."""
    table = {}
    for kind in ("cold", "warm"):
        passes = [p for p in trace["passes"] if p["label"].startswith(kind)]
        table[kind] = {}
        for name in passes[0]["entries"] if passes else []:
            rows = [p["entries"][name] for p in passes if name in p["entries"]]
            if any("self_s" not in r for r in rows):
                continue
            table[kind][name] = {
                "total_s": statistics.median(r["total_s"] for r in rows),
                "self_s": {k: statistics.median(r["self_s"][k] for r in rows)
                           for k in rows[0]["self_s"]},
                "max_task_skew": max(r["max_task_skew"] for r in rows),
                "task_cpu_s": statistics.median(r["task_cpu_s"] for r in rows),
            }
    return table


def fmt(v):
    return f"{v:12.4f}" if isinstance(v, (int, float)) else f"{'-':>12}"


def print_layers(traces):
    names = list(traces[0]["metrics"])
    for t in traces[1:]:
        names += [n for n in t["metrics"] if n not in names]
    head = "".join(f"{t['workload'] + ' s' + str(t['seed']):>16.16}" for t in traces)
    print(f"{'metric':40s}{head}" + ("       ratio" if len(traces) == 2 else ""))
    for n in names:
        vals = [t["metrics"].get(n) for t in traces]
        line = f"{n:40s}" + "".join(f"{fmt(v):>16}" for v in vals)
        if len(vals) == 2 and vals[0] and vals[1] is not None:
            line += f"{vals[1] / vals[0]:12.3f}"
        print(line)


def print_movers(base, new, top):
    a, b = entry_table(base), entry_table(new)
    for kind in ("cold", "warm"):
        moves = []
        for name in a[kind].keys() & b[kind].keys():
            for layer, va in a[kind][name].get("self_s", {}).items():
                vb = b[kind][name]["self_s"].get(layer, 0.0)
                moves.append((vb - va, name, layer, va, vb))
        moves.sort(key=lambda m: -abs(m[0]))
        print(f"\nlargest self-time moves, {kind} pass (seconds)")
        print(f"  {'entry':28s}{'layer':8s}{'base':>10s}{'new':>10s}{'delta':>10s}")
        for d, name, layer, va, vb in moves[:top]:
            print(f"  {name:28s}{layer:8s}{va:10.3f}{vb:10.3f}{d:+10.3f}")


def print_skew(traces):
    print("\ntask-time skew (max/median task time of the entry's most skewed stage)"
          " and CPU use (task CPU / entry wall / cores)")
    for t in traces:
        table = entry_table(t)
        for kind in ("cold", "warm"):
            for name in SKEW_ENTRIES:
                row = table[kind].get(name)
                if row is None or "max_task_skew" not in row:
                    continue
                util = row["task_cpu_s"] / (row["total_s"] * CORES) if row["total_s"] else 0.0
                print(f"  {t['workload']} seed {t['seed']} {kind:4s} {name:16s} "
                      f"spark.max_task_skew {row['max_task_skew']:7.2f}  cpu_util {util:5.2f}"
                      f"  total {row['total_s']:.3f} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("traces", nargs="+")
    ap.add_argument("--top", type=int, default=15)
    args = ap.parse_args()
    if len(args.traces) > 2:
        ap.error("give one or two traces")
    traces = [load(p) for p in args.traces]
    print_layers(traces)
    if len(traces) == 2:
        print_movers(traces[0], traces[1], args.top)
    print_skew(traces)


if __name__ == "__main__":
    main()
