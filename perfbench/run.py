#!/usr/bin/env python3
"""Run one benchmark run and print its result as the last line of stdout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and harness if needed (perfbench/build.py), generates the
workload's dataset if needed (perfbench/gen_data.py), then runs the harness in
a fresh JVM with empty working directories: set-up followed by a cold pass
over the workload's entries in a seed-shuffled order, repeated on fresh
dataset aliases (medians reported), warm passes until the measuring window is
spent, and an untimed digest pass checked against perfbench/digests/. With --trace 1 the run records Spark
listener figures and spans, prints per-layer metrics and writes the full
trace to <build dir>/traces/.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0 --record-digests
stores the run's result digests as the expected ones (a second recording
demotes entries whose digest changed to a row-count and schema check).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datasets  # noqa: E402
import isolation  # noqa: E402
import layers  # noqa: E402

WORKLOADS = {
    # one entry per relational query module plus commit-log, merge-on-read
    # and streaming entries, on a small dataset: fixed per-query cost
    # (analysis, planning, codegen, job scheduling) dominates the warm
    # passes, and the cold pass also writes the tables the warm passes read
    "olap_rw_sf0.01": {
        "dataset": "sf0.01",
        "indexes": [],
        "entries": ["scan_pruned", "filter_conj", "join_sort_merge", "agg_rollup",
                    "win_rank", "topk_per_group", "set_intersect_all", "subq_correlated",
                    "tpch_q1", "sessionize_native", "dml_upsert_mor", "stream_tumbling"],
    },
    # similarity, dedup and vector kernels on two disjoint copies of the
    # corpus, with the three index builds in set-up
    "llm_heavy_sf0.01x2": {
        "dataset": "sf0.01x2",
        "indexes": ["ivf", "minhash", "simgraph"],
        "entries": ["dedup_fuzzy_exact", "dedup_simhash", "dedup_near",
                    "embed_knn_block_unscaled"],
    },
}
CORES = 4
HEAP = "1g"
# set-up + cold pass rounds per run, each on a fresh alias of the dataset:
# the first cold pass runs on a fresh JVM, the second on one that has run
# every entry once, and the reported cold pass time is their median
COLD_PASSES = 2
JVM_TIMEOUT_S = 170


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_harness(workload, seed, seconds, trace):
    """Run the harness JVM; return (raw measurements, leaked /dev/shm MB)."""
    w = WORKLOADS[workload]
    out = build.ensure()
    data = datasets.ensure(w["dataset"])
    with isolation.RunDir(os.path.join(build.build_root(), "runs"), workload) as run:
        raw_path = os.path.join(run.root, "raw.json")
        log_path = os.path.join(run.root, "jvm.log")
        cmd = (["java", f"-XX:SharedArchiveFile={os.path.join(out, 'app.jsa')}",
                f"-Xmx{HEAP}"] + run.java_flags() + build.java_flags()
               + ["-cp", build.classpath(out), "perfbench.Harness",
                  "--data", data, "--entries", ",".join(w["entries"]),
                  "--indexes", ",".join(w["indexes"]), "--seed", str(seed),
                  "--seconds", str(seconds), "--cold-passes", str(COLD_PASSES),
                  "--trace", "1" if trace else "0",
                  "--out", raw_path])
        t0 = time.time()
        with open(log_path, "w") as log:
            proc = subprocess.run(cmd, cwd=run.work, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S)
        jvm_s = time.time() - t0
        if proc.returncode != 0 or not os.path.exists(raw_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"harness failed with exit code {proc.returncode}")
        with open(raw_path) as f:
            raw = json.load(f)
    setup_s = sum(r["setup_s"] for r in raw["setup"])
    print(f"jvm {jvm_s:.1f} s: session {raw['session_start_s']:.1f}, set-up {setup_s:.1f}, "
          f"measure {raw['measure_s']:.1f}, check and exit "
          f"{jvm_s - raw['session_start_s'] - setup_s - raw['measure_s']:.1f}; passes "
          + ", ".join(f"{p['label']} {p['wall_s']:.2f}" for p in raw["passes"]), file=sys.stderr)
    return raw, run.leaked_mb


def digests_path(workload):
    return os.path.join(HERE, "digests", f"{WORKLOADS[workload]['dataset']}.json")


def check_digests(workload, raw):
    """Names of the entries whose output does not match the stored digest."""
    with open(digests_path(workload)) as f:
        expected = json.load(f)
    bad = []
    for name in WORKLOADS[workload]["entries"]:
        got, want = raw["digests"].get(name, {}), expected["entries"].get(name)
        keys = ("rows", "schema") if name in expected["schema_only"] else ("rows", "schema", "hash")
        if want is None or "error" in got or any(got.get(k) != want[k] for k in keys):
            bad.append(name)
    return bad


def record_digests(workload, raw):
    path = digests_path(workload)
    stored = {"entries": {}, "schema_only": [], "no_oracle": []}
    if os.path.exists(path):
        with open(path) as f:
            stored = json.load(f)
    for name in WORKLOADS[workload]["entries"]:
        got = raw["digests"][name]
        if "error" in got:
            raise SystemExit(f"{name}: {got['error']}")
        old = stored["entries"].get(name)
        if old is not None and old["hash"] != got["hash"] and name not in stored["schema_only"]:
            stored["schema_only"].append(name)
        stored["entries"][name] = got
        if name not in raw["has_oracle"] and name not in stored["no_oracle"]:
            stored["no_oracle"].append(name)
            if name not in stored["schema_only"]:
                stored["schema_only"].append(name)
    for k in ("schema_only", "no_oracle"):
        stored[k].sort()
    stored["entries"] = dict(sorted(stored["entries"].items()))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(stored, f, indent=1)
        f.write("\n")


def end_to_end(raw):
    passes = raw["passes"]
    cold = [p for p in passes if p["label"].startswith("cold")]
    warm = [p for p in passes if p["label"].startswith("warm")]

    per_entry = {}
    for p in warm:
        for e in p["entries"]:
            if "error" not in e:
                per_entry.setdefault(e["name"], []).append(e["total_s"])

    return {
        "setup_s": (raw["session_start_s"] + median([r["setup_s"] for r in raw["setup"]]), "s"),
        "cold_pass_s": (median([p["wall_s"] for p in cold]), "s"),
        "warm_pass_s": (median([p["wall_s"] for p in warm]), "s"),
        "warm_query_p50_s": (median([median(ts) for ts in per_entry.values()]), "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record-digests", action="store_true")
    args = ap.parse_args()

    started = time.time()
    raw, leaked_mb = run_harness(args.workload, args.seed, args.seconds, args.trace == 1)
    if args.record_digests:
        record_digests(args.workload, raw)
    mismatches = check_digests(args.workload, raw)
    for name in mismatches:
        print(f"output check failed: {name}: {raw['digests'].get(name)}", file=sys.stderr)
    entries = [e for p in raw["passes"] for e in p["entries"]]
    for e in entries:
        if "error" in e:
            print(f"entry failed: {e['name']}: {e['error']}", file=sys.stderr)
    failed = sum("error" in e for e in entries)

    if args.trace:
        metrics, trace = layers.per_layer(raw, leaked_mb, CORES)
        trace.update(workload=args.workload, seed=args.seed)
        trace_dir = os.path.join(build.build_root(), "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump(trace, f)
        print(f"trace: {os.path.relpath(trace_path)}")
    else:
        metrics = end_to_end(raw)
    print(f"run took {time.time() - started:.1f} s", file=sys.stderr)
    print(json.dumps({
        "correct": not mismatches and failed == 0,
        "attempted": len(entries),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
