#!/usr/bin/env python3
"""Confirm a workload's stored result digests against the DuckDB oracle.

    python3 perfbench/confirm_digests.py --workload NAME

Dumps the workload's entries with `graft.Verify` on the workload's dataset,
checks the dumps with `dev/check.py` (the engine's oracle checker), then
digests the dumps the same way the benchmark digests results and compares
them with perfbench/digests/. Entries without an oracle are listed and
compared on row count and schema only. Exits non-zero on any failure.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datasets  # noqa: E402
import isolation  # noqa: E402
from run import WORKLOADS, digests_path  # noqa: E402


def java(out, run, args, log):
    cmd = (["java", "-Xmx2g"] + run.java_flags() + build.java_flags()
           + ["-cp", build.classpath(out)] + args)
    with open(log, "w") as f:
        proc = subprocess.run(cmd, cwd=run.work, stdout=f, stderr=subprocess.STDOUT)
    if proc.returncode != 0:
        raise SystemExit(f"{args[0]} failed, see the log above: {log}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    out = build.ensure()
    data = datasets.ensure(w["dataset"])
    with open(digests_path(args.workload)) as f:
        stored = json.load(f)
    names = w["entries"]
    with isolation.RunDir(os.path.join(build.build_root(), "runs"), "confirm") as run:
        dumps = os.path.join(run.root, "verify")
        java(out, run, ["graft.Verify", data, dumps, ",".join(names)],
             os.path.join(run.root, "verify.log"))
        oracle = [n for n in names if n not in stored["no_oracle"]]
        check = subprocess.run(
            [sys.executable, os.path.join(build.ROOT, "dev", "check.py"), data, dumps],
            env=dict(os.environ, GRAFT_CHECK_SUBSET=",".join(oracle)))
        digest_file = os.path.join(run.root, "dump_digests.json")
        java(out, run, ["perfbench.DumpDigests", dumps, digest_file] + names,
             os.path.join(run.root, "digest.log"))
        with open(digest_file) as f:
            dumped = json.load(f)
    bad = []
    for n in names:
        keys = ("rows", "schema") if n in stored["schema_only"] else ("rows", "schema", "hash")
        same = all(dumped[n].get(k) == stored["entries"][n][k] for k in keys)
        print(f"  {'same' if same else 'DIFF'} {n}: digest of the checked dump"
              f"{'' if 'hash' in keys else ' (rows and schema only)'}")
        if not same:
            bad.append(n)
    print(f"oracle check exit {check.returncode}; {len(names) - len(bad)}/{len(names)} "
          f"stored digests equal the checked dumps; no oracle: {stored['no_oracle']}")
    sys.exit(1 if bad or check.returncode else 0)


if __name__ == "__main__":
    main()
