#!/usr/bin/env python3
"""Smoke run of every benchmark workload at the tiny size, checks on.

Run from the root of a checkout:

    python3 perfbench/tests/smoke.py

For each workload in BENCHMARK.json it makes one untraced and one traced
run. Each must exit 0 with correct=true, no failed operations, and exactly
the end-to-end (untraced) or per-layer (traced) metrics BENCHMARK.json
lists. The serve workload runs twice on one seed, and its first-round
(qid, chunk_id, rank) fingerprint must be identical.
"""

import json
import os
import subprocess
import sys

ROOT = os.getcwd()
RUN = os.path.join("perfbench", "run.py")


def run(workload, seed, trace):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {p.returncode}")
    return lines, json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"] for m in spec["end_to_end"]}
    layer = {m["name"] for m in spec["per_layer"]}
    bad = 0
    prints = {}
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, names in ((0, e2e), (1, layer)):
            lines, res = run(w, 7, trace)
            got = set(res["metrics"])
            ok = (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
                  and got == names
                  and all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()))
            print(f"{'ok  ' if ok else 'FAIL'} {w} trace={trace} attempted={res['attempted']} "
                  f"missing={sorted(names - got)} extra={sorted(got - names)}")
            bad += not ok
            if w == "serve":
                prints[trace] = [l for l in lines if l.startswith("fingerprint ")]
    if "serve" in [x["name"] for x in spec["workloads"]]:
        same = prints.get(0) and prints.get(0) == prints.get(1)
        print(f"{'ok  ' if same else 'FAIL'} serve fingerprint repeats across runs: {prints.get(0)}")
        bad += not same
    if bad:
        raise SystemExit(f"{bad} smoke check(s) failed")
    print("smoke: all workloads ok")


if __name__ == "__main__":
    main()
