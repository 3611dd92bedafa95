#!/usr/bin/env python3
"""Run the benchmark on several seeds and report how steady it is.

    python3 perfbench/steady.py --workloads ingest,curated_ingest --seeds 1-10

For every end-to-end metric of every workload it prints the median, the
distance between the first and third quartile as a share of the median
(`statistics.quantiles(values, n=4)`), and that spread against the
metric's bound in BENCHMARK.json. Records are appended to --out as JSON
lines, one per run.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default="ingest,curated_ingest")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=os.path.join(HERE, ".work", "steady.jsonl"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    for w in args.workloads.split(","):
        recs = []
        for s in seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(s), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                print("%s seed %d: exit %d" % (w, s, p.returncode))
                continue
            rec = metrics.loads(p.stdout.strip().splitlines()[-1])
            recs.append(rec)
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": s, "record": rec}) + "\n")
        if len(recs) < 2:
            continue
        print("%s: %d runs, %d correct" % (w, len(recs), sum(r["correct"] for r in recs)))
        for name in metrics.END_TO_END:
            vals = [r["metrics"][name]["value"] for r in recs]
            sp = metrics.spread(vals)
            print("  %-22s median %12.4f  spread %6.3f  bound %.2f  %s"
                  % (name, statistics.median(vals), sp, bounds.get(name, float("nan")),
                     "ok" if sp <= bounds.get(name, 0) / 3 else "WIDE"))


if __name__ == "__main__":
    main()
