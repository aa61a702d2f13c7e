#!/usr/bin/env python3
"""Runs the benchmark over a set of seeds and reports how steady it is.

    python3 perfbench/runset.py --workloads taxi_replay,sql_batch --seeds 1-10 --out set_a.json
    python3 perfbench/runset.py --agree set_a.json set_b.json

The first form runs `run.py` once per (workload, seed) with
BENCHMARK.json's run_seconds and writes every result plus, per
end-to-end metric, the median and the spread (inter-quartile range over
median). A spread above a third of the metric's bound is flagged. The
second form applies the agreement check of stats.agreement to two such
sets, per workload.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

import stats

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(workloads, seed_list):
    out = {}
    for w in workloads:
        results = []
        for s in seed_list:
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(s),
                   "--seconds", str(SPEC["run_seconds"]), "--trace", "0"]
            proc = subprocess.run(cmd, cwd=HERE.parent, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            results.append({"seed": s, "result": res})
            print(f"{w} seed {s}: " + (json.dumps(res) if res else f"no result (exit {proc.returncode})"),
                  flush=True)
        values = {m["name"]: [r["result"]["metrics"][m["name"]]["value"] for r in results if r["result"]]
                  for m in SPEC["end_to_end"]}
        summary = {}
        for m in SPEC["end_to_end"]:
            v = values[m["name"]]
            if len(v) >= 2:
                sp = stats.spread(v)
                summary[m["name"]] = {"median": statistics.median(v), "spread": sp, "bound": m["bound"],
                                      "steady": sp <= m["bound"] / 3 or m["name"] == "setup_s"}
        out[w] = {"runs": results, "values": values, "summary": summary,
                  "all_correct": all(r["result"] and r["result"]["correct"] for r in results)}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--agree", nargs=2, metavar=("FIRST", "SECOND"))
    args = ap.parse_args()
    if args.agree:
        a, b = (json.loads(Path(p).read_text()) for p in args.agree)
        ok = True
        for w in sorted(set(a) & set(b)):
            problems, summary = stats.agreement(a[w]["values"], b[w]["values"], SPEC["end_to_end"])
            print(json.dumps({"workload": w, "problems": problems, "summary": summary}, indent=1))
            ok = ok and not problems
        sys.exit(0 if ok else 1)
    result = run_set(args.workloads.split(","), seeds(args.seeds))
    for w, r in result.items():
        print(w, "correct" if r["all_correct"] else "NOT ALL CORRECT", json.dumps(r["summary"]))
    if args.out:
        Path(args.out).write_text(json.dumps(result, indent=1))


if __name__ == "__main__":
    main()
