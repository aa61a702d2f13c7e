#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its result.

    python3 perfbench/run.py --workload <taxi_replay|sql_batch|curation>
        --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the harness from source (perfbench/build.py),
generates the input tables (perfbench/gen_data.py), runs the workload in
a fresh JVM (perfbench.Main, local[N] with N = min(4, cpus available)),
checks the digest of every op's output against the digest of the DuckDB
oracle's answer (perfbench/expected.json, made by
perfbench/refresh_expected.py), and prints one JSON object as the last
line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. The full run record, with every sample,
every failed op and the machine stamps, is written under
perfbench/.work/records/, named by workload, seed, cpu count and time.

The tables are the same for every seed (DATA_SEED); --seed drives the
taxi feed's serving delays and the order in which entries run.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import build
import stats

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
DATA_SEED = 42
# scale factor of the generated tables per workload (sf 0.1 = 600k lineitem rows)
SCALE = {"taxi_replay": 0.03, "sql_batch": 0.01, "curation": 0.01}
# the paced taxi phase replays the first events of the feed
TAXI_SLICE_EVENTS = 2400
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
FIRST_RUN_LIMIT_S, RUN_LIMIT_S = 880, 170


def cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def data_name(sf):
    """Names the generated tables by generator, seed, scale and slice."""
    tag = hashlib.sha256((HERE / "gen_data.py").read_bytes()).hexdigest()[:12]
    return f"sf{sf}-seed{DATA_SEED}-slice{TAXI_SLICE_EVENTS}-{tag}"


def ensure_data(sf):
    """The generated tables at `sf`, plus the taxi slice; made once per checkout."""
    data = WORK / "data" / data_name(sf)
    if not (data / ".done").exists():
        import gen_data
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        tmp = data.with_name(data.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.write(str(tmp), sf, DATA_SEED)
        events = pq.read_table(tmp / "events.parquet")
        (tmp / "slice").mkdir()
        pq.write_table(events.filter(pc.less(events["event_id"], TAXI_SLICE_EVENTS)),
                       tmp / "slice" / "events.parquet")
        (tmp / ".done").write_text("")
        shutil.rmtree(data, ignore_errors=True)
        tmp.rename(data)
    return data


def run_jvm(classes, main_args, run_dir, timeout):
    """Runs perfbench.Main in `run_dir` (its scratch and log live there)."""
    cmd = [build.java(), "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
    cmd += [f"--add-opens={m}=ALL-UNNAMED" for m in JVM_OPENS]
    cmd += ["-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Main"] + main_args
    # the engine's SPARK_GRAFT_* knobs stay at their defaults
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM exceeded {timeout:.0f} s (log: {run_dir / 'jvm.log'})")
    if rc != 0:
        raise SystemExit(f"perfbench: JVM failed with code {rc} (log: {run_dir / 'jvm.log'})")


def judge(recs, digests):
    """Marks each op right or wrong: an op is wrong when its output digest
    is not the oracle's. Returns (attempted, failures); thrown ops are
    failures already."""
    failures = [f for r in recs for f in r["failures"]]
    for r in recs:
        for op in r["ops"]:
            want = digests.get(op["op"])
            op["ok"] = want is not None and op["fp"] == want
            if not op["ok"]:
                failures.append({"op": op["op"], "error": f"digest {op['fp']} is not the oracle's {want}"})
    return sum(r["attempted"] for r in recs), failures


def timed_ops(rec):
    """(entry, ms) of each timed entry execution whose output was right."""
    return [(op["op"], op["ms"]) for op in rec["ops"] if op["ms"] is not None and op["ok"]]


def samples_ms(rec):
    """Latency samples: each paced chunk's result latency, and the time of
    each entry execution whose output was right."""
    return rec["samples_ms"] + [ms for _, ms in timed_ops(rec)]


def end_to_end(raw):
    timed = raw["timed"]
    walls = [w for w in timed["walls_s"] if w is not None]
    ops, chunks = timed_ops(timed), timed["samples_ms"]
    latency = stats.entry_latency(ops) if ops else stats.percentile(chunks, 50) if chunks else None
    return {
        "setup_s": raw["setup_s"],
        "wall_s": statistics.median(walls) if walls else None,
        "latency_ms": latency,
        "peak_rss_mb": raw["peak_rss_mb"],
    }


def per_layer(raw):
    traced, timed = raw["traced"], raw["timed"]
    values = dict(raw["layers"])
    lags = traced.get("generator_lag_ms") or []
    tw = [w for w in traced["walls_s"] if w is not None]
    uw = [w for w in timed["walls_s"] if w is not None]
    values.update({
        "jvm.heap_peak_mb": raw["heap_peak_mb"],
        "jvm.jit_ms": raw["jit_ms"],
        "bench.generator_lag_p90_ms": stats.percentile(lags, 90) if lags else 0.0,
        "bench.backlog_max_chunks": traced.get("backlog_max_chunks", 0),
        "bench.tracing_overhead_pct":
            100.0 * (statistics.median(tw) / statistics.median(uw) - 1.0) if tw and uw else None,
        "bench.loadavg_1m": raw["loadavg_before"],
        "bench.steal_pct": raw["steal_pct"],
        "bench.calib_ms": raw["calib_ms"],
    })
    return values


def metrics_for(specs, values):
    missing = [s["name"] for s in specs if values.get(s["name"]) is None]
    if missing:
        raise SystemExit(f"perfbench: metrics not measured: {missing}")
    return {s["name"]: {"value": values[s["name"]], "unit": s["unit"]} for s in specs}


def load_expected(workload):
    """The oracle digests for this workload's outputs, if they were made
    from the tables this checkout generates."""
    expected = json.loads((HERE / "expected.json").read_text())
    made_from = expected["tables"].get(workload)
    if made_from != data_name(SCALE[workload]):
        raise SystemExit(f"perfbench: expected.json was made from tables {made_from}, "
                         f"not {data_name(SCALE[workload])}; run perfbench/refresh_expected.py")
    return expected["digests"]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t0 = time.time()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    digests = load_expected(args.workload)
    WORK.mkdir(exist_ok=True)
    first = not (WORK / "classes" / ".stamp").exists()
    classes = build.build(WORK)
    data = ensure_data(SCALE[args.workload])
    name = f"{args.workload}-seed{args.seed}-cpu{cpus()}" + ("-trace" if args.trace else "")
    run_dir = WORK / "run" / name
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    limit = FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S
    run_jvm(classes, ["--workload", args.workload, "--seed", str(args.seed),
                      "--seconds", str(args.seconds), "--trace", str(args.trace),
                      "--data", str(data), "--slice", str(data / "slice"), "--work", str(run_dir),
                      "--out", str(run_dir / "raw.json"), "--cpus", str(cpus())],
            run_dir, timeout=max(30.0, limit - (time.time() - t0) - 15))
    raw = json.loads((run_dir / "raw.json").read_text())
    if "error" in raw:
        raise SystemExit(f"perfbench: run aborted: {raw['error']} (log: {run_dir / 'jvm.log'})")
    recs = [raw["setup"], raw["timed"]] + ([raw["traced"]] if args.trace else [])
    attempted, failures = judge(recs, digests)
    values = per_layer(raw) if args.trace else end_to_end(raw)
    metrics = metrics_for(spec["per_layer" if args.trace else "end_to_end"], values)
    result = {"correct": not failures, "attempted": attempted,
              "failed": min(attempted, len(failures)), "metrics": metrics}
    samples = samples_ms(raw["timed"])
    walls = [w for w in raw["timed"]["walls_s"] if w is not None]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cpus": raw["cpus"], "nproc": os.cpu_count(), "tables": data.name,
        "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "result": result,
        "failed_ops": stats.failure_ratio(attempted, result["failed"]),
        "failures": failures,
        "latency": stats.latency_summary(samples) if samples else None,
        "events_per_s": raw["timed"]["events"] / statistics.median(walls)
        if args.workload == "taxi_replay" and walls else None,
        "machine": {k: raw[k] for k in ("calib_ms", "loadavg_before", "loadavg_after", "steal_pct")},
        "raw": raw,
    }
    records = WORK / "records"
    records.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    if args.trace:
        record["raw"]["spans"] = str(shutil.move(raw["spans"], records / f"{name}-{stamp}.spans.jsonl"))
    (records / f"{name}-{stamp}.json").write_text(json.dumps(record, indent=1))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
