#!/usr/bin/env python3
"""Recomputes perfbench/expected.json: the digest of the DuckDB oracle's
answer for every output the benchmark checks.

Each checked output has oracle SQL in the engine (`SparkEntry.oracleSql`
for registry entries, the batch twins' SQL for the taxi pipelines).
This tool runs each oracle once over the generated tables with DuckDB,
writes the answer as parquet, and digests it with the same normal form
and hash the benchmark applies to the engine's outputs (perfbench.Main
--digest). Run it after changing the generated tables (gen_data.py,
DATA_SEED, SCALE, TAXI_SLICE_EVENTS) or the checked outputs; the dedup
graph oracles take minutes.

    python3 perfbench/refresh_expected.py
"""
import json
import os
import shutil

import duckdb

import build
import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_parquet(sql, data_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    os.makedirs(out_dir)
    con.execute(f"COPY ({sql}) TO '{out_dir}/part-0.parquet' (FORMAT PARQUET)")


def main():
    classes = build.build(run.WORK)
    work = run.WORK / "refresh"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    run.run_jvm(classes, ["--checks", str(work / "checks.json")], work, timeout=300)
    checks = json.loads((work / "checks.json").read_text())
    answers = work / "answers"
    answers.mkdir()
    tables = {}
    for c in checks:
        data = run.ensure_data(run.SCALE[c["workload"]])
        tables[c["workload"]] = data.name
        print(f"oracle {c['name']}", flush=True)
        oracle_parquet(c["sql"], str(data / "slice" if c["slice"] else data), str(answers / c["name"]))
    run.run_jvm(classes, ["--digest", str(answers), "--out", str(work / "digests.json"),
                          "--cpus", str(run.cpus())], work, timeout=600)
    digests = json.loads((work / "digests.json").read_text())
    expected = {"tables": dict(sorted(tables.items())), "digests": dict(sorted(digests.items()))}
    (run.HERE / "expected.json").write_text(json.dumps(expected, indent=1) + "\n")
    print(f"wrote {len(digests)} digests")


if __name__ == "__main__":
    main()
