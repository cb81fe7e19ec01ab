#!/usr/bin/env python3
"""Regenerates ``expected.json``, the expected fingerprint of every query
op of every workload.

    python3 perfbench/make_expected.py

Runs each query workload once and fingerprints its outputs, and runs the
op's DuckDB oracle (``graft.SparkEntry.oracleSql``) over the same generated
tables. Where the two agree the entry is labelled ``duckdb_oracle``; where
the op has no oracle, or the oracle disagrees at this input size, the
entry holds the program's own output, labelled ``seed_output``, with the
oracle's fingerprint kept beside it for the record. An oracle that runs
longer than ``ORACLE_LIMIT_S`` (e94's all-pairs Jaccard over the 10,000
doubled documents) is stopped and the entry labelled ``seed_output``. Run
it only when the generator or the workloads change, on a commit whose
outputs are trusted.
"""
import json
import os
import subprocess
import sys
import threading

import duckdb

import fingerprint
import gen
import run

ORACLE_LIMIT_S = 120
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def run_oracle(con, sql):
    """The fingerprint of ``sql``'s result, or None past the time limit."""
    timer = threading.Timer(ORACLE_LIMIT_S, con.interrupt)
    timer.start()
    try:
        cur = con.execute(sql)
        rows, h, _ = fingerprint.fingerprint([d[0] for d in cur.description], cur.fetchall())
        return {"rows": rows, "hash": h}
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()


def main():
    classpath = run.build()
    work = os.path.join(run.STATE, "expected")
    os.makedirs(work, exist_ok=True)
    input_dir = os.path.join(work, "input")
    run.prepare_inputs("etl_analytics", 0, input_dir)
    oracle_file = os.path.join(work, "oracle.json")
    subprocess.run(["java", "-cp", classpath, "perfbench.OracleSql", oracle_file], check=True)
    with open(oracle_file) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(input_dir, 'parquet', t)}.parquet'")
    out = {}
    for workload in run.WORKLOADS:
        run_dir = os.path.join(work, workload)
        os.makedirs(run_dir, exist_ok=True)
        result = run.run_jvm(classpath, workload, 0, 0, False, input_dir, run_dir,
                             os.path.join(work, f"{workload}.spans"))
        seen = {}
        for op in [o for p in result["passes"] for o in p["ops"]]:
            if op["error"]:
                sys.exit(f"{op['name']} failed: {op['error']}")
            if "hash" in op["result"]:
                fp = {"rows": op["result"]["rows"], "hash": op["result"]["hash"]}
                if seen.setdefault(op["name"], fp) != fp:
                    sys.exit(f"{op['name']} is not deterministic: {seen[op['name']]} vs {fp}")
        entries = {}
        for name, fp in sorted(seen.items()):
            entry = dict(fp, source="seed_output")
            if name in oracle:
                got = run_oracle(con, oracle[name])
                if got == fp:
                    entry["source"] = "duckdb_oracle"
                else:
                    entry["oracle"] = got or f"stopped after {ORACLE_LIMIT_S} s"
            entries[name] = entry
            print(f"{workload:14s} {name:24s} {entry['source']}", file=sys.stderr)
        out[workload] = entries
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump({"base_seed": gen.BASE_SEED, "workloads": out}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
