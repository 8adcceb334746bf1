#!/usr/bin/env python3
"""Re-derive perfbench/expected.json and validate it against DuckDB.

    python3 perfbench/validate.py OUT_DIR

Runs gates_batch once with --record OUT_DIR, which writes every query
result as parquet plus its oracle SQL, then checks each result with
tools/check_oracle.py over perfbench/data. Only if every query matches its
oracle are the recorded fingerprints written to expected.json (the run
itself reports mismatches against the old fingerprints, if any, on stderr).
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    rec = os.path.abspath(sys.argv[1])
    os.makedirs(rec, exist_ok=True)
    subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", "gates_batch",
                    "--seed", "1", "--seconds", "1", "--record", rec], cwd=ROOT)
    with open(os.path.join(rec, "oracle.jsonl")) as f:
        oracle = dict((r["query"], r["sql"]) for r in map(json.loads, f))
    with open(os.path.join(rec, "oracle_sql.json"), "w") as f:
        json.dump(oracle, f)
    check = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                            rec, os.path.join(BENCH, "data")], cwd=ROOT)
    if check.returncode != 0:
        sys.exit("results do not match the DuckDB oracle; expected.json left unchanged")
    with open(os.path.join(rec, "fingerprints.jsonl")) as f:
        expected = {r["query"]: [r["rows"], r["sum"]] for r in map(json.loads, f)}
    with open(os.path.join(BENCH, "expected.json"), "w") as f:
        json.dump(expected, f, indent=2)
        f.write("\n")
    print(f"wrote {len(expected)} validated fingerprints to perfbench/expected.json")


if __name__ == "__main__":
    main()
