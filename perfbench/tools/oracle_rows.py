"""Cross-check perfbench/expected_gate_rows.tsv against the DuckDB oracle.

ExpectRows writes the oracle SQL of every benchmark gate that has one
(SparkEntry.oracleSql) to a JSON file; this script runs each statement
with DuckDB over the committed sf0.001 tables and compares its row count
with the expected-count file.  Statements that need the ingested tree
fixture (__FIXTURE__/__FIXSRC__ placeholders) are skipped.

Usage, from the checkout root:
    python3 perfbench/tools/oracle_rows.py <oracle.json>
"""
import json
import sys

import duckdb

DATA = "perfbench/data/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(oracle_path):
    expected = {}
    with open("perfbench/expected_gate_rows.tsv", encoding="utf-8") as f:
        for line in f:
            if line.startswith("#") or not line.strip():
                continue
            gate, rows = line.rstrip("\n").split("\t")[:2]
            expected[gate] = int(rows)
    with open(oracle_path, encoding="utf-8") as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    bad = checked = 0
    for gate in sorted(oracle):
        sql = oracle[gate]
        if "__FIXTURE__" in sql or "__FIXSRC__" in sql:
            print(f"{gate}\tskipped (needs the tree fixture)")
            continue
        checked += 1
        n = con.sql(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
        ok = n == expected.get(gate)
        bad += not ok
        print(f"{gate}\t{'MATCH' if ok else 'MISMATCH'}\tduckdb={n}\texpected={expected.get(gate)}")
    print(f"{checked} gates checked against DuckDB, {bad} mismatches")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
