#!/usr/bin/env python3
"""Derives query_ledger's expected row counts from DuckDB.

    python3 perfbench/oracle.py derive <oracle_sql.json> <data_dir> <out.json>

Writes the row count of every query's DuckDB twin, the committed expected
counts (perfbench/data/expected_rows.json). The traced run's value check
uses tools/check_oracle.py itself.
"""
import json
import os
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def derive(sql_path, data_dir, out_path):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    sql = json.load(open(sql_path))
    counts = {q: con.execute(f"SELECT count(*) FROM ({s})").fetchone()[0]
              for q, s in sorted(sql.items())}
    with open(out_path, "w") as f:
        json.dump(counts, f, indent=1, sort_keys=True)
        f.write("\n")
    return counts


if __name__ == "__main__":
    if len(sys.argv) == 5 and sys.argv[1] == "derive":
        print(json.dumps(derive(*sys.argv[2:]), indent=1, sort_keys=True))
    else:
        sys.exit(__doc__)
