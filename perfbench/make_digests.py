#!/usr/bin/env python3
"""Regenerate perfbench/oracle_digests.json from the DuckDB oracles.

Usage (from the root of a checkout): python3 perfbench/make_digests.py

Each engine query's `QueryDef` carries an oracle statement; this runs
it in DuckDB over the bundled tables in perfbench/data/sf0.01 and
stores the digest of its result, canonicalised the way run.py
canonicalises the engine's output. Run it again only when the query
list, the oracles or the bundled tables change.
"""
import json
import subprocess
import tempfile
from pathlib import Path

import duckdb

import run

DATA = run.HERE / "data" / "sf0.01"


def main():
    classpath = run.build()
    with tempfile.TemporaryDirectory(dir=run.HERE) as tmp:
        out = Path(tmp) / "oracle.json"
        subprocess.run(["java", "-cp", classpath, "perfbench.Main", "--dump-oracle", str(out)],
                       check=True)
        oracles = json.loads(out.read_text())
    con = duckdb.connect()
    for table in sorted(p.stem for p in DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{DATA / (table + '.parquet')}'")
    queries = {}
    for name, sql in sorted(oracles.items()):
        sha, rows = run.digest(con.execute(sql).fetchdf())
        queries[name] = {"sha256": sha, "rows": rows}
        print(f"{name}: {rows} rows")
    (run.HERE / "oracle_digests.json").write_text(
        json.dumps({"tables": "sf0.01", "queries": queries}, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
