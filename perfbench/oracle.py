"""DuckDB oracle check of a batch run's query results.

Each query's Spark result (parquet under <results>/<query>/) is compared
with its oracle SQL (the library's `SparkEntry.oracleSql`, dumped by the
run) executed in DuckDB over the same input tables, with the table list
and row normalisation of the repository's correctness gate,
scripts/check.py: columns sorted by name, rows sorted, values compared
exactly (floats too; NaN equals NaN).
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))
from check import TABLES, rows_of  # noqa: E402


def check(data_dir, results_dir, oracle_json, queries):
    """Returns {query: reason} for every query whose result is missing or
    differs from its oracle; an empty dict means all matched."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(oracle_json) as f:
        oracles = json.load(f)
    bad = {}
    for q in queries:
        path = os.path.join(results_dir, q)
        if q not in oracles:
            bad[q] = "no oracle SQL"
            continue
        if not os.path.isdir(path):
            bad[q] = "no Spark result"
            continue
        try:
            got, gcols = rows_of(con.sql(f"SELECT * FROM '{path}/*.parquet'"))
            exp, ecols = rows_of(con.sql(oracles[q]))
        except Exception as e:  # noqa: BLE001 - reported as a failed query
            bad[q] = f"unreadable: {str(e)[:200]}"
            continue
        if gcols != ecols:
            bad[q] = f"columns differ: {gcols} vs {ecols}"
        elif sorted(got, key=repr) != sorted(exp, key=repr):
            bad[q] = f"rows differ ({len(got)} vs {len(exp)} rows)"
    con.close()
    return bad
