"""DuckDB oracle compare for the `query_mix` first pass.

Runs each query's oracle SQL over the generated parquet tables and
compares it with the Spark result the benchmark wrote, by the rules of
the repository's `scripts/check_oracle.py` (whose `rows_of` is used
here): columns sorted by name, DESCRIBE types with plain integer widths
collapsed, type-tagged cells, rows in written order.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))
from check_oracle import rows_of  # noqa: E402
from gen import TABLES  # noqa: E402


def compare(data_dir, work_dir, corrupt=False):
    """Returns {query name: problem or None}. With `corrupt`, the first
    oracle cell of the first query is altered, so a live check fails."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(work_dir, "oracle_sql.json")))
    out = {}
    for i, (name, sql) in enumerate(oracle.items()):
        spark_dir = os.path.join(work_dir, "out", name)
        try:
            ocols, otypes, orows = rows_of(con, sql)
            scols, stypes, srows = rows_of(
                con, f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
        except Exception as e:  # a missing result or a broken oracle both fail the query
            out[name] = f"compare error: {e}"
            continue
        if corrupt and i == 0 and orows:
            orows[0] = ("corrupted",) + orows[0][1:]
        if scols != ocols:
            out[name] = f"columns differ spark={scols} oracle={ocols}"
        elif stypes != otypes:
            out[name] = f"column types differ spark={stypes} oracle={otypes}"
        elif len(srows) != len(orows):
            out[name] = f"rowcount spark={len(srows)} oracle={len(orows)}"
        else:
            bad = next((j for j, (a, b) in enumerate(zip(srows, orows)) if a != b), None)
            out[name] = None if bad is None else \
                f"first diff at row {bad}: spark={srows[bad]} oracle={orows[bad]}"
    return out
