"""Compares analytics_mix results with their DuckDB oracle SQL."""
import glob
import os

import duckdb

from . import rowhash


def compare(data_dir, results_dir, oracle_sql):
    """[(query, ok, detail)] for every query in `oracle_sql`."""
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    out = []
    for q, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(results_dir, q, "*.parquet"))
        if not files:
            out.append((q, False, "no result written"))
            continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})")
        want = con.sql(sql)
        gcols, wcols = got.columns, want.columns
        if sorted(gcols) != sorted(wcols):
            out.append((q, False, f"columns {sorted(gcols)} vs oracle {sorted(wcols)}"))
            continue
        g = rowhash.multiset_hash(gcols, got.fetchall())
        w = rowhash.multiset_hash(wcols, want.fetchall())
        out.append((q, g == w, f"{g[0]} rows vs oracle {w[0]}"))
    con.close()
    return out
