"""DuckDB oracle cross-check for the declared-query ops of a recorded run.

The harness dumps each declared query's output (parquet, one directory
per query) and the matching `SparkEntry.oracleSql` text
(`oracle_sql.json`). This runs each oracle over the same generated
input tables and compares the way the repo's correctness gate does:
columns sorted by name, rows sorted by every column, floats rounded to
12 places.
"""
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return round(v, 12)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if hasattr(v, "tolist"):
        return norm(v.tolist())
    if hasattr(v, "item"):
        return norm(v.item())
    return v


def count(dump_dir):
    """Number of declared outputs with an oracle in `dump_dir`."""
    path = os.path.join(dump_dir, "oracle_sql.json")
    if not os.path.exists(path):
        return 0
    with open(path) as f:
        return len(json.load(f))


def compare(data_dir, dump_dir):
    """Return one message per mismatching query (empty when all agree)."""
    import duckdb
    path = os.path.join(dump_dir, "oracle_sql.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{p}/*.parquet')")
    bad = []
    for name, sql in sorted(oracles.items()):
        try:
            got = con.sql(f"SELECT * FROM parquet_scan('{dump_dir}/{name}/*.parquet')").df()
            want = con.sql(sql).df()
            gcols, wcols = sorted(got.columns), sorted(want.columns)
            if gcols != wcols:
                bad.append(f"{name}: columns {gcols} != {wcols}")
                continue
            if len(got) != len(want):
                bad.append(f"{name}: rows {len(got)} != {len(want)}")
                continue
            g = got[gcols].sort_values(by=gcols).reset_index(drop=True)
            w = want[wcols].sort_values(by=wcols).reset_index(drop=True)
            gr = [tuple(norm(v) for v in r) for r in g.itertuples(index=False)]
            wr = [tuple(norm(v) for v in r) for r in w.itertuples(index=False)]
            diff = [i for i, (x, y) in enumerate(zip(gr, wr)) if x != y]
            if diff:
                i = diff[0]
                bad.append(f"{name}: {len(diff)}/{len(gr)} rows differ; first "
                           f"spark={gr[i]} duckdb={wr[i]}")
        except Exception as e:  # a failing oracle is a failed check, not a crash
            bad.append(f"{name}: {type(e).__name__}: {e}")
    return bad
