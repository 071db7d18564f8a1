#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query, exactly.

Each dump directory holds one parquet directory per declared query
(plus oracle_sql.json, which is ignored here). Rows are sorted by all
columns, the way local_verify.py sorts them, and values are compared
exactly: no float rounding (NaN equals NaN). Prints one line per
query and exits non-zero on any difference, or on a query present on
one side only.

Usage: compare_dumps.py <dumpA> <dumpB> [query...]
A query is a full dump name (q38_similarity_topk) or its qNN prefix
(q38). Without queries, every query in either dump is compared.
"""
import math
import os
import sys

import duckdb


def queries_in(dump):
    return {n for n in os.listdir(dump) if os.path.isdir(os.path.join(dump, n))}


def selected(names, wanted):
    if not wanted:
        return sorted(names)
    return sorted(n for n in names
                  if n in wanted or n.split("_", 1)[0] in wanted)


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return type(a) is type(b) and a == b


def rows_of(con, dump, name):
    df = con.sql(
        f"SELECT * FROM parquet_scan('{dump}/{name}/*.parquet')").df()
    cols = sorted(df.columns)
    df = df[cols].sort_values(by=cols).reset_index(drop=True)
    return cols, [tuple(v.item() if hasattr(v, "item") else v for v in r)
                  for r in df.itertuples(index=False)]


def compare(con, a, b, name):
    """One report line for `name`, and whether the two sides match."""
    ca, ra = rows_of(con, a, name)
    cb, rb = rows_of(con, b, name)
    if ca != cb:
        return f"DIFF {name}: columns {ca} != {cb}", False
    if len(ra) != len(rb):
        return f"DIFF {name}: rows {len(ra)} != {len(rb)}", False
    bad = [i for i, (x, y) in enumerate(zip(ra, rb))
           if not all(same(u, v) for u, v in zip(x, y))]
    if bad:
        i = bad[0]
        return (f"DIFF {name}: {len(bad)}/{len(ra)} rows differ; first at {i}:"
                f"\n  A={ra[i]}\n  B={rb[i]}"), False
    return f"SAME {name} ({len(ra)} rows)", True


def main(a, b, wanted):
    qa, qb = queries_in(a), queries_in(b)
    names = selected(qa | qb, set(wanted))
    absent = [w for w in wanted if not selected(qa | qb, {w})]
    con = duckdb.connect()
    failed = 0
    for w in absent:
        print(f"MISSING {w}: in neither dump")
        failed += 1
    for name in names:
        if name not in qa or name not in qb:
            side = "A" if name not in qa else "B"
            print(f"MISSING {name}: not in dump {side}")
            failed += 1
            continue
        line, ok = compare(con, a, b, name)
        print(line)
        failed += not ok
    print(f"{len(names) + len(absent) - failed} same, "
          f"{failed} different or missing")
    return 1 if failed or not names else 0


if __name__ == "__main__":
    if len(sys.argv) < 3:
        print(__doc__.strip())
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
