"""DuckDB replay of each batch query's `SparkEntry.oracleSql` over the same
tables, compared with the query's parquet output by the repo's own gate
rule (`tools/check_correctness.canon`): same columns, same row count, same
sorted rows."""
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_correctness import canon  # noqa: E402

TABLES = ["documents", "embeddings"]


def check(sf_dir, out_dir):
    """Returns {query: None on a match, else the reason}."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    result = {}
    for name, sql in sorted(oracles.items()):
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            g_rows, g_cols = got.fetchall(), [d[0] for d in got.description]
            want = con.execute(sql)
            w_rows, w_cols = want.fetchall(), [d[0] for d in want.description]
        except Exception as e:  # a missing output or a failing oracle
            result[name] = f"{type(e).__name__}: {e}"
            continue
        gc, gr = canon(g_rows, g_cols)
        wc, wr = canon(w_rows, w_cols)
        if gc != wc:
            result[name] = f"columns {gc} != {wc}"
        elif len(gr) != len(wr):
            result[name] = f"rows {len(gr)} != {len(wr)}"
        elif gr != wr:
            i = next(i for i, (a, b) in enumerate(zip(gr, wr)) if a != b)
            result[name] = f"row {i}: got {gr[i]!r} want {wr[i]!r}"[:400]
        else:
            result[name] = None
    return result
