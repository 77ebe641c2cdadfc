"""Result check of the query workloads: each query's committed result
against its DuckDB oracle SQL over the same generated tables, compared the
way tools/check_oracle.py compares them (column names sorted, rows sorted,
doubles to 9 significant digits). Sketch queries whose exact rows are
engine-specific are compared by row count only."""
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ROWS_ONLY = ("q52", "q83")


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return "0"
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def norm_table(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return [cols[i].lower() for i in order], sorted(out)


def check(results_dir, data_dir, oracle_sql):
    """Return [(query, ok, detail)] for every query with oracle SQL."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    out = []
    for name, sql in sorted(oracle_sql.items()):
        try:
            tbl = pq.read_table(os.path.join(results_dir, name))
            s_rows = [tuple(d.values()) for d in tbl.to_pylist()]
            res = con.execute(sql)
            d_cols = [c[0] for c in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # a missing result or a failing oracle
            out.append((name, False, f"{type(e).__name__}: {e}"[:300]))
            continue
        if name.split("_")[0] in ROWS_ONLY:
            ok = len(s_rows) == len(d_rows)
            out.append((name, ok, f"rows {len(s_rows)} vs {len(d_rows)}"))
            continue
        sc, sr = norm_table(tbl.column_names, s_rows)
        dc, dr = norm_table(d_cols, d_rows)
        if sc != dc:
            out.append((name, False, f"columns {sc} vs {dc}"))
        elif sr != dr:
            bad = next((i for i in range(min(len(sr), len(dr))) if sr[i] != dr[i]),
                       min(len(sr), len(dr)))
            out.append((name, False, f"rows {len(sr)} vs {len(dr)}, first diff at {bad}"))
        else:
            out.append((name, True, f"{len(sr)} rows"))
    return out
