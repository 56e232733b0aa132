"""Oracle checks: compare Spark's output parquet with DuckDB running the
oracle SQL over the same input tables.

Rows are compared as multisets after sorting the columns by name, every
value by its full-precision repr (the registry's hash-check rule), so a
float that differs in the last bit fails.
"""
import glob
import math
import os

import duckdb


def canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def norm(rows, cols):
    idx = [cols.index(c) for c in sorted(cols)]
    return sorted(tuple(canon(r[i]) for i in idx) for r in rows)


def connect(input_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for path in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def compare(con, sql, got_dir):
    """None when Spark's rows equal the oracle's, else why not."""
    exp_rel = con.sql(sql)
    cols_exp = [d[0] for d in exp_rel.description]
    exp = exp_rel.fetchall()
    got_rel = con.sql(f"SELECT * FROM '{got_dir}/*.parquet'")
    cols_got = [d[0] for d in got_rel.description]
    got = got_rel.fetchall()
    if sorted(cols_exp) != sorted(cols_got):
        return f"columns: oracle {sorted(cols_exp)} spark {sorted(cols_got)}"
    e, g = norm(exp, cols_exp), norm(got, cols_got)
    if e != g:
        first = next(((i, a, b) for i, (a, b) in enumerate(zip(e, g)) if a != b), None)
        return f"rows: oracle {len(e)} spark {len(g)}, first difference {first}"
    return None


def run(input_dir, oracle_checks):
    """[(name, ok, detail)] for each {name, sql, got, views} check; `views`
    maps view names the SQL reads to parquet dirs of earlier stages."""
    con = connect(input_dir)
    out = []
    for c in oracle_checks:
        try:
            for name, d in c.get("views", {}).items():
                con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{d}/*.parquet'")
            why = compare(con, c["sql"], c["got"])
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"{type(e).__name__}: {e}"
        out.append((c["name"], why is None, why or ""))
    con.close()
    return out
