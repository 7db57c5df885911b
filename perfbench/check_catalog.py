"""Output check of the catalog workload: each query's parquet result must
match its SparkEntry.oracleSql under DuckDB over the same tables. Rows are
compared as a multiset of strings, with columns in name order and floats
rounded to 9 digits."""
import math
import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return repr(round(v, 9))
    return str(v)


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return sorted("|".join(_cell(v) for v in row) for row in df.itertuples(index=False))


def check(results_dir, data_dir, oracle):
    """Returns a list of problems, empty when every result matches."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    problems = []
    for name, sql in sorted(oracle.items()):
        path = os.path.join(results_dir, name)
        try:
            got = con.execute(f"SELECT * FROM '{path}/*.parquet'").df()
            want = con.execute(sql).df()
        except Exception as e:  # a missing result or a failing oracle is a failed check
            problems.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        if sorted(got.columns) != sorted(want.columns):
            problems.append(f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
        elif _canon(got) != _canon(want):
            problems.append(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
    con.close()
    return problems
