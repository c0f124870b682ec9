"""DuckDB oracle check for the query workloads.

Each key's full Spark result (written by the harness after the key's first
timed op) is compared with `SparkEntry.oracleSql(key)` run by DuckDB on the
same parquet files, the way tools/check.py does it: identical column types
through DuckDB's type system, then identical rows in identical order.
"""
import glob
import os

import duckdb
import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _source(path):
    return f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"read_parquet('{path}')"


def _types(con, sql):
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}


def _with_pos(tbl):
    return tbl.append_column("__pos", pa.array(range(tbl.num_rows), pa.int64()))


def check(con, sql, result_dir):
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return False, "no spark output"
    spark_sql = (f"SELECT * EXCLUDE (filename, file_row_number) FROM read_parquet({files!r}, "
                 "filename=true, file_row_number=true) ORDER BY filename, file_row_number")
    otypes, stypes = _types(con, sql), _types(con, spark_sql)
    if otypes != stypes:
        drift = {c: (stypes.get(c), otypes.get(c)) for c in set(stypes) | set(otypes)
                 if stypes.get(c) != otypes.get(c)}
        return False, f"column type drift (spark, oracle): {drift}"
    o = _with_pos(con.execute(sql).arrow())
    s = _with_pos(con.execute(spark_sql).arrow())
    if o.num_rows != s.num_rows:
        return False, f"rows spark={s.num_rows} oracle={o.num_rows}"
    cols = ["__pos"] + sorted(otypes)
    sel = ", ".join(f'"{c}"' for c in cols)
    con.register("o_res", o)
    con.register("s_res", s)
    diff = con.execute(f"SELECT {sel} FROM s_res EXCEPT ALL SELECT {sel} FROM o_res "
                       "LIMIT 3").fetchall()
    con.unregister("o_res")
    con.unregister("s_res")
    if diff:
        return False, f"{len(diff)}+ differing rows, e.g. spark {diff[0]}"
    return True, f"{o.num_rows} rows"


def check_all(sqls, tables_dir, results_dir, work):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '3GB'")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb_tmp')}'")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_source(p)}")
    out = {}
    for key, sql in sqls.items():
        try:
            out[key] = check(con, sql, os.path.join(results_dir, key))
        except duckdb.Error as e:
            out[key] = (False, f"oracle error: {e}")
    return out
