"""Output checks of the query workload.

Each query's checked result is the one its untimed warm-up call returned
(dumped as parquet); every timed call must return the same rows, which
the JVM program verifies by fingerprint. Here the warm-up result is
compared against the query's DuckDB oracle twin over the same generated
tables, with the comparison tools/check_oracle.py uses. A query with no
oracle is checked only for stability across passes.
"""
import importlib.util
import os

import duckdb


def _check_oracle(root):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def connect(root, data_dir, tmp_dir):
    co = _check_oracle(root)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con, co.compare


def check_result(con, compare, result_dir, sql):
    """'' when the dumped result matches the oracle, else the reason."""
    if not os.path.isdir(result_dir):
        return "no result (the warm-up call failed)"
    try:
        got = con.execute(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").fetchdf()
        want = con.execute(sql).fetchdf()
    except Exception as e:  # a malformed dump or oracle is a failed check
        return f"oracle check error: {str(e)[:200]}"
    ok, msg = compare(got, want)
    return "" if ok else f"oracle mismatch: {msg}"


def check_queries(root, data_dir, results_dir, oracle_sql, tmp_dir):
    """Map of query name -> reason, for each query whose result is wrong."""
    con, compare = connect(root, data_dir, tmp_dir)
    bad = {}
    for name, sql in oracle_sql.items():
        if sql is None:
            continue
        why = check_result(con, compare, os.path.join(results_dir, name), sql)
        if why:
            bad[name] = why
    return bad
