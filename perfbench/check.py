"""Checks every operation of a run against the DuckDB oracle.

Result rows are normalised exactly as the repo's correctness gate does:
the `norm` and `rows_key` functions are read from
`scripts/local_verify.py` and used unchanged (columns sorted by name,
values through pandas, rows compared as sorted multisets)."""
import ast
import os

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def load_normalisation(root):
    """`norm` and `rows_key` from scripts/local_verify.py, without
    running that script's `main()`."""
    path = os.path.join(root, "scripts", "local_verify.py")
    tree = ast.parse(open(path).read(), path)
    keep = [n for n in tree.body
            if isinstance(n, ast.FunctionDef) and n.name in ("norm", "rows_key")]
    scope = {"datetime": __import__("datetime"), "math": __import__("math"), "np": np}
    exec(compile(ast.Module(body=keep, type_ignores=[]), path, "exec"), scope)
    return scope["rows_key"]


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


class Checker:
    def __init__(self, root, data_dir):
        self.rows_key = load_normalisation(root)
        self.con = connect(data_dir)
        self.oracle = {}

    def expected(self, sql):
        if sql not in self.oracle:
            self.oracle[sql] = self.rows_key(self.con.sql(sql))
        return self.oracle[sql]

    def query_op(self, run_dir, op):
        """True when a query's collected rows equal its oracle's; an
        entry without oracle SQL must return at least one row."""
        if op.get("oracle") is None:
            return op["rows"] > 0
        path = os.path.join(run_dir, "check", op["name"], "*.parquet")
        rel = self.con.sql(f"SELECT * EXCLUDE (bench_op) FROM read_parquet('{path}') "
                           f"WHERE bench_op = {int(op['i'])}")
        cols, rows = self.rows_key(rel)
        ocols, orows = self.expected(op["oracle"])
        return cols == ocols and sorted(rows) == sorted(orows)


def check_run(root, data_dir, run_dir, run):
    """Mark each operation of `run` with `correct`; return the number
    that failed or answered wrongly."""
    checker = Checker(root, data_dir)
    bad = 0
    for op in run["ops"]:
        op["correct"] = op["ok"] and checker.query_op(run_dir, op)
        bad += not op["correct"]
    return bad
