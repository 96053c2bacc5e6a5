"""Output check for the warm-pass benchmark.

Each call's result, written as parquet by the benchmark's untimed check
pass, is compared with DuckDB running the call's `SparkEntry.oracleSql`
over the same generated inputs: arrow schemas with columns sorted by name,
then rows as an order-independent multiset. A call without oracle SQL is
judged by its own boolean `check` column, which must be true on every row.
"""
import glob
import math
import os

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _canon(rows):
    def norm(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v
    out = [tuple((k, norm(r[k])) for k in sorted(r)) for r in rows]
    return sorted(out, key=str)


def _schema(t):
    return sorted((f.name, str(f.type)) for f in t.schema)


def check(inputs_dir, results_dir, calls, oracle_sql):
    """Return {call: None if it passed, else a one-line reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{inputs_dir}/{t}.parquet'")
    verdict = {}
    for call in calls:
        files = sorted(glob.glob(os.path.join(results_dir, call, "*.parquet")))
        if not files:
            verdict[call] = "no result written"
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
            if call not in oracle_sql:
                if "check" not in got.schema.names:
                    verdict[call] = "no oracle SQL and no check column"
                elif got.num_rows == 0 or not all(
                        got.column("check").to_pylist()):
                    verdict[call] = "check column is not true on every row"
                else:
                    verdict[call] = None
                continue
            exp = con.execute(oracle_sql[call]).fetch_arrow_table()
        except Exception as e:  # a failing query is a failed check
            verdict[call] = f"error: {str(e).splitlines()[0][:200]}"
            continue
        if _schema(exp) != _schema(got):
            verdict[call] = (f"schema {_schema(got)} != oracle "
                             f"{_schema(exp)}")
            continue
        ce, cg = _canon(exp.to_pylist()), _canon(got.to_pylist())
        if ce == cg:
            verdict[call] = None
        else:
            diff = next((i for i, (a, b) in enumerate(zip(ce, cg)) if a != b),
                        min(len(ce), len(cg)))
            verdict[call] = (f"{len(cg)} rows vs oracle {len(ce)}; first "
                             f"difference at sorted row {diff}")
    con.close()
    return verdict
