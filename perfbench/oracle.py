"""Output checks made apart from the program.

- Entries: DuckDB runs each entry's oracle SQL (`SparkEntry.oracleSql`)
  over the same corpus; both results are canonicalised the way
  `tools/hash_check.py` does (columns by name, rows by pandas sort, every
  cell compared as (type name, str)) and must match exactly.
- `Engine.runGreatest`: `greatest_ref` below, written from the reference
  binding's documented semantics, plus two properties of any answer.

Recompute the oracle answers of a corpus from scratch:

    python3 perfbench/oracle.py CORPUS_DIR ORACLE_JSON [NAME...]

prints one line per entry with its row count and a digest of its
canonical cells.
"""
import hashlib
import json
import math
import os
import sys

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def cells(df):
    return [tuple((type(v).__name__, str(v)) for v in row)
            for row in df.itertuples(index=False)]


def connect(corpus, threads):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    con.execute("SET memory_limit='2GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(corpus, t + '.parquet')}')")
    return con


def oracle_cells(con, sql):
    return cells(canon(con.execute(sql).fetch_arrow_table().to_pandas()))


def spark_cells(result_dir):
    import glob
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        raise ValueError("no parquet output")
    return cells(canon(pq.read_table(files).to_pandas()))


def check_entry(con, sql, result_dir):
    """None when the Spark output equals the oracle's, else a reason."""
    try:
        got = spark_cells(result_dir)
    except Exception as ex:  # unreadable or unsortable output is a failure
        return f"spark output: {type(ex).__name__}: {ex}"[:300]
    exp = oracle_cells(con, sql)
    if len(got) != len(exp):
        return f"rows {len(got)} != oracle {len(exp)}"
    for i, (g, x) in enumerate(zip(got, exp)):
        if g != x:
            return f"row {i}: {g[:4]} != {x[:4]}"[:300]
    return None


# ---- greatest ----------------------------------------------------------

def _key(v):
    """Total order of the reference: NaN above +inf above every number."""
    return (1, 0.0) if isinstance(v, float) and math.isnan(v) else (0, v)


def greatest_ref(columns):
    """Row-wise greatest of equally long columns of int/float/None.

    Reference semantics: NULLs are skipped; a row is NULL only when every
    argument is NULL; NaN is greater than any other double; if any value
    of any column is a float the result type is float (Long + Double ->
    Double), otherwise int."""
    if len(columns) < 2:
        raise ValueError("greatest needs at least two columns")
    as_float = any(isinstance(v, float) for c in columns for v in c)
    out = []
    for row in zip(*columns):
        vals = [float(v) if as_float else v for v in row if v is not None]
        out.append(max(vals, key=_key) if vals else None)
    return out


def same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return type(a) is type(b) and a == b


def check_greatest(columns, got):
    """None when `got` is right for `columns`, else a reason."""
    exp = greatest_ref(columns)
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    as_float = any(isinstance(v, float) for c in columns for v in c)
    for i, (g, x) in enumerate(zip(got, exp)):
        if not same(g, x):
            return f"row {i}: {g!r} != reference {x!r}"
        args = [float(v) if as_float else v for v in (c[i] for c in columns) if v is not None]
        if g is not None and (any(_key(g) < _key(a) for a in args)
                              or not any(same(g, a) for a in args)):
            return f"row {i}: {g!r} is not the greatest of its arguments"
    return None


def decode(tok):
    if tok == "N":
        return None
    return int(tok[1:]) if tok[0] == "L" else float(tok[1:])


def encode(v):
    if v is None:
        return "N"
    return f"L{v}" if isinstance(v, int) else "D" + repr(v).replace("nan", "NaN") \
        .replace("inf", "Infinity")


def main():
    corpus, oracle_json, *names = sys.argv[1:]
    oracle = json.load(open(oracle_json))
    con = connect(corpus, os.cpu_count())
    for name in sorted(names or oracle):
        c = oracle_cells(con, oracle[name])
        digest = hashlib.sha256(repr(c).encode()).hexdigest()[:16]
        print(f"{name} rows={len(c)} sha256={digest}")


if __name__ == "__main__":
    main()
