"""Check dumped engine results against DuckDB running the oracle SQL.

Same protocol as the repository's oracle checker: both sides are
canonicalised with columns sorted by name, every cell stringified (floats
at full precision, NaN equal to NaN) and rows sorted, then compared
exactly. DuckDB's answer depends only on the SQL text and the input
tables, so it is cached per (tables, SQL) under the cache directory.
"""
import glob
import hashlib
import json
import math
import os
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)
    rows = sorted([cell(v) for v in row] for row in df.itertuples(index=False))
    return list(df.columns), rows


def _duckdb_answer(sql, data_dir, cache_dir, con):
    key = hashlib.sha256((os.path.basename(data_dir) + "\0" + sql).encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f), con
    if con is None:
        import duckdb
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    answer = canon(con.execute(sql).df())
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(answer, f)
    os.replace(path + ".tmp", path)
    return answer, con


def check(run_dir, data_dir, cache_dir):
    """Keys whose dumped result differs from DuckDB's (or could not be read)."""
    import pandas as pd
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    wrong, con = set(), None
    for name, sql in sorted(oracles.items()):
        try:
            files = sorted(glob.glob(os.path.join(run_dir, "dump", name, "*.parquet")))
            ours = canon(pd.concat([pd.read_parquet(f) for f in files]))
            theirs, con = _duckdb_answer(sql, data_dir, cache_dir, con)
            if [ours[0], ours[1]] != [theirs[0], theirs[1]]:
                wrong.add(name)
        except Exception as e:  # an unreadable answer is a wrong answer
            print(f"[perfbench] oracle check of {name} failed: {e}", file=sys.stderr, flush=True)
            wrong.add(name)
    return wrong
