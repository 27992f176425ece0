"""Order-insensitive comparison of the gates' results with their DuckDB
oracles, in the canonical form of `tools/check_oracle.py`: columns sorted by
name, timestamps as ISO strings, lists as tuples, rows sorted, then the CSV
rendering hashed (dtype-sensitive, so an int/float drift fails too).

    compare(tables_dir, check_dir) -> (checked, [(gate, why), ...])

`q_dedup_minhash` is MinHash-LSH with exact-Jaccard verification: a pair
whose Jaccard is near the threshold collides in no band with some
probability, so its oracle (all pairs) is an upper bound, and one that
takes seconds in DuckDB. For it the oracle's own gram algebra runs on the
returned pairs only (its all-pairs join swapped for a join with them): the
check is that every returned pair is an oracle pair with the same
similarity, and that none is returned twice.

`check_dir` holds one parquet directory per gate and `oracle_sql.json`;
`tables_dir` holds one parquet directory per input table.
"""
import hashlib
import json
import os

LSH_GATES = {"q_dedup_minhash"}
ALL_PAIRS = "FROM g l JOIN g r ON l.doc_id < r.doc_id"
RETURNED_PAIRS = ("FROM got x JOIN g l ON l.doc_id = x.a "
                  "JOIN g r ON r.doc_id = x.b AND x.a < x.b")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if hasattr(v, "__len__")
                              and not isinstance(v, (str, bytes)) else v)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def digest(df):
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


def compare(tables_dir, check_dir):
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet/*.parquet')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    fails = []
    for name, sql in sorted(oracle.items()):
        try:
            got = pd.read_parquet(os.path.join(check_dir, name))
            if name in LSH_GATES:
                if ALL_PAIRS not in sql:
                    raise ValueError("oracle SQL lacks its all-pairs join")
                con.register("got", got)
                sql = sql.replace(ALL_PAIRS, RETURNED_PAIRS)
                if got.duplicated(["a", "b"]).any():
                    fails.append((name, "a pair returned twice"))
                    continue
            got = canon(got)
            want = canon(con.execute(sql).df())
            if list(got.columns) != list(want.columns):
                fails.append((name, f"columns {list(got.columns)} vs {list(want.columns)}"))
            elif list(map(str, got.dtypes)) != list(map(str, want.dtypes)):
                fails.append((name, "dtypes differ: " + str(
                    [(c, str(got[c].dtype), str(want[c].dtype)) for c in got.columns
                     if str(got[c].dtype) != str(want[c].dtype)])))
            elif len(got) != len(want):
                fails.append((name, f"{len(got)} rows, oracle {len(want)}"))
            elif digest(got) != digest(want):
                fails.append((name, "values differ"))
        except Exception as e:  # a gate whose output or oracle cannot be read
            fails.append((name, f"{type(e).__name__}: {e}"[:300]))
    con.close()
    return len(oracle), fails
