#!/usr/bin/env python3
"""Compare a `graft.Verify` output directory against its DuckDB oracles.

Usage: python3 bin/oracle-check.py <sfDir> <verifyOutDir>

<sfDir> holds the test tables as `<table>.parquet` files; each becomes a
DuckDB view named <table>. <verifyOutDir> is what `graft.Verify <sfDir>
<verifyOutDir>` wrote: one parquet directory per query plus
oracle_sql.json. For every query in oracle_sql.json the oracle SQL is run
and its result compared with `<verifyOutDir>/<query>/*.parquet`:

  rows_match    same row count
  schema_match  same column names with the same DuckDB types
  hash_match    same value hash: every column's values sorted, in column
                name order, hashed together

plus `spark_hash`, the Spark output's value hash, so two Verify runs can be
compared query by query.

One JSON object keyed by query (the CORRECTNESS_r*.json layout) is
printed, then `pass N/M`. Exits 1 when any query misses.
"""
import glob
import hashlib
import json
import os
import sys

import duckdb


def columns(con, sql):
    """(name → type) and rows of a query result."""
    rel = con.sql(sql)
    return dict(zip(rel.columns, map(str, rel.types))), rel.fetchall()


def value_hash(schema, rows):
    """Order-independent hash: per column, the sorted values' reprs."""
    h = hashlib.sha256()
    names = list(schema)
    for name in sorted(names):
        i = names.index(name)
        h.update(name.encode())
        for v in sorted((repr(r[i]) for r in rows)):
            h.update(v.encode() + b"\n")
    return h.hexdigest()


def check(con, out_dir, query, sql):
    files = glob.glob(os.path.join(out_dir, query, "*.parquet"))
    res = {"rows_match": False, "schema_match": False, "hash_match": False,
           "spark_rows": None, "oracle_rows": None, "err": None}
    try:
        if not files:
            raise FileNotFoundError(f"no parquet output under {out_dir}/{query}")
        spark_schema, spark_rows = columns(
            con, f"SELECT * FROM read_parquet({files!r})")
        oracle_schema, oracle_rows = columns(con, sql)
    except Exception as e:  # one broken query must not hide the others
        res["err"] = f"{type(e).__name__}: {e}"
        return res
    res["spark_rows"], res["oracle_rows"] = len(spark_rows), len(oracle_rows)
    res["rows_match"] = len(spark_rows) == len(oracle_rows)
    res["schema_match"] = spark_schema == oracle_schema
    res["spark_hash"] = value_hash(spark_schema, spark_rows)
    res["hash_match"] = res["schema_match"] and (
        res["spark_hash"] == value_hash(oracle_schema, oracle_rows))
    return res


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sf_dir, out_dir = sys.argv[1:]
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        table = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    results = {q: check(con, out_dir, q, oracles[q]) for q in sorted(oracles)}
    print(json.dumps(results, indent=2))
    passed = sum(all(r[k] for k in ("rows_match", "schema_match", "hash_match"))
                 for r in results.values())
    print(f"pass {passed}/{len(results)}")
    sys.exit(0 if passed == len(results) else 1)


if __name__ == "__main__":
    main()
