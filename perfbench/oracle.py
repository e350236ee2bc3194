"""Expected outputs from DuckDB, computed from the oracle SQL the library
declares for each query (dumped by `perfbench.Main dump`).

Each result is written as JSON {"columns": [...], "rows": [[cell, ...], ...]}
with every cell tagged by type, so the benchmark JVM can bring its own
results to the same canonical form (perfbench/harness/Check.scala) and
compare exactly: doubles bit for bit, integers by value.
"""
import decimal
import json
import math
import re

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return ["b", v]
    if isinstance(v, int):
        return ["i", str(v)]
    if isinstance(v, float):
        return ["d", "NaN" if math.isnan(v) else repr(v)]
    if isinstance(v, decimal.Decimal):
        return ["x", str(v)]
    if isinstance(v, str):
        return ["s", v]
    if isinstance(v, (list, tuple)):
        return ["l", [cell(x) for x in v]]
    if isinstance(v, dict):            # a STRUCT, compared field by field
        return ["l", [cell(x) for x in v.values()]]
    raise TypeError(f"oracle cell of type {type(v).__name__}")


def result(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return {"columns": cols, "rows": [[cell(v) for v in r]
                                      for r in cur.fetchall()]}


def write(path, res):
    with open(path, "w") as fh:
        json.dump(res, fh)


def flagship_sql(sql, locations, latest, cities):
    """q_flagship's oracle with the snapshot paths and the city table swapped
    for the generated ones; the rest of the SQL is used as declared."""
    sql, n1 = re.subn(r"'[^']*/locations\.jsonl'", f"'{locations}'", sql)
    sql, n2 = re.subn(r"'[^']*/latest\.jsonl'", f"'{latest}'", sql)
    values = ", ".join(f"('{c}', {la!r}, {lo!r})" for c, la, lo in cities)
    sql, n3 = re.subn(r"cityc\(city, clat, clon\) AS \(VALUES [^\n]*\),",
                      lambda _: f"cityc(city, clat, clon) AS (VALUES {values}),",
                      sql)
    if (n1, n2, n3) != (1, 1, 1):
        raise ValueError("q_flagship oracle SQL no longer has the expected "
                         f"shape (path/city substitutions: {n1}, {n2}, {n3})")
    return sql


def tables_connection(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con
