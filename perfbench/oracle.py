"""Reference results for the analytics workload, from the DuckDB oracles.

The engine registers an ANSI-SQL oracle next to each SQL-surface query.
`graftbench.DumpOracles` writes those to JSON at build time; here DuckDB
runs them on the generated tables and writes, per query, the SHA-256 of
the canonical text form that `graftbench.Canon` computes for the Spark
result. Reference values therefore never come from a graft run.
"""
import datetime
import decimal
import hashlib

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def number(x):
    f = float(x)
    if f != f:
        return "NaN"
    if f in (float("inf"), float("-inf")):
        return "Inf" if f > 0 else "-Inf"
    if f == 0.0:
        return "0"
    s = format(decimal.Decimal(f), "f")  # exact, never rounded
    return s.rstrip("0").rstrip(".") if "." in s else s


def value(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal)):
        return number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    return str(v)


def canonical_sha(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    md = hashlib.sha256()
    md.update(("|".join(columns[i] for i in order) + "\n").encode())
    for r in rows:
        md.update(("|".join(value(r[i]) for i in order) + "\n").encode())
    return md.hexdigest()


def expected(oracle_sql, data_dir, names):
    """{query: (sha, rows)} for the named queries."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET enable_progress_bar=false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name in names:
        cur = con.execute(oracle_sql[name])
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[name] = (canonical_sha(cols, rows), len(rows))
    con.close()
    return out
