"""Expected results for the `sql` workload: DuckDB runs each query's
oracle SQL over the same parquet tables graft reads, and every answer is
reduced to the order-insensitive hash `Canon.scala` computes on graft's
side (columns sorted by name, numbers to 12 significant digits, rows
sorted, SHA-256)."""
import datetime
import decimal
import hashlib
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
_SIG = decimal.Context(prec=12, rounding=decimal.ROUND_HALF_EVEN)


def cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
        return {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}[repr(v)]
    if isinstance(v, (float, decimal.Decimal)):
        d = _SIG.create_decimal(v)
        return "0" if d == 0 else format(d.normalize(), "f")
    if isinstance(v, datetime.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        return f"{s}.{v.microsecond:06d}" if v.microsecond else s
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def result_hash(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update((line + "\n").encode())
    return h.hexdigest()


def expected_hashes(data_dir, oracle_sql):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
    out = {}
    for name, sql in oracle_sql.items():
        cur = con.execute(sql)
        out[name] = result_hash([d[0] for d in cur.description], cur.fetchall())
    return out
