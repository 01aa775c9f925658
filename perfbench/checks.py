"""Correctness checks run from outside the program, in DuckDB, untimed.

- Catalog: a query's result (parquet written by the benchmark) against
  its `SparkEntry.oracleSql` replayed over the same generated tables,
  with the canonical row form of tools/local_verify.py: columns sorted
  by name, values canonicalized, rows sorted, then hashed.
- Round trips: a restored table against its source by row count and an
  order-independent content hash (sum of per-row hashes of a canonical
  row string), computed here and not by the program's own checksum.
"""
import hashlib
import os
from decimal import Decimal

import duckdb


def connect(data_dir):
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, f)}')")
    return con


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def rows_digest(cols, rows):
    """Canonical row hash: (sorted column names, sha256 of sorted rows)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return [cols[i] for i in order], len(lines), h.hexdigest()


def check_query(con, result_path, oracle_sql):
    """None when the result equals the oracle's, else the reason."""
    got = con.sql(f"SELECT * FROM read_parquet('{result_path}/*.parquet')")
    gcols, gn, gh = rows_digest(got.columns, got.fetchall())
    try:
        exp = con.sql(oracle_sql)
        ecols, en, eh = rows_digest(exp.columns, exp.fetchall())
    except Exception as e:  # an oracle that does not run is a failed check
        return f"oracle SQL error: {str(e).splitlines()[0][:200]}"
    if gcols != ecols:
        return f"columns {gcols} != oracle {ecols}"
    if gn != en:
        return f"{gn} rows != oracle {en}"
    if gh != eh:
        return "row hash differs from oracle"
    return None


def _canon_expr(name, dtype):
    c = f'"{name}"'
    t = dtype.upper()
    if t.startswith("TIMESTAMP") or t == "DATE":
        e = f"epoch_us({c})"
    elif t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT"):
        e = f"CAST({c} AS BIGINT)"
    elif t in ("FLOAT", "DOUBLE", "REAL") or t.startswith("DECIMAL"):
        e = f"CAST({c} AS DOUBLE)"
    else:
        e = c
    return f"coalesce(CAST({e} AS VARCHAR), '\\N')"


def content_hash(con, relation):
    """(lower-cased sorted column names, row count, order-independent hash)."""
    cols = con.sql(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    cols = sorted(((c[0].lower(), c[0], c[1]) for c in cols))
    row = " || '\x1f' || ".join(_canon_expr(orig, t) for _, orig, t in cols)
    n, h = con.sql(f"SELECT count(*), CAST(coalesce(sum(hash({row})), 0) AS VARCHAR) "
                   f"FROM {relation}").fetchone()
    return [c[0] for c in cols], n, h


def check_table(con, source_table, restored_dir):
    """None when the restored parquet equals the source table, else why."""
    src = content_hash(con, source_table)
    try:
        got = content_hash(con, f"read_parquet('{restored_dir}/*.parquet')")
    except Exception as e:
        return f"restored table unreadable: {str(e).splitlines()[0][:200]}"
    if got[0] != src[0]:
        return f"columns {got[0]} != source {src[0]}"
    if got[1] != src[1]:
        return f"{got[1]} rows != source {src[1]}"
    if got[2] != src[2]:
        return "content hash differs from source"
    return None
