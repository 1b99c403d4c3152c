"""DuckDB side of the output checks: runs the program's own oracle SQL
(`SparkEntry.oracleSql`) over the generated files and hashes results the
way `Canon.scala` hashes Spark's, so the two compare by equality."""
import datetime as dt
import decimal
import hashlib
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]
_DIGITS = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)


def _dec(d):
    if d == 0:
        return "0"
    r = _DIGITS.plus(d).normalize(_DIGITS)
    sign, digits, exp = r.as_tuple()
    unscaled = int("".join(map(str, digits))) * (-1 if sign else 1)
    return f"{unscaled}e{exp}"


def _ts(t):
    """java.time.LocalDateTime.toString."""
    s = t.strftime("%Y-%m-%dT%H:%M")
    if t.second or t.microsecond:
        s += f":{t.second:02d}"
    us = t.microsecond
    if us:
        s += f".{us // 1000:03d}" if us % 1000 == 0 else f".{us:06d}"
    return s


def canon(v):
    if v is None:
        return "\u0000"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return _dec(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _dec(v)
    if isinstance(v, dt.datetime):
        return _ts(v)
    return str(v)


def result_hash(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\u001f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()


def connect(table_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{table_dir}/{t}.parquet')")
    return con


def query_hashes(table_dir, sqls):
    """{query name: hash of DuckDB's result}."""
    con = connect(table_dir)
    out = {}
    for name, sql in sqls.items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[name] = result_hash(cols, cur.fetchall())
    con.close()
    return out


def key_set(table_dir, sql, keys):
    """Distinct key tuples of one star table built over one table set."""
    con = connect(table_dir)
    cols = ", ".join(keys)
    rows = con.execute(f"SELECT DISTINCT {cols} FROM ({sql})").fetchall()
    con.close()
    return set(rows)
