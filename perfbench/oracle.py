"""Lane output checks: DuckDB runs each lane's oracle SQL over the same
generated tables, and the result's row count, column names and
order-independent digest must equal the lane's.

The digest is the one `DigestSink.scala` takes of the Spark output: the sum,
modulo 2^64, of the first 8 bytes of the MD5 of each row's canonical text.
Values compare as `tools/check_oracle.py` compares them: floats bit-exact,
an integral float equal to the same integer, a date equal to its midnight
timestamp.

DuckDB (1.0) casts a DECIMAL whose unscaled value needs more than 53 bits to
DOUBLE with two roundings (the integer to double, then the division by the
scale), so the result can be one ULP off the correctly rounded value Spark
gives; on generated data that flips a lane's rounded statistic now and then
(`q44_stats` on seed 3). The oracle SQL is therefore run with every
`CAST(<e> AS DOUBLE)` turned into `exact_double(<e>)`, which casts a DECIMAL
through its exact text (one rounding) and anything else as before.
"""
import datetime as dt
import decimal
import hashlib
import math
import os
import re
import struct

import duckdb

from datagen import TABLES

EPOCH = dt.datetime(1970, 1, 1)
EPOCH_DAY = dt.date(1970, 1, 1)
MASK = (1 << 64) - 1


def _num(d: float) -> str:
    if math.isnan(d):
        return "nan"
    if math.isinf(d):
        return "inf" if d > 0 else "-inf"
    if d == math.floor(d) and abs(d) < 1e15:
        return f"i{int(d)}"
    return "d" + format(struct.unpack("<Q", struct.pack("<d", d))[0], "x")


def canon(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        return _num(v)
    if isinstance(v, decimal.Decimal):
        return f"i{int(v)}" if v == v.to_integral_value() else _num(float(v))
    if isinstance(v, str):
        return f"s{len(v)}:{v}"
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return f"t{(v - EPOCH) // dt.timedelta(microseconds=1)}"
    if isinstance(v, dt.date):
        return f"t{(v - EPOCH_DAY).days * 86_400_000_000}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    return str(v)


def digest(columns, rows):
    """(row count, digest) of `rows`, each a sequence aligned with `columns`."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = n = 0
    for row in rows:
        text = "|".join(canon(row[i]) for i in order)
        total = (total + int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")) & MASK
        n += 1
    return n, total


EXACT_DOUBLE = ("CREATE MACRO exact_double(x) AS CASE WHEN typeof(x) LIKE 'DECIMAL%' "
                "THEN CAST(CAST(x AS VARCHAR) AS DOUBLE) ELSE CAST(x AS DOUBLE) END")
_CAST = re.compile(r"\bCAST\s*\(", re.I)
_AS_DOUBLE = re.compile(r"\s+AS\s+DOUBLE\s*$", re.I)


def _closing(sql: str, i: int) -> int:
    """Index of the parenthesis closing the one opened just before `i`."""
    depth, quoted = 1, False
    for j in range(i, len(sql)):
        c = sql[j]
        if c == "'":
            quoted = not quoted
        elif not quoted and c in "()":
            depth += 1 if c == "(" else -1
            if depth == 0:
                return j
    raise ValueError(f"unbalanced CAST( in {sql!r}")


def exact_casts(sql: str) -> str:
    """`sql` with every `CAST(<e> AS DOUBLE)` as `exact_double(<e>)`."""
    m = _CAST.search(sql)
    if not m:
        return sql
    end = _closing(sql, m.end())
    inner = exact_casts(sql[m.end():end])
    a = _AS_DOUBLE.search(inner)
    cast = f"exact_double({inner[:a.start()]})" if a else f"{m.group(0)}{inner})"
    return sql[:m.start()] + cast + exact_casts(sql[end + 1:])


def connect(data_dir: str):
    con = duckdb.connect()
    con.execute(EXACT_DOUBLE)
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def expected(con, sql: str):
    """(sorted columns, rows, digest) of the oracle SQL's result, its
    DECIMAL-to-DOUBLE casts made exact."""
    rel = con.sql(exact_casts(sql))
    cols = rel.columns
    tbl = rel.arrow()
    rows = zip(*[tbl.column(i).to_pylist() for i in range(len(cols))]) if cols else iter(())
    n, d = digest(cols, rows)
    return sorted(cols), n, d


# Row counts of the approximate (rows-only) lanes whose row count the data
# fixes exactly; the other rows-only lanes (k-means, IVF, PQ, heavy hitters,
# WAU sketches) are checked for a non-empty output.
ROWS_SQL = {
    "q13_approx_distinct": "SELECT count(DISTINCT CAST(ts AS DATE)) FROM events",
    "q13_hll_merge": "SELECT 1",
    "q23_compress": "SELECT count(*) FROM documents",
    "q37_profile_approx": "SELECT 6",
}


def check_lane(con, rec: dict) -> str:
    """'' when the lane's output matches; otherwise what differs."""
    if rec.get("error"):
        return f"failed: {rec['error']}"
    if not rec.get("oracle_sql"):
        lane = rec["lane"]
        want = con.sql(ROWS_SQL[lane]).fetchone()[0] if lane in ROWS_SQL else None
        if want is None:
            return "" if rec["rows"] > 0 else "rows-only lane returned no rows"
        return "" if rec["rows"] == want else f"rows {rec['rows']} != expected {want}"
    cols, n, d = expected(con, rec["oracle_sql"])
    if cols != sorted(rec["columns"]):
        return f"columns {sorted(rec['columns'])} != oracle {cols}"
    if n != rec["rows"]:
        return f"rows {rec['rows']} != oracle {n}"
    if str(d) != str(rec["digest"]):
        return f"digest {rec['digest']} != oracle {d}"
    return ""
