"""Independent output checks, computed with DuckDB outside any timed region.

- catalog queries: each query's result (dumped by the harness after the
  warm-up run, which every timed run must reproduce) against its DuckDB twin
  from `SparkEntry.oracleSql`, compared like scripts/check_oracle.py: column
  names as a set, rows as a multiset, floats to 1e-9;
- etl batches: the expected `agg_data` of a generated batch;
- table state: rows of a table version against the generated change set.
"""
import datetime
import decimal
import json
import math
import os

import duckdb

from gen import CATALOG_TABLES


def connect(tmp_dir):
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def _plain(v):
    """DuckDB value -> the JSON shape the harness dumps."""
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        return v if math.isfinite(v) else repr(v).replace("inf", "Infinity").replace("nan", "NaN")
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):
        return [_plain(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _key(v):
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (int, float)):
        return "%.9g" % v
    if isinstance(v, list):
        return "[" + ",".join(_key(x) for x in v) + "]"
    return "s" + str(v)


def _same(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return int(a) == int(b) if a is not None and b is not None else a is b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _normalize(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[r[i] for i in order] for r in rows]
    out.sort(key=lambda r: [_key(v) for v in r])
    return [columns[i] for i in order], out


def compare(columns_a, rows_a, columns_b, rows_b):
    """None if the two results match, else a one-line reason."""
    ca, ra = _normalize(columns_a, rows_a)
    cb, rb = _normalize(columns_b, rows_b)
    if ca != cb:
        return f"columns {ca} != {cb}"
    if len(ra) != len(rb):
        return f"rows {len(ra)} != {len(rb)}"
    for x, y in zip(ra, rb):
        if not all(_same(u, v) for u, v in zip(x, y)):
            return f"row {x} != {y}"
    return None


def check_catalog(input_dir, tmp_dir, oracle_sql, reference_dir):
    """{query: reason} for every query whose dumped result misses its twin."""
    con = connect(tmp_dir)
    for t in CATALOG_TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name, sql in sorted(oracle_sql.items()):
        with open(os.path.join(reference_dir, name + ".json")) as f:
            got = json.load(f)
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = [[_plain(v) for v in r] for r in cur.fetchall()]
        except Exception as e:  # a twin that cannot run proves nothing
            bad[name] = f"oracle error: {e}"
            continue
        why = compare(got["columns"], got["rows"], cols, rows)
        if why:
            bad[name] = why
    con.close()
    return bad


ETL_AGG_SQL = """
WITH s AS (
  SELECT TRY_CAST(NULLIF("index", '') AS BIGINT) AS idx,
         NULLIF("Date", '') AS d,
         TRY_CAST(NULLIF(Weekly_Sales, '') AS DOUBLE) AS ws
  FROM read_csv(?, header = true, all_varchar = true, quote = '"')),
m AS (SELECT s.ws, s.d, e.CPI, e.Unemployment
      FROM s JOIN read_parquet(?) e ON s.idx = e."index"),
means AS (SELECT avg(ws) AS a FROM m),
c AS (SELECT coalesce(ws, a) AS ws,
             month(try_strptime(d, '%Y-%m-%dT%H:%M:%S.%g')) AS mo
      FROM m, means)
SELECT mo, round_even(avg(ws), 2) FROM c
WHERE ws > 10000 AND mo IS NOT NULL GROUP BY mo ORDER BY mo
"""


def etl_expected(con, csv_path, parquet_path):
    """[[month, avg_sales]] the reference pipeline must produce for a batch."""
    return [[int(m), float(v)] for m, v in con.execute(ETL_AGG_SQL, [csv_path, parquet_path]).fetchall()]


def check_table(rows, expected):
    """None if the snapshot rows equal the expected {key: (name, balance)}."""
    got = {int(k): (n, float(b)) for k, n, b in rows}
    if len(got) != len(rows):
        return "duplicate keys in snapshot"
    if got.keys() != expected.keys():
        return f"keys differ: {len(got.keys() - expected.keys())} extra, {len(expected.keys() - got.keys())} missing"
    for k, v in expected.items():
        if got[k] != v:
            return f"key {k}: {got[k]} != {v}"
    return None
