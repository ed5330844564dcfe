"""Local correctness gate: mirror of the driver's t2 compare.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column-name
set, and an order-insensitive value hash (columns sorted by name, rows
sorted, values canonicalized to strings).

Usage: python tools/check_correctness.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import re
import sys
import time

import duckdb

#: DuckDB result types the driver's columnar materialization mangles:
#: HUGEINT/UHUGEINT become float64 via ``.df()`` (or decimal128 via
#: ``.arrow()``), so the canonical string diverges from Spark's int64
#: even when every value is equal — the proven root cause of the only
#: driver-red rows in rounds 8-9 (VERDICT r9 "What's wrong" #1). Any
#: oracle emitting one of these is a FAIL here regardless of values.
_HOSTILE_TYPES = ("HUGEINT", "UHUGEINT", "UBIGINT")


def hostile_oracle_types(con, sql: str) -> list[str]:
    """Columns of ``sql`` whose DuckDB type the driver can't hash stably."""
    out = []
    for col, typ, *_ in con.execute("DESCRIBE " + sql).fetchall():
        m = re.match(r"DECIMAL\((\d+)", typ)
        if typ in _HOSTILE_TYPES or (m and int(m.group(1)) > 18):
            out.append(f"{col}: {typ}")
    return out

sys.path.insert(0, ".")

from deva_spark.session import TABLES, get_spark  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402


def canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted(
        "|".join(canon_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(canon_rows).encode()).hexdigest()[:16]
    return h, len(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("correctness-check")
    con = oracle_connection(sf_dir)
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        ok, line = check_entry(spark, con, sf_dir, name, fn, oracles.get(name))
        print(line)
        if not ok:
            failures.append(name)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


def oracle_connection(sf_dir: str):
    """DuckDB connection with every table of ``sf_dir`` as a view."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_entry(spark, con, sf_dir: str, name: str, fn, oracle: str | None) -> tuple[bool, str]:
    """Run one registry entry on Spark and its oracle on DuckDB; returns
    (ok, report line). An entry without an oracle passes when it runs."""
    t0 = time.time()
    try:
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
    except Exception as e:  # noqa: BLE001
        return False, f"FAIL  {name}: spark error: {e}"
    if oracle is None:
        return True, (f"ok?   {name}: rows-only (no oracle) rows={len(srows)} "
                      f"[{time.time()-t0:.1f}s]")
    try:
        hostile = hostile_oracle_types(con, oracle)
        if hostile:
            return False, (f"FAIL  {name}: oracle emits driver-hostile types {hostile} "
                           "(CAST the outer aggregate to BIGINT)")
        cur = con.execute(oracle)
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
    except Exception as e:  # noqa: BLE001
        return False, f"FAIL  {name}: duckdb error: {e}"
    sh_, sn = frame_hash(scols, srows)
    dh, dn = frame_hash(dcols, drows)
    if sorted(scols) != sorted(dcols):
        return False, f"FAIL  {name}: columns {sorted(scols)} vs {sorted(dcols)}"
    if sh_ != dh:
        lines = [f"FAIL  {name}: hash {sh_} vs {dh} (rows {sn} vs {dn})"]
        # show first differing canonical rows for debugging
        order = sorted(range(len(scols)), key=lambda i: scols[i])
        a = sorted("|".join(canon_value(r[i]) for i in order) for r in srows)
        dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
        b = sorted("|".join(canon_value(r[i]) for i in dorder) for r in drows)
        for i, (x, y) in enumerate(zip(a, b)):
            if x != y:
                lines.append(f"      first diff @{i}:\n      spark:  {x}\n      duckdb: {y}")
                break
        if len(a) != len(b):
            lines.append(f"      length diff: spark={len(a)} duckdb={len(b)}")
        return False, "\n".join(lines)
    return True, f"OK    {name}: rows={sn} hash={sh_} [{time.time()-t0:.1f}s]"


if __name__ == "__main__":
    sys.exit(main())
