#!/usr/bin/env python3
"""Cross-check graft.Verify's dumped results against DuckDB.

`graft.Verify <sf_dir> <out_dir>` writes each query's rows to the
directory `<out_dir>/<name>/part-*.parquet` and the DuckDB oracle SQL of
the oracle-checked queries to `<out_dir>/oracle_sql.json`. This script
registers every `<sf_dir>/<table>.parquet` as a DuckDB view, runs each
oracle statement, and compares its rows with the dumped ones as
multisets (row order is not compared; column order is).

Cells are normalized before the compare, so that the two engines'
representations of one value print alike:
  - NULL prints as "NULL" and NaN as "NaN";
  - floats print as repr(round(v, 9)), with -0.0 as 0.0;
  - DECIMAL prints as the float it converts to;
  - a timestamp at midnight prints as its date (Spark writes DATE, DuckDB
    may surface it as a midnight TIMESTAMP); time zones are folded to UTC.

Usage:
    python3 tools/oracle_check.py <out_dir> <sf_dir> [name ...]

Prints one FAIL line per mismatching query, then `N/M pass`. The exit
status is 0 only when every checked query passes.
"""
import datetime
import decimal
import glob
import json
import math
import os
import sys

import duckdb


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return repr(v)
        r = round(v, 9)
        return repr(0.0 if r == 0 else r)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        if v.time() == datetime.time(0):
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, datetime.timedelta):
        return f"{v // datetime.timedelta(microseconds=1)}us"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm(x)}" for k, x in v.items()) + "}"
    return str(v)


def rows(con, sql):
    cur = con.execute(sql)
    width = len(cur.description)
    return width, sorted(tuple(norm(c) for c in r) for r in cur.fetchall())


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    out_dir, sf_dir, only = argv[1], argv[2], set(argv[3:])
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        table = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    names = sorted(n for n in oracle if not only or n in only)
    passed = 0
    for name in names:
        dumped = os.path.join(out_dir, name)
        try:
            if not glob.glob(os.path.join(dumped, "*.parquet")):
                raise ValueError(f"no dumped parquet under {dumped}")
            gw, got = rows(con, f"SELECT * FROM read_parquet('{dumped}/*.parquet')")
            ww, want = rows(con, oracle[name])
        except Exception as e:  # a query that cannot run is a failure, not a skip
            print(f"FAIL {name}: {type(e).__name__}: {str(e).splitlines()[0]}")
            continue
        if gw != ww:
            print(f"FAIL {name}: {gw} columns dumped, {ww} from the oracle")
        elif got != want:
            got_set, want_set = set(got), set(want)
            extra = [r for r in got if r not in want_set][:2]
            missing = [r for r in want if r not in got_set][:2]
            print(f"FAIL {name}: {len(got)} rows dumped, {len(want)} from the oracle; "
                  f"dumped only {extra}; oracle only {missing}")
        else:
            passed += 1
    print(f"{passed}/{len(names)} pass")
    return 0 if passed == len(names) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
