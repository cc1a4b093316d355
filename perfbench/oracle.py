"""Hash-compare the harness's outputs with their DuckDB oracles.

`check/<name>/` holds each output as Spark wrote it and
`check/oracle_sql.json` the oracle SQL it must equal, both written by the
harness (see `Harness.writeChecks`). Outputs named `info.*` are compared
and reported but do not count toward `oracle_exact`.

Comparison as the catalog's own gate does it: columns sorted by name, each
cell normalised to text (floats by `repr`, so exact), rows sorted, then
both sides hashed.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os

import duckdb


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _digest(rel):
    cols = sorted(rel.columns)
    rows = sorted(tuple(_cell(v) for v in r)
                  for r in rel.project(", ".join(f'"{c}"' for c in cols))
                  .fetchall())
    h = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
    return cols, rows, h


def check(fixture, check_dir):
    """({output name: True when it hash-equals its oracle}, report lines)."""
    con = duckdb.connect()
    # the JVM has exited: every core is free for the oracles
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET enable_progress_bar = false")
    for t in ("events", "nation", "documents"):
        p = os.path.join(fixture, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    results, report = {}, []
    for name in sorted(sql):
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        try:
            if not files:
                raise RuntimeError("no output files")
            sc, sr, sh = _digest(con.sql(
                f"SELECT * FROM read_parquet({files!r})"))
            dc, dr, dh = _digest(con.sql(sql[name]))
        except Exception as e:  # a missing output or failing SQL is a mismatch
            results[name] = False
            report.append(f"{name}: check failed: {e}")
            continue
        if name.startswith("info."):
            # reported, not gated
            report.append(f"{name}: {len(set(sr) - set(dr))} of {len(sr)} "
                          "rows differ from the oracle (not gated)")
            continue
        results[name] = sh == dh
        if sh == dh:
            report.append(f"{name}: exact ({len(sr)} rows)")
        else:
            report.append(f"{name}: MISMATCH spark cols={sc} rows={len(sr)} "
                          f"oracle cols={dc} rows={len(dr)}")
            diff = sorted(set(sr) ^ set(dr))[:3]
            report.extend(f"  differs: {d}" for d in diff)
    con.close()
    return results, report
