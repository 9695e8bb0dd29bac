"""Untimed correctness checks against DuckDB.

Taxi workloads: the wide table and the report counters are rebuilt in
DuckDB from the generator's manifest (each file's dialect, taxi type and
expected month) following the pipeline's documented rules, and compared
exactly. Registry queries: each saved result is compared with the query's
declared oracle SQL by `tools/check_oracle.py`'s comparison.
"""
import importlib.util
import os

import duckdb
import pandas as pd

from gen import DIALECTS, month_start_us, next_month

HOURS = [f"hour_{h}" for h in range(24)]


def _ts_expr(kind, col):
    c = f'"{col}"'
    if kind == "ts":
        return f"epoch_us(CAST({c} AS TIMESTAMPTZ))"
    if kind == "string":
        return f"epoch_us(TRY_CAST({c} AS TIMESTAMP))"
    return (f"CASE WHEN abs({c}) < 100000000000 THEN {c} * 1000000 "
            f"ELSE {c} * 1000 END")


def _place_expr(spec, double_ids):
    if "lat" in spec:
        return (f"CAST(round(\"{spec['lat']}\", 3) AS VARCHAR) || '_' || "
                f"CAST(round(\"{spec['lon']}\", 3) AS VARCHAR)")
    c = f'"{spec["loc"]}"'
    # integral doubles go through BIGINT ("132", never "132.0"); a NaN id
    # is a missing location
    if double_ids:
        return f"CASE WHEN isnan({c}) THEN NULL ELSE CAST(CAST({c} AS BIGINT) AS VARCHAR) END"
    return f"CAST({c} AS VARCHAR)"


def _spec(dialect):
    if dialect == "both_pickup":
        return {"dt": "pickup_datetime", "kind": "string", "loc": "PULocationID"}
    return DIALECTS[dialect]


def expected_wide(con, root, files, min_rides):
    """Register view `expected` (pre-filter groups) and return counters."""
    parts = []
    for dialect in sorted({f["dialect"] for f in files}):
        group = [f for f in files if f["dialect"] == dialect and f["rows"] > 0]
        if not group:
            continue
        spec = _spec(dialect)
        meta = []
        for f in group:
            lo = month_start_us(f["year"], f["month"]) if f["year"] else 0
            hi = month_start_us(*next_month(f["year"], f["month"])) if f["year"] else 0
            meta.append(f"('{os.path.join(root, f['path'])}', '{f['taxi_type']}', {lo}, {hi})")
        paths = ", ".join(f"'{os.path.join(root, f['path'])}'" for f in group)
        parts.append(f"""
            SELECT m.taxi_type, {_ts_expr(spec['kind'], spec['dt'])} AS us,
              {_place_expr(spec, dialect.startswith('fhv'))} AS place, m.lo, m.hi
            FROM read_parquet([{paths}], filename = true) r
            JOIN (VALUES {", ".join(meta)}) m(fname, taxi_type, lo, hi)
              ON r.filename = m.fname""")
    hours = ", ".join(f"CAST(SUM(CASE WHEN h = {h} THEN 1 ELSE 0 END) AS BIGINT) AS hour_{h}"
                      for h in range(24))
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE rows_ AS
        SELECT * FROM ({" UNION ALL ".join(parts)}) WHERE us IS NOT NULL""")
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE expected AS
        SELECT taxi_type, CAST(floor(us / 86400000000) AS BIGINT) AS day, place, {hours},
          COUNT(*) AS total
        FROM (SELECT *, CAST(floor((us % 86400000000) / 3600000000) AS INT) AS h FROM rows_)
        GROUP BY taxi_type, day, place""")
    n_in, mismatch = con.execute(
        "SELECT COUNT(*), COUNT(*) FILTER (WHERE us < lo OR us >= hi) FROM rows_").fetchone()
    groups, out = con.execute(
        f"SELECT COUNT(*), COUNT(*) FILTER (WHERE total >= {min_rides}) FROM expected").fetchone()
    return {"input_rows": n_in, "output_rows": out, "month_mismatch": mismatch,
            "low_count_dropped": groups - out, "bad_rows_ignored": mismatch + groups - out}


def compare_wide(con, out_path, min_rides):
    """Rows in exactly one of (program output, expected); 0 means equal."""
    cols = ", ".join(HOURS)
    got = (f"SELECT taxi_type, CAST(date - DATE '1970-01-01' AS BIGINT) AS day, "
           f"pickup_place AS place, {cols} FROM read_parquet('{out_path}/*.parquet')")
    want = f"SELECT taxi_type, day, place, {cols} FROM expected WHERE total >= {min_rides}"
    return con.execute(f"""
        SELECT (SELECT COUNT(*) FROM ({got} EXCEPT ALL {want}))
             + (SELECT COUNT(*) FROM ({want} EXCEPT ALL {got}))""").fetchone()[0]


def check_taxi(root, files, report, out_path, min_rides=50):
    """Problems found in one pipeline result (empty list = correct)."""
    con = duckdb.connect()
    valid = [f for f in files if f["class"] == "valid"]
    want = expected_wide(con, root, valid, min_rides)
    problems = []
    for k, v in want.items():
        if report.get(k) != v:
            problems.append(f"{k}: got {report.get(k)} want {v}")
    skipped = {os.path.relpath(p.replace("file:", ""), root) for p in report.get("skipped", [])}
    for f in files:
        if f["class"] == "valid" and f["path"] in skipped:
            problems.append(f"valid file skipped: {f['path']}")
        if f["class"] == "refused" and f["path"] not in skipped:
            problems.append(f"bad file not reported: {f['path']}")
    diff = compare_wide(con, out_path, min_rides)
    if diff:
        problems.append(f"wide table differs in {diff} rows")
    return problems


def _check_oracle_compare(repo):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(repo, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def check_registry(repo, tables_dir, out_dir, oracle_sql, min_distinct):
    """{query: verdict} for every query with an oracle. A query whose
    result has fewer distinct values in its floor column than its
    QueryDef.minDistinct floor fails, as in graft.Verify: a degenerate
    result would match an oracle that degenerated the same way."""
    compare = _check_oracle_compare(repo)
    con = duckdb.connect()
    for t in os.listdir(tables_dir):
        name = t.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tables_dir}/{t}')")
    verdicts = {}
    for name, sql in sorted(oracle_sql.items()):
        qdir = os.path.join(out_dir, name)
        try:
            got = pd.read_parquet(qdir)
            if name in min_distinct:
                col, floor = min_distinct[name]
                n = got[col].nunique(dropna=False)
                if n < floor:
                    verdicts[name] = f"VACUOUS {n} distinct '{col}' values, floor {floor}"
                    continue
            verdicts[name] = compare(name, got, con.execute(sql).df())
        except Exception as e:  # a missing or unreadable result is a failure
            verdicts[name] = f"ERROR {type(e).__name__}: {e}"
    return verdicts
