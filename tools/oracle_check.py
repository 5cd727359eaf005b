"""Local replica of the driver's correctness gate.

Runs every query in __spark_entry__.queries() on Spark AND its oracle_sql()
on DuckDB over the same parquet tables, then compares:
  - row count
  - schema (column names; dtypes printed for eyeballing)
  - pandas dtype KIND per column (int vs float vs object ...) — this is
    what actually catches DuckDB HUGEINT widening: the round-3 driver red
    rows were HUGEINT oracle columns that pandas renders as float64 while
    Spark returns int64, invisible to a %.12g value canon (3.0 -> "3").
  - order-insensitive canonicalized value hash

Fetch path: Spark via .toPandas(), DuckDB via .df() — the conversion pair
that mangles HUGEINT the way the recorded gate failures show.

A hard TYPE LINT runs on every oracle regardless of value results: any
result column whose DuckDB logical type contains HUGEINT fails the gate,
because the Spark side cannot produce an INT128 and the driver's pandas
conversion turns it into float64 ("3.0" vs "3" hash mismatch). Un-cast
SUM() over integers is the usual culprit; CAST(... AS BIGINT) fixes it.

Usage:  python tools/oracle_check.py [--sf /root/testdata/sf0.01] [--only name[,name]]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# DuckDB logical types the Spark side can never produce; pandas/driver
# conversion mangles them, so their mere presence in an oracle result is a
# gate failure even when the local value compare happens to pass.
_BANNED_TYPE_TOKENS = ("HUGEINT", "UHUGEINT")


def canon_cell(v) -> str:
    # numpy scalars (from the pandas fetch path) -> plain Python first
    if type(v).__module__ == "numpy":
        v = v.item()
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.12g}"
    if isinstance(v, bool):
        return str(v).lower()
    # temporal normal form: a tz-naive midnight datetime and a date must
    # canon identically — DuckDB .df() lifts DATE to Timestamp(00:00:00)
    # while Spark .toPandas() keeps datetime.date objects.
    import datetime as _dt

    import pandas as _pd

    if v is _pd.NaT:
        return "NULL"
    if isinstance(v, _pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None and v.hour == v.minute == v.second == v.microsecond == 0:
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple[str, ...]]]:
    order = sorted(range(len(cols)), key=lambda idx: cols[idx])
    sorted_cols = [cols[idx] for idx in order]
    out = sorted(tuple(canon_cell(r[idx]) for idx in order) for r in rows)
    return sorted_cols, out


def value_hash(rows: list[tuple[str, ...]]) -> str:
    h = hashlib.md5()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def _kinds(df) -> dict[str, str]:
    """pandas dtype kind per column: i=int, u=uint, f=float, O=object,
    M=datetime, b=bool. int-vs-float is the HUGEINT tell."""
    return {c: df.dtypes[c].kind for c in df.columns}


def lint_oracle_types(con, sql: str) -> list[str]:
    """Return banned DuckDB result-column types (HUGEINT family)."""
    rel = con.sql(sql)
    bad = []
    for col, typ in zip(rel.columns, rel.types):
        t = str(typ).upper()
        if any(tok in t for tok in _BANNED_TYPE_TOKENS):
            bad.append(f"{col}:{t}")
    return bad


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--verbose", action="store_true")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a bare SparkSession like the round driver does (catches "
        "reliance on pumle_spark.session-only configuration)",
    )
    ap.add_argument(
        "--json",
        default=None,
        help="also write a per-query {name: {status, rows, problems}} record "
        "to this path — the committable full-sweep artifact (r11 ADVICE)",
    )
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("oracle_check_vanilla")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
    else:
        from pumle_spark.session import get_spark

        spark = get_spark(app_name="oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        # driver layout is a single file; Spark-written replicas (e.g. the
        # .bench/sf1 scale dir) are part-file DIRECTORIES — glob those
        path = f"{args.sf}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None

    n_pass = n_fail = n_rowsonly = 0
    record: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            scols = list(sdf.columns)
            spdf = sdf.toPandas()
            skinds = _kinds(spdf)
            srows = list(spdf.itertuples(index=False, name=None))
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            record[name] = {"status": "FAIL", "problems": [f"spark error: {exc}"]}
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows ({time.time() - t0:.1f}s)")
            record[name] = {"status": "ROWS-ONLY", "rows": len(srows)}
            n_rowsonly += 1
            continue
        try:
            bad_types = lint_oracle_types(con, oracles[name])
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            dpdf = res.df()
            dkinds = _kinds(dpdf)
            drows = list(dpdf.itertuples(index=False, name=None))
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {exc}")
            record[name] = {"status": "FAIL", "problems": [f"duckdb error: {exc}"]}
            n_fail += 1
            continue

        sc, sr = canon_rows(scols, srows)
        dc, dr = canon_rows(dcols, drows)
        problems = []
        if bad_types:
            problems.append(f"TYPE-LINT oracle emits banned types: {', '.join(bad_types)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sc != dc:
            problems.append(f"columns spark={sc} duckdb={dc}")
        if not problems:
            # numeric-kind drift (int64 vs float64) is exactly how a driver
            # hash mismatch looks before canonicalization flattens it
            for c in sc:
                a, b = skinds.get(c), dkinds.get(c)
                if a != b and {a, b} <= {"i", "u", "f"} and "f" in {a, b}:
                    problems.append(f"dtype-kind mismatch col={c} spark={a} duckdb={b}")
        if not problems and value_hash(sr) != value_hash(dr):
            problems.append("value-hash mismatch")
            diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:5]
            for a, b in diffs:
                problems.append(f"  spark={a}\n  duck ={b}")
        if problems:
            print(f"FAIL {name} ({time.time() - t0:.1f}s): " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print("   " + p)
            record[name] = {"status": "FAIL", "rows": len(srows), "problems": problems}
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows ({time.time() - t0:.1f}s)")
            record[name] = {"status": "PASS", "rows": len(srows)}
            n_pass += 1

    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only ==")
    if args.json:
        import json as _json

        with open(args.json, "w") as fh:
            _json.dump(
                {
                    "sf": args.sf,
                    "vanilla": args.vanilla,
                    "n_pass": n_pass,
                    "n_fail": n_fail,
                    "n_rows_only": n_rowsonly,
                    **({"partial": True, "only": sorted(only)} if only else {}),
                    "queries": record,
                },
                fh,
                indent=1,
                sort_keys=True,
                default=str,
            )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
