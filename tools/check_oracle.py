"""Local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 side-by-side with
its ``oracle_sql()`` DuckDB query and compares: row count, sorted column
names, and the exact multiset of values (columns sorted by name, floats
compared bit-exactly — stricter than any value-hash the driver may use).

Usage: python tools/check_oracle.py [name ...]   (default: all)

Set ``POLAR_ORACLE_REPORT=<path>`` to also write a JSON report (one entry
per query: rows/schema/values match flags) — committed per-round as
``LOCAL_CORRECTNESS_r{N}.json`` so every registry query has oracle
evidence even when the external driver samples a subset.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import sys
from decimal import Decimal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Default sf0.01 mirrors the driver's gate; override with
# POLAR_ORACLE_SF_DIR=/root/testdata/sf0.1 for the at-scale sweep
# (broadcast thresholds, AQE coalescing and multi-row-group scans all
# flip between sf0.01 and sf0.1 — both sweeps are committed per round).
SF_DIR = os.environ.get("POLAR_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v  # exact float compare
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def main(names: list[str]) -> int:
    import duckdb

    sys.path.insert(0, REPO)
    import __spark_entry__ as entry_mod
    from polar_spark.session import get_spark

    spark = get_spark(app_name="check_oracle", shuffle_partitions=8)
    con = duckdb.connect()
    # Spark-WRITTEN parquet (the derived 10x corpora) marks timestamps
    # isAdjustedToUTC, which DuckDB reads as TIMESTAMP WITH TIME ZONE —
    # the driver's canonicalizer (and this mirror's dtype guard) rejects
    # TZ-typed outputs. Both engines run UTC (session.py pins Spark's
    # session timeZone; we pin DuckDB here), so casting those columns
    # back to naive TIMESTAMP in the VIEW is value-identical to the
    # driver-generated naive testdata shape.
    con.sql("SET TimeZone='UTC'")
    for t in TABLES:
        # testdata tables are single parquet FILES; derived corpora
        # (bench._build_scaled_corpus) are Spark-written DIRECTORIES of
        # part files — glob those
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        tz_cols = [
            c
            for c, ty, *_ in con.sql(
                f"describe select * from '{p}'"
            ).fetchall()
            if "WITH TIME ZONE" in ty
        ]
        if tz_cols:
            repl = ", ".join(
                f'CAST("{c}" AS TIMESTAMP) AS "{c}"' for c in tz_cols
            )
            con.sql(
                f"create view {t} as select * replace ({repl}) from '{p}'"
            )
        else:
            con.sql(f"create view {t} as select * from '{p}'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    targets = names or list(qs)
    failures = []
    report: dict[str, dict] = {}
    for name in targets:
        fn = qs[name]
        try:
            sdf = fn(spark, SF_DIR)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            report[name] = {"ok": False, "err": f"spark: {e}"[:300]}
            print(f"[FAIL] {name}: spark error: {e}")
            continue
        if name not in oracles:
            report[name] = {"ok": True, "rows_only": True, "spark_rows": len(s_rows)}
            print(f"[rows-only] {name}: {len(s_rows)} rows (no oracle)")
            continue
        try:
            res = con.sql(oracles[name])
            d_cols = res.columns
            d_types = [str(t) for t in res.types]
            d_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            report[name] = {"ok": False, "err": f"duckdb: {e}"[:300]}
            print(f"[FAIL] {name}: duckdb error: {e}")
            continue
        ok = True
        # Driver-parity guards: the external gate hash-compares dtypes too,
        # so DuckDB HUGEINT (SUM of ints) / TIMESTAMPTZ (to_timestamp) must
        # be CAST in the oracle, and BINARY outputs crash its canonicalizer.
        bad_types = [
            (c, t)
            for c, t in zip(d_cols, d_types)
            if "HUGEINT" in t or "TIME ZONE" in t
        ]
        if bad_types:
            print(f"[FAIL] {name}: driver-incompatible oracle dtypes {bad_types}"
                  " (CAST to BIGINT / TIMESTAMP)")
            ok = False
        if any(isinstance(v, (bytes, bytearray)) for r in s_rows[:1] for v in r):
            print(f"[FAIL] {name}: binary column in oracle-checked output"
                  " (hex-encode it; driver canonicalizer can't hash bytes)")
            ok = False
        if sorted(s_cols) != sorted(d_cols):
            print(f"[FAIL] {name}: columns {sorted(s_cols)} != {sorted(d_cols)}")
            ok = False
        elif len(s_rows) != len(d_rows):
            print(f"[FAIL] {name}: rowcount {len(s_rows)} != {len(d_rows)}")
            ok = False
        else:
            sn = _normalize(s_rows, s_cols)
            dn = _normalize(d_rows, d_cols)
            if sn != dn:
                ok = False
                diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
                print(f"[FAIL] {name}: value mismatch; first diffs:")
                for a, b in diffs:
                    print(f"    spark={a}\n    duck ={b}")
        report[name] = {
            "ok": ok,
            "spark_rows": len(s_rows),
            "oracle_rows": len(d_rows),
            "schema_match": sorted(s_cols) == sorted(d_cols),
        }
        if ok:
            print(f"[ OK ] {name}: {len(s_rows)} rows")
        else:
            failures.append(name)
    print(f"\n{len(targets) - len(failures)}/{len(targets)} queries match")
    out = os.environ.get("POLAR_ORACLE_REPORT")
    if out:
        with open(out, "w") as fh:
            json.dump(
                {
                    "sf_dir": SF_DIR,
                    "total": len(targets),
                    "failed": len(failures),
                    "queries": report,
                },
                fh,
                indent=1,
            )
        print(f"report written: {out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
