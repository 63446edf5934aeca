"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf dir; compares row count, column-name set, and an
order-insensitive value hash (columns sorted by name, rows sorted,
floats canonicalized). Usage:

    python tools/check_oracle.py [--json OUT] [sf_dir] [query ...]

``--json OUT`` also writes each query's Spark-side ``frame_sig`` and
whether it passed to OUT, so two checkouts' runs can be diffed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import sys
from pathlib import Path

import duckdb

# the checkout this script sits in, so a second checkout gates its own code
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from lumbermill_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    return str(v)


def frame_sig(cols: list[str], rows: list[tuple]) -> tuple[int, str, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(
        "\x01".join(canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5("\x02".join(norm).encode()).hexdigest()
    return len(rows), ",".join(sorted(cols)), h


def connect_oracle(sf: str):
    """DuckDB connection with the sf dir's tables registered as views
    (same names the driver uses)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    return con


def run_gate(spark, sf: str, only=None, con=None,
             record: dict | None = None) -> list[str]:
    """Run the driver-equivalent correctness gate; returns the failing
    query names. Importable (tests wire this in as a smoke check for
    queries past the driver gate's 50-query cap — see COVERAGE.md).
    ``record``, when given, is filled with ``name -> {"ok", "sig"}``:
    the Spark-side frame_sig (null when Spark raised) and the verdict."""
    if con is None:
        con = connect_oracle(sf)
    only = set(only) if only else None
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    sigs = {}  # name -> Spark-side frame_sig, None when Spark raised
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sigs[name] = None
        try:
            sdf = fn(spark, sf)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        s_sig = sigs[name] = frame_sig(scols, srows)
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)"
                  + (" EMPTY!" if not srows else ""))
            if not srows:
                failures.append(name)
            continue
        try:
            res = con.sql(oracles[name])
            drows = res.fetchall()
            dcols = res.columns
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        d_sig = frame_sig(dcols, drows)
        if s_sig == d_sig:
            print(f"ok   {name}: {s_sig[0]} rows match")
        else:
            failures.append(name)
            print(f"FAIL {name}: spark={s_sig} duckdb={d_sig}")
            if s_sig[0] == d_sig[0] and s_sig[1] == d_sig[1]:
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = sorted("|".join(canon(r[i]) for i in order) for r in srows)
                dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
                dset = sorted("|".join(canon(r[i]) for i in dorder) for r in drows)
                diffs = [(a, b) for a, b in zip(sset, dset) if a != b]
                for a, b in diffs[:3]:
                    print(f"       spark : {a[:160]}")
                    print(f"       duckdb: {b[:160]}")
    if record is not None:
        record.update({n: {"ok": n not in failures, "sig": sig}
                       for n, sig in sigs.items()})
    return failures


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--json", help="write {query: {ok, sig}} here")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("query", nargs="*")
    args = ap.parse_args()
    spark = get_spark("oracle-check", cores=8)
    record: dict = {}
    failures = run_gate(spark, args.sf_dir, only=args.query, record=record)
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"sf": Path(args.sf_dir).name, "queries": record}, f,
                      indent=1, sort_keys=True)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
