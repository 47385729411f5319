"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given sf, compare row-count + column set + an
order-insensitive value hash.

Usage: python tools/check_oracles.py [--side auto|driver|distributed]
                                     [sf_dir] [only_query ...]

``--side`` pins the engine's sized driver/distributed decisions (the
postings executor's and the dictionary expansion's) through the module
constants ``query.SIDE_PINS`` names for that side, the pins the tests'
``force_side`` fixture sets; ``auto`` (the default) keeps the measured
values. Run the board once per side to check both.

The last line states the result: ``N ok, M failed, R rows-only of T``
(T entries run; rows-only entries have no oracle twin).
"""

from __future__ import annotations

import argparse
import hashlib
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = []
    for tup in pdf.itertuples(index=False):
        rows.append("|".join(_norm(v) for v in tup))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def _norm(v) -> str:
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    return str(v)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--side", choices=["auto", "driver", "distributed"],
                    default="auto")
    args, sys.argv[1:] = ap.parse_known_args()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from pdf_to_opensearch_spark import query
    from pdf_to_opensearch_spark.session import get_spark

    for name, value in query.SIDE_PINS.get(args.side, {}).items():
        setattr(query, name, value)

    spark = get_spark("check_oracles", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entry.queries(), entry.oracle_sql()
    failures = ok = rows_only = total = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        total += 1
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"[FAIL] {name}: spark error: {exc}")
            failures += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"[rows-only] {name}: {len(got)} rows in {t_spark:.1f}s")
            rows_only += 1
            continue
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            print(f"[FAIL] {name}: duckdb error: {exc}")
            failures += 1
            continue
        ok_rows = len(got) == len(want)
        ok_cols = sorted(got.columns) == sorted(want.columns)
        ok_hash = ok_cols and value_hash(got) == value_hash(want)
        status = "OK" if (ok_rows and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        else:
            ok += 1
        print(f"[{status}] {name}: rows {len(got)}/{len(want)} "
              f"cols={ok_cols} hash={ok_hash} ({t_spark:.1f}s)")
        if status == "FAIL" and ok_cols:
            merged = _diff(got, want)
            if merged is not None:
                print(merged.head(8).to_string())

    spark.stop()
    print(f"{ok} ok, {failures} failed, {rows_only} rows-only of {total}"
          f" (side {args.side})")
    sys.exit(1 if failures else 0)


def _diff(got: pd.DataFrame, want: pd.DataFrame):
    try:
        g = got.reindex(sorted(got.columns), axis=1).astype(str)
        w = want.reindex(sorted(want.columns), axis=1).astype(str)
        g["_src"], w["_src"] = "spark", "duckdb"
        allr = pd.concat([g, w])
        dups = allr.drop_duplicates(subset=[c for c in g.columns
                                            if c != "_src"], keep=False)
        return dups.sort_values(list(dups.columns))
    except Exception:  # noqa: BLE001
        return None


if __name__ == "__main__":
    main()
