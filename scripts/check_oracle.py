"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf0.01, compare row count, column-name set, and an order-insensitive
value hash (columns sorted by name, rows sorted, values stringified
with floats rounded).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]

An argument that is neither an existing sf dir (first position only) nor
a registered query name is an error, reported before Spark starts; a run
that checks zero queries fails.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    # STRICT on purpose (mirrors the driver's canonicalizer, which does
    # NOT coerce float==int): a Spark bigint 5 vs a DuckDB HUGEINT->float
    # 5.0 must MISMATCH here so local green predicts driver green.
    if isinstance(v, (list, tuple)) or "ndarray" in type(v).__name__:
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if v is None or v != v:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        # NO `+ 0.0` normalization: the driver's canonicalizer preserves
        # IEEE -0.0, so -0.000000 vs 0.000000 must MISMATCH here (it
        # masked the rel_stats_agg signed-zero red in r2). Queries must
        # normalize in their own SQL (`round(x, 6) + 0.0` on BOTH engines).
        return f"{round(v, 6):.6f}"
    return str(v)


def frame_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(norm_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]

    import __spark_entry__ as E
    queries = E.queries()
    unknown = [a for a in args if a not in queries]
    if unknown:
        print(f"unknown query names (the sf dir must be an existing "
              f"directory in first position): {unknown}", file=sys.stderr)
        return 2
    only = set(args)

    from otd_semantic_framework_spark.session import get_spark

    # CHECK_MASTER/CHECK_PARTITIONS: re-verify under a different layout
    # (e.g. local[32]/96 — the driver-harness-like config with different
    # float partial-agg merge orders than the local[8]/8 default)
    spark = get_spark(
        "oracle-check",
        master=os.environ.get("CHECK_MASTER", "local[8]"),
        shuffle_partitions=int(os.environ.get("CHECK_PARTITIONS", "8")))
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracles = E.oracle_sql()
    failures = []
    checked = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        checked += 1
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(spdf)} rows (no oracle) "
                  f"[{time.time() - t0:.1f}s]")
            continue
        try:
            dpdf = con.sql(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {str(ex)[:300]}")
            failures.append(name)
            continue
        ok_rows = len(spdf) == len(dpdf)
        ok_cols = sorted(spdf.columns) == sorted(dpdf.columns)
        ok_hash = ok_rows and ok_cols and frame_hash(spdf) == frame_hash(dpdf)
        status = "OK   " if (ok_rows and ok_cols and ok_hash) else "FAIL "
        print(f"{status} {name}: spark={len(spdf)} duck={len(dpdf)} "
              f"cols={'=' if ok_cols else sorted(spdf.columns)!r} "
              f"hash={'=' if ok_hash else 'MISMATCH'} [{time.time() - t0:.1f}s]")
        if not (ok_rows and ok_cols and ok_hash):
            failures.append(name)
            if ok_cols and ok_rows:
                cols = sorted(spdf.columns)
                s = sorted(("\x1f".join(norm_cell(v) for v in r)
                            for r in spdf[cols].itertuples(index=False, name=None)))
                d = sorted(("\x1f".join(norm_cell(v) for v in r)
                            for r in dpdf[cols].itertuples(index=False, name=None)))
                diff = [(a, b) for a, b in zip(s, d) if a != b][:3]
                for a, b in diff:
                    print(f"    spark: {a[:160]}")
                    print(f"    duck : {b[:160]}")
    print(f"\n{checked} queries checked")
    if not checked:
        failures.append("<no queries checked>")
    print(f"{len(failures)} failures: {failures}" if failures else "ALL OK")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
