"""Local replica of the driver's oracle-compare harness.

Runs every registered query on Spark and its oracle on DuckDB over
the same sf dir, then compares row count, column names, and an
order-insensitive exact value comparison (sorted rows of stringified
cells). Stricter than the driver is likely to be — floats must match
bit-for-bit — so passing here means passing there.

The Spark session runs with ``spark.sql.ansi.enabled=true`` by
default — DRIVER PARITY: the driver supplies its own Spark 4
session (ANSI on by default), and round 3's only red row was an
ANSI-only overflow that the engine's ANSI-off session masked
locally. Set AFG_ANSI=0 to sweep under the engine default instead.

AFG_CANON=driver replicates the DRIVER's canonicalization instead
of the strict fetchall+repr path: Spark ``toPandas()`` vs DuckDB
``.df()``, columns sorted by name, ``sort_values`` over all
columns, cells stringified. Round 6's three red rows (array<int>
outputs ERR-ing pandas sort_values; raw DECIMAL(38,0) hashing
differently across the two pandas conversion paths) passed the
strict path while failing the driver — this mode reproduces that
class locally. Run both modes before claiming a query green.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
       python tools/check_correctness.py --changed-since <sha> [sf_dir]
           # sweep only the queries whose static fingerprint
           # (afg_data_pipeline_spark/plans/_fingerprint.py: the
           # query's symbol-level dependency closure, oracle SQL
           # included) differs between <sha> and the working tree
       python tools/check_correctness.py --refresh-certified
           # rebuild CERTIFIED.json (each driver round's query
           # fingerprints, read from git) after a CORRECTNESS_r<N>
           # round lands; never edit that file by hand
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        out.append(tuple(_norm_cell(row[i]) for i in order))
    out.sort()
    return out


def _canon_pandas(pdf):
    """Driver-replica canonicalization: sort columns by name,
    sort_values over ALL columns (raises TypeError on unhashable
    cells — exactly the driver's array<...> ERR), stringify cells.

    DATE columns arrive as datetime.date objects from Spark's
    toPandas but as midnight datetime64 from DuckDB's .df();
    the real driver equates them (date_parts has green driver
    rows), so midnight timestamps stringify as their date.
    """
    import pandas as pd

    def _cell(v):
        if isinstance(v, pd.Timestamp) and v == v.normalize():
            return str(v.date())
        return str(v)

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf):
        pdf = pdf.sort_values(
            by=list(pdf.columns), kind="mergesort"
        ).reset_index(drop=True)
    return [
        tuple(_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]


def main() -> int:
    from afg_data_pipeline_spark.plans import _fingerprint as fp

    argv = sys.argv[1:]
    if argv == ["--refresh-certified"]:
        path = os.path.join(fp.ROOT, "CERTIFIED.json")
        with open(path, "w") as fh:
            json.dump(fp.certified(), fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {path}")
        return 0
    since_sha = None
    if argv and argv[0] == "--changed-since":
        since_sha = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    from afg_data_pipeline_spark.plans import REGISTRY
    from afg_data_pipeline_spark.session import get_session

    if since_sha is not None:
        changed = fp.changed(fp.git_sources(since_sha), fp.tree_sources())
        print(
            f"--changed-since {since_sha}: "
            f"{len(changed)}/{len(REGISTRY)} queries selected"
        )
        if not changed:
            return 0
        only = changed & only if only else changed

    spark = get_session("check-correctness")
    ansi = os.environ.get("AFG_ANSI", "1") != "0"
    driver_canon = os.environ.get("AFG_CANON", "") == "driver"
    spark.conf.set("spark.sql.ansi.enabled", str(ansi).lower())
    print(
        f"spark.sql.ansi.enabled={ansi} (driver default: true); "
        f"canon={'driver-replica pandas' if driver_canon else 'strict repr'}"
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{sf_dir}/{t}.parquet'"
        )

    n_pass = n_fail = n_rows_only = 0
    failures: list[str] = []
    for name, q in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = q.fn(spark, sf_dir)
            if driver_canon:
                spark_pdf = df.toPandas()
                spark_rows = list(range(len(spark_pdf)))
                spark_cols = list(spark_pdf.columns)
            else:
                spark_rows = df.collect()
                spark_cols = df.columns
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            failures.append(f"{name}: SPARK ERROR {e}")
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if q.oracle is None:
            n_rows_only += 1
            print(
                f"rows  {name}: {len(spark_rows)} rows "
                f"({time.time() - t0:.1f}s, no oracle)"
            )
            continue
        try:
            res = con.execute(q.oracle)
            if driver_canon:
                duck_pdf = res.df()
                duck_rows = list(range(len(duck_pdf)))
                duck_cols = list(duck_pdf.columns)
            else:
                duck_cols = [d[0] for d in res.description]
                duck_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            failures.append(f"{name}: DUCKDB ERROR {e}")
            print(f"FAIL  {name}: duckdb error: {e}")
            continue

        problems = []
        if len(spark_rows) != len(duck_rows):
            problems.append(
                f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}"
            )
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(
                f"columns spark={sorted(spark_cols)} "
                f"duck={sorted(duck_cols)}"
            )
        if not problems:
            try:
                if driver_canon:
                    s = _canon_pandas(spark_pdf)
                    d = _canon_pandas(duck_pdf)
                else:
                    s = _normalize(spark_rows, spark_cols)
                    d = _normalize(duck_rows, duck_cols)
            except Exception as e:  # noqa: BLE001
                # the driver's ERR class: unhashable cells etc.
                problems.append(f"canon error: {type(e).__name__} {e}")
                s = d = None
            if s != d and not problems:
                diff_n = sum(1 for a, b in zip(s, d) if a != b)
                problems.append(f"values differ in ~{diff_n} rows")
                for a, b in zip(s, d):
                    if a != b:
                        problems.append(f"  spark={a}")
                        problems.append(f"  duck ={b}")
                        break
        if problems:
            n_fail += 1
            failures.append(f"{name}: " + "; ".join(problems[:3]))
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            n_pass += 1
            print(
                f"ok    {name}: {len(spark_rows)} rows "
                f"({time.time() - t0:.1f}s)"
            )

    print(
        f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only "
        f"(sf_dir={sf_dir})"
    )
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
