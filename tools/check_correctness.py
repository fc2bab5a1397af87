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
       python tools/check_correctness.py --changed-since <sha>
           [sf_dir]   # sweep only queries whose plan module or
                      # (transitively) referenced package modules
                      # changed since <sha> — the pre-commit gate
                      # at 209 registered queries
"""

from __future__ import annotations

import datetime as dt
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


def _changed_queries(since_sha: str, registry) -> set[str]:
    """Queries whose plan module, or any package module their
    function source (transitively) references, changed since
    ``since_sha``. Over-selects rather than under-selects: module
    reference = the dotted name appearing anywhere in the source.
    """
    import inspect
    import re as _re
    import subprocess

    pkg_root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "afg_data_pipeline_spark",
    )
    repo = os.path.dirname(pkg_root)
    diff = subprocess.run(
        ["git", "diff", "--name-only", since_sha, "--", "afg_data_pipeline_spark"],
        cwd=repo,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()

    def _dotted(relpath: str) -> str:
        return (
            relpath.removesuffix(".py")
            .removesuffix("/__init__")
            .replace("/", ".")
        )

    changed = {_dotted(p) for p in diff if p.endswith(".py")}
    if not changed:
        return set()

    # Reverse-closure over intra-package references: a module that
    # mentions a changed module's dotted name is itself "changed".
    sources: dict[str, str] = {}
    for dirpath, _dirs, files in os.walk(pkg_root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            full = os.path.join(dirpath, fname)
            rel = os.path.relpath(full, repo)
            with open(full) as fh:
                sources[_dotted(rel)] = fh.read()
    grew = True
    while grew:
        grew = False
        for mod, src in sources.items():
            if mod in changed:
                continue
            for ch in list(changed):
                tail = ch.split(".", 1)[1] if "." in ch else ch
                if _re.search(
                    r"\b" + _re.escape(tail) + r"\b", src
                ):
                    changed.add(mod)
                    grew = True
                    break

    out = set()
    for name, q in registry.items():
        mod = q.fn.__module__
        if mod.removeprefix("afg_data_pipeline_spark.") in {
            c.split(".", 1)[1] if "." in c else c for c in changed
        } or mod in changed:
            out.add(name)
            continue
        try:
            src = inspect.getsource(q.fn)
        except OSError:
            out.add(name)
            continue
        for ch in changed:
            tail = ch.split(".", 1)[1] if "." in ch else ch
            # both-sided word boundary: a short tail like 'io'
            # must not substring-match identifiers ending in it
            # (ADVICE r7; dots are non-word so 'operators.io'
            # still matches, which is the intended over-select)
            if _re.search(r"\b" + _re.escape(tail) + r"\b", src):
                out.add(name)
                break
    return out


def main() -> int:
    argv = sys.argv[1:]
    since_sha = None
    if argv and argv[0] == "--changed-since":
        since_sha = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    from afg_data_pipeline_spark.plans import REGISTRY
    from afg_data_pipeline_spark.session import get_session

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

    if since_sha is not None:
        changed = _changed_queries(since_sha, REGISTRY)
        print(
            f"--changed-since {since_sha}: "
            f"{len(changed)}/{len(REGISTRY)} queries selected"
        )
        if not changed:
            spark.stop()
            return 0
        only = changed & only if only else changed

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
