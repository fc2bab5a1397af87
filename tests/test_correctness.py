"""DuckDB-oracle correctness gate over every declared query.

Mirrors the driver's t2 check (SURVEY.md §5.1) at sf0.001 so the
whole registry is validated on every pytest run. Exact compare —
floats must match bit-for-bit, which the decimal-accumulation
convention (functions/numeric.py) guarantees.

DRIVER PARITY: the gate runs with spark.sql.ansi.enabled=TRUE —
the driver supplies its own Spark 4 session where that is the
default, and round 3's only red row (near_dup_components_star) was
an ANSI-only long overflow that the engine's ANSI-off session
masked in every local check. Registered queries must be correct
under ANY session conf (CLAUDE.md rule 11).
"""

from __future__ import annotations

import pytest

from afg_data_pipeline_spark.plans import REGISTRY
from tests.conftest import SF_DIR, assert_frames_match


@pytest.fixture(scope="module", autouse=True)
def _ansi_on(spark):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield
    spark.conf.set("spark.sql.ansi.enabled", old)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, duck):
    q = REGISTRY[name]
    df = q.fn(spark, SF_DIR)
    # Driver-canonicalizability gate (round-6/7 red-row class):
    # the driver sorts/hashes results via pandas, which ERRs on
    # unhashable array/map/struct cells and renders DECIMAL
    # unequally across its two conversion paths. EVERY registered
    # output — rows-only included, since the driver pandas-sorts
    # those too (r7's unigram_tokenize ERR) — must stay in the
    # driver-safe scalar set (tools/schema_lint.py is the
    # standalone sweep).
    from tools.schema_lint import unsafe_fields

    bad = unsafe_fields(df.schema)
    assert not bad, (
        f"{name}: driver-uncanonicalizable output columns {bad} "
        "(project arrays to strings / string-cast decimals on "
        "both engine sides)"
    )
    if q.oracle is None:
        # Rows-only check, mirroring the driver's weaker fallback.
        assert df.count() >= 0
        return
    assert_frames_match(df, duck.execute(q.oracle))


def test_registry_integrity():
    for name, q in REGISTRY.items():
        assert q.doc, f"{name} has no docstring"
        assert q.fn.__name__, name


def test_collect_boundary_lint():
    """Every non-test .collect() is structurally bounded or carries
    a reviewed '# collect-bound:' annotation (tools/collect_lint) —
    the r9-verdict #7 invariant, mechanical instead of hand-audited."""
    from tools.collect_lint import lint

    assert lint() == []


def _env_key(node):
    """The key node of an ``*.environ.get(k)`` / ``*.environ[k]`` /
    ``getenv(k)`` read, else None."""
    import ast

    if isinstance(node, ast.Subscript):
        if ast.unparse(node.value).endswith("environ"):
            return node.slice
    elif isinstance(node, ast.Call) and node.args:
        if ast.unparse(node.func).endswith(("environ.get", "getenv")):
            return node.args[0]
    return None


def test_no_print_and_budgets_only_via_tier():
    """No ``print(`` in the package (stdout is the bench/driver result
    channel; announcements go through functions/tier.announce), and no
    ``AFG_*`` environment read outside functions/tier.py (budgets go
    through gate/budget). sinks/jdbc.py's ``AFG_DB_*`` credentials are
    deployment settings, not budgets, and are exempt."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = root / "afg_data_pipeline_spark"
    errors = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            where = f"{rel}:{getattr(node, 'lineno', '?')}"
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "print"
            ):
                errors.append(f"{where}: print(")
            key = _env_key(node)
            if key is None or rel == "functions/tier.py":
                continue
            if rel == "sinks/jdbc.py":
                literal = isinstance(key, ast.Constant)
                if not literal or key.value.startswith("AFG_DB_"):
                    continue
            if not isinstance(key, ast.Constant):
                errors.append(f"{where}: env read of a computed name")
            elif str(key.value).startswith("AFG_"):
                errors.append(f"{where}: {key.value} read outside tier")
    assert errors == []


def test_one_timing_loop():
    """bench.py and tools/*.py time queries only through
    tools/measure.py: elsewhere no ``"noop"`` sink literal and no
    time.time/time.perf_counter call inside a loop body
    (check_correctness.py's per-query progress timer takes no minimum
    and is allowed by name). And no ``sys.path.insert`` of a string
    literal: a tool imports the checkout it sits in, so an A/B run
    from a second tree times that tree's code."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    loops = (
        ast.For,
        ast.AsyncFor,
        ast.While,
        ast.ListComp,
        ast.SetComp,
        ast.DictComp,
        ast.GeneratorExp,
    )
    clocks = {"time.time", "time.perf_counter", "perf_counter"}
    errors = []
    for path in [root / "bench.py", *sorted(root.glob("tools/*.py"))]:
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        in_loop = {
            id(n)
            for loop in ast.walk(tree)
            if isinstance(loop, loops)
            for n in ast.walk(loop)
        }
        for node in ast.walk(tree):
            where = f"{rel}:{getattr(node, 'lineno', '?')}"
            if rel != "tools/measure.py":
                if isinstance(node, ast.Constant) and node.value == "noop":
                    errors.append(f"{where}: noop sink outside measure")
                if (
                    isinstance(node, ast.Call)
                    and id(node) in in_loop
                    and ast.unparse(node.func) in clocks
                    and rel != "tools/check_correctness.py"
                ):
                    errors.append(f"{where}: timing loop outside measure")
            if (
                isinstance(node, ast.Call)
                and ast.unparse(node.func) == "sys.path.insert"
                and any(isinstance(a, ast.Constant) for a in node.args[1:])
            ):
                errors.append(f"{where}: sys.path.insert of a literal")
    assert errors == []


def test_one_fixpoint_loop():
    """operators/graph.py truncates lineage inside a loop only in
    ``_iterate``, the one fixpoint loop of the graph family, and in
    ``hits``, whose two-frame state does not fit it (allowed by
    name): no other top-level function may call localCheckpoint
    inside a for/while body."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    path = root / "afg_data_pipeline_spark" / "operators" / "graph.py"
    errors = []
    for fn in ast.parse(path.read_text()).body:
        if not isinstance(fn, ast.FunctionDef) or fn.name in (
            "_iterate",
            "hits",
        ):
            continue
        for loop in ast.walk(fn):
            if not isinstance(loop, (ast.For, ast.AsyncFor, ast.While)):
                continue
            for node in ast.walk(loop):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "localCheckpoint"
                ):
                    errors.append(f"{fn.name}:{node.lineno}")
    assert errors == []


def test_one_batch_store():
    """The store layout has one home. ``"partitionOverwriteMode"``,
    ``foreachBatch(`` and the ``availableNow`` trigger appear only in
    streaming/sinks.py (write_owned / drain), streaming/windows.py
    (the memory-sink harness) and io.py (write_parquet). And no
    ``open(`` / ``os.makedirs`` call sits outside fs.py, so store
    paths and index metadata go through the Hadoop FileSystem;
    sources/ (local input readers) and plans/_fingerprint.py (reads
    the package's own source) are exempt."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = root / "afg_data_pipeline_spark"
    layout_home = {"streaming/sinks.py", "streaming/windows.py", "io.py"}
    errors = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        local_files_ok = rel in (
            "fs.py",
            "plans/_fingerprint.py",
        ) or rel.startswith("sources/")
        for node in ast.walk(ast.parse(path.read_text())):
            where = f"{rel}:{getattr(node, 'lineno', '?')}"
            if rel not in layout_home:
                if (
                    isinstance(node, ast.Constant)
                    and node.value == "partitionOverwriteMode"
                ):
                    errors.append(f"{where}: dynamic overwrite")
                if isinstance(node, ast.Call) and (
                    ast.unparse(node.func).endswith(".foreachBatch")
                ):
                    errors.append(f"{where}: foreachBatch")
                if isinstance(node, ast.Call) and any(
                    kw.arg == "availableNow" for kw in node.keywords
                ):
                    errors.append(f"{where}: availableNow trigger")
            if local_files_ok or not isinstance(node, ast.Call):
                continue
            func = ast.unparse(node.func)
            if func == "open" or func.endswith("makedirs"):
                errors.append(f"{where}: {func}( on a local path")
    assert errors == []


def test_one_kernel_carrier():
    """The numpy columns a driver kernel's frame carries to the next
    kernel have one home: ``_kernel_columns`` is written and read only
    in operators/_local_frame.py (``make`` / ``columns`` /
    ``ids_read``), so every consumer reads them through ``vars`` and
    no second copy of the frame builder appears."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = root / "afg_data_pipeline_spark"
    errors = []
    for path in [*sorted(pkg.rglob("*.py")), *sorted(root.glob("tools/*.py"))]:
        rel = path.relative_to(root).as_posix()
        if rel == "afg_data_pipeline_spark/operators/_local_frame.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "_kernel_columns"
            ) or (
                isinstance(node, ast.Constant)
                and node.value == "_kernel_columns"
            ):
                errors.append(f"{rel}:{node.lineno}")
    assert errors == []


def test_coverage_order_leads_with_never_checked():
    """queries() lists every registered name once, and a name with no
    CORRECTNESS_r*.json row (never driver-checked) sorts ahead of
    every checked one."""
    import json
    import pathlib

    import __spark_entry__ as e

    root = pathlib.Path(e.__file__).resolve().parent
    checked = set()
    for path in root.glob("CORRECTNESS_r*.json"):
        checked |= set(json.loads(path.read_text()))
    order = e._coverage_order(list(REGISTRY))
    assert sorted(order) == sorted(REGISTRY)
    assert list(e.queries()) == order
    # "zz_" names sort last by name, so leading proves the rule
    fresh = ["zz_never_checked_a", "zz_never_checked_b"]
    order = e._coverage_order(list(REGISTRY) + fresh)
    assert order[:2] == fresh
    flags = [n in checked for n in order]
    assert flags == sorted(flags)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
