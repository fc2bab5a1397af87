"""Plan-shape gates: single-evaluation filters and codegen'd pair joins.

``filter_once`` — the optimizer duplicates a deterministic expression
that is both PROJECTED and FILTERED on:
``.select(e.alias("x")).filter("x >= t")`` becomes a Filter(e >= t)
*below* the Project(e) — two evaluations per surviving row — and when
``e`` references both sides of a join the pushed predicate lands in
the join condition, so every candidate pair pays one evaluation and every survivor pays two (guide §4.4 describes
the UDF case; interpreted HOF folds and array_intersect hit the same
rule — CLAUDE.md rule 18c). Spark offers no optimizer barrier short
of materialization, and checkpointing a wide pair stream costs more
than it saves (rule 17, measured in r10).

``filter_once`` builds the barrier out of a GENERATE instead, for
free: wrap the value in a 1-element array, drop it inside the
generator input with ``filter(array(e), pred)``, and explode with the
OUTER variant. The generator input is evaluated exactly once per row;
survivors emit the value, non-survivors emit NULL (outer), and the
``IS NOT NULL`` filter above references only the generator OUTPUT
attribute, which no pushdown rule can rewrite in terms of the input.
The OUTER explode is load-bearing twice over: a non-outer explode
would let InferFiltersFromGenerate add a ``size(...) > 0`` filter
below the Generate that re-runs the expression — the exact
duplication this helper exists to remove (the r10 chunking-family
lesson).

Semantics: identical to ``.filter(pred(e))`` provided ``pred(NULL)``
is never TRUE (always the case for comparisons): a NULL value makes
the lambda predicate NULL, the element is dropped, the outer explode
emits a NULL row and the IS NOT NULL filter removes it.

Rule-10 note (HOF lambdas): the lambda here is a trivial comparison
over a 1-element array; every current caller is oracle-checked, so a
recurrence of the HOF-corruption class would surface as a red row.

``pair_join`` — the cross product of a stream with a multi-row
broadcast side, kept inside whole-stage codegen (its docstring has
the reason).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def filter_once(
    df: DataFrame,
    expr: Column,
    pred: Callable[[Column], Column],
    alias: str,
) -> DataFrame:
    """Keep rows where ``pred(expr)`` holds, with ``expr`` exposed as
    column ``alias`` and evaluated EXACTLY ONCE per input row.

    Equivalent to ``df.withColumn(alias, expr).filter(pred(col))``
    minus the optimizer's duplicate evaluation of ``expr`` (see
    module docstring), PROVIDED ``pred(NULL)`` is never TRUE (true of
    every comparison). A predicate such as ``isNull`` diverges: the
    gate drops a row whose ``expr`` is NULL, the naive filter keeps
    it. All existing columns are preserved.
    """
    gated = df.select(
        "*",
        F.explode_outer(F.filter(F.array(expr), pred)).alias(alias),
    )
    return gated.filter(F.col(alias).isNotNull())


def pair_join(
    stream: DataFrame, build: DataFrame, spread: int | None = None
) -> DataFrame:
    """Every (stream row, build row) pair — the cross product — as a
    codegen'd BroadcastHashJoin with ``build`` broadcast. Output
    columns are the stream's followed by the build's.

    Why not ``crossJoin`` (CLAUDE.md rule 23): with a multi-row
    build side it plans a BroadcastNestedLoopJoin, which whole-stage
    codegen excludes, so pair generation and every per-pair
    expression above it run interpreted (measured 8.1s vs 1.1s for
    the same cosine fold over 3.2M pairs). Why not a ``lit(1)`` key
    on both sides: FoldablePropagation substitutes the literal into
    the equi-condition, ConstantFolding collapses ``1 = 1`` to
    ``true``, and the join degrades to the same BNLJ (measured r11:
    every lit-key site in the repo planned BNLJ). The private key
    here is ``pmod(xxhash64(c), 1)`` over each side's first column:
    DERIVED from an attribute, so not foldable, and 0 for every row
    because xxhash64 never returns NULL (null inputs hash to the
    seed) — the join is exactly the cross product, rows with NULL
    ids included.

    ``spread`` round-robins the keyed stream into that many
    partitions before the join: the expansion multiplies rows
    without re-splitting them, and AQE sizes the stage from the
    pre-expansion bytes (rule 3).
    """

    def keyed(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "__k", F.pmod(F.xxhash64(df.columns[0]), F.lit(1))
        )

    left = keyed(stream)
    if spread is not None:
        left = left.repartition(spread)
    return left.join(F.broadcast(keyed(build)), "__k").drop("__k")
