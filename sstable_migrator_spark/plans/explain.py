"""Plan-inspection and plan-control helpers: assert the physical plan we
*want*, not just one that passes (pushdown reached the scan, join went
broadcast, codegen spans cover the hot path), and fence off the one
Catalyst rewrite that hurts us (predicate pushdown through deep staged
derivations). Used by operators, tests and bench tuning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fence(col: Column) -> Column:
    """Optimizer fence: returns a value-identical column that Catalyst
    treats as nondeterministic, so predicates are NOT pushed through the
    Project that produces it. Use on derived flag columns whose lineage
    is a deep chain of staged expressions: pushdown substitutes aliases,
    and a chain where each stage references the previous one k times
    inlines the tree k^depth times (observed 185 KB single predicate).
    Implementation: ``element_at(shuffle(array(col)), 1)`` — shuffling a
    single-element array is a value identity, but ``shuffle`` is a
    nondeterministic expression with no folding rule, so the fence
    survives optimization. (A ``rand() >= -1`` guard does NOT: the
    optimizer knows rand's range and folds the guard away, re-enabling
    pushdown.)
    """
    return F.element_at(F.shuffle(F.array(col)), 1)


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def _plan(df: DataFrame) -> str:
    try:
        return formatted_plan(df)
    except Exception:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in _plan(df)


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from the scan (column pruning check)."""
    plan = _plan(df)
    cols: list[str] = []
    for ln in plan.splitlines():
        if "ReadSchema" in ln:
            inner = ln.split("struct<", 1)[-1].rsplit(">", 1)[0]
            cols.extend(p.split(":")[0].strip() for p in inner.split(",") if ":" in p)
    return cols
