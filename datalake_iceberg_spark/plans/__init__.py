"""Physical-plan inspection & linting.

The 100 TB design rule is that plan shape — not constant tuning — is
what survives scale-up (SURVEY §4): filters pushed into the scan, small
dims broadcast, one shuffle per clustering, codegen on the hot path.
These helpers make those properties assertable in tests and checkable
ad hoc (``lint_plan``), complementing the *runtime* view from
:mod:`datalake_iceberg_spark.ops.eventlog`.
"""

from __future__ import annotations

import contextlib
import re
from dataclasses import dataclass, field
from io import StringIO

from pyspark.sql import DataFrame


def explain_text(df: DataFrame, mode: str = "formatted") -> str:
    buf = StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def count_hash_shuffles(text: str) -> int:
    """Hash-partitioning exchanges (cluster-by shuffles)."""
    return text.count("hashpartitioning(")


def count_range_shuffles(text: str) -> int:
    """Range-partitioning exchanges (global sorts / ORDER BY)."""
    return text.count("rangepartitioning(")


def pushed_filters(text: str) -> list[str]:
    """Filters that reached the parquet scan (DataSource pushdown)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


_PYTHON_OPS = (
    "BatchEvalPython",      # row-at-a-time Python UDF
    "ArrowEvalPython",      # pandas UDF
    "MapInPandas",          # mapInPandas
    "FlatMapGroupsInPandas",  # applyInPandas
    "AggregateInPandas",    # pandas UDAF
)


def has_python_eval(text: str) -> bool:
    """Any Python evaluation on the plan (the slow path — absent means
    the query is fully JVM-side)."""
    return any(op in text for op in _PYTHON_OPS)


def has_cartesian(text: str) -> bool:
    """Both-sides-large cartesian — never acceptable."""
    return "CartesianProduct" in text


# A Window whose partition spec is EMPTY: the windowspecdefinition's
# first argument is a sort spec (``col ASC/DESC ...``) or directly the
# frame (no partition, no order). Partitioned windows lead with the
# partition columns instead.
_GLOBAL_WINDOW_RE = re.compile(
    r"windowspecdefinition\((?:[^,()]*\s(?:ASC|DESC)\b|specifiedwindowframe)"
)


def has_global_window(text: str) -> bool:
    """A window function with no partition spec — Spark plans it as
    Exchange SinglePartition + Sort, forcing every row through ONE task.
    Fine on small data, fatal at 100 TB."""
    return bool(_GLOBAL_WINDOW_RE.search(text))


def has_nested_loop(text: str) -> bool:
    """Broadcast nested-loop — acceptable ONLY when one side is
    deliberately tiny (scalar subquery, small broadcast cross join)."""
    return "BroadcastNestedLoopJoin" in text


def count_broadcast_hints(df: DataFrame) -> int:
    """Number of EXPLICIT broadcast hints (``F.broadcast(...)`` /
    ``/*+ BROADCAST */``) in the analyzed logical plan.

    An explicit hint bypasses ``autoBroadcastJoinThreshold`` — Spark
    will collect the hinted side to the driver and ship it to every
    executor *no matter how large it grows*, so a hint on a frame whose
    cardinality scales with the data (vocabulary, cluster count, …) is
    a deferred driver-OOM / 8 GB-broadcast-limit failure at 100 TB.
    AQE-chosen broadcasts carry no hint node and are threshold-bounded,
    so they never count here. Each hinted site on the graded surface
    must therefore be provably bounded — constant-K model state, a
    fixed query set, a 1-row aggregate, or an explicitly documented
    SF-regime dimension table (see ``tests/test_all_plans_lint.py``)."""
    text = df._jdf.queryExecution().analyzed().toString()
    return text.count("ResolvedHint (strategy=broadcast)")


@dataclass
class PlanReport:
    hash_shuffles: int
    range_shuffles: int
    broadcast_joins: int
    sortmerge_joins: int
    pushed_filters: list[str]
    python_eval: bool
    cartesian: bool
    nested_loop: bool
    global_window: bool
    findings: list[str] = field(default_factory=list)


def lint_plan(
    df: DataFrame,
    max_hash_shuffles: int | None = None,
    expect_pushdown: bool = True,
    allow_python: bool = False,
) -> PlanReport:
    """One-call plan check. Findings are advisory strings; tests assert
    on the structured fields."""
    text = explain_text(df)
    rep = PlanReport(
        hash_shuffles=count_hash_shuffles(text),
        range_shuffles=count_range_shuffles(text),
        broadcast_joins=text.count("BroadcastHashJoin"),
        sortmerge_joins=text.count("SortMergeJoin"),
        pushed_filters=pushed_filters(text),
        python_eval=has_python_eval(text),
        cartesian=has_cartesian(text),
        nested_loop=has_nested_loop(text),
        global_window=has_global_window(text),
    )
    if rep.cartesian:
        rep.findings.append("CartesianProduct — quadratic at scale")
    if rep.global_window:
        rep.findings.append(
            "window with empty partition spec — single-partition sort at scale"
        )
    if rep.nested_loop:
        rep.findings.append(
            "BroadcastNestedLoopJoin — acceptable only against a tiny broadcast side"
        )
    if max_hash_shuffles is not None and rep.hash_shuffles > max_hash_shuffles:
        rep.findings.append(
            f"{rep.hash_shuffles} hash shuffles > budget {max_hash_shuffles}"
        )
    if expect_pushdown and not rep.pushed_filters and "Filter" in text:
        rep.findings.append("filters present but none pushed to the scan")
    if rep.python_eval and not allow_python:
        rep.findings.append("Python evaluation on the hot path")
    return rep
