"""Physical-plan inspection — make plan quality testable.

The 100 TB design rules (SURVEY.md §4.3, repo brief) are assertions
about *plans*, not results: filters must reach the parquet scan
(PushedFilters), small dims must broadcast, hot expressions must stay
inside WholeStageCodegen, and nothing should go cartesian. These
helpers expose those properties so tests/benchmarks can enforce them
instead of eyeballing ``df.explain()``. :func:`jobs_run` does the same
for the number of Spark jobs a piece of driver code launches — at
small scale the cost of a query. :func:`fits_broadcast` is the one
plan-time size guard the engine puts on a broadcast hint.
"""

from __future__ import annotations

import re
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (PySpark only prints it)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def _bracket_items(text: str) -> list[str]:
    """The top-level comma-separated items of ``text``, up to the
    bracket that closes the one just before it."""
    items, depth = [""], 0
    for ch in text:
        depth += (ch in "([") - (ch in ")]")
        if depth < 0:
            break
        if depth == 0 and ch == ",":
            items.append("")
        else:
            items[-1] += ch
    return items


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's file scans, one
    per filter (``LessThan(doc_id,120)``, ``In(k, [1,2])``)."""
    text = explain_str(df, "formatted")
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[", text):
        out.extend(s.strip() for s in _bracket_items(text[m.end():]) if s.strip())
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df, "simple")


def broadcast_hint_count(df: DataFrame) -> int:
    """Number of FORCED broadcast hints in the analyzed logical plan.

    Counts ``ResolvedHint`` nodes — i.e. explicit ``F.broadcast(...)``
    calls — not broadcasts AQE/Catalyst choose on their own. The scale
    rule under test: a hint is only allowed on sides whose size is
    bounded by a dimension (|taxonomy|), never on sides that scale with
    the caller's input cardinality.
    """
    plan = df._jdf.queryExecution().analyzed().toString()  # type: ignore[attr-defined]
    return plan.count("ResolvedHint")


def fits_broadcast(*bounds: DataFrame) -> bool:
    """Whether the summed ``stats().sizeInBytes`` of the ``bounds``'
    optimized plans is within the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (never when it is -1).

    The caller passes plans whose size provably bounds the side it
    means to hint, so a hint stays under the same cap Spark's own
    broadcast planning uses. Only the optimizer runs; no Spark job.
    """
    jspark = bounds[0].sparkSession._jsparkSession  # type: ignore[attr-defined]
    limit = jspark.sessionState().conf().autoBroadcastJoinThreshold()
    size = sum(
        int(b._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())  # type: ignore[attr-defined]
        for b in bounds
    )
    return 0 <= size <= limit


def codegen_stage_count(df: DataFrame) -> int:
    """Number of whole-stage-codegen stages: the distinct ``*(n)``
    stage markers of the final 'simple' plan."""
    return len(set(re.findall(r"\*\((\d+)\) ", final_plan(df))))


def assert_no_cartesian(df: DataFrame) -> None:
    """Raise if the plan contains a cartesian/broadcast-nested-loop
    join that is NOT an intentional small-side crossJoin."""
    text = explain_str(df, "simple")
    if "CartesianProduct" in text:
        raise AssertionError("plan contains CartesianProduct:\n" + text)


def final_plan(df: DataFrame) -> str:
    """The final adaptive plan of an executed ``df`` ('simple' mode),
    without the ``== Initial Plan ==`` section that repeats every node.
    Exchange reuse (``ReusedExchange``) only shows here."""
    return explain_str(df, "simple").split("== Initial Plan ==")[0]


def _column(line: str) -> int:
    """Where the operator starts on a 'simple' plan line."""
    return len(line) - len(line.lstrip(" :+-"))


def _node(line: str) -> str:
    """A 'simple' plan line without its tree prefix and codegen id."""
    return line[_column(line):].removeprefix("*").lstrip("(0123456789) ")


def node_count(plan: str, operator: str) -> int:
    """Number of plan nodes whose operator name starts with
    ``operator`` ('Exchange' counts no BroadcastExchange or
    ReusedExchange)."""
    return sum(_node(line).startswith(operator) for line in plan.splitlines())


def node_args(plan: str, operator: str) -> list[list[str]]:
    """The keys of each plan node whose operator name starts with
    ``operator``, one list per node in plan order, each key without its
    ``#id``; an order key keeps its direction (``'v ASC'``):

    - an Exchange's partitioning keys (``hashpartitioning(k#1, 8)``
      gives ``['k']``, ``SinglePartition`` gives ``[]``);
    - a Window's partition keys, then its order keys, from its first
      ``windowspecdefinition``;
    - a Sort's order keys;
    - a FileScan's columns.
    """
    out = []
    for node in map(_node, plan.splitlines()):
        if not node.startswith(operator):
            continue
        spec = node.partition("windowspecdefinition")[2] or node
        at = re.search(r"[(\[]", spec.split(", ")[0])
        keys = _bracket_items(spec[at.end():]) if at else []
        keys = [re.sub(r"#\d+L?| NULLS (FIRST|LAST)", "", k).strip() for k in keys]
        out.append([k for k in keys if k and not k.isdigit()
                    and not k.startswith("specifiedwindowframe")])
    return out


def build_side(plan: str, join: str) -> str:
    """The last child subtree (a BuildRight join's build side) of the
    first plan node whose line contains ``join``."""
    lines = plan.splitlines()
    at = next(i for i, line in enumerate(lines) if join in line)
    col = _column(lines[at])
    sub: list[str] = []
    for line in lines[at + 1:]:
        if _column(line) <= col:
            break
        sub.append(line)
    last = max(i for i, line in enumerate(sub) if _column(line) == col + 3)
    return "\n".join(sub[last:])


def jobs_run(spark: SparkSession, fn: Callable[[], object]) -> int:
    """Number of Spark jobs ``fn()`` launches from this thread.

    ``fn`` runs under a fresh job group, counted with
    ``statusTracker()``; the caller's job group, if any, is restored
    afterwards.
    """
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    group = f"jobs-run-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs_run")
    try:
        fn()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    return len(sc.statusTracker().getJobIdsForGroup(group))
