"""Physical-plan inspection & assertion helpers.

The reference has no optimizer at all (SURVEY §4.1: no pushdown, no
pruning, no planning). On Spark those come free — but only if the
plan actually shows them. These helpers turn ``.explain`` output into
assertable facts so tests (and humans) can verify:

- predicate pushdown reached the parquet scan (``PushedFilters``)
- column pruning happened (``ReadSchema`` width)
- a join was broadcast vs shuffled
- how many exchanges (shuffles) a plan contains
- whole-stage codegen coverage
- how many files the scans read (``files_read``: the file-pruning
  session extension drops files whose footer min/max exclude the
  filter)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame as SparkDF

__all__ = [
    "plan_string",
    "pushed_filters",
    "read_schemas",
    "scan_columns",
    "num_exchanges",
    "join_strategies",
    "codegen_stage_count",
    "files_read",
    "assert_pushdown",
    "assert_column_pruned",
    "plan_report",
]


def plan_string(df: SparkDF, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode)


def pushed_filters(df: SparkDF) -> list[str]:
    """Filters that reached the parquet scan."""
    s = plan_string(df)
    out = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", s):
        if m.group(1).strip():
            out.extend(f.strip() for f in m.group(1).split(","))
    return out


def read_schemas(df: SparkDF) -> list[str]:
    """ReadSchema struct strings, one per scan."""
    return re.findall(r"ReadSchema: (struct<[^\n]*)", plan_string(df))


def scan_columns(df: SparkDF) -> list[list[str]]:
    """Column names actually read by each scan (pruning evidence)."""
    cols = []
    for schema in read_schemas(df):
        body = schema[len("struct<"):].rstrip(">")
        cols.append([p.split(":")[0].strip()
                     for p in body.split(",") if ":" in p])
    return cols


def num_exchanges(df: SparkDF) -> int:
    """Shuffle count in the physical plan (lower is better; AQE may
    remove some at runtime). Counted in simple mode — formatted mode
    prints every node twice (tree + detail section)."""
    return len(re.findall(r"\bExchange (hash|range|rangepartitioning|"
                          r"SinglePartition|RoundRobin)",
                          plan_string(df, "simple")))


def join_strategies(df: SparkDF) -> list[str]:
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)",
        plan_string(df, "simple"))


def codegen_stage_count(df: SparkDF, execute: bool = False) -> int:
    """Distinct whole-stage-codegen regions (formatted mode annotates
    nodes with ``[codegen id : N]``).

    Under AQE the pre-execution plan is ``AdaptiveSparkPlan
    isFinalPlan=false`` with no codegen annotations. Passing
    ``execute=True`` finalizes an id-less adaptive plan by RUNNING it
    JVM-side (``executedPlan().executeTake(1)`` — materializes the
    query stages, ships at most one row) and counts from the final
    plan; that launches real jobs, so it is opt-in. The default is
    the static, run-nothing probe, which may return 0 under AQE."""
    s = plan_string(df)
    ids = set(re.findall(r"codegen id : (\d+)", s))
    if not ids and execute and "AdaptiveSparkPlan" in s:
        try:
            df._jdf.queryExecution().executedPlan().executeTake(1)  # noqa: SLF001
        except Exception:
            return 0
        ids = set(re.findall(r"codegen id : (\d+)", plan_string(df)))
    return len(ids)


def _plan_nodes(plan):
    """Every node of a physical plan, through adaptive plans (their
    current plan: the final one after an action), query stages,
    reused exchanges and subqueries."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        yield node
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
        subqueries = node.subqueries()
        stack.extend(subqueries.apply(i) for i in range(subqueries.size()))


def files_read(df: SparkDF) -> int:
    """Files the parquet/file scans of ``df``'s last execution read:
    the sum of their "number of files read" metrics (0 before an
    action). With the file-pruning extension it counts the files left
    after footer pruning, without it every listed file."""
    total = 0
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):  # noqa: SLF001
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            metric = node.metrics().get("numFiles")
            if metric.isDefined():
                total += metric.get().value()
    return total


def assert_pushdown(df: SparkDF, fragment: str) -> None:
    """Assert some filter mentioning ``fragment`` reached the scan."""
    got = pushed_filters(df)
    if not any(fragment in f for f in got):
        raise AssertionError(
            f"no pushed filter mentions {fragment!r}; pushed: {got}")


def assert_column_pruned(df: SparkDF, max_cols: int) -> None:
    """Assert every scan reads at most ``max_cols`` columns."""
    for cols in scan_columns(df):
        if len(cols) > max_cols:
            raise AssertionError(
                f"scan reads {len(cols)} columns ({cols}); expected "
                f"<= {max_cols} — projection not pruned")


def plan_report(df: SparkDF, execute_for_codegen: bool = False) -> dict:
    """One-call summary used by the plan-audit tool.

    ``execute_for_codegen=True`` runs the query to finalize an AQE
    plan so the codegen count is real (see
    :func:`codegen_stage_count`); the default stays side-effect-free
    for use inside test assertions."""
    return {
        "pushed_filters": pushed_filters(df),
        "scan_columns": scan_columns(df),
        "exchanges": num_exchanges(df),
        "joins": join_strategies(df),
        "codegen_stages": codegen_stage_count(
            df, execute=execute_for_codegen),
        "files_read": files_read(df),
    }
