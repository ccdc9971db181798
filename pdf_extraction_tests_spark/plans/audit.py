"""Physical-plan audits: assert the plan shape scale requires.

``explain()`` strings are the ground truth for whether Catalyst actually
did what the DataFrame code intends: filters pushed into the parquet scan,
small dimensions broadcast, no surprise shuffles.  These helpers parse the
formatted plan so tests (tests/test_plans.py) can pin the plan shape —
a regression here is a 100-TB performance bug even when results stay right.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def count_exchanges(plan: str) -> int:
    """Shuffle exchanges in the plan (excludes broadcast exchanges).

    Formatted plans list nodes as ``(n) Exchange`` with arguments on the
    following line; broadcast exchanges print as ``(n) BroadcastExchange``.
    """
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def has_broadcast_join(plan: str) -> bool:
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def pushed_filters(plan: str) -> str:
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    return "; ".join(x for x in m if x)


def read_schema_columns(plan: str) -> list[str]:
    """Columns actually read from the (first) parquet scan."""
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    if not m:
        return []
    return [c.split(":")[0] for c in m.group(1).split(",") if c]


def scan_stage_lines(plan: str) -> list[list[str]]:
    """Per file scan in the plan tree, the tree lines of the scan and of
    every operator above it up to the first exchange: the work that runs in
    the scan's own stage, once per scan split.

    Lines keep their tree rails, so a caller can tell Union branches apart
    (a Union's earlier children are drawn with a ``:`` rail).
    """
    tree = plan.split("\n\n")[0].splitlines()
    nodes = [(m.start(), ln) for ln in tree
             if re.search(r"\(\d+\)\s*$", ln) and (m := re.search(r"\w", ln))]
    stages = []
    for i, (depth, ln) in enumerate(nodes):
        if not re.search(r"\bScan (parquet|orc|json|csv|text)\b", ln):
            continue
        stage = [ln]
        for up_depth, up in reversed(nodes[:i]):
            if up_depth >= depth:
                continue  # not an ancestor
            if re.search(r"Exchange \(\d+\)", up):  # shuffle or broadcast
                break
            stage.append(up)
            depth = up_depth
        stages.append(stage)
    return stages


def lambda_bodies(plan: str) -> list[str]:
    """The text of each ``lambdafunction(...)`` in the plan, through its
    balanced closing paren (nested lambdas appear inside their parent's
    body and again on their own)."""
    bodies = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth = 0
        for j in range(m.end() - 1, len(plan)):
            if plan[j] == "(":
                depth += 1
            elif plan[j] == ")":
                depth -= 1
                if depth == 0:
                    bodies.append(plan[m.start():j + 1])
                    break
    return bodies


def plan_nodes(plan: str) -> list[tuple[str, str]]:
    """(name, details) of each node in a formatted plan's detail section,
    in id order: the first word of the ``(n) Name ...`` header (``Scan``,
    ``Project``, ``BroadcastHashJoin``) and the header plus the lines
    under it."""
    return [(m.group(2), m.group(1)) for m in re.finditer(
        r"^(\(\d+\) (\w+).*?)(?=^\(\d+\) |\Z)", plan,
        flags=re.MULTILINE | re.DOTALL)]
