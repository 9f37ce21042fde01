"""Physical-plan walking for plan-shape pins: operators, not substrings.

The nodes are the JVM ``SparkPlan`` objects themselves (py4j), so a pin
reads an operator's class-level facts — its ``nodeName()``, its
``outputPartitioning()`` — instead of matching text anywhere in a plan
string.
"""

from __future__ import annotations


def physical_nodes(root) -> list:
    """Every operator under ``root`` (a py4j ``SparkPlan``), pre-order,
    looking through ``AdaptiveSparkPlan`` and query-stage wrappers."""
    out, stack = [], [root]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        out.append(node)
        kids = node.children()
        stack.extend(kids.apply(i) for i in reversed(range(kids.size())))
    return out


def df_nodes(df) -> list:
    """``physical_nodes`` of a DataFrame's executed plan."""
    return physical_nodes(df._jdf.queryExecution().executedPlan())


def partitioning(node) -> str:
    """The class name of an operator's output partitioning, e.g.
    ``HashPartitioning`` or ``RoundRobinPartitioning``."""
    return node.outputPartitioning().getClass().getSimpleName()


def named(nodes: list, name: str) -> list:
    return [n for n in nodes if n.nodeName() == name]
