"""Query profiling over Spark's executed physical plans.

``plan_nodes`` is the one walk of a physical plan: it descends through
AQE's ``AdaptiveSparkPlan`` to the final plan and through every
``QueryStage`` wrapper to the subtree that stage ran, so each operator
that executed — and its SQLMetrics — is reached exactly once. EXPLAIN
ANALYZE, the plan tests and ``scripts/index_curve.py`` read operator
metrics through it.
"""

from __future__ import annotations

from collections.abc import Iterator


def plan_nodes(plan, depth: int = 0) -> Iterator[tuple[int, object]]:
    """Yield ``(depth, node)`` for every node of the JVM SparkPlan
    ``plan`` in pre-order. An AdaptiveSparkPlan's child is its current
    (after execution: final) plan; a QueryStage's child is the plan it
    wraps; any other node's children are its own."""
    yield depth, plan
    name = plan.nodeName()
    if "AdaptiveSparkPlan" in name:
        kids = [plan.executedPlan()]
    elif "QueryStage" in name:
        kids = [plan.plan()]
    else:
        ch = plan.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    for kid in kids:
        yield from plan_nodes(kid, depth + 1)


def node_metrics(node) -> dict[str, int]:
    """SQLMetric name -> current value for one plan node."""
    mts = node.metrics().toList()
    out = {}
    for i in range(mts.size()):
        kv = mts.apply(i)
        out[kv._1()] = kv._2().value()
    return out
