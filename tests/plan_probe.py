"""Executed-plan probes for tests: the physical plans of every SQL execution
an action runs (including those hidden behind a localCheckpoint or run
inside a multi-job operator), and the join operators that use a given key."""

import re


def executed_plans(spark, action):
    """Run ``action()`` and return ``(its result, [final physical plan of
    each SQL execution it started])``, read from the session's SQL status
    store (populated with the UI disabled too)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def newest_first():
        bus.waitUntilEmpty()
        execs = store.executionsList()  # oldest first, capped at retention
        return (execs.apply(i) for i in range(execs.size() - 1, -1, -1))

    last = next((e.executionId() for e in newest_first()), -1)
    result = action()
    plans = []
    for e in newest_first():
        if e.executionId() <= last:
            break
        plans.append(e.physicalPlanDescription())
    return result, plans


_JOIN = re.compile(
    r"^\(\d+\) (\w+Join)\b.*\nLeft keys \[\d+\]: \[(.*)\]\nRight keys \[\d+\]: \[(.*)\]"
    r"\nJoin type: (\w+)",
    re.M,
)


def joins(plans, key: str) -> set:
    """``(operator, join type)`` pairs, e.g. ``("BroadcastHashJoin",
    "LeftAnti")``, of the joins in ``plans`` whose equi-keys include a
    column named ``key``."""
    col = re.compile(rf"(?<![\w.]){re.escape(key)}#|\.{re.escape(key)}\b")
    return {
        (name, how)
        for plan in plans
        for name, left, right, how in _JOIN.findall(plan)
        if col.search(left) or col.search(right)
    }


def join_kinds(plans, key: str) -> set:
    """Join operator names (``BroadcastHashJoin``, ``ShuffledHashJoin``, ...)
    in ``plans`` whose equi-keys include a column named ``key``."""
    return {name for name, _ in joins(plans, key)}
