"""Record the golden shuffle count per catalog query.

Writes ``tools/plan_shapes.json``: ``{query: n_exchanges}`` where
n_exchanges counts ``Exchange`` operators (shuffles + broadcasts,
excluding ``ReusedExchange`` — reuse is free) in the executed plan at
the test scale factor.  ``tests/test_plan_audit.py::
test_no_new_shuffles`` fails any query whose plan grows MORE exchanges
than recorded here — the plan-shape regression tripwire: an edit that
silently adds a shuffle is a perf bug at 100 TB long before it is a
wall-clock blip at sf0.001.

Run after intentionally changing a query's plan (or adding a query)::

    python tools/record_plan_shapes.py
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

OUT = Path(__file__).resolve().parent / "plan_shapes.json"
SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def active_lines(plan: str):
    """The lines of ``plan`` outside every ``InMemoryRelation``
    cached-build subtree: the operators this query runs, not the
    one-time materialization of a persisted input.  Subtree boundaries
    come from the tree-drawing indent: a child prints with a strictly
    longer ``[\\s:|+-]`` prefix than its parent."""
    import re

    prefix = re.compile(r"^[\s:|+\-]*")
    cache_stack: list[int] = []  # depths of enclosing InMemoryRelations
    for line in plan.splitlines():
        d = len(prefix.match(line).group(0))
        while cache_stack and d <= cache_stack[-1]:
            cache_stack.pop()
        inside_cache = bool(cache_stack)
        if "InMemoryRelation" in line:
            cache_stack.append(d)
        if not inside_cache:
            yield line


def count_exchanges(plan: str) -> int:
    """Count DISTINCT non-reused Exchange operators in the ACTIVE plan.

    ``executedPlan().toString()`` expands a cached/shared subplan at
    EVERY reference, so one physical exchange can appear dozens of
    times textually (semantic_dedup_keep: 56 lines, 16 distinct) —
    the ``plan_id`` tag identifies the operator, so dedupe by it.
    Lines without a plan_id (older formats) are counted raw.

    Exchanges INSIDE an ``InMemoryRelation`` cached-build subtree are
    EXCLUDED (:func:`active_lines`): they belong to the cache's
    one-time materialization, and — decisive for a stable golden — how
    they print depends on materialization ORDER, not plan shape.  A
    persisted DF first touched by the main action prints its build with
    within-execution ``ReusedExchange`` collapsing; the same DF
    pre-materialized by an earlier metadata action (e.g.
    semantic_dedup_keep's split-detect aggregate) re-prints the full
    build tree with fresh plan_ids at every reference (measured: 16 →
    25 "exchanges" for an identical workload)."""
    import re

    ids: set[str] = set()
    raw = 0
    for line in active_lines(plan):
        if "Exchange" not in line or "ReusedExchange" in line:
            continue
        m = re.search(r"\[plan_id=(\d+)\]", line)
        if m:
            ids.add(m.group(1))
        else:
            raw += 1
    return len(ids) + raw


def count_global_windows(plan: str) -> int:
    """Count DISTINCT unpartitioned Window operators, which plan as
    ``Exchange SinglePartition`` + one task scanning every input row.

    ``TreeNode.argString`` omits EMPTY argument lists, so a Window line
    prints 1-3 bracket groups: ``[exprs], [partitionSpec], [orderSpec]``
    with absent specs dropped.  Two groups is therefore ambiguous —
    ``[exprs], [order]`` (unpartitioned, dangerous) vs ``[exprs],
    [partition]`` (partitioned-unordered running agg, fine) — so the
    second group only counts when it IS an order spec (Spark always
    prints ``ASC/DESC NULLS FIRST/LAST`` inside one).  One group
    (neither spec) is also a single-partition global window.  Dedupe by
    normalized line text (shared subplans print at every reference;
    Window lines carry no plan_id)."""
    import re

    order_spec = re.compile(r"\b(?:ASC|DESC) NULLS (?:FIRST|LAST)\b")
    seen: set[str] = set()
    for line in plan.splitlines():
        m = re.search(r"(?:^|- )Window (\[.*)$", line)
        if not m:
            continue
        rest = m.group(1)
        groups, depth, cur = [], 0, ""
        for ch in rest:
            if ch == "[":
                depth += 1
            if depth > 0:
                cur += ch
            if ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(cur)
                    cur = ""
        unpartitioned = len(groups) == 1 or (
            len(groups) == 2 and order_spec.search(groups[1])
        )
        if unpartitioned:
            seen.add(rest)
    return len(seen)


def main() -> int:
    from tweets_spark_top_10_spark.queries import QUERIES
    from tweets_spark_top_10_spark.session import get_spark

    spark = get_spark(
        app_name="plan-shapes",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false"},
    )
    shapes = {}
    for name in sorted(QUERIES):
        plan = (
            QUERIES[name](spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        shapes[name] = count_exchanges(plan)
    OUT.write_text(json.dumps(shapes, indent=1, sort_keys=True) + "\n")
    print(f"recorded {len(shapes)} plan shapes -> {OUT}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
