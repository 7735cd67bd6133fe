"""Plan-inspection utilities — the feedback loop for the scale requirement.

The reference has no optimizer surface (SURVEY §4); ours is Catalyst, and
these helpers make its decisions observable so tests can ASSERT on physical
properties: filters pushed to the scan, columns pruned, joins broadcast,
no stray shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the physical plan (AQE final
    plans may re-use; this counts planned exchanges — the upper bound).
    Counts the '(n) Exchange' detail headers so tree + detail sections don't
    double-count; broadcast exchanges are excluded (they're not shuffles)."""
    import re

    return len(re.findall(r"^\(\d+\) Exchange", formatted_plan(df), re.MULTILINE))


def has_pushed_filters(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def scan_read_schema(df: DataFrame) -> list[str]:
    """ReadSchema column lists of every parquet scan — for asserting column
    pruning (a 2-column projection must not read 11 columns)."""
    out = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            out.append(line)
    return out


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def codegen_stage_count(df: DataFrame) -> int:
    """Whole-stage-codegen stages in the EXECUTED plan. Runs the query:
    under AQE the final plan (where codegen stages materialize) only exists
    after execution. Diagnostic helper — don't call in hot paths."""
    import re

    # collect() (not count()) — count() builds a NEW plan; we need THIS
    # DataFrame's queryExecution to reach its AQE final plan
    df.collect()
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    stages = set(re.findall(r"\*\((\d+)\)", plan))
    return len(stages)


def unpartitioned_windows(df: DataFrame) -> list[dict]:
    """Every Window-family physical node with an EMPTY partition spec —
    the 'Moving all data to a single partition' hazard class. For each,
    reports whether a row-BOUNDING operator (aggregate / limit /
    top-k) sits BELOW it in the plan, which is what makes a global
    window acceptable: the sort then runs over an aggregate-sized
    relation, never the data.

    Walks ``queryExecution().sparkPlan()`` (the physical tree before
    AQE wrapping) via py4j. Returns ``[{"node": cls, "bounded": bool,
    "below": [classes...]}]``.

    Broadcast subtrees (``BroadcastExchangeExec`` and broadcast query
    stages) are EXCLUDED from the boundedness search: a 1-row stats
    aggregate on the broadcast side of a ``crossJoin(F.broadcast(...))``
    bounds only that side, not the window's streaming input, so counting
    it would false-negative on exactly the single-partition-sort hazard
    this check exists to catch.
    """
    plan = df._jdf.queryExecution().sparkPlan()

    window_classes = {
        "WindowExec",
        "WindowInPandasExec",
        "WindowGroupLimitExec",
    }
    bounding_classes = {
        "HashAggregateExec",
        "SortAggregateExec",
        "ObjectHashAggregateExec",
        "GlobalLimitExec",
        "LocalLimitExec",
        "TakeOrderedAndProjectExec",
        "CollectLimitExec",
    }

    broadcast_prefixes = ("BroadcastExchange", "BroadcastQueryStage")

    def _broadcast_child_index(node):
        # In the pre-AQE sparkPlan no exchange nodes exist yet: the
        # broadcast side of a Broadcast*JoinExec is a plain child,
        # identified by buildSide (BuildLeft=0 / BuildRight=1).
        cls = node.getClass().getSimpleName()
        if not cls.startswith("Broadcast") or "Join" not in cls:
            return None
        try:
            side = node.buildSide().toString()
        except Exception:  # noqa: BLE001 — join variant without buildSide
            return None
        return 0 if side == "BuildLeft" else 1

    def walk(node, skip_broadcast=False):
        yield node
        bcast_idx = _broadcast_child_index(node) if skip_broadcast else None
        it = node.children().iterator()
        i = 0
        while it.hasNext():
            child = it.next()
            if skip_broadcast and (
                i == bcast_idx
                or child.getClass().getSimpleName().startswith(
                    broadcast_prefixes
                )
            ):
                i += 1
                continue
            yield from walk(child, skip_broadcast)
            i += 1

    # row-MULTIPLYING nodes: a bounding aggregate BELOW one of these does
    # not bound the window's input — the multiplier re-inflates the
    # aggregate's output before it reaches the sort (the Theil-Sen class
    # of hazard: |bins|-row agg → |bins|² pair join/explode → global
    # window funnels the full pair table through one task while the
    # walker sees a HashAggregate below and calls it bounded). Semi/anti
    # joins only filter, so they are exempt.
    multiplier_prefixes = ("Generate", "Expand", "CartesianProduct")

    def _single_row_side(node) -> bool:
        # a GLOBAL aggregate (no grouping keys) emits exactly one row;
        # joining against it multiplies by 1 — the stats-attach pattern
        # (crossJoin(broadcast(df.agg(...)))) used all over the repo.
        # Projects/Filters above it don't change the bound.
        cls = node.getClass().getSimpleName()
        while cls.startswith(("Project", "Filter")):
            node = node.children().head()
            cls = node.getClass().getSimpleName()
        if "Aggregate" in cls:
            try:
                return node.groupingExpressions().isEmpty()
            except Exception:  # noqa: BLE001 — variant w/o the accessor
                return False
        return False

    def _is_multiplier(node) -> bool:
        cls = node.getClass().getSimpleName()
        if cls.startswith(multiplier_prefixes):
            return True
        if "Join" in cls and cls.endswith("Exec"):
            try:
                jt = node.joinType().toString()
            except Exception:  # noqa: BLE001 — non-join Exec with 'Join'
                return True
            if jt in ("LeftSemi", "LeftAnti", "ExistenceJoin"):
                return False
            # a join against a single-row side cannot inflate row count
            ch = node.children()
            if ch.size() == 2 and (
                _single_row_side(ch.head())
                or _single_row_side(ch.last())
            ):
                return False
            return True
        return False

    def _bounded_below(node, multiplied=False):
        # bounding classes reached WITHOUT crossing a multiplier bound
        # the window input; anything below a multiplier does not
        found: list[str] = []
        bcast_idx = _broadcast_child_index(node)
        it = node.children().iterator()
        i = 0
        while it.hasNext():
            child = it.next()
            ccls = child.getClass().getSimpleName()
            if i == bcast_idx or ccls.startswith(broadcast_prefixes):
                i += 1
                continue
            if not multiplied and ccls in bounding_classes:
                found.append(ccls)
            found.extend(
                _bounded_below(
                    child, multiplied or _is_multiplier(child)
                )
            )
            i += 1
        return found

    out: list[dict] = []
    for node in walk(plan):
        cls = node.getClass().getSimpleName()
        if cls not in window_classes:
            continue
        try:
            empty_part = node.partitionSpec().isEmpty()
        except Exception:  # noqa: BLE001 — node variant without the method
            continue
        if not empty_part:
            continue
        below = _bounded_below(node)
        out.append({"node": cls, "bounded": bool(below), "below": below})
    return out
