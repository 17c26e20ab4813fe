"""Plan inspection: the scale properties this engine promises, as
checkable predicates over ``explain`` output.

The reference has no plans to inspect (eager pandas, SURVEY.md §4); in
this engine every operator is a lazy Catalyst plan, and these helpers
make the physical-plan guarantees *testable*: filter/projection pushdown
reaching the parquet scan, dimension broadcasts, shuffle counts, no
Python evaluation in relational hot paths, whole-stage codegen active.
Used by tests/test_plans.py and available to users tuning their own
pipelines (`assert_no_python(df)` before launching a 100 TB job).
"""

from __future__ import annotations

import io
import re
from contextlib import nullcontext, redirect_stdout

from pyspark.sql import DataFrame

from gdutils_spark.session import scoped_conf


def formatted_plan(df: DataFrame) -> str:
    """`explain('formatted')` output as a string."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def simple_plan(df: DataFrame, disable_aqe: bool = False) -> str:
    """Simple-mode explain (codegen stages marked ``*(n)``). AQE hides
    codegen markers until runtime; ``disable_aqe`` shows the static plan
    (AQE off in a :func:`~gdutils_spark.session.scoped_conf` for the
    explain only). Without it the session conf is not touched."""
    buf = io.StringIO()
    scope = (
        scoped_conf(df.sparkSession, {"spark.sql.adaptive.enabled": "false"})
        if disable_aqe
        else nullcontext()
    )
    with scope, redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def n_exchanges(df_or_plan: DataFrame | str) -> int:
    """Number of physical Exchange (shuffle/broadcast-exchange) nodes.

    Formatted explain lists each node twice (tree + '(n) Exchange'
    detail header); count the headers. Once a DataFrame has executed,
    AQE explain shows BOTH the Final and Initial plan trees with
    distinct node ids — count only the final tree then, or the same
    shuffle is counted twice. (ReusedExchange/ShuffleQueryStage never
    match: the regexes anchor the node-name start.)
    """
    plan = (
        df_or_plan if isinstance(df_or_plan, str) else formatted_plan(df_or_plan)
    )
    if "== Final Plan ==" in plan:
        tree = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
        return len(
            re.findall(r"(?<![\w])(?:Exchange|BroadcastExchange) \(\d+\)", tree)
        )
    return len(re.findall(r"^\(\d+\) (?:Exchange|BroadcastExchange)", plan, flags=re.M))


def n_nodes(df_or_plan: DataFrame | str, node: str) -> int:
    """Number of physical nodes named ``node`` (exact name, e.g.
    ``Window``, ``Sort``, ``BroadcastNestedLoopJoin``). Same
    double-listing discipline as :func:`n_exchanges`: count the
    ``(n) Node`` detail headers, or only the Final tree under AQE."""
    plan = (
        df_or_plan if isinstance(df_or_plan, str) else formatted_plan(df_or_plan)
    )
    if "== Final Plan ==" in plan:
        tree = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
        return len(re.findall(rf"(?<![\w]){re.escape(node)} \(\d+\)", tree))
    # detail headers may carry a codegen tag: "(4) Sort [codegen id : 2]"
    return len(
        re.findall(
            rf"^\(\d+\) {re.escape(node)}(?: \[codegen id : \d+\])?$",
            plan,
            flags=re.M,
        )
    )


def pushed_filters(df_or_plan: DataFrame | str) -> list[str]:
    """The PushedFilters lists attached to every scan in the plan."""
    plan = (
        df_or_plan if isinstance(df_or_plan, str) else formatted_plan(df_or_plan)
    )
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def has_broadcast_join(df_or_plan: DataFrame | str) -> bool:
    plan = (
        df_or_plan if isinstance(df_or_plan, str) else formatted_plan(df_or_plan)
    )
    return "BroadcastHashJoin" in plan


def uses_python(df_or_plan: DataFrame | str) -> bool:
    """True if any stage drops out of the JVM into Python (row-at-a-time
    BatchEvalPython or Arrow-batched ArrowEvalPython/MapInPandas)."""
    plan = (
        df_or_plan if isinstance(df_or_plan, str) else formatted_plan(df_or_plan)
    )
    # r12 latent-hunt fix: the marker list missed four Python-eval node
    # types (probe-confirmed on this Spark): ArrowAggregatePython
    # (pandas UDAF; AggregateInPandas pre-4.x), ArrowWindowPython
    # (pandas UDF over a window; WindowInPandas pre-4.x), MapInArrow,
    # and FlatMapCoGroupsInPandas — a plan using any of them passed
    # assert_no_python. "FlatMapGroupsInPandas" also prefix-matches
    # the WithState variant.
    return any(
        marker in plan
        for marker in (
            "BatchEvalPython",
            "ArrowEvalPython",
            "MapInPandas",
            "MapInArrow",
            "FlatMapGroupsInPandas",
            "FlatMapCoGroupsInPandas",
            "ArrowAggregatePython",
            "AggregateInPandas",
            "ArrowWindowPython",
            "WindowInPandas",
        )
    )


def assert_no_python(df: DataFrame) -> None:
    """Raise if the plan leaves whole-stage-codegen territory for Python —
    the guard to run before launching a relational pipeline at scale."""
    if uses_python(df):
        raise AssertionError("plan contains Python evaluation nodes")


def whole_stage_codegen_active(df: DataFrame) -> bool:
    return "*(" in simple_plan(df, disable_aqe=True)


def plan_tree(plan: str) -> dict[int, dict]:
    """Parse a formatted-explain physical tree into
    ``{node_id: {"name": str, "parent": int | None, "detail": str}}``.

    The formatted output prints the tree once (names + ``(id)``) and
    then one detail block per node (``(id) Name`` followed by
    Location/Condition/... lines). Depth in the tree is the column where
    the node name starts; the parent is the nearest preceding line with
    a strictly smaller name-start column. ``InMemoryRelation`` cached
    sub-plans and ``ReusedExchange`` references parse like any node.
    Only the FIRST tree section is parsed (under AQE's Final/Initial
    duality, the final plan)."""
    lines = plan.splitlines()
    try:
        start = next(
            i for i, ln in enumerate(lines) if re.search(r"\(\d+\)\s*$", ln)
        )
    except StopIteration:
        return {}
    nodes: dict[int, dict] = {}
    stack: list[tuple[int, int]] = []  # (name_col, node_id)
    for ln in lines[start:]:
        m = re.search(r"\((\d+)\)\s*$", ln)
        if not m:
            if ln.strip() == "" or ln.lstrip().startswith("=="):
                break
            continue
        nid = int(m.group(1))
        # the name begins after the LAST tree-art marker ("+- "/":- ");
        # the prefix before it is indentation/continuation art
        art = max(ln.rfind("+- ", 0, m.start()), ln.rfind(":- ", 0, m.start()))
        col = art + 3 if art >= 0 else 0
        name = ln[col:m.start()].strip()
        while stack and stack[-1][0] >= col:
            stack.pop()
        parent = stack[-1][1] if stack else None
        # a second tree section (AQE Initial Plan) re-lists ids — keep
        # the first (final) occurrence only
        if nid not in nodes:
            nodes[nid] = {"name": name, "parent": parent, "detail": ""}
            stack.append((col, nid))
        else:
            break
    # attach detail blocks
    cur = None
    for ln in lines:
        m = re.match(r"^\((\d+)\) (\S.*)$", ln)
        if m:
            cur = int(m.group(1))
            continue
        if cur is not None and cur in nodes and ln.strip():
            nodes[cur]["detail"] += ln + "\n"
        elif not ln.strip():
            cur = None
    return nodes


def unbarriered_shuffle_sources(
    plan: str, scan_pred
) -> list[tuple[int, int]]:
    """Shuffle audit for staged/incremental plans: every ``(exchange_id,
    scan_id)`` pair where a shuffle ``Exchange``'s subtree reaches a
    scan matching ``scan_pred(name, detail, ancestor_filter_conditions)``
    WITHOUT a broadcast join between them.

    An empty result is the "zero corpus-wide Exchange" property: every
    shuffle either touches no corpus-scale scan at all, or sits above a
    broadcast semi-join that restricted the corpus to a bounded
    (batch/candidate-sized) row set first."""
    nodes = plan_tree(plan)
    children: dict[int | None, list[int]] = {}
    for nid, n in nodes.items():
        children.setdefault(n["parent"], []).append(nid)

    def filters_above(nid: int) -> list[str]:
        out = []
        p = nodes[nid]["parent"]
        while p is not None:
            if nodes[p]["name"].startswith("Filter"):
                out.append(nodes[p]["detail"])
            p = nodes[p]["parent"]
        return out

    matching_scans = [
        nid
        for nid, n in nodes.items()
        if n["name"].startswith(("Scan ", "InMemoryTableScan"))
        and scan_pred(n["name"], n["detail"], filters_above(nid))
    ]
    bad: list[tuple[int, int]] = []
    for xid, xn in nodes.items():
        if xn["name"] != "Exchange":
            continue
        for sid in matching_scans:
            # walk scan -> root; note whether we pass xid, and whether a
            # broadcast join sits between the scan and xid
            p, barrier = nodes[sid]["parent"], False
            while p is not None:
                if p == xid:
                    if not barrier:
                        bad.append((xid, sid))
                    break
                if nodes[p]["name"].startswith("BroadcastHashJoin"):
                    barrier = True
                p = nodes[p]["parent"]
    return bad
