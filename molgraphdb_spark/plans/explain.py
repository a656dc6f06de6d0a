"""Physical-plan inspection helpers (SURVEY.md §4): programmatic access
to the properties we design for — predicate pushdown, column pruning,
broadcast joins, whole-stage codegen spans, shuffle counts — so tests
can ASSERT the plan is the plan we want, not just that results match.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def _top_level_groups(s: str) -> list[str]:
    """Split a formatted-plan Arguments value into its top-level
    ``[...]`` groups (bracket depth tracked, so nested ``[`` inside
    expressions don't split)."""
    groups, depth, cur = [], 0, []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def n_partitionless_windows(df: DataFrame) -> int:
    """Count WindowExec nodes with an EMPTY partition spec — the
    single-partition funnel Spark itself warns about ("Moving all data
    to a single partition"). In the formatted plan a Window node's
    Arguments line has three top-level bracket groups when partitioned
    AND ordered ``[exprs], [partition], [order]``; two groups are
    ambiguous — ``[exprs], [order]`` is a GLOBAL ordered window (the
    funnel) while ``[exprs], [partition]`` is a partitioned unordered
    window (distributed, fine) — disambiguated by the ordering
    direction markers only an order spec carries; one group
    ``[exprs]`` is a global unordered window (AllTuples — also a
    funnel). Verified empirically on Spark 4.1. The scale rule (r6
    verdict): a plan may contain NO partitionless window over any
    relation that grows with the corpus — tests assert 0 on such
    queries."""
    plan = formatted_plan(df)
    n = 0
    sections = re.split(r"\n\((\d+)\) ", plan)
    # sections: [head, num, body, num, body, ...]
    for i in range(2, len(sections), 2):
        body = sections[i]
        # exact node-name match: "WindowGroupLimit" (rank-filter pushdown)
        # has a different Arguments shape and is never a funnel
        if body.split("\n", 1)[0].strip() != "Window":
            continue
        m = re.search(r"^Arguments: (.*)$", body, re.M)
        if not m:
            continue
        groups = _top_level_groups(m.group(1))
        if len(groups) >= 3:
            continue  # partitioned + ordered
        if len(groups) == 2 and not re.search(
            r" (ASC|DESC) NULLS (FIRST|LAST)", groups[-1]
        ):
            continue  # partitioned, unordered — distributed
        n += 1
    return n


def plan_summary(df: DataFrame) -> dict:
    """Parse the formatted physical plan into the scale-relevant facts."""
    plan = formatted_plan(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    read_cols: set[str] = set()
    for rs in read_schemas:
        for fieldspec in rs.split(","):
            if ":" in fieldspec:
                read_cols.add(fieldspec.split(":")[0].strip())
    def n_nodes(name: str) -> int:
        # formatted explain shows each node in the tree AND as a
        # numbered detail header — count only the headers
        return len(re.findall(rf"^\(\d+\) {name}", plan, re.M))

    return {
        "pushed_filters": [p for p in pushed if p.strip()],
        "read_columns": sorted(read_cols),
        "n_scans": n_nodes("Scan parquet"),
        "n_exchanges": n_nodes("Exchange"),
        "n_broadcast_joins": n_nodes("BroadcastHashJoin"),
        "n_sortmerge_joins": n_nodes("SortMergeJoin"),
        "has_python_worker": "BatchEvalPython" in plan or "ArrowEvalPython" in plan,
        # a Scan ExistingRDD over a pickled driver-side collection
        # (createDataFrame(list)): every job re-runs its Python stage
        "local_rdd": "applySchemaToPythonRDD" in plan,
        "plan": plan,
    }
