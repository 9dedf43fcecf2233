"""Generate PLANS.md: one physical-plan audit row per registered key.

The build brief's `.explain` discipline, materialized as a reviewable
artifact: for every key the executed plan's shuffle count, join
strategies, scan pushdown evidence, aggregate and Python-eval node
counts — so "is this the plan you'd want at 100 TB" is answerable by
reading one table instead of re-deriving every plan.  Streaming/
side-effect keys execute their batch-twin DataFrame like everything
else (the registry returns a DataFrame for every key).

Usage: python scripts/plan_audit.py  →  rewrites PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lstore_spark.registry import QUERIES, load_all  # noqa: E402
from lstore_spark.session import get_spark  # noqa: E402

from tests.oracle_check import default_sf_dir  # noqa: E402

SF_DIR = default_sf_dir()

JOIN_NODES = [
    ("BHJ", "BroadcastHashJoin"),
    ("SMJ", "SortMergeJoin"),
    ("SHJ", "ShuffledHashJoin"),
    ("BNLJ", "BroadcastNestedLoopJoin"),
    ("CART", "CartesianProduct"),
]

# Physical operators that ship rows to Python workers: scalar Arrow and
# pickled UDFs, UDTFs, mapInPandas/mapInArrow, grouped/co-grouped maps,
# grouped and windowed pandas aggregates.
PY_EVAL = re.compile(
    r"\b(?:ArrowEvalPython|BatchEvalPython|ArrowEvalPythonUDTF|"
    r"BatchEvalPythonUDTF|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapGroupsInArrow|"
    r"FlatMapGroupsInPandasWithState|FlatMapCoGroupsInPandas|"
    r"FlatMapCoGroupsInArrow|AggregateInPandas|ArrowAggregatePython|"
    r"WindowInPandas|ArrowWindowPython)\b")
_UDF_HEAD = re.compile(r"[\w<>.]+\(")


def python_evals(plan: str) -> list[list[str]]:
    """One entry per Python-eval node of ``plan`` (a physical plan's tree
    string): the Python UDF calls it evaluates, as ``name(args)`` with
    the ``#id`` suffixes stripped, so the same UDF over the same input
    columns reads the same in every node that evaluates it.

    A node printed twice with the same expression ids is one node: a
    cached relation's plan prints under every InMemoryTableScan of it,
    but runs once.  Two evaluations of one UDF always differ in the
    ``pythonUDF<i>#id`` attributes of their output."""
    nodes, seen = [], set()
    for line in plan.splitlines():
        m = PY_EVAL.search(line)
        if not m or line[m.start():] in seen:
            continue
        seen.add(line[m.start():])
        text, calls, pos = line[m.end():], [], 0
        while (h := _UDF_HEAD.search(text, pos)):
            depth, end = 0, h.end() - 1
            for end in range(h.end() - 1, len(text)):
                depth += {"(": 1, ")": -1}.get(text[end], 0)
                if depth == 0:
                    break
            # a Python UDF prints as name(args)#resultId
            if re.match(r"#\d", text[end + 1:end + 3]):
                calls.append(re.sub(r"#\d+L?", "", text[h.start():end + 1]))
            pos = h.end()
        nodes.append(calls)
    return nodes


def repeated_udfs(plan: str) -> set[str]:
    """UDF calls that more than one Python-eval node of ``plan``
    evaluates: each is a second pass of Python over the same rows."""
    seen: dict[str, int] = {}
    for calls in python_evals(plan):
        for c in set(calls):
            seen[c] = seen.get(c, 0) + 1
    return {c for c, n in seen.items() if n > 1}


def audit(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "joins": "+".join(
            f"{tag}x{plan.count(node)}" if plan.count(node) > 1 else tag
            for tag, node in JOIN_NODES if node in plan) or "-",
        "pushed": "y" if re.search(r"PushedFilters: \[[^\]]", plan) else "-",
        # word-boundary match: a bare substring count of "HashAggregate"
        # also matches inside "ObjectHashAggregate", double-counting
        # every collect_list/collect_set key's aggregates (review r11 —
        # the committed PLANS.md showed agg=4 for q_agg_collect's two
        # physical nodes)
        "aggs": len(re.findall(
            r"(?<![A-Za-z])(?:HashAggregate|SortAggregate|"
            r"ObjectHashAggregate)\b", plan)),
        "topk": "y" if "TakeOrderedAndProject" in plan else "-",
        "py": len(python_evals(plan)),
        "repeated": sorted(repeated_udfs(plan)),
    }


def main() -> None:
    load_all()
    spark = get_spark("lstore-spark-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # Routed keys plan against the bucket layouts when they exist, as in
    # every bench.py/perfbench run: build them so the audit shows those
    # plans whatever the scratch root already holds.
    from lstore_spark import catalog
    for fam in catalog.BUCKET_FAMILIES:
        catalog.build_bucket_layout(spark, SF_DIR, family=fam)
    rows = []
    for key in sorted(QUERIES):
        try:
            df = QUERIES[key](spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rows.append((key, audit(plan), None))
        except Exception as ex:  # noqa: BLE001 - record, don't abort the sweep
            rows.append((key, None, f"{type(ex).__name__}"))
        print(f"{key}: done", file=sys.stderr, flush=True)

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as out:
        out.write(
            "# PLANS — physical-plan audit (generated by "
            "scripts/plan_audit.py)\n\n"
            f"Executed plans at {SF_DIR} (initial plans; AQE may coalesce\n"
            "further at runtime).  Columns: **exch** = Exchange (shuffle)\n"
            "count — every one is a full network pass at 100 TB; **joins** =\n"
            "strategies present (BHJ broadcast-hash, SMJ sort-merge, SHJ\n"
            "shuffled-hash, BNLJ broadcast-nested-loop — expected only for\n"
            "deliberate tiny-side cross joins like 1-row bounds/codebook\n"
            "broadcasts, CART cartesian — never expected); **push** = parquet\n"
            "PushedFilters non-empty; **agg** = aggregate operator nodes (2 per\n"
            "logical agg = map-side partial + final, the scale-correct\n"
            "two-phase shape);\n"
            "**topk** = TakeOrderedAndProject present; **py** = Python-eval\n"
            "nodes (ArrowEvalPython, BatchEvalPython, MapInPandas, ...) —\n"
            "each one ships its input rows through a Python worker.\n\n"
            "| key | exch | joins | push | agg | topk | py |\n"
            "| --- | ---: | --- | :-: | ---: | :-: | ---: |\n")
        for key, a, err in rows:
            if a is None:
                out.write(f"| {key} | — | ERROR {err} | — | — | — | — |\n")
            else:
                out.write(
                    f"| {key} | {a['exchanges']} | {a['joins']} |"
                    f" {a['pushed']} | {a['aggs']} | {a['topk']} |"
                    f" {a['py']} |\n")
        n_cart = sum(1 for _, a, _ in rows if a and "CART" in a["joins"])
        out.write(
            f"\n{len(rows)} keys audited; {n_cart} with a cartesian "
            "product (expected: 0 outside the deliberate §2.3 "
            "q_join_cross_nl exhibit).\n")
        rep = [(key, a["repeated"]) for key, a, _ in rows
               if a and a["repeated"]]
        out.write(
            f"\n{len(rep)} keys evaluate a Python UDF in more than one "
            "Python-eval node (expected: only the self-joins whose two "
            "sides each bucket their own copy of the input):\n\n")
        for key, calls in rep:
            out.write(f"- {key}: {', '.join(f'`{c}`' for c in calls)}\n")
    spark.stop()


if __name__ == "__main__":
    main()
