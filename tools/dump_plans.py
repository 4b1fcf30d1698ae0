"""Generate PLANS.md: a per-query physical-plan audit.

For every registered query key, records the plan's scale-relevant traits —
join strategies chosen, number of exchanges and of reused exchanges,
whether parquet filters/partition pruning applied, codegen coverage — so
the 100 TB posture is reviewable at a glance without re-running anything.
The executed plan is read through perfbench.sparkstats, the reader the
traced benchmark uses.

Usage: python tools/dump_plans.py [sf_dir]  (writes PLANS.md at repo root)
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_realtime_spark import registry
from flink_realtime_spark.session import get_spark
from perfbench.sparkstats import final_plan, plan_exchange_counts


def count_partitionless_windows(df) -> int:
    """Window nodes with an EMPTY partition spec in the optimized plan —
    the single-task global-order anti-pattern. tests/test_plans.py
    enforces that any such window sits over a provably bounded input;
    this column makes the count reviewable per key (pwin=0 for almost
    every key; nonzero only for the documented bounded shapes:
    limit-derived re-ranks and calendar boards — the plans/ordered.py
    __pid summary partitions by `__pid % 1`, so it never counts)."""
    n_pwin = 0
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        n = stack.pop()
        if n.nodeName() == "Window" and n.partitionSpec().isEmpty():
            n_pwin += 1
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return n_pwin


def plans_of(df) -> tuple[str, str]:
    """(formatted pre-exec plan, executed adaptive plan).

    The formatted explain carries full scan detail (PushedFilters,
    ReadSchema). The final plan only exists after executing THIS df (AQE
    finalizes per-query-execution; running .count() finalizes a different
    plan), and is where runtime join choices, coalesced shuffle reads,
    reused exchanges and WholeStageCodegen `*(n)` spans show up."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    df.collect()
    return buf.getvalue(), final_plan(df)


def audit(formatted: str, plan: str) -> dict:
    exchanges, reused = plan_exchange_counts(plan)
    # joins, aggregates and codegen spans count in the final plan only,
    # the part above the adaptive plan's `== Initial Plan ==` echo
    final = plan.split("== Initial Plan ==", 1)[0]
    joins = []
    for j in ["BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"]:
        n = len(re.findall(rf"\b{j}\b", final))
        if n:
            joins.append(f"{j}×{n}")
    scans = len(re.findall(r"^\(\d+\) Scan parquet", formatted, re.M))
    pushed = sum(
        1 for l in formatted.splitlines()
        if "PushedFilters" in l and "PushedFilters: []" not in l
    )
    codegen = len(set(re.findall(r"\*\((\d+)\)", final)))
    aggs = len(re.findall(r"\bHashAggregate\(", final))
    return {
        "joins": ", ".join(joins) or "—",
        "exchanges": exchanges,
        "reused": reused,
        "scans": scans,
        "pushed": pushed,
        "codegen": codegen,
        "aggs": aggs,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    registry.load_all()
    spark = get_spark("plan-audit")
    rows = []
    skipped = []
    for key in sorted(registry.QUERIES):
        fn = registry.QUERIES[key]
        try:
            df = fn(spark, sf_dir)
            a = audit(*plans_of(df))
            a["pwin"] = count_partitionless_windows(df)
        except Exception as e:  # streaming-executing keys run a query; skip
            skipped.append((key, str(e).splitlines()[0][:80]))
            continue
        rows.append(
            f"| `{key}` | {a['joins']} | {a['exchanges']} | {a['reused']} "
            f"| {a['scans']} | {a['pushed']} | {a['aggs']} | {a['codegen']} "
            f"| {a['pwin']} |"
        )
    out = [
        "# PLANS — physical-plan audit (generated by tools/dump_plans.py)",
        "",
        f"Audited at `{sf_dir}` from the EXECUTED final adaptive plan",
        "(runtime join choices + codegen only exist post-AQE). Columns:",
        "join strategies, exch = exchanges, shuffle AND broadcast",
        "(perfbench.sparkstats.plan_exchange_counts; a ReusedExchange line",
        "names the exchange it reads, so it counts here too), reused =",
        "ReusedExchange nodes (an exchange computed once, read again),",
        "parquet scans, scans",
        "with non-empty PushedFilters, HashAggregate nodes (≥2 ⇒",
        "partial/final split), WholeStageCodegen `*(n)` spans, and pwin =",
        "partition-less Window nodes (single-task global order; ZERO",
        "fleet-wide — every intentionally-single-bucket window over a",
        "metadata-sized input declares its partition via",
        "plans/ordered.single_bucket / `__pid % 1` instead of an empty",
        "spec, which tests/test_plans.py enforces). Keys that",
        "execute a streaming query or train an estimator during plan",
        "construction are listed below the table.",
        "",
        "| query key | joins | exch | reused | scans | pushed | aggs | wscg | pwin |",
        "|---|---|---|---|---|---|---|---|---|",
        *rows,
        "",
    ]
    if skipped:
        out.append("Not statically auditable (execute during construction): "
                   + ", ".join(f"`{k}`" for k, _ in skipped))
        out.append("")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md: {len(rows)} audited, {len(skipped)} skipped")
    spark.stop()


if __name__ == "__main__":
    main()
