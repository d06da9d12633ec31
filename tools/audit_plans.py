"""Generate PLANS.md: physical-plan audit of every registered query.

For each query at the given scale factor: shuffle-exchange count,
broadcast count, whether any filter was pushed to a scan, and the scan
read-schemas' column counts — the at-a-glance evidence that each
operator's plan is the one you'd want at 100 TB.

Usage: PYTHONPATH=/root/repo python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import sys

from change_data_capture_poc_spark.functions.caching import release_pins
from change_data_capture_poc_spark.plans import (
    broadcast_count,
    formatted_plan,
    pushed_filters,
    read_schemas,
    shuffle_count,
    unpartitioned_window_count,
    window_count,
)
from change_data_capture_poc_spark.registry import all_queries
from change_data_capture_poc_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="audit_plans", shuffle_partitions=8)
    rows = []
    for name, q in sorted(all_queries().items()):
        try:
            df = q.fn(spark, sf_dir)
            # Render the formatted plan ONCE per query — each render is
            # a JVM explainString round-trip and five facets read it.
            plan = formatted_plan(df)
            pf = pushed_filters(df, plan)
            rs = read_schemas(df, plan)
            upw = unpartitioned_window_count(df)
            rows.append(
                (
                    name,
                    shuffle_count(df, plan),
                    broadcast_count(df, plan),
                    window_count(df, plan),
                    upw,
                    sum(1 for f in pf if f not in ("[]", "")),
                    ",".join(str(s.count(":")) for s in rs) or "-",
                )
            )
            if upw:
                print(
                    f"WARN audit: {name} has {upw} single-partition "
                    "window(s) — fine ONLY over a bounded frame "
                    "(functions/windows.global_window); corpus-sized "
                    "rankings belong in operators/topk.grouped_topk",
                    file=sys.stderr,
                )
        except Exception as e:  # noqa: BLE001
            rows.append((name, "-", "-", "-", "-", "-", f"ERROR {e}"))
        finally:
            # Registry cache contract: a query's persist_once pins
            # (e.g. an artifact build's cached rounds) must not leak
            # into the next query's plan as InMemoryRelations.
            release_pins(spark)

    with open("PLANS.md", "w") as f:
        f.write(
            "# PLANS — physical-plan audit (auto-generated by "
            "tools/audit_plans.py)\n\n"
            f"Scale factor dir: `{sf_dir}`. Counts from the initial "
            "physical plan (pre-AQE — the static upper bound; AQE can "
            "only reduce them at runtime).\n\n"
            "- **shuffles**: `Exchange` operators (broadcasts excluded)."
            " Each is a full network repartition of its input.\n"
            "- **bcasts**: `BroadcastExchange` operators — small sides "
            "shipped to every executor instead of shuffling the big "
            "side.\n"
            "- **windows**: `Window` execs — each fully sorts its "
            "partition in one task; acceptable only over constant-"
            "bounded frames (corpus-sized rankings on constant keys "
            "use operators/topk.grouped_topk instead).\n"
            "- **1pW**: windows whose input exchange is "
            "SinglePartition — every one must be a deliberate "
            "bounded-frame global_window (the audit WARNs on each; "
            "WindowExec's own log warning is suppressed in the "
            "session factory).\n"
            "- **pushed**: scans with non-empty `PushedFilters` "
            "(predicate evaluated inside the parquet reader).\n"
            "- **scan cols**: columns read per scan (pruned read "
            "schema; the tables are 5-11 columns wide).\n\n"
            "| query | shuffles | bcasts | windows | 1pW | pushed | scan cols |\n"
            "|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write("| " + " | ".join(str(x) for x in r) + " |\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
