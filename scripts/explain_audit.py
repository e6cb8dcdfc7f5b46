"""Plan audit: print formatted physical plans for the headline queries and
flag anti-patterns (missing pushdown, missing broadcast, full-column scans).

Usage: python scripts/explain_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

AUDIT = {
    # query name → list of (substring that SHOULD appear, reason)
    "filter_eq_topk": [
        ("PushedFilters", "filter must reach the parquet scan"),
        ("TakeOrderedAndProject", "orderBy+limit must become top-k, not sort"),
    ],
    "broadcast_join_agg": [
        ("BroadcastHashJoin", "small dim side must broadcast"),
    ],
    "star_join": [
        ("BroadcastHashJoin", "nation/region must broadcast"),
    ],
    "agg_lineitem": [
        ("HashAggregate", "partial+final hash aggregation"),
        ("ReadSchema", "column pruning visible in scan"),
    ],
    # Spark 4's formatted explain marks whole-stage codegen with
    # "[codegen id : N]" on each fused operator, not a WholeStageCodegen node
    "minhash_lsh_pairs": [],
    "substring_pairs": [
        ("Window", "star edges: one window-min over fp, no reps re-join"),
        ("FlatMapGroupsInPandas", "per-group L-window verification"),
    ],
    "token_stats": [("codegen id :", "expressions must stay in codegen")],
    "feature_extract": [("codegen id :", "regex families must stay in codegen")],
    "partition_pruned": [
        ("(lang", "lang filter must appear as a partition filter"),
        ("PartitionFilters: [isnotnull(lang", "scan must prune lang directories"),
    ],
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from jira_duplicate_detection_turkcell__spark.session import get_spark

    spark = get_spark("explain-audit", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    failures = []
    for name, checks in AUDIT.items():
        if only and name not in only:
            continue
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        print(f"\n{'=' * 70}\n{name}\n{'=' * 70}")
        print(plan[:4000])
        for needle, reason in checks:
            status = "ok" if needle in plan else "MISSING"
            if needle not in plan:
                failures.append((name, needle))
            print(f"  [{status}] {needle}: {reason}")

    if failures:
        print(f"\nAUDIT FAILURES: {failures}")
        sys.exit(1)
    print("\nplan audit clean")


if __name__ == "__main__":
    main()
