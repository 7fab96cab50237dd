"""Dump the formatted physical plan of named queries into
plans/<round>/<query>_<before|after>.txt — before/after plan evidence
for a plan-affecting change. Ids and runtime statistics are normalized
exactly as tools/gen_plans.py does, so a before/after pair diffs
cleanly (``diff plans/r17/q_before.txt plans/r17/q_after.txt``).

Usage: python3 tools/dump_plans.py <round> <before|after> [query ...]

<round> is a tag such as r17; with no query names every registered
query is dumped. Data comes from $SPARK_GRAFT_SF_DIR (catalog default
otherwise).
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

USAGE = "usage: python3 tools/dump_plans.py <round> <before|after> [query ...]"


def parse_args(argv: list[str], known: list[str]) -> tuple[str, str, list[str]]:
    """(round, tag, queries) from ``argv`` (without the program name);
    raises ValueError with the reason on a bad call."""
    if len(argv) < 2:
        raise ValueError("missing <round> and/or <before|after>")
    rnd, tag, names = argv[0], argv[1], argv[2:]
    if not re.fullmatch(r"r\d+", rnd):
        raise ValueError(f"round must look like r17, got {rnd!r}")
    if tag not in ("before", "after"):
        raise ValueError(f"tag must be 'before' or 'after', got {tag!r}")
    unknown = [n for n in names if n not in known]
    if unknown:
        raise ValueError(f"unknown queries: {', '.join(unknown)}")
    return rnd, tag, names or list(known)


def main(argv: list[str]) -> int:
    from etl_migrate_api_spark.plans.registry import query_map

    queries = query_map()
    try:
        rnd, tag, names = parse_args(argv, list(queries))
    except ValueError as exc:
        print(f"{exc}\n{USAGE}", file=sys.stderr)
        return 2

    from etl_migrate_api_spark.catalog import sf_dir
    from etl_migrate_api_spark.session import get_spark
    from gen_plans import formatted_plan

    spark = get_spark(app_name="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(ROOT, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        plan = formatted_plan(spark, queries[name](spark, sf_dir()))
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        # release the fences the build left behind (cached plans and
        # localCheckpoint blocks alike)
        spark.catalog.clearCache()
        m = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(m.keySet().toArray()):
            r = m.get(rid)
            if r is not None:
                r.unpersist()
        print(f"wrote {name}_{tag}.txt", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
