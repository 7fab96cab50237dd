"""Generate PLANS.md: the formatted physical plan of every headline
query (the scale story, readable without a Spark session). Run after
plan-affecting changes: python3 tools/gen_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def _norm_statistics(plan: str) -> str:
    """Collapse every ``Statistics(...)`` rendering to ``Statistics(N)``
    with PAREN BALANCING (ADVICE r13: a first-close-paren regex
    truncates a rendering that nests parentheses, e.g. a size unit or
    histogram inside, leaving an un-normalized tail that churns
    regens). A rendering never spans lines; a newline before balance
    closes the token defensively."""
    out: list[str] = []
    i = 0
    tok = "Statistics("
    while True:
        j = plan.find(tok, i)
        if j < 0:
            out.append(plan[i:])
            return "".join(out)
        out.append(plan[i:j])
        out.append("Statistics(N)")
        k = j + len(tok)
        depth = 1
        while k < len(plan) and depth:
            c = plan[k]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "\n":
                break
            k += 1
        i = k


def formatted_plan(spark, df) -> str:
    """``df``'s formatted physical plan with session-volatile ids and
    runtime statistics normalized, so regenerations (and before/after
    dumps, tools/dump_plans.py) diff cleanly."""
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"codegen id : \d+", "codegen id : N", plan)
    plan = re.sub(r"cachedrdd-\d+", "cachedrdd-N", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
    # DataFrame-API lambda variables carry a session-wide counter, and
    # AQE numbers its query stages in the order they happen to start
    plan = re.sub(r"(lambda \w+?)_\d+#", r"\1_N#", plan)
    plan = re.sub(r"(QueryStage\n(?:[^\n]+\n)*?Arguments: )\d+", r"\1N", plan)
    # pid-tagged scratch dirs (tmputil) and AQE runtime statistics
    # both vary per process/run — normalize or regens churn
    plan = re.sub(r"_pid\d+", "_pidN", plan)
    return _norm_statistics(plan)


HEADER = """# PLANS — physical plans of the headline queries (auto-generated)

`python3 tools/gen_plans.py` at {sf}. What to look for, per the design
positions in README.md: filters pushed into `PushedFilters`, pruned
`ReadSchema`, `BroadcastHashJoin` for dim/small sides (never a
SortMergeJoin on them), wide `WholeStageCodegen` spans, no
`BatchEvalPython`/`ArrowEvalPython` in expression-only paths, and
exchanges only where a shuffle is semantically required (one hash
aggregate for the merge fold; band/prefix equi-joins for the dedup
family; `TakeOrderedAndProject` for top-k).
"""


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from etl_migrate_api_spark.plans.registry import QUERIES, headline_names
    from etl_migrate_api_spark.session import get_spark

    spark = get_spark(app_name="gen-plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = [HEADER.format(sf=sf)]
    for name in headline_names():
        plan = formatted_plan(spark, QUERIES[name].fn(spark, sf))
        out.append(f"\n## {name}\n\n```\n{plan.rstrip()}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("".join(out))
    print(f"wrote PLANS.md ({len(headline_names())} queries)")


if __name__ == "__main__":
    main()
