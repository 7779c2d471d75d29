"""Dump the formatted physical plan for registered queries.

Usage: python tools/explain.py [sf_dir] query [query ...]
       python tools/explain.py --all          # every registered query

The plan is what the scale review audits: PushedFilters / ReadSchema
on every scan, BroadcastHashJoin for dimension attachment,
WindowGroupLimit / TakeOrderedAndProject for top-k, exchange count per
fact stream.

Plans print with the ids a run assigns normalized (expression ids
``#n``, lambda variables ``x_n``/``y_n``, ``plan_id=n``, RDD ids
``MapPartitionsRDD[n]``, the checkout path and artifact slot tags), so
two runs of one commit, or a parent and a change checked out side by
side, print the same text when they plan the same: a plan-identity
check is one ``diff``.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from aws_imdb_data_pipeline_spark.lifecycle.artifacts import artifacts_root  # noqa: E402
from aws_imdb_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from aws_imdb_data_pipeline_spark.session import get_spark  # noqa: E402

_RUN_IDS = (
    (re.compile(r"#\d+"), "#n"),
    (re.compile(r"\b([xy])_\d+\b"), r"\1_n"),
    (re.compile(r"\bplan_id=\d+"), "plan_id=n"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[n]"),
)
# an artifact slot is <name>-<8 hex>, and a slot built from another
# slot's files nests the tags: both hash absolute paths
_SLOT = re.compile(r"<artifacts>/[^\s\]/]+/[^\s\]/]+")
_TAG = re.compile(r"-[0-9a-f]{8}\b")


def normalize(plan: str) -> str:
    """``plan`` with the run-global ids and the checkout's paths
    replaced by placeholders."""
    plan = plan.replace(artifacts_root(), "<artifacts>").replace(REPO, "<repo>")
    plan = _SLOT.sub(lambda m: _TAG.sub("-<tag>", m.group(0)), plan)
    for pattern, repl in _RUN_IDS:
        plan = pattern.sub(repl, plan)
    return plan


def plan_text(df) -> str:
    """The normalized ``explain("formatted")`` text of ``df``."""
    qe = df._jdf.queryExecution()
    return normalize(df.sparkSession._jvm.PythonSQLUtils.explainString(qe, "formatted"))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.01"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    names = list(REGISTRY) if args == ["--all"] else args
    unknown = [n for n in names if n not in REGISTRY]
    if unknown or not names:
        sys.exit(f"unknown queries {unknown}; choose from {sorted(REGISTRY)}")
    spark = get_spark("explain")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        print(f"\n{'=' * 70}\n{name}\n{'=' * 70}")
        print(plan_text(REGISTRY[name].fn(spark, sf_dir)))


if __name__ == "__main__":
    main()
