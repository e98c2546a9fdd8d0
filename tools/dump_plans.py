"""Dump .explain("formatted") for named keys to plans/<tag>/<key>_<suffix>.txt.

Usage: python tools/dump_plans.py --tag r14 --suffix before key [key ...]
A key is a registered query name or ``api.<function>`` for a public API
function that takes (spark, sf_dir). The optimization-round deliverable:
the judge checks plan claims against these files without running Spark.

Every dump is normalized so two checkouts' dumps of the same plan diff
clean: expression ids (``#123``), lambda variable suffixes (``x_45``), RDD
ids (``MapPartitionsRDD[67]``), exchange plan ids (``plan_id=89``) and
common-subexpression names (``_common_expr_10``) are renumbered in order
of first appearance, an RDD's call site reads ``<callsite>``, and the
checkout root reads ``<repo>``.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

_IDS = (
    re.compile(r"(#)(\d+)"),
    re.compile(r"(lambda \w+?_)(\d+)"),
    re.compile(r"(RDD\[)(\d+)"),
    re.compile(r"(plan_id=)(\d+)"),
    re.compile(r"(_common_expr_)(\d+)"),
)
# the Java call site an RDD records depends on the thread that made it
_CALL_SITE = re.compile(r"(RDD\[\d+\] at \w+ at )[^,\s]+")


def normalize(plan: str) -> str:
    """``plan`` with each id family renumbered 1, 2, ... by first use."""
    for pat in _IDS:
        seen: dict = {}
        plan = pat.sub(
            lambda m: m.group(1) + str(seen.setdefault(m.group(2), len(seen) + 1)),
            plan,
        )
    plan = _CALL_SITE.sub(r"\1<callsite>", plan)
    return plan.replace(_REPO, "<repo>")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--tag", default="r14")
    ap.add_argument("--suffix", default="before")
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    import __spark_entry__ as em
    from data_transform_spark import api
    from data_transform_spark.session import get_spark

    spark = get_spark("dump-plans")
    qs = em.queries()
    out_dir = os.path.join(_REPO, "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)
    for key in args.keys:
        build = getattr(api, key[4:]) if key.startswith("api.") else qs[key]
        df = build(spark, args.sf)
        plan = normalize(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        path = os.path.join(out_dir, f"{key}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
