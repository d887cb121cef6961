"""Per-query cost breakdown for the bench headline set (guide §1):
splits each query's wall into CONSTRUCTION (the ``queries()[name]``
call — Python plan building plus any control reads / eager
checkpoints baked into the operator) and EXECUTION (the noop-sink
materialization), and counts plan features (Exchange nodes, join
strategies, Python-eval nodes) so a fixed-cost-dominated query is
distinguishable from a data-bound one at sf0.1. It also counts the
classes Janino compiled per pass (construction plus execution): a warm
pass that still compiles means the working set outgrew the codegen
cache, or a plan changed between passes.

Usage:
    python tools/profile_queries.py [q_name ...] > PROFILE.json
Defaults to the full bench HEADLINE set. One warm pass first (same
warmup as bench.py), then two measured passes; the report carries the
min, per phase.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract  # noqa: E402
from myasynstreamjoin_spark.blocks import (  # noqa: E402
    batch_lock,
    persisted_ids,
    release_blocks,
)
from myasynstreamjoin_spark.plans.explain import (  # noqa: E402
    codegen_compiles,
    formatted_plan,
)
from myasynstreamjoin_spark.session import get_spark  # noqa: E402


def plan_features(plan: str) -> dict:
    def n(op: str) -> int:
        return len(re.findall(rf"\(\d+\) {op}\b", plan))

    return {
        "exchanges": n("Exchange"),
        "sorts": n("Sort"),
        "smj": n("SortMergeJoin"),
        "shj": n("ShuffledHashJoin"),
        "bhj": n("BroadcastHashJoin"),
        "python_eval": (
            n("BatchEvalPython") + n("ArrowEvalPython") + n("MapInArrow")
            + n("MapInPandas") + n("FlatMapGroupsInPandas")
        ),
        "window": n("Window"),
        "aqe": "AdaptiveSparkPlan" in plan,
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile_queries")
    import bench

    names = sys.argv[1:] or list(bench.HEADLINE)
    queries = contract.queries()
    # bench.py's warmup, abbreviated
    for wq in ("q_word_count", "q_minhash_pairs"):
        queries[wq](spark, "/root/testdata/sf0.001").count()
    spark.catalog.clearCache()

    report: dict[str, dict] = {}
    for _pass in range(3):
        for name in names:
            fn = queries[name]
            pre = persisted_ids(spark)
            spark.sparkContext.setJobDescription(f"profile:{name}")
            c0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            compiles = codegen_compiles(spark) - c0
            feats = None
            if _pass == 0:
                try:
                    feats = plan_features(formatted_plan(df))
                except Exception as e:  # noqa: BLE001
                    feats = {"error": repr(e)}
            with batch_lock(spark):
                release_blocks(spark, pre)
            spark.sparkContext.setJobDescription(None)
            cur = report.setdefault(
                name,
                {"construct": [], "execute": [], "compiles": [], "plan": feats},
            )
            cur["construct"].append(round(t1 - t0, 3))
            cur["execute"].append(round(t2 - t1, 3))
            cur["compiles"].append(compiles)
            if feats is not None:
                cur["plan"] = feats
        spark.catalog.clearCache()

    out = {}
    for name, r in report.items():
        out[name] = {
            # min over the two warm passes (pass 0 is warm-up grade)
            "construct_min": min(r["construct"][1:] or r["construct"]),
            "execute_min": min(r["execute"][1:] or r["execute"]),
            "construct_all": r["construct"],
            "execute_all": r["execute"],
            "compiles_all": r["compiles"],
            "plan": r["plan"],
        }
    json.dump(out, sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
