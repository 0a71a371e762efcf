"""Dump .explain("formatted") for named queries into plans/<round>/.

Usage: python tools/dump_plan.py --round r13 [--sf-dir DIR] before|after query ...

Writes plans/<round>/<query>_<tag>.txt with the FORMATTED physical plan
of the DataFrame the contract query returns (the checked result frame). Queries whose construction runs eager work (adaptive counts,
export writes) pay it here too — the dump reflects exactly what the
bench times. The scale-factor directory comes from --sf-dir, else from
$SPARK_GRAFT_SF_DIR (the variable bench.py reads).
"""

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# SPARK_GRAFT_REPO lets the before/after pair come from two checkouts
# (the pre-change commit vs the working tree) while both write into this
# repo's plans/<round>/.
sys.path.insert(0, os.environ.get("SPARK_GRAFT_REPO", REPO))

from _event_intelligence_data_warehouse_spark import cache  # noqa: E402
from _event_intelligence_data_warehouse_spark.contract import QUERIES  # noqa: E402
from _event_intelligence_data_warehouse_spark.session import get_spark  # noqa: E402

ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
ap.add_argument("--round", required=True, help="output subdirectory, e.g. r13")
ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                required="SPARK_GRAFT_SF_DIR" not in os.environ)
ap.add_argument("tag", help="file suffix, e.g. before or after")
ap.add_argument("names", nargs="+", metavar="query")
args = ap.parse_args()

out_dir = os.path.join(REPO, "plans", args.round)
os.makedirs(out_dir, exist_ok=True)

spark = get_spark("eidw-plan-dump")
spark.sparkContext.setLogLevel("ERROR")
for name in args.names:
    df = QUERIES[name](spark, args.sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
    with open(path, "w") as f:
        f.write(plan)
    print(f"wrote {path} ({len(plan)} chars, "
          f"{plan.count('Exchange')} Exchange)", flush=True)
    cache.release_all()
spark.stop()
