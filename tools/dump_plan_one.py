"""Dump explain("formatted") for named registry queries to files.

Usage: python tools/dump_plan_one.py OUTDIR SUFFIX q1 [q2 ...]
Writes OUTDIR/<query>_<SUFFIX>.txt for each query.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from hdinsight_pyspark_cntk_integration_spark import get_spark  # noqa: E402
from hdinsight_pyspark_cntk_integration_spark.plans import formatted_plan  # noqa: E402


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="dump-plan")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    for name in names:
        df = queries[name](spark, sf_dir)
        plan = formatted_plan(df)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange mentions)")
    spark.stop()


if __name__ == "__main__":
    main()
