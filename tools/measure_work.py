"""Steal-robust per-query work measurement (guide §1): wall time is
useless under hypervisor CPU-steal bursts, but the WORK a plan does is
not — executor CPU time only accrues while threads are actually
on-CPU, and shuffle/input bytes are properties of the plan, not the
host. This tool runs each query once (after a warm run) and reports,
from the Spark UI REST API, the deltas in:

  cpu_s        sum of stage executorCpuTime (seconds)
  run_s        sum of stage executorRunTime (seconds; steal-sensitive)
  shuffle_mb   shuffle write bytes (MB)
  input_mb     bytes read from sources (MB)
  stages/tasks completed stage and task counts

Usage: python tools/measure_work.py q1 q2 ...
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import __spark_entry__ as entrymod  # noqa: E402
from bench import warm_up  # noqa: E402
from hdinsight_pyspark_cntk_integration_spark import get_spark  # noqa: E402


def _stage_totals(ui: str, app_id: str) -> dict[str, float]:
    url = f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url) as r:
        stages = json.load(r)
    tot = {"cpu": 0.0, "run": 0.0, "shuffle": 0.0, "input": 0.0,
           "stages": 0.0, "tasks": 0.0}
    for s in stages:
        tot["cpu"] += s.get("executorCpuTime", 0) / 1e9
        tot["run"] += s.get("executorRunTime", 0) / 1e3
        tot["shuffle"] += s.get("shuffleWriteBytes", 0) / 1e6
        tot["input"] += s.get("inputBytes", 0) / 1e6
        tot["stages"] += 1
        tot["tasks"] += s.get("numCompleteTasks", 0)
    return tot


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="measure-work")
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    queries = entrymod.queries()

    warm_up(spark)

    for name in names:
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"work:{name}")
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        before = _stage_totals(ui, app_id)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        after = _stage_totals(ui, app_id)
        d = {k: after[k] - before[k] for k in before}
        print(
            f"{name}  cpu={d['cpu']:.2f}s run={d['run']:.2f}s "
            f"shuffle={d['shuffle']:.2f}MB input={d['input']:.2f}MB "
            f"stages={int(d['stages'])} tasks={int(d['tasks'])}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
