"""The benchmark's workloads and the operations they run.

Each workload is a list of operations run back to back by one client
(closed loop). An operation is split into the three phases the traced
run times separately:

* ``build``   -- construction: the ``__spark_entry__`` ``q_*`` call into
  ``operators.*``, including any Spark jobs it starts eagerly;
* planning    -- ``queryExecution().executedPlan()`` on the result
  (traced run only);
* ``execute`` -- running the result to its sink.

Every execution's output is then checked, outside the timed region.
Query results are collected to the driver (Arrow ``toPandas``) and
compared with the stored oracle fingerprint. The CIFAR scoring
operation ends in the reference's sinks (confusion counts and accuracy
collected, predictions written as one CSV), each compared with the
NumPy replay of the scoring.
"""

from __future__ import annotations

import csv
import os
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

# Execution does most of the work in these queries (scan, codegen,
# shuffle, broadcast); construction starts at most a few jobs. With the
# CIFAR scoring pipeline below they make the execution-side workload and
# the control for any construction-side change.
RELATIONAL = [
    "pricing_summary",
    "top_revenue_orders",
    "region_revenue",
    "window_topn",
    "asof_join",
    "tumbling_hourly",
    "json_extract",
    "dedup_exact",
    "token_stats",
    "similarity_topk",
    "tfidf_top_terms",
]

# Iterative LLM-data operators whose DataFrame construction runs most of
# their work eagerly (tens of Spark jobs per query before the final plan
# exists): the workload that construction-side and driver-side changes
# act on. minhash_near_dup is the one whose LSH candidate/verify split
# the traced run counts.
LLM_PIPELINE = [
    "minhash_near_dup",  # dedup
    "embedding_dedup",  # dedup
    "repeated_passages_maximal",  # dedup
    "bfs_supply_chain",  # graph
    "wordpiece_vocab",  # pipeline
]

# The paper's own pipeline: CIFAR-10 archive -> cifar_pickle DataSource
# -> scoring.score (cifar_preprocess + linear stub) -> confusion counts,
# accuracy, single-file CSV. The Python-worker/Arrow boundary and ingest
# dominate it, and it is the only operation that writes a file.
CIFAR_SCORING = "cifar_scoring"

WORKLOADS = {
    "relational": [*RELATIONAL, CIFAR_SCORING],
    "llm_pipeline": list(LLM_PIPELINE),
}


@dataclass(frozen=True)
class Scale:
    sf: float  # table fixture scale factor
    images_per_member: int  # six CIFAR members per archive


SCALES = {
    "bench": Scale(sf=0.01, images_per_member=2_000),
    "smoke": Scale(sf=0.001, images_per_member=50),
}


def query_names() -> list[str]:
    return [*RELATIONAL, *LLM_PIPELINE]


@dataclass
class Op:
    name: str
    build: Callable[[], DataFrame]
    # Runs the built frame to its sink and returns what it produced.
    execute: Callable[[DataFrame], object]
    # An error message when that output is wrong, else None.
    check: Callable[[object], str | None]


def query_op(spark: SparkSession, queries: dict, name: str, sf_dir: str, expected: dict) -> Op:
    import oracle

    fn = queries[name]
    return Op(
        name,
        lambda: fn(spark, sf_dir),
        lambda df: df.toPandas(),
        lambda pdf: oracle.check(pdf, expected),
    )


def cifar_scored(spark: SparkSession, cifar) -> DataFrame:
    """cifar_pickle read -> scoring.score with the reference preprocess."""
    from hdinsight_pyspark_cntk_integration_spark.operators import scoring as sc

    mean = cifar.mean_chw
    images = (
        spark.read.format("cifar_pickle").option("member_filter", "_batch").load(cifar.path)
    )
    return sc.score(
        images,
        sc.make_linear_stub_loader(3072, 10),
        input_col="image",
        pass_through=["batch", "row_in_batch", "label"],
        preprocess=lambda b: sc.cifar_preprocess(b, mean),
    )


def check_confusion(pairs, cifar) -> str | None:
    """``pairs`` maps (label, predicted_label) to a count."""
    if pairs != cifar.expected_confusion:
        return "confusion counts differ from the NumPy replay"
    return None


def check_accuracy(rows, cifar) -> str | None:
    (row,) = rows
    if (row["num_correct"], row["num_total"]) != (cifar.expected_correct, cifar.n_images):
        return f"accuracy {row['num_correct']}/{row['num_total']} differs from the replay"
    return None


def check_csv(out_dir: str, cifar) -> str | None:
    (part,) = [f for f in os.listdir(out_dir) if f.startswith("part-")]
    with open(os.path.join(out_dir, part)) as fh:
        rows = csv.DictReader(fh)
        pairs = Counter((int(r["label"]), int(r["predicted_label"])) for r in rows)
    if dict(pairs) != cifar.expected_confusion:
        return "CSV predictions differ from the NumPy replay"
    return None


def confusion_pairs(rows) -> dict[tuple[int, int], int]:
    return {(r["label"], r["predicted_label"]): r["n"] for r in rows}


def cifar_op(spark: SparkSession, cifar, out_dir: str) -> Op:
    from hdinsight_pyspark_cntk_integration_spark.operators import relational as rel
    from hdinsight_pyspark_cntk_integration_spark.sources.io import write_single_csv

    def execute(scored: DataFrame):
        # Scored once and reused by the three sinks, as the reference
        # collects the scores once and evaluates them on the driver.
        scored = scored.cache()
        try:
            confusion = rel.confusion_counts(scored, "label", "predicted_label").collect()
            accuracy = rel.accuracy(scored, "label", "predicted_label").collect()
            write_single_csv(
                scored.select("batch", "row_in_batch", "label", "predicted_label"), out_dir
            )
        finally:
            scored.unpersist()
        return confusion, accuracy

    def check(output) -> str | None:
        confusion, accuracy = output
        return (
            check_confusion(confusion_pairs(confusion), cifar)
            or check_accuracy(accuracy, cifar)
            or check_csv(out_dir, cifar)
        )

    return Op(CIFAR_SCORING, lambda: cifar_scored(spark, cifar), execute, check)
