"""MLlib integration: distributed training + scoring on DataFrames.

The reference demonstrates *scoring* a pretrained deep model on Spark
(reference README.md:162-184); its north-star generalization is full
Spark ML integration — train distributed, score distributed, reuse the
relational evaluation queries. This module wires ``pyspark.ml`` into the
engine's surfaces:

* ``fit_classifier`` / ``score_with_model`` — LogisticRegression on
  array<float> feature columns (distributed LBFGS training), producing
  the same (label, predicted_label) frame the reference's evaluation
  tail consumes (accuracy R2-R4, confusion R7).
* ``kmeans_centroids`` — KMeans|| centroids for similarity.ivf_topk.
* ``ml_minhash_candidates`` — pyspark.ml.feature.MinHashLSH
  approxSimilarityJoin, the MLlib twin of operators.dedup's native
  implementation (cross-validates it in tests).

All model objects are JVM-side; no Python in the training loop.
"""

from __future__ import annotations

from pyspark.ml.classification import LogisticRegression, LogisticRegressionModel
from pyspark.ml.clustering import KMeans
from pyspark.ml.feature import CountVectorizer, MinHashLSH
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark.operators.dedup import word_shingles


def _with_vector(df: DataFrame, array_col: str, vec_col: str = "features") -> DataFrame:
    """array<float> → ml Vector column (JVM conversion, no Python)."""
    return df.withColumn(vec_col, array_to_vector(F.col(array_col).cast("array<double>")))


def fit_classifier(
    df: DataFrame,
    features_col: str = "embedding",
    label_col: str = "label",
    max_iter: int = 50,
    reg_param: float = 0.0,
    seed_tol: float = 1e-9,
) -> LogisticRegressionModel:
    """Distributed multinomial logistic regression on an array column.

    Training is partition-parallel LBFGS (gradient aggregation per
    iteration — the 'distributed training' counterpart of the reference's
    distributed inference)."""
    train = _with_vector(df, features_col).withColumn(
        "__label", F.col(label_col).cast("double")
    )
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="__label",
        maxIter=max_iter,
        regParam=reg_param,
        tol=seed_tol,
        family="multinomial",
    )
    model = lr.fit(train)
    # Strip the training summary: it pins the SparkSession inside the
    # model, and once anything has touched the session's Observation
    # machinery (Dataset.observe initializes a non-serializable lazy
    # Listener in ObservationManager), transform()'s UDF closure —
    # which captures the model — fails with Task not serializable on
    # Spark 4.1 classic. The engine never reads the summary; metrics
    # come from the relational evaluation queries instead.
    try:
        from pyspark import SparkContext

        jvm = SparkContext._active_spark_context._jvm  # noqa: SLF001
        model._java_obj.setSummary(jvm.scala.Option.empty())  # noqa: SLF001
    except Exception:
        pass  # best effort: without it, only observe+LR interplay breaks
    return model


def score_with_model(
    model: LogisticRegressionModel,
    df: DataFrame,
    features_col: str = "embedding",
    pass_through: tuple[str, ...] = ("label",),
    pred_col: str = "predicted_label",
) -> DataFrame:
    """Score with a fitted MLlib model → (pass_through..., predicted_label).
    Same output contract as operators.scoring.score, so the relational
    evaluation queries (accuracy/confusion) apply unchanged."""
    scored = model.transform(_with_vector(df, features_col))
    return scored.select(
        *pass_through, F.col(model.getPredictionCol()).cast("long").alias(pred_col)
    )


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """KMeans|| centroids as a (centroid_id, centroid_vec) frame for
    similarity.ivf_topk — the quality upgrade over grid_centroids."""
    model = KMeans(featuresCol="features", k=k, seed=seed, maxIter=max_iter).fit(
        _with_vector(df, vec_col)
    )
    spark = df.sparkSession
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(
        centers, "centroid_id int, centroid_vec array<float>"
    )


def ml_minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hash_tables: int = 8,
    jaccard_distance_threshold: float = 0.5,
    vocab_size: int = 1 << 18,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs via MLlib's MinHashLSH.

    Pipeline: word shingles → CountVectorizer (binary sparse vectors) →
    MinHashLSH.approxSimilarityJoin. Returns (id_a, id_b, jaccard_dist)
    with id_a < id_b. Used as the MLlib cross-check of the native
    operators.dedup implementation; both are banded-LSH under the hood.
    """
    base = df.select(F.col(id_col), word_shingles(text_col, shingle_n).alias("sh"))
    cv = CountVectorizer(inputCol="sh", outputCol="features", vocabSize=vocab_size, binary=True)
    cv_model = cv.fit(base)
    vecs = cv_model.transform(base)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42)
    mh_model = mh.fit(vecs)
    joined = mh_model.approxSimilarityJoin(
        vecs, vecs, jaccard_distance_threshold, distCol="jaccard_dist"
    )
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.col("jaccard_dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )

