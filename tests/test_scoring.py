"""Golden scoring tests in the reference's shape (SURVEY.md §5):
cardinality ('Scored N images', reference README.md:194), accuracy
golden value (README.md:211), confusion matrix structure (README.md:249),
and the P1-P5 preprocessing chain."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark.operators import relational as rel
from hdinsight_pyspark_cntk_integration_spark.operators import scoring as sc

N_IMAGES = 400
DIM = 3072
N_CLASSES = 10


@pytest.fixture(scope="module")
def images_df(spark):
    """Deterministic images fixture per FIXTURES.md: (filename, image[3072],
    true_label), uint8-valued floats, seed fixed."""
    rng = np.random.default_rng(7)
    data = rng.integers(0, 256, size=(N_IMAGES, DIM)).astype(np.float32)
    labels = rng.integers(0, N_CLASSES, size=N_IMAGES)
    rows = [
        (f"img_{i:05d}.png", data[i].tolist(), int(labels[i]))
        for i in range(N_IMAGES)
    ]
    return spark.createDataFrame(
        rows, "filename string, image array<float>, true_label int"
    ).repartition(4)


@pytest.fixture(scope="module")
def mean_image():
    rng = np.random.default_rng(11)
    return rng.uniform(0, 255, size=DIM).astype(np.float32).reshape(3, 32, 32)


def _local_expected(images_df, mean_image):
    pdf = images_df.toPandas().sort_values("filename")
    x = np.stack(pdf["image"].to_numpy())
    xp = sc.cifar_preprocess(x, mean_image)
    w = sc.linear_stub_weights(DIM, N_CLASSES)
    preds = (xp.astype(np.float64) @ w.T).argmax(axis=1)
    return pdf, preds


def test_score_cardinality_and_accuracy(spark, images_df, mean_image):
    scored = sc.score(
        images_df,
        sc.make_linear_stub_loader(DIM, N_CLASSES),
        input_col="image",
        pass_through=["filename", "true_label"],
        preprocess=lambda b: sc.cifar_preprocess(b, mean_image),
    )
    out = scored.toPandas().sort_values("filename")
    # golden cardinality — reference README.md:194 'Scored 10000 images'
    assert len(out) == N_IMAGES
    pdf, preds = _local_expected(images_df, mean_image)
    assert (out["predicted_label"].to_numpy() == preds).all()
    acc = rel.accuracy(scored, "true_label", "predicted_label").collect()[0]
    assert acc["num_total"] == N_IMAGES
    assert acc["num_correct"] == int((pdf["true_label"].to_numpy() == preds).sum())


def test_confusion_matrix_row_sums(spark, images_df, mean_image):
    scored = sc.score(
        images_df,
        sc.make_linear_stub_loader(DIM, N_CLASSES),
        input_col="image",
        pass_through=["true_label"],
        preprocess=lambda b: sc.cifar_preprocess(b, mean_image),
    )
    cm = rel.confusion_matrix(scored, list(range(N_CLASSES))).toPandas()
    # property: matrix total == row count (pivot loses nothing)
    label_cols = [c for c in cm.columns if c != "true_label"]
    assert int(cm[label_cols].to_numpy().sum()) == N_IMAGES
    # row sums match per-label counts
    per_label = (
        scored.groupBy("true_label").count().toPandas().set_index("true_label")["count"]
    )
    for _, row in cm.iterrows():
        assert int(row[label_cols].sum()) == int(per_label[row["true_label"]])


def test_preprocess_chain_matches_reference_semantics(mean_image):
    """P1-P5 on a single record, validated step by step against the
    reference's formulas (README.md:80-82, 154-160)."""
    rng = np.random.default_rng(3)
    flat = rng.integers(0, 256, size=(1, DIM)).astype(np.float32)
    # reference: record.reshape(3,32,32).transpose(1,2,0) -> HWC
    hwc_ref = flat[0].reshape(3, 32, 32).transpose(1, 2, 0)
    assert np.array_equal(sc.reshape_hwc(flat)[0], hwc_ref)
    # bgr + chw + mean-subtract
    bgr = hwc_ref.astype(np.float32)[:, :, ::-1]
    chw = np.ascontiguousarray(np.transpose(bgr, (2, 0, 1)))
    expected = (chw - mean_image).reshape(-1)
    got = sc.cifar_preprocess(flat, mean_image)[0]
    assert np.allclose(got, expected)


def test_scores_col_output(spark, images_df):
    scored = sc.score(
        images_df.limit(10),
        sc.make_linear_stub_loader(DIM, N_CLASSES),
        input_col="image",
        pass_through=["filename"],
        scores_col="scores",
    )
    row = scored.limit(1).collect()[0]
    assert len(row["scores"]) == N_CLASSES
    assert int(np.argmax(row["scores"])) == row["predicted_label"]


def test_onnx_loader_is_import_gated():
    """No onnxruntime in this container: the loader must fail fast with a
    clear message (not at first task on an executor)."""
    try:
        import onnxruntime  # noqa: F401

        pytest.skip("onnxruntime installed; gate not exercisable")
    except ImportError:
        pass
    with pytest.raises(ImportError, match="onnxruntime is not installed"):
        sc.make_onnx_loader("/nonexistent/model.onnx")
