"""Distributed logistic regression (operators/classifier.py) pinned
against an independent pure-Python/numpy reference: identical
featurization (zlib.crc32 == F.crc32 on UTF-8 bytes), identical
full-batch GD trajectory, and the classifier must actually learn the
en/non-en separation on the fixture corpus."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from odbc2deltalake_spark.operators.classifier import (  # noqa: E402
    featurize,
    fit_logreg,
    predict,
    reference_fit,
)
from odbc2deltalake_spark.queries.registry import load_table  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
D = 64
# production hyperparams (queries/clustering_ops.py _CLF_*): adagrad
# reaches 30-GD-pass accuracy in 15 passes — the parity gate pins the
# trajectory the engine actually ships
STEPS = 15
LR = 1.0
OPT = "adagrad"


@pytest.fixture(scope="module")
def fixture(spark):
    docs = load_table(spark, SF_DIR, "documents")
    labeled = docs.select(
        "doc_id", "text", (F.length("text") >= 400).cast("int").alias("label")
    )
    features = featurize(labeled, D).localCheckpoint(eager=True)
    weights = fit_logreg(features, D, steps=STEPS, lr=LR, optimizer=OPT)
    raw = [
        (r["doc_id"], r["text"], r["label"])
        for r in labeled.collect()
    ]
    ref_w, ref_probs = reference_fit(raw, D, steps=STEPS, lr=LR, optimizer=OPT)
    return features, weights, ref_w, ref_probs


def test_weights_match_numpy_reference(fixture):
    _, weights, ref_w, _ = fixture
    assert len(weights) == D + 3
    for got, want in zip(weights, ref_w):
        assert got == pytest.approx(want, abs=1e-9)


def test_probabilities_match_reference(fixture):
    features, weights, _, ref_probs = fixture
    rows = predict(features, weights).collect()
    assert len(rows) == len(ref_probs)
    for r in rows:
        assert r["prob"] == pytest.approx(ref_probs[r["doc_id"]], abs=1e-9)


def test_classifier_learns_the_label(fixture):
    features, weights, _, _ = fixture
    rows = predict(features, weights).collect()
    acc = sum(int(r["pred"] == r["label"]) for r in rows) / len(rows)
    # majority class (short docs) is ~68% at sf0.001 — the fit must
    # decisively beat it (reference sweep: 0.986 at these hyperparams)
    assert acc > 0.9, f"accuracy {acc:.3f}: classifier failed to learn"


def test_fit_is_deterministic(fixture):
    features, weights, _, _ = fixture
    again = fit_logreg(features, D, steps=STEPS, lr=LR, optimizer=OPT)
    assert weights == again


def test_plain_gd_matches_reference(spark, fixture):
    """The default optimizer="gd" trajectory stays pinned too (few steps
    — the per-step update is what's under test, not convergence)."""
    features, _, _, _ = fixture
    w = fit_logreg(features, D, steps=4, lr=2.0)
    docs = load_table(spark, SF_DIR, "documents")
    raw = [
        (r["doc_id"], r["text"], int(len(r["text"]) >= 400))
        for r in docs.collect()
    ]
    ref_w, _ = reference_fit(raw, D, steps=4, lr=2.0)
    for got, want in zip(w, ref_w):
        assert got == pytest.approx(want, abs=1e-9)


def test_gradient_norm_early_stop(spark, fixture):
    """tol > 0 stops both implementations at the SAME step: a generous
    tol must yield fewer effective passes (weights differ from the full
    run) while still matching the reference exactly."""
    features, _, _, _ = fixture
    docs = load_table(spark, SF_DIR, "documents")
    raw = [
        (r["doc_id"], r["text"], int(len(r["text"]) >= 400))
        for r in docs.collect()
    ]
    # sf0.001 GD gnorm trajectory crosses 0.12 between steps 3 and 4
    w_stop = fit_logreg(features, D, steps=30, lr=2.0, tol=0.12)
    ref_stop, _ = reference_fit(raw, D, steps=30, lr=2.0, tol=0.12)
    w_full = fit_logreg(features, D, steps=30, lr=2.0)
    for got, want in zip(w_stop, ref_stop):
        assert got == pytest.approx(want, abs=1e-9)
    assert w_stop != w_full  # the stop actually fired early


def test_empty_document_scores_not_nulls(spark, fixture):
    """ADVICE r5: an empty/whitespace doc must produce a real prob (its
    alpha_ratio guard is greatest(len,1)), not a silent null, and
    featurize/reference_fit must agree on the degenerate input."""
    from odbc2deltalake_spark.operators.classifier import score_documents

    _, weights, _, _ = fixture
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real text here")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in score_documents(docs, weights, D).collect()}
    assert all(rows[i]["prob"] is not None for i in (1, 2, 3))
    assert all(rows[i]["pred"] in (0, 1) for i in (1, 2, 3))
    # and the training path handles it too (no ZeroDivision / null label)
    labeled = docs.withColumn("label", F.lit(0))
    feats = featurize(labeled, D)
    assert feats.count() == 3
    w = fit_logreg(feats, D, steps=2, lr=1.0)
    raw = [(r["doc_id"], r["text"], 0) for r in docs.collect()]
    ref_w, _ = reference_fit(raw, D, steps=2, lr=1.0)
    for got, want in zip(w, ref_w):
        assert got == pytest.approx(want, abs=1e-9)


def test_featurize_is_sparse_and_biased(spark):
    docs = spark.createDataFrame(
        [(1, "a b a", 1), (2, "c", 0)], ["doc_id", "text", "label"]
    )
    rows = {r["doc_id"]: r for r in featurize(docs, D).collect()}
    f1 = rows[1]["feats"]
    # dense tail: length (centered log), alpha ratio, then the bias
    assert [s["b"] for s in f1[-3:]] == [D, D + 1, D + 2]
    assert f1[-1]["c"] == 1.0
    assert f1[-2]["c"] == pytest.approx(3 / 5)  # "a b a": 3 alpha / 5 chars
    # relative frequencies sum to 1 over the hashed features
    assert sum(s["c"] for s in f1[:-3]) == pytest.approx(1.0)


def test_margin_expr_matches_featurized_predict(spark, fixture):
    from odbc2deltalake_spark.operators.classifier import score_documents

    features, weights, _, _ = fixture
    docs = load_table(spark, SF_DIR, "documents")
    by_expr = {
        r["doc_id"]: r["prob"]
        for r in score_documents(docs, weights, D).collect()
    }
    by_feat = {r["doc_id"]: r["prob"] for r in predict(features, weights).collect()}
    assert set(by_expr) == set(by_feat)
    for k in by_feat:
        assert by_expr[k] == pytest.approx(by_feat[k], abs=1e-9)


def test_score_documents_streams(spark, fixture, tmp_path):
    """The scoring expression must plan as a stateless streaming map:
    stream results == batch results on the same rows."""
    from odbc2deltalake_spark.operators.classifier import score_documents

    _features, weights, _, _ = fixture
    docs = load_table(spark, SF_DIR, "documents").limit(100)
    src = tmp_path / "docs_src"
    docs.write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(docs.schema).parquet(str(src))
    scored = score_documents(stream, weights, D).select("doc_id", "prob")
    out = []
    q = (
        scored.writeStream.foreachBatch(
            lambda bdf, _bid: out.extend(bdf.collect())
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r["prob"] for r in out}
    want = {
        r["doc_id"]: r["prob"]
        for r in score_documents(docs, weights, D).select("doc_id", "prob").collect()
    }
    assert got == want


def test_driver_fast_path_matches_distributed_loop(fixture):
    """r15 driver fast path (bounded collect + vectorized trajectory)
    must reproduce the distributed loop's weights: driver_cell_cap=0
    pins the loop, the default cap takes the fast path on this fixture."""
    features, weights_fast, _, _ = fixture  # default cap -> fast path
    weights_loop = fit_logreg(
        features, D, steps=STEPS, lr=LR, optimizer=OPT, driver_cell_cap=0
    )
    for got, want in zip(weights_fast, weights_loop):
        assert got == pytest.approx(want, abs=1e-9)


@pytest.mark.parametrize("optimizer", ["gd", "adagrad"])
# tol=0.1 stops both optimizers before STEPS on this fixture
@pytest.mark.parametrize("tol", [0.0, 0.1])
def test_driver_fast_path_matches_loop_with_null_feats(fixture, optimizer, tol):
    """A NULL ``feats`` array adds no gradient term in the distributed
    loop (its explode drops the row) while the row still counts in n;
    the driver fast path must do the same instead of raising. Pinned
    for both optimizers, with and without the early stop."""
    features, _, _, _ = fixture
    null_row = features.limit(1).select(
        (F.col("doc_id") + 10**9).alias("doc_id"),
        "label",
        F.lit(None).cast(features.schema["feats"].dataType).alias("feats"),
    )
    with_null = features.unionByName(null_row).localCheckpoint(eager=True)
    kw = dict(steps=STEPS, lr=LR, tol=tol, optimizer=optimizer)
    fast = fit_logreg(with_null, D, **kw)
    loop = fit_logreg(with_null, D, driver_cell_cap=0, **kw)
    for got, want in zip(fast, loop):
        assert got == pytest.approx(want, abs=1e-9)


def test_driver_cap_is_a_hard_bound(fixture):
    """One cell past the cap must take the distributed loop (the 100 TB
    path): capping at exactly n*(D+3)-1 falls back, n*(D+3) does not."""
    features, _, _, _ = fixture
    n = features.count()
    cells = n * (D + 3)
    w_loop = fit_logreg(
        features, D, steps=2, lr=LR, optimizer=OPT, driver_cell_cap=cells - 1
    )
    w_fast = fit_logreg(
        features, D, steps=2, lr=LR, optimizer=OPT, driver_cell_cap=cells
    )
    for got, want in zip(w_fast, w_loop):
        assert got == pytest.approx(want, abs=1e-9)
