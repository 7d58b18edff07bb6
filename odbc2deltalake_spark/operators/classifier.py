"""Distributed trained quality/domain classifier: logistic regression
over hashing-trick bag-of-words features, fit by full-batch gradient
descent expressed entirely in DataFrame operations.

This is the fasttext-style linear classifier stage of a training-data
pipeline (quality filtering à la CCNet/GPT-3's LR filter, language/domain
routing) — but TRAINED inside the engine rather than imported, the same
way `operators/clustering.py` fits k-means and `operators/bpe.py` fits a
tokenizer: deterministic (no RNG — zero init, full batch, fixed feature
hashing), so the fit is reproducible and pinned against an independent
numpy reference in tests/test_classifier.py.

Scale shape (N docs, D hash buckets, T steps; D is a constant ~64-4096):
- featurization is ONE token-stream shuffle on (doc_id, bucket) plus the
  per-doc collect — done once, cached; each doc carries a sparse
  array<struct<b,c>> with dense length/alpha features and a bias term
  appended at indices D..D+2.
- margins are a PURE MAP per step: the weight vector is a D+3-element
  array LITERAL (broadcast by the plan, not a join); per-doc dot product
  via F.aggregate over the sparse features — zero shuffle, the corpus
  never moves.
- the gradient is one explode + groupBy(bucket) per step: map-side
  partial aggregation collapses every partition to <= D+1 rows, so the
  per-step exchange volume is partitions x D regardless of corpus size.
- the driver holds only the D+1 weight vector between steps — never the
  corpus, never per-doc state.

The reference engine has no ML surface; this extends the engine's
trained-operator family (SURVEY.md §2-extensions) alongside
fit_kmeans_centroids / fit_pq_codebooks / fit_bpe_merges.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from odbc2deltalake_spark.functions.litarray import double_array_lit


def featurize(docs: DataFrame, n_buckets: int) -> DataFrame:
    """(doc_id, text, label) -> (doc_id, label, feats).

    The feature vector mixes the two families every production quality
    classifier uses (fasttext-style lexical + CCNet-style engineered):

    - buckets 0..D-1: relative term frequencies hashed via crc32
      (portable: zlib.crc32 in the numpy reference computes the same
      values on UTF-8 bytes);
    - bucket D: log(1 + n_tokens) - 4 — the length signal, centered so
      it is not collinear with the bias (uncentered it conditions the
      GD so badly the fit stalls at the majority class), which pure
      relative frequencies are blind to by construction;
    - bucket D+1: alphabetic-character ratio — the boilerplate/noise
      signal;
    - bucket D+2: constant bias, so the bias gradient rides the same
      groupBy as every other weight.

    ``feats`` is array<struct<b int, c double>>, sorted by bucket for
    deterministic iteration order."""
    from odbc2deltalake_spark.functions.spread import spread_small_scan

    # r15: tokenize + crc32 + the alpha regex are the featurization CPU;
    # a 1-partition source scan serializes them — spread conditionally
    # (no-op at scale). Per-doc outputs are unchanged: every downstream
    # aggregate is per-doc and the feats array is array_sort-ed.
    docs = spread_small_scan(docs)
    # dense scalars are computed BEFORE the explode so the two token
    # shuffles carry 8-byte doubles, never the document text
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    base = docs.select(
        "doc_id",
        "label",
        # greatest(len, 1): an empty document scores alpha_ratio 0.0
        # instead of null (null would silently null the margin and the
        # prediction downstream; the numpy reference guards identically)
        (n_alpha * F.lit(1.0) / F.greatest(F.length("text"), F.lit(1))).alias(
            "alpha_ratio"
        ),
        F.split(F.trim(F.col("text")), r"\s+").alias("ws"),
    )
    toks = base.select(
        "doc_id", "label", "alpha_ratio", F.explode("ws").alias("w")
    )
    bucketed = toks.select(
        "doc_id",
        "label",
        "alpha_ratio",
        (F.crc32(F.col("w").cast("binary")) % n_buckets).cast("int").alias("b"),
    )
    counts = bucketed.groupBy("doc_id", "label", "alpha_ratio", "b").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = counts.groupBy("doc_id", "label", "alpha_ratio").agg(
        F.sum("c").alias("n_tok"),
        F.collect_list(F.struct("b", "c")).alias("raw"),
    )
    rel = F.transform(
        F.array_sort(F.col("raw")),
        lambda s: F.struct(
            s["b"].alias("b"), (s["c"] / F.col("n_tok")).cast("double").alias("c")
        ),
    )
    dense = F.array(
        F.struct(
            F.lit(n_buckets).cast("int").alias("b"),
            (F.log(F.lit(1.0) + F.col("n_tok")) - F.lit(4.0)).alias("c"),
        ),
        F.struct(
            F.lit(n_buckets + 1).cast("int").alias("b"),
            F.col("alpha_ratio").alias("c"),
        ),
        F.struct(
            F.lit(n_buckets + 2).cast("int").alias("b"), F.lit(1.0).alias("c")
        ),
    )
    return per_doc.select(
        "doc_id", "label", F.concat(rel, dense).alias("feats")
    )


def _margin(weights: list[float]):
    """Sparse dot product of `feats` with a weight-vector LITERAL —
    evaluated map-side inside codegen; no join, no shuffle.

    Measured alternative (kept for the record): shipping the weights as
    a broadcast one-row array DataFrame (identical generated code every
    step → codegen-cache hits) benchmarked ~80% SLOWER at sf0.1 (15.6s
    vs 8.8s for a 30-step fit) — the per-step createDataFrame + broadcast
    job costs more than the per-step codegen compile it saves. At much
    larger D (where the literal array bloats the generated code) the
    trade flips."""
    wlit = double_array_lit(weights)
    return F.aggregate(
        F.col("feats"),
        F.lit(0.0),
        lambda acc, s: acc + s["c"] * F.element_at(wlit, s["b"] + 1),
    )


_ADAGRAD_EPS = 1e-8

# Driver fast-path bound (r15, the dedup_cluster/Bm25 strategy-by-size
# pattern): when the feature table is small enough that n_docs*(D+3)
# cells fit comfortably on the driver (~100 MB at the default), ONE
# bounded collect replaces `steps` sequential gradient jobs — the
# trajectory is computed in vectorized numpy with the same per-step
# update rule. Past the cap the distributed loop below runs unchanged
# (the 100 TB path; tests pin fast == loop via driver_cell_cap=0).
_FIT_DRIVER_CELL_CAP = 4_000_000


def _fit_logreg_driver(
    rows, n_buckets: int, steps: int, lr: float, tol: float, optimizer: str,
    n: int,
) -> list[float]:
    """Vectorized driver-side trajectory over collected sparse features.

    Same math as the distributed loop, same update code shape: the
    per-bucket gradient is a sum of c*r terms (bincount — double
    precision over <= cap addends, within ~1e-12 of any summation
    order; the repo pins fit_logreg against the independently-ordered
    numpy reference_fit at 1e-9, so summation-order robustness at this
    tolerance is an existing, tested property of the fit)."""
    import numpy as np

    d = n_buckets + 3
    # a NULL feats array adds no gradient term, as the loop's explode
    # drops it; its row still counts in n
    feats = [r["feats"] or [] for r in rows]
    row_idx = np.concatenate(
        [np.full(len(f), i, dtype=np.int64) for i, f in enumerate(feats)]
    )
    b_idx = np.concatenate(
        [np.asarray([s["b"] for s in f], dtype=np.int64) for f in feats]
    )
    c_val = np.concatenate(
        [np.asarray([s["c"] for s in f], dtype=np.float64) for f in feats]
    )
    y = np.asarray([float(r["label"]) for r in rows], dtype=np.float64)
    w = np.zeros(d)
    gsq = np.zeros(d)
    for _ in range(steps):
        m = np.zeros(len(rows))
        np.add.at(m, row_idx, c_val * w[b_idx])
        r = 1.0 / (1.0 + np.exp(-m)) - y
        g = np.bincount(b_idx, weights=c_val * r[row_idx], minlength=d)
        if optimizer == "adagrad":
            gi = g / n
            gsq += gi * gi
            w -= lr * gi / (np.sqrt(gsq) + _ADAGRAD_EPS)
        else:
            w -= lr * g / n
        if tol > 0.0 and float(np.sqrt((g * g).sum())) / n < tol:
            break
    return [float(x) for x in w]


def fit_logreg(
    features: DataFrame,
    n_buckets: int,
    steps: int = 20,
    lr: float = 2.0,
    tol: float = 0.0,
    optimizer: str = "gd",
    driver_cell_cap: int | None = None,
) -> list[float]:
    """Full-batch fit of the logistic loss; returns D+3 weights (bias
    last). Deterministic either way: zero init, seedless featurization,
    driver-side optimizer state of <= D+3 floats.

    ``optimizer``:

    - ``"gd"``: plain gradient descent — the simplest trajectory, kept
      as the default and as the cross-check baseline.
    - ``"adagrad"``: diagonal-adaptive steps (per-coordinate
      lr / (sqrt(sum g_i^2) + 1e-8)). Full-batch GD on these features is
      badly conditioned — the dense length/bias coordinates see
      gradients ~30x the hashed relative-frequency ones, so a global
      step either crawls on the former or oscillates on the latter.
      The diagonal rescaling reaches 30-GD-pass accuracy in ~half the
      passes (measured at sf0.1: 0.984 at 15 adagrad passes vs 0.984 at
      30 GD passes; VERDICT r5 item #5), at zero extra cluster work.

    ``steps`` is the pass CAP; ``tol`` > 0 adds a gradient-norm early
    stop (||g||_2 / n < tol, checked after applying the update) that
    costs nothing extra — the full gradient is already collected every
    step, so the norm is driver-side arithmetic. The numpy reference
    applies the identical rule, keeping trajectories step-for-step
    comparable.

    ``features`` should be cached by the caller — every step scans it
    twice (margin map + gradient shuffle share one scan via the exploded
    residual plan).

    ``driver_cell_cap`` overrides the driver fast-path bound (see
    ``_FIT_DRIVER_CELL_CAP``); 0 forces the distributed loop (the scale
    path, pinned equal by tests/test_classifier.py)."""
    if optimizer not in ("gd", "adagrad"):
        raise ValueError(f"unknown optimizer {optimizer!r}")
    n = features.count()
    # r15 driver fast path (guide §2.4 fewer passes + §5 bounded driver
    # work): `steps` sequential one-job gradient rounds collapse into
    # ONE bounded collect when the upper-bound cell count fits the cap;
    # the distributed loop below is the unchanged at-scale path.
    cap = _FIT_DRIVER_CELL_CAP if driver_cell_cap is None else driver_cell_cap
    if n and n * (n_buckets + 3) <= cap:
        rows = features.select("label", "feats").collect()
        return _fit_logreg_driver(
            rows, n_buckets, steps, lr, tol, optimizer, n
        )
    w = [0.0] * (n_buckets + 3)  # D hashed + log-len + alpha + bias
    gsq = [0.0] * (n_buckets + 3)  # adagrad accumulator
    for _ in range(steps):
        resid = features.select(
            "feats",
            (
                F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin(w)))
                - F.col("label").cast("double")
            ).alias("r"),
        )
        grad_rows = (
            resid.select(F.explode("feats").alias("s"), "r")
            .groupBy(F.col("s.b").alias("b"))
            .agg(F.sum(F.col("s.c") * F.col("r")).alias("g"))
            .collect()
        )
        if optimizer == "adagrad":
            for row in grad_rows:
                gi = row["g"] / n
                gsq[row["b"]] += gi * gi
                w[row["b"]] -= lr * gi / (
                    math.sqrt(gsq[row["b"]]) + _ADAGRAD_EPS
                )
        else:
            for row in grad_rows:
                w[row["b"]] -= lr * row["g"] / n
        if tol > 0.0:
            gnorm = math.sqrt(sum(row["g"] ** 2 for row in grad_rows)) / n
            if gnorm < tol:
                break
    return w


def predict(features: DataFrame, weights: list[float]) -> DataFrame:
    """(doc_id, label, feats) -> (doc_id, label, prob, pred) — a pure
    map over the cached feature table."""
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin(weights)))
    return features.select(
        "doc_id",
        "label",
        prob.alias("prob"),
        (prob >= 0.5).cast("int").alias("pred"),
    )


def reference_fit(
    docs: list[tuple[int, str, int]],
    n_buckets: int,
    steps: int = 20,
    lr: float = 2.0,
    tol: float = 0.0,
    optimizer: str = "gd",
):
    """Independent pure-Python/numpy reference for the tests: same
    featurization (zlib.crc32 == Spark's F.crc32 on UTF-8 bytes; regex
    split on \\s+ to mirror F.split), same optimizer update, same
    gradient-norm early stop — no Spark. Returns
    (weights, {doc_id: prob})."""
    import re
    import zlib

    import numpy as np

    feats = []
    for doc_id, text, label in docs:
        words = re.split(r"\s+", text.strip())
        counts: dict[int, int] = {}
        for word in words:
            b = zlib.crc32(word.encode("utf-8")) % n_buckets
            counts[b] = counts.get(b, 0) + 1
        n_tok = sum(counts.values())
        x = {b: c / n_tok for b, c in counts.items()}
        n_alpha = len(re.sub("[^a-zA-Z]", "", text))
        x[n_buckets] = math.log(1.0 + n_tok) - 4.0
        x[n_buckets + 1] = n_alpha / max(len(text), 1)
        x[n_buckets + 2] = 1.0
        feats.append((doc_id, x, label))
    w = np.zeros(n_buckets + 3)
    gsq = np.zeros(n_buckets + 3)
    n = len(feats)
    for _ in range(steps):
        g = np.zeros(n_buckets + 3)
        for _, x, y in feats:
            m = sum(c * w[b] for b, c in x.items())
            r = 1.0 / (1.0 + math.exp(-m)) - y
            for b, c in x.items():
                g[b] += c * r
        if optimizer == "adagrad":
            gi = g / n
            gsq += gi * gi
            w -= lr * gi / (np.sqrt(gsq) + _ADAGRAD_EPS)
        else:
            w -= lr * g / n
        if tol > 0.0 and float(np.sqrt((g * g).sum())) / n < tol:
            break
    probs = {}
    for doc_id, x, _ in feats:
        m = sum(c * w[b] for b, c in x.items())
        probs[doc_id] = 1.0 / (1.0 + math.exp(-m))
    return w, probs


def margin_expr(weights: list[float], n_buckets: int, text_col: str = "text"):
    """Per-ROW margin of the trained model directly from the text column
    — no featurize groupBys, so the same expression scores batch frames
    AND streaming frames (stateless map, append-mode safe).

    Algebra: with relative-frequency features, the hashed part of the
    margin is sum_b w_b * cnt_b / n = (sum over words of w[bucket(word)])
    / n — a single fold over the word array; the dense features are
    arithmetic on n and the alpha ratio. Identical (to float addition
    order) to `predict` over `featurize`; tests pin the equivalence at
    1e-9."""
    # one parsed expr, not len(weights) py4j round trips (wave-1 litarray
    # sweep — this site was missed; plan-identical folded literal)
    wlit = double_array_lit([float(x) for x in weights])
    ws = F.split(F.trim(F.col(text_col)), r"\s+")
    n_tok = F.size(ws)
    hashed_sum = F.aggregate(
        ws,
        F.lit(0.0),
        lambda acc, w: acc
        + F.element_at(
            wlit, (F.crc32(w.cast("binary")) % n_buckets).cast("int") + 1
        ),
    )
    n_alpha = F.length(F.regexp_replace(F.col(text_col), "[^a-zA-Z]", ""))
    # greatest(len, 1) mirrors featurize: empty text scores, not nulls
    alpha_ratio = n_alpha * F.lit(1.0) / F.greatest(
        F.length(text_col), F.lit(1)
    )
    return (
        hashed_sum / n_tok
        + F.element_at(wlit, n_buckets + 1)
        * (F.log(F.lit(1.0) + n_tok) - F.lit(4.0))
        + F.element_at(wlit, n_buckets + 2) * alpha_ratio
        + F.element_at(wlit, n_buckets + 3)
    )


def score_documents(
    docs: DataFrame, weights: list[float], n_buckets: int,
    text_col: str = "text",
) -> DataFrame:
    """Append (prob, pred) model-score columns — the deploy side of the
    trained classifier, usable as a corpus-ingest gate on stream or
    batch (pure map; plans identically on both)."""
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin_expr(weights, n_buckets, text_col)))
    return docs.withColumn("prob", prob).withColumn(
        "pred", (F.col("prob") >= 0.5).cast("int")
    )
