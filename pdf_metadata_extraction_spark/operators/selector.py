"""Segment selector — train a scorer, pick the best segment per document
(SURVEY.md §2.5 W1, §2.4 A1, §2.3 J5).

Reference analogue: the LightGBM ``segment_predictor_model`` (binary
objective, 97 features, shipped artifact at
/root/reference/src/tests/resources/tenant_test/extraction_id/
segment_predictor_model/model.model) plus the ``model_frequent_words``
sidecar vocabulary. The top-scoring segment(s) per document become the
suggestion (prediction pinned src/tests/test_end_to_end.py:183-192).

Spark-first recast (lightgbm is not in this sandbox; semantics kept —
binary scorer over segment features, argmax per doc):
- A1 ``frequent_words``: hash-agg + top-k over the training label texts
  (classic groupBy/count/limit — partial agg map-side).
- features: geometry + text statistics + frequent-word overlap, built
  **vectorized** (numpy) inside the Arrow stage.
- model: pure-numpy Newton-boosted depth-2 trees fit on the driver
  (``fit_gbdt`` — same capacity class as the reference's LightGBM
  binary scorer, including pairwise feature interactions; training
  sets are tiny per extraction by the reference's design), state
  broadcast to executors (J5), scored in one ``mapInPandas`` pass.
- W1 selection: ``row_number() over (partition by url order by score
  desc, segment_id asc)`` — the explicit tie-break keeps results
  identical at any parallelism (SURVEY.md §7.3 determinism).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_FEATURES = 38
_CTX_COLS = [
    "n_segs", "max_page", "mean_len", "prev_type", "next_type",
    "prev_len", "next_len", "doc_font",
]


# ------------------------------------------------------------ A1
def frequent_words(texts: DataFrame, text_col: str = "text", k: int = 20) -> list[str]:
    """Top-k lowercase words by frequency (deterministic: count desc, word asc)."""
    return [
        r["word"]
        for r in (
            texts.select(F.explode(F.split(F.lower(F.col(text_col)), r"[^a-z]+")).alias("word"))
            .where(F.length("word") >= 2)
            .groupBy("word")
            .count()
            .orderBy(F.desc("count"), F.asc("word"))
            .limit(k)
            .collect()
        )
    ]


# ------------------------------------------------------------ features
def with_context_features(segments: DataFrame) -> DataFrame:
    """Add doc-level + neighbor context columns JVM-side (window
    functions over the url partitioning the segment stage already
    produced) so the Arrow feature kernel stays strictly row-local —
    Arrow batch boundaries can split a document, so cross-row features
    must NOT be computed inside the Python stage (SURVEY §7.3
    determinism). Mirrors the reference selector's neighbor features
    (previous/next segment type + length, page-relative position)."""
    wd = Window.partitionBy("url")
    wo = Window.partitionBy("url").orderBy("segment_id")
    return (
        segments.withColumn("n_segs", F.count("*").over(wd))
        .withColumn("max_page", F.max("page").over(wd))
        .withColumn("mean_len", F.avg(F.length(F.coalesce("text", F.lit("")))).over(wd))
        .withColumn("prev_type", F.lag("segment_type").over(wo))
        .withColumn("next_type", F.lead("segment_type").over(wo))
        .withColumn("prev_len", F.lag(F.length(F.coalesce("text", F.lit("")))).over(wo))
        .withColumn("next_len", F.lead(F.length(F.coalesce("text", F.lit("")))).over(wo))
        .withColumn(
            "doc_font",
            F.avg(F.coalesce("font_size", F.lit(0.0))).over(wd)
            if "font_size" in segments.columns else F.lit(0.0),
        )
    )


def segment_features(pdf: pd.DataFrame, vocab: list[str]) -> np.ndarray:
    """Vectorized feature matrix for a batch of segment rows.

    Expects columns: text, page, segment_id, segment_type, boxes; uses
    the ``with_context_features`` columns when present (zeros when not).
    Feature families mirror the reference's 97-feature LightGBM scorer
    (text statistics, one-hot segment types, page-relative geometry,
    neighbor segments, vocabulary overlap); the linear model is the
    sandbox stand-in (lightgbm unavailable — documented in the module
    docstring).
    """
    n = len(pdf)
    X = np.zeros((n, N_FEATURES), dtype=np.float64)
    texts = pdf["text"].fillna("").astype(str)
    lens = texts.str.len().to_numpy(dtype=np.float64)
    lens1 = np.maximum(lens, 1)
    words = texts.str.split().str.len().to_numpy(dtype=np.float64)
    X[:, 0] = np.log1p(lens)
    X[:, 1] = texts.str.count(r"\d").to_numpy() / lens1
    X[:, 2] = texts.str.count(r"[A-Z]").to_numpy() / lens1
    X[:, 3] = texts.str.count(r"[^\w\s]").to_numpy() / lens1
    X[:, 4] = (pdf["segment_type"] == "Title").to_numpy(dtype=np.float64)
    X[:, 5] = (pdf["segment_type"] == "Text").to_numpy(dtype=np.float64)
    X[:, 6] = (pdf["page"] == 1).to_numpy(dtype=np.float64)
    X[:, 7] = 1.0 / (1.0 + pdf["segment_id"].to_numpy(dtype=np.float64))
    # geometry from boxes (zeros when absent)
    tops = np.zeros(n)
    lefts = np.zeros(n)
    widths = np.zeros(n)
    heights = np.zeros(n)
    nboxes = np.zeros(n)
    for i, bx in enumerate(pdf["boxes"].values):
        if bx is not None and len(bx) > 0:
            b0 = bx[0]
            ph = (b0["page_height"] or 792.0) or 792.0
            pw = (b0["page_width"] or 612.0) or 612.0
            tops[i] = (b0["top"] or 0.0) / ph
            lefts[i] = (b0["left"] or 0.0) / pw
            widths[i] = (b0["width"] or 0.0) / pw
            heights[i] = (b0["height"] or 0.0) / ph
            nboxes[i] = len(bx)
    X[:, 8] = tops
    X[:, 9] = lefts
    if vocab:
        vocab_set = "|".join(re.escape(w) for w in vocab)
        hits = texts.str.lower().str.count(vocab_set).to_numpy(dtype=np.float64)
        X[:, 10] = hits / np.maximum(words, 1)
        X[:, 11] = (hits > 0).astype(np.float64)
    # -------- extended text statistics
    X[:, 12] = np.log1p(words)
    X[:, 13] = lens / np.maximum(words, 1)  # mean word length
    X[:, 14] = texts.str.match(r"^\d").to_numpy(dtype=np.float64)
    X[:, 15] = texts.str.match(r"^[A-Z]").to_numpy(dtype=np.float64)
    X[:, 16] = texts.str.endswith(".").to_numpy(dtype=np.float64)
    X[:, 17] = texts.str.contains(":", regex=False).to_numpy(dtype=np.float64)
    X[:, 18] = texts.str.count(r"[A-Za-z]").to_numpy() / lens1
    X[:, 19] = (pdf["segment_type"] == "List item").to_numpy(dtype=np.float64)
    # -------- extended geometry
    X[:, 20] = widths
    X[:, 21] = heights
    X[:, 22] = np.clip(lefts + widths, 0, 2)          # right edge
    X[:, 23] = np.clip(tops + heights, 0, 2)          # bottom edge
    X[:, 24] = np.log1p(nboxes)
    X[:, 25] = np.abs(lefts + widths / 2.0 - 0.5)     # distance from center x
    # -------- doc-relative + neighbor context (with_context_features)
    if "n_segs" in pdf.columns:
        nsegs = np.maximum(pdf["n_segs"].to_numpy(dtype=np.float64), 1)
        sid = pdf["segment_id"].to_numpy(dtype=np.float64)
        X[:, 26] = sid / nsegs
        X[:, 27] = (sid == nsegs - 1).astype(np.float64)
        maxp = np.maximum(pdf["max_page"].to_numpy(dtype=np.float64), 1)
        X[:, 28] = pdf["page"].to_numpy(dtype=np.float64) / maxp
        X[:, 29] = lens / np.maximum(pdf["mean_len"].to_numpy(dtype=np.float64), 1)
        X[:, 30] = (pdf["prev_type"] == "Title").to_numpy(dtype=np.float64)
        X[:, 31] = (pdf["next_type"] == "Title").to_numpy(dtype=np.float64)
        X[:, 32] = np.log1p(pdf["prev_len"].fillna(0).to_numpy(dtype=np.float64))
        X[:, 33] = np.log1p(pdf["next_len"].fillna(0).to_numpy(dtype=np.float64))
    # -------- font statistics (reference scorer is largely font-driven)
    if "font_size" in pdf.columns:
        fsz = pdf["font_size"].fillna(0).to_numpy(dtype=np.float64)
        X[:, 34] = fsz
        X[:, 35] = pdf["bold_ratio"].fillna(0).to_numpy(dtype=np.float64)
        if "doc_font" in pdf.columns:
            dfz = np.maximum(pdf["doc_font"].fillna(0).to_numpy(dtype=np.float64), 1e-9)
            X[:, 36] = fsz / dfz
            X[:, 37] = (fsz > dfz * 1.2).astype(np.float64)
    return X


# ------------------------------------------------------------ model
def fit_logistic(X: np.ndarray, y: np.ndarray, epochs: int = 300, lr: float = 0.5) -> dict:
    """Deterministic batch-gradient logistic regression (driver-side).

    Retained as the legacy/linear scorer (score_matrix still loads
    persisted linear states); training now uses ``fit_gbdt``."""
    mu, sd = X.mean(axis=0), X.std(axis=0)
    sd[sd == 0] = 1.0
    Xs = (X - mu) / sd
    w = np.zeros(X.shape[1])
    b = 0.0
    # class weighting: label segments are rare
    pos = max(y.sum(), 1.0)
    neg = max(len(y) - y.sum(), 1.0)
    wpos, wneg = len(y) / (2 * pos), len(y) / (2 * neg)
    sw = np.where(y > 0.5, wpos, wneg)
    for _ in range(epochs):
        p = 1.0 / (1.0 + np.exp(-(Xs @ w + b)))
        g = (p - y) * sw
        w -= lr * (Xs.T @ g) / len(y)
        b -= lr * g.mean()
    return {"w": w.tolist(), "b": float(b), "mu": mu.tolist(), "sd": sd.tolist(),
            "n_features": int(X.shape[1])}


def _sample_weights(y: np.ndarray) -> np.ndarray:
    pos = max(y.sum(), 1.0)
    neg = max(len(y) - y.sum(), 1.0)
    wpos, wneg = len(y) / (2 * pos), len(y) / (2 * neg)
    return np.where(y > 0.5, wpos, wneg)


def _best_split(X: np.ndarray, g: np.ndarray, h: np.ndarray, idx: np.ndarray,
                lam: float, min_child: int) -> tuple | None:
    """Exact greedy (feature, threshold) maximizing the Newton gain
    G_L²/(H_L+λ) + G_R²/(H_R+λ) − G²/(H+λ). Deterministic: features
    scanned in order, thresholds ascending, strict improvement only."""
    G, H = g[idx].sum(), h[idx].sum()
    base = G * G / (H + lam)
    best = None
    best_gain = 1e-12
    for j in range(X.shape[1]):
        col = X[idx, j]
        order = np.argsort(col, kind="mergesort")
        vals = col[order]
        gs = np.cumsum(g[idx][order])
        hs = np.cumsum(h[idx][order])
        # split after position i (left = [:i+1]) only between distinct values
        cut = np.nonzero(vals[:-1] < vals[1:])[0]
        cut = cut[(cut + 1 >= min_child) & (len(idx) - cut - 1 >= min_child)]
        if len(cut) == 0:
            continue
        GL, HL = gs[cut], hs[cut]
        GR, HR = G - GL, H - HL
        gain = GL * GL / (HL + lam) + GR * GR / (HR + lam) - base
        i = int(np.argmax(gain))  # first max → lowest threshold wins ties
        if gain[i] > best_gain:
            best_gain = float(gain[i])
            thr = float((vals[cut[i]] + vals[cut[i] + 1]) / 2.0)
            best = (j, thr)
    return best


def _build_tree(X, g, h, idx, depth, lam, lr, min_child) -> dict:
    if depth > 0:
        split = _best_split(X, g, h, idx, lam, min_child)
        if split is not None:
            j, thr = split
            left = idx[X[idx, j] <= thr]
            right = idx[X[idx, j] > thr]
            return {
                "f": j, "t": thr,
                "l": _build_tree(X, g, h, left, depth - 1, lam, lr, min_child),
                "r": _build_tree(X, g, h, right, depth - 1, lam, lr, min_child),
            }
    G, H = g[idx].sum(), h[idx].sum()
    return {"v": float(-lr * G / (H + lam))}


def _eval_tree(X: np.ndarray, node: dict) -> np.ndarray:
    if "v" in node:
        return np.full(len(X), node["v"])
    mask = X[:, node["f"]] <= node["t"]
    out = np.empty(len(X))
    out[mask] = _eval_tree(X[mask], node["l"])
    out[~mask] = _eval_tree(X[~mask], node["r"])
    return out


def fit_gbdt(X: np.ndarray, y: np.ndarray, n_rounds: int = 40, lr: float = 0.3,
             max_depth: int = 2, lam: float = 1.0, min_child: int = 1) -> dict:
    """Deterministic Newton-boosted depth-2 trees (driver-side numpy).

    Matches the capacity class of the reference's LightGBM segment
    scorer (objective=binary, 97 features — shipped artifact at
    /root/reference/src/tests/resources/tenant_test/extraction_id/
    segment_predictor_model/model.model): depth-2 trees represent the
    pairwise feature interactions (font_size × page-position, …) a
    linear model provably cannot (a boosted-STUMP or logistic scorer is
    additive per feature). Training sets are tiny per extraction by the
    reference's design, so exact greedy splits on the driver are cheap.
    Deterministic end-to-end: no RNG, stable sorts, first-max
    tie-breaks. Early-stops when the boosted log-loss stops improving.
    """
    sw = _sample_weights(y)
    p0 = float(np.clip((y * sw).sum() / sw.sum(), 1e-6, 1 - 1e-6))
    base = float(np.log(p0 / (1 - p0)))
    f = np.full(len(y), base)
    trees: list[dict] = []
    prev_loss = np.inf
    for _ in range(n_rounds):
        p = 1.0 / (1.0 + np.exp(-f))
        g = (p - y) * sw
        h = np.maximum(p * (1.0 - p) * sw, 1e-12)
        tree = _build_tree(X, g, h, np.arange(len(y)), max_depth, lam, lr,
                           min_child)
        contrib = _eval_tree(X, tree)
        if not np.any(contrib):
            break
        f_new = f + contrib
        p = np.clip(1.0 / (1.0 + np.exp(-f_new)), 1e-12, 1 - 1e-12)
        loss = float(-(sw * (y * np.log(p) + (1 - y) * np.log(1 - p))).mean())
        if prev_loss - loss < 1e-7:
            break  # no improvement: DISCARD this round's tree and stop
        f = f_new
        trees.append(tree)
        prev_loss = loss
    return {"kind": "gbdt", "base": base, "trees": trees,
            "n_features": int(X.shape[1])}


def score_matrix(X: np.ndarray, state: dict) -> np.ndarray:
    nf = state.get("n_features")
    if nf is not None and nf != X.shape[1]:
        # persisted-model versioning (round-2 ADVICE): a model trained
        # on an older feature set must fail loudly, not shape-mismatch
        raise ValueError(
            f"stale selector model: trained with {nf} features, "
            f"scoring builds {X.shape[1]} — retrain the extraction"
        )
    if state.get("kind") == "gbdt":
        f = np.full(len(X), state["base"])
        for tree in state["trees"]:
            f += _eval_tree(X, tree)
        return 1.0 / (1.0 + np.exp(-f))
    w = np.asarray(state["w"])
    if len(w) != X.shape[1]:
        raise ValueError(
            f"stale selector model: trained with {len(w)} features, "
            f"scoring builds {X.shape[1]} — retrain the extraction"
        )
    mu = np.asarray(state["mu"])
    sd = np.asarray(state["sd"])
    Xs = (X - mu) / sd
    return 1.0 / (1.0 + np.exp(-(Xs @ w + state["b"])))


def train_selector(train_segments: DataFrame, vocab: list[str]) -> dict:
    """Fit the segment scorer on (segments, is_label) training rows."""
    font_cols = [c for c in ("font_size", "bold_ratio") if c in train_segments.columns]
    pdf = with_context_features(train_segments).select(
        "text", "page", "segment_id", "segment_type", "boxes", "is_label",
        *font_cols, *_CTX_COLS,
    ).toPandas()
    if pdf.empty or pdf["is_label"].sum() == 0:
        return {"w": [0.0] * N_FEATURES, "b": 0.0, "mu": [0.0] * N_FEATURES,
                "sd": [1.0] * N_FEATURES, "n_features": N_FEATURES,
                "vocab": vocab, "degenerate": True}
    X = segment_features(pdf, vocab)
    y = pdf["is_label"].to_numpy(dtype=np.float64)
    state = fit_gbdt(X, y)
    state["vocab"] = vocab
    state["degenerate"] = False
    return state


def score_segments(segments: DataFrame, state: dict, score_col: str = "score") -> DataFrame:
    """Broadcast-model scoring — one vectorized mapInPandas pass (J5).

    Context columns are added JVM-side first (window over the url
    partitioning the segment stage already produced — AQE coalesces the
    exchange when the layout matches) and dropped after scoring."""
    out_cols = [f.name for f in segments.schema.fields]
    segments = with_context_features(segments)
    spark = segments.sparkSession
    bc = spark.sparkContext.broadcast(state)
    cols = out_cols
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [f for f in segments.schema.fields if f.name in set(out_cols)]
        + [T.StructField(score_col, T.DoubleType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        st = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                out = pdf[cols].copy()
                out[score_col] = pd.Series([], dtype="float64")
                yield out
                continue
            X = segment_features(pdf, st.get("vocab") or [])
            s = score_matrix(X, st)
            out = pdf[cols].copy()
            out[score_col] = s
            yield out

    return segments.mapInPandas(run, schema=out_schema)


def best_segment_per_doc(scored: DataFrame, score_col: str = "score") -> DataFrame:
    """W1: rank-1 segment per url, deterministic tie-break."""
    w = Window.partitionBy("url").orderBy(F.desc(score_col), F.asc("segment_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
