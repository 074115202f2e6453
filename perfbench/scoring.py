"""The tender scoring configuration and its pandas reference.

Five criteria (linear x2, threshold, formula ``clip``, min_ratio) over the
generated bid columns. :func:`reference_scores` recomputes what
``Evaluator.evaluate`` must return with the reference library's semantics:
pandas statistics (sample std), weighted contributions normalised by the
total weight, ``rank(method="min", ascending=False)``.
"""

from __future__ import annotations

from typing import Dict, Optional

import numpy as np
import pandas as pd

QUALITY_BANDS = [(0, 60, 20.0), (60, 75, 50.0), (75, 90, 80.0),
                 (90, 101, 100.0)]
WARRANTY_FORMULA = "clip(100 - abs(value - mean) / std * 25, 0, 100)"

#: criterion column -> (kind, base weight)
CRITERIA = {
    "experience": ("linear", 0.15),
    "delivery_days": ("linear_lower", 0.10),
    "quality": ("threshold", 0.25),
    "warranty_months": ("formula", 0.10),
    "price": ("min_ratio", 0.40),
}


def whatif_weights(rng: np.random.Generator) -> Dict[str, float]:
    """Base weights, each scaled by a seeded factor in [0.5, 1.5)."""
    return {c: w * float(rng.uniform(0.5, 1.5))
            for c, (_, w) in CRITERIA.items()}


def evaluator(weights: Dict[str, float]):
    """An ``Evaluator`` with the five criteria at ``weights``."""
    from bid_evaluation_spark import Evaluator

    ev = Evaluator()
    for col, (kind, _) in CRITERIA.items():
        w = weights[col]
        if kind == "linear":
            ev.linear(col, w)
        elif kind == "linear_lower":
            ev.linear(col, w, higher_is_better=False)
        elif kind == "threshold":
            ev.threshold(col, w, thresholds=QUALITY_BANDS)
        elif kind == "formula":
            ev.formula(col, w, formula=WARRANTY_FORMULA)
        elif kind == "min_ratio":
            ev.min_ratio(col, w)
    return ev


def _criterion_score(kind: str, v: pd.Series) -> pd.Series:
    v = v.astype("float64")
    lo, hi = v.min(), v.max()
    if kind in ("linear", "linear_lower"):
        if hi == lo:
            return pd.Series(100.0, index=v.index)
        if kind == "linear":
            return (v - lo) / (hi - lo) * 100.0
        return (hi - v) / (hi - lo) * 100.0
    if kind == "threshold":
        out = pd.Series(0.0, index=v.index)
        for lower, upper, score in QUALITY_BANDS:
            out[(v >= lower) & (v < upper)] = score
        return out
    if kind == "formula":
        raw = 100.0 - (v - v.mean()).abs() / v.std() * 25.0
        return raw.clip(0.0, 100.0).fillna(0.0)
    if kind == "min_ratio":
        return lo / v * 100.0
    raise ValueError(kind)


def reference_scores(pdf: pd.DataFrame,
                     weights: Dict[str, float]) -> pd.DataFrame:
    """``bid_id, final_score, ranking`` for one tender."""
    acc = pd.Series(0.0, index=pdf.index)
    for col, (kind, _) in CRITERIA.items():
        acc = acc + _criterion_score(kind, pdf[col]) * weights[col]
    score = acc / sum(weights.values())
    return pd.DataFrame({
        "bid_id": pdf["bid_id"].to_numpy(),
        "final_score": score.to_numpy(),
        "ranking": score.rank(method="min", ascending=False)
                        .astype("int64").to_numpy(),
    })


def check_tender(rows, expected: pd.DataFrame) -> Optional[str]:
    """Compare collected ``Evaluator.evaluate`` rows with the reference;
    returns a description of the first mismatch, or None."""
    if len(rows) != len(expected):
        return f"{len(rows)} rows, expected {len(expected)}"
    got = pd.DataFrame([(r["bid_id"], r["final_score"], r["ranking"])
                        for r in rows],
                       columns=["bid_id", "final_score", "ranking"])
    if not got["ranking"].is_monotonic_increasing:
        return "result is not ordered by ranking"
    m = got.merge(expected, on="bid_id", suffixes=("", "_ref"))
    if len(m) != len(expected):
        return "bid ids differ"
    bad = m[(m["ranking"] != m["ranking_ref"])
            | ~np.isclose(m["final_score"], m["final_score_ref"],
                          rtol=1e-9, atol=1e-9)]
    if len(bad):
        return f"{len(bad)} bids differ, first: {bad.iloc[0].to_dict()}"
    return None
