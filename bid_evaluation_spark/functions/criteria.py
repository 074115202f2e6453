"""Criterion types as Spark Column-expression factories.

Reference semantics: ``bid_evaluation/criteria.py`` (six criterion classes that
transform one pandas Series into weighted 0–100-ish scores). Here each
criterion is a factory ``(Column, stats) -> Column`` producing a pure Spark
expression. The stats come from :mod:`..plans.stats` either as Columns
(window aggregates in the plain evaluator, broadcast-joined per-batch stats
in the batched one) or as collected literals (custom and fallback-formula
criteria, partitioned ranking, staged stages); either way every criterion's
scoring stays inside whole-stage codegen. Only :class:`CustomCriterion`
(user-supplied Python) leaves the JVM, and then via an Arrow-vectorized
``pandas_udf``.

Exact-parity notes (verified against the reference by execution — SURVEY §1.4):

- Detail scores are *weight-multiplied contributions*: every criterion returns
  ``score * weight`` (reference ``criteria.py:53,74,90,102,151,169``).
- Linear: min-max normalize ×100; ``higher_is_better=False`` normalizes the
  negated values ⇒ ``(max−v)/(max−min)·100``; constant column ⇒ 100 for all
  (``criteria.py:36-41``).
- Threshold: bands are ``[lower, upper)``; unmatched → 0.0; on overlap the
  **last** matching tuple wins (masks applied sequentially, ``criteria.py:70-72``)
  — so the ``when()`` chain is built with later tuples taking precedence.
- Direct: rescale by ``output_scale/input_scale`` only when they differ;
  **no clipping** (a 150 committee score stays 150, ``criteria.py:83-90``).
- MinimumRatio: ``min/value·100``; requires strictly positive values — the
  reference produces NaN / crashes on zeros (``IntCastingNaNError`` at ranking,
  SURVEY §1.4-8); this engine uses ``try_divide`` so a zero denominator yields
  null cleanly (documented divergence).
- Formula: see :mod:`.formula` — translated to a native expression when
  possible, per-row errors → 0.0, then clipped to [0,100] (``criteria.py:123-151``).
- Custom: user fn ``(values: pd.Series, stats: dict) -> pd.Series``, signature
  preserved exactly; engine passes the collected stats dict into the UDF
  closure (``criteria.py:154-169``).
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from typing import Any, Callable, Dict, Mapping, Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf

#: statistics may be collected scalars (inlined literals that Catalyst
#: constant-folds) or Columns (plain evaluate: whole-frame window aggregates;
#: batched evaluate: per-batch stats broadcast-joined back as columns).
#: Criterion expressions are written uniformly against both.
Stats = Mapping[str, Any]


def _lit(v: Any) -> Column:
    """A double literal/Column; None (empty or all-null column) stays null."""
    if isinstance(v, Column):
        return v
    return F.lit(None).cast("double") if v is None else F.lit(float(v))


#: the reference's full statistics bundle (``criteria.py:19-29``)
ALL_STAT_KEYS = ("min", "max", "mean", "median", "std", "q25", "q75")


class CriterionBase(ABC):
    """Base criterion: ``(name, weight, **config)`` + a Column factory.

    Mirrors the reference's ``CriterionBase`` surface (``criteria.py:10-41``)
    but produces lazy Column expressions instead of eager Series.
    """

    #: whether :meth:`weighted_score` needs the stats bundle (lets the planner
    #: skip aggregating columns nobody's stats are read from — it still
    #: computes them for :meth:`Evaluator.get_statistics` parity).
    needs_stats = True

    #: the statistics this criterion's expression actually reads — the
    #: ``stats_mode="required"`` scale path aggregates only the union of these
    #: per column (an exact percentile buffers the whole column, so skipping
    #: unused quantiles is a real win on wide fact tables). Conservative
    #: default: everything.
    required_stat_keys: Sequence[str] = ALL_STAT_KEYS

    def __init__(self, name: str, weight: float, **config: Any):
        self.name = name
        self.weight = weight
        self.config = config
        # populated by the evaluator from the stats job (in evaluate() or
        # on the first get_statistics()), for parity with reference
        # criteria._statistics
        self._statistics: Dict[str, Optional[float]] = {}

    @abstractmethod
    def score(self, col: Column, stats: Stats) -> Column:
        """Unweighted score expression for one column."""

    def weighted_score(self, col: Column, stats: Stats) -> Column:
        """Weighted contribution — what lands in ``score_{name}`` columns."""
        return (self.score(col, stats) * F.lit(float(self.weight))).cast("double")

    @staticmethod
    def normalize(col: Column, mn: Any, mx: Any, scale: float = 100.0) -> Column:
        """Min-max normalize to [0, scale]; constant column ⇒ ``scale`` for all
        (reference ``criteria.py:36-41``). Written as a ``when`` expression so
        stats may be literals (constant-folded) or per-batch columns."""
        lo, hi = _lit(mn), _lit(mx)
        return (
            F.when(lo.isNull() | hi.isNull() | (hi == lo), F.lit(float(scale)))
            .otherwise((col - lo) / (hi - lo) * F.lit(float(scale)))
        )


class LinearCriterion(CriterionBase):
    """Min-max linear normalization ×100 (reference ``criteria.py:44-56``)."""

    required_stat_keys = ("min", "max")

    def score(self, col: Column, stats: Stats) -> Column:
        higher_is_better = self.config.get("higher_is_better", True)
        lo, hi = _lit(stats["min"]), _lit(stats["max"])
        if higher_is_better:
            return self.normalize(col.cast("double"), lo, hi)
        # reference normalizes the negated series: min(-v) = -max(v),
        # max(-v) = -min(v) ⇒ (max - v) / (max - min) * 100
        return (
            F.when(lo.isNull() | hi.isNull() | (hi == lo), F.lit(100.0))
            .otherwise((hi - col.cast("double")) / (hi - lo) * F.lit(100.0))
        )


class ThresholdCriterion(CriterionBase):
    """Score bands ``[(lower, upper, score), ...]`` (reference ``criteria.py:59-74``).

    Bands are half-open ``[lower, upper)``; values matching no band score 0.0;
    on overlapping bands the last listed tuple wins — the reference applies
    masks sequentially and later writes overwrite earlier ones, so the
    ``when`` chain here is built by wrapping earlier bands in ``otherwise``.
    """

    needs_stats = False
    required_stat_keys = ()

    def score(self, col: Column, stats: Stats) -> Column:
        thresholds: Sequence[Tuple[float, float, float]] = self.config.get("thresholds", [])
        expr: Column = F.lit(0.0)
        v = col.cast("double")
        for lower, upper, band_score in thresholds:
            mask = (v >= F.lit(float(lower))) & (v < F.lit(float(upper)))
            expr = F.when(mask, F.lit(float(band_score))).otherwise(expr)
        return expr


class DirectScoreCriterion(CriterionBase):
    """Pre-evaluated score, optionally rescaled, never clipped
    (reference ``criteria.py:77-90``)."""

    needs_stats = False
    required_stat_keys = ()

    def score(self, col: Column, stats: Stats) -> Column:
        input_scale = self.config.get("input_scale", 100)
        output_scale = self.config.get("output_scale", 100)
        v = col.cast("double")
        if input_scale != output_scale:
            v = v * F.lit(float(output_scale) / float(input_scale))
        return v


class MinimumRatioCriterion(CriterionBase):
    """``(min_value / value) * 100`` (reference ``criteria.py:93-102``).

    Precondition (inherited from the reference): strictly positive values.
    Divergence: a zero denominator yields null (via ``try_divide``) instead of
    the reference's NaN→``IntCastingNaNError`` crash (SURVEY §1.4-8).
    """

    required_stat_keys = ("min",)

    def score(self, col: Column, stats: Stats) -> Column:
        return F.try_divide(_lit(stats["min"]), col.cast("double")) * F.lit(100.0)


class FormulaCriterion(CriterionBase):
    """Math-expression criterion (reference ``criteria.py:105-151``).

    The formula may reference ``value``, the statistics
    ``min/max/mean/median/std``, user variables, and the functions
    ``abs, min, max, sqrt, log, log10, exp, clip``. Per-row evaluation errors
    map to 0.0; results are clipped to [0, 100]; then × weight.

    Execution strategy: translate the formula's AST to a native Column
    expression (:func:`..functions.formula.formula_to_column`) so it runs
    JVM-side inside codegen; formulas outside the translatable grammar fall
    back to an Arrow-batched pandas UDF interpreting the same restricted AST
    (the reference's simpleeval loop is per-row Python — ``criteria.py:136-149``).
    """

    def __init__(self, name: str, weight: float, formula: str = "value",
                 variables: Optional[dict] = None, **config: Any):
        super().__init__(name, weight, **config)
        self.formula = formula
        self.variables = variables or {}

    @property
    def required_stat_keys(self):  # type: ignore[override]
        # the reference formula namespace exposes exactly these five stats
        # (criteria.py:137-145); a bare-word scan over-includes harmlessly
        # when e.g. `min(` is the function form
        import re as _re

        return tuple(
            k for k in ("min", "max", "mean", "median", "std")
            if _re.search(rf"\b{k}\b", self.formula)
        )

    @property
    def translated(self) -> bool:
        """True when this formula runs on the native Column path; False
        when :meth:`score` will fall back to the pandas-UDF interpreter
        (correct either way — this is the observability surface for the
        silent slow path)."""
        from .formula import formula_translates

        if self.config.get("force_udf", False):
            return False
        return formula_translates(self.formula, self.variables)

    def score(self, col: Column, stats: Stats) -> Column:
        from .formula import formula_score_column

        return formula_score_column(
            self.formula, col, stats, self.variables,
            force_udf=self.config.get("force_udf", False),
        )


class CustomCriterion(CriterionBase):
    """User-supplied ``(values: pd.Series, stats: dict) -> pd.Series`` function
    (reference ``criteria.py:154-169``), executed as an Arrow-vectorized
    pandas UDF with the collected stats dict captured in the closure —
    the user function body is unchanged from the reference API."""

    def __init__(self, name: str, weight: float,
                 evaluation_function: Callable[[pd.Series, Dict], pd.Series],
                 **config: Any):
        super().__init__(name, weight, **config)
        self.evaluation_function = evaluation_function

    def score(self, col: Column, stats: Stats) -> Column:
        fn = self.evaluation_function
        stats_dict = dict(stats)

        @pandas_udf("double")
        def _score(values: pd.Series) -> pd.Series:
            return pd.Series(fn(values, stats_dict)).astype("float64")

        return _score(col)


# === Built-in named custom functions (reference ``evaluator.py:239-251``) ===
#
# The reference exposes these as pandas lambdas behind
# ``Evaluator.custom(column, weight, '<name>')``; here they are native Column
# expressions — no UDF, no Python in the hot path.

def _builtin_proximity_to_mean(col: Column, stats: Stats) -> Column:
    # (100 - abs((v - mean) / mean) * 100).clip(lower=0)
    m = _lit(stats["mean"])
    return F.greatest(F.lit(100.0) - F.abs((col.cast("double") - m) / m) * F.lit(100.0), F.lit(0.0))


def _builtin_proximity_to_median(col: Column, stats: Stats) -> Column:
    m = _lit(stats["median"])
    return F.greatest(F.lit(100.0) - F.abs((col.cast("double") - m) / m) * F.lit(100.0), F.lit(0.0))


def _builtin_log_scale(col: Column, stats: Stats) -> Column:
    # (log(v + 1) / log(max + 1)) * 100
    mx = _lit(stats["max"])
    return F.log(col.cast("double") + F.lit(1.0)) / F.log(mx + F.lit(1.0)) * F.lit(100.0)


def _builtin_inverse_squared(col: Column, stats: Stats) -> Column:
    # ((min / v) ** 2) * 100
    mn = _lit(stats["min"])
    return F.pow(F.try_divide(mn, col.cast("double")), F.lit(2.0)) * F.lit(100.0)


BUILTIN_CUSTOM: Dict[str, Callable[[Column, Stats], Column]] = {
    "proximity_to_mean": _builtin_proximity_to_mean,
    "proximity_to_median": _builtin_proximity_to_median,
    "log_scale": _builtin_log_scale,
    "inverse_squared": _builtin_inverse_squared,
}


_BUILTIN_STAT_KEYS = {
    "proximity_to_mean": ("mean",),
    "proximity_to_median": ("median",),
    "log_scale": ("max",),
    "inverse_squared": ("min",),
}


class BuiltinCustomCriterion(CriterionBase):
    """String-named built-in custom function resolved to a native expression."""

    def __init__(self, name: str, weight: float, func_name: str, **config: Any):
        if func_name not in BUILTIN_CUSTOM:
            raise ValueError(
                f"Unknown built-in function: {func_name}. "
                f"Available: {list(BUILTIN_CUSTOM.keys())}"
            )
        super().__init__(name, weight, **config)
        self.func_name = func_name

    @property
    def required_stat_keys(self):  # type: ignore[override]
        return _BUILTIN_STAT_KEYS[self.func_name]

    def score(self, col: Column, stats: Stats) -> Column:
        return BUILTIN_CUSTOM[self.func_name](col, stats)


class TemplateCriterion(CriterionBase):
    """Pre-built scoring template resolved to a native expression
    (reference ``custom_templates.py``; demo config vocabulary ``template``)."""

    def __init__(self, name: str, weight: float, template: str, **params: Any):
        super().__init__(name, weight, template=template, **params)
        from . import templates as _t

        if template not in _t.TEMPLATES:
            raise ValueError(f"Unknown template: {template}")
        self.template = template
        self.params = params

    @property
    def needs_stats(self) -> bool:  # type: ignore[override]
        from . import templates as _t

        return _t.TEMPLATES[self.template]["needs_stats"]

    @property
    def required_stat_keys(self):  # type: ignore[override]
        from . import templates as _t

        return _t.TEMPLATES[self.template].get(
            "stat_keys", ALL_STAT_KEYS if self.needs_stats else ()
        )

    def score(self, col: Column, stats: Stats) -> Column:
        from . import templates as _t

        return _t.apply_template(self.template, col, stats, **self.params)
