"""Plain (single-stage) evaluation engine.

Reference: ``bid_evaluation/evaluator.py`` — fluent interface + config
factories building a ``{column: criterion}`` map, then an eager pandas
``evaluate()``. This engine keeps the identical builder surface (same method
names, same config vocabulary, same error messages) and re-expresses
``evaluate`` as a lazy Spark plan:

1. the statistics each criterion reads (``required_stat_keys``) as
   whole-frame window aggregates (``min/max/avg/stddev_samp`` and one fused
   ``percentile(c, array(.25,.5,.75))``) over ``Window.partitionBy()`` —
   they run in the single partition the ``RANK()`` window of step 4 gathers
   anyway, so ``evaluate()`` itself runs no Spark job (the reference runs
   one pandas pass per criterion — ``evaluator.py:291-295``),
2. all weighted score columns as Column expressions over those statistics
   in a single projection (``score_{name}`` columns are weight-multiplied
   contributions, reference ``evaluator.py:294-295``),
3. ``final_score = sum(weighted scores) / total_weight`` when
   ``normalize_weights`` (default), else the raw sum (``evaluator.py:299-312``),
4. ``ranking`` via ``RANK() OVER (ORDER BY final_score DESC)`` — exactly
   pandas ``rank(ascending=False, method='min')`` (``evaluator.py:315-317``),
5. result ordered by ranking (``evaluator.py:319``).

The whole evaluation is one plan with one single-partition exchange, and
runs only when the caller acts on the result; the statistics helper columns
are dropped before ranking, so the result schema is unchanged. The bundle
:meth:`Evaluator.get_statistics` reports costs one fused stats job, run on
its first call. Where collected stat values are needed — a
``CustomCriterion`` pandas UDF, a formula on the interpreter fallback, or
``rank_partition_by`` (no global exchange to ride) — that job runs inside
``evaluate()`` and the values are inlined as literals (SURVEY §3
lifecycle, §4.2).

Scale note: a global ``Window.orderBy`` ranks through a single-partition
exchange — fine for one tender's bid table, wrong for scoring millions of
tenders at once. For that, :meth:`Evaluator.evaluate_batched` evaluates every
batch/tender in ONE job: per-batch stats via ``groupBy`` (one shuffle),
broadcast-joined back, rank windows partitioned by the batch key — no global
exchange, no driver loop.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Dict, Optional, Union

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.criteria import (
    BuiltinCustomCriterion,
    CriterionBase,
    CustomCriterion,
    DirectScoreCriterion,
    FormulaCriterion,
    LinearCriterion,
    MinimumRatioCriterion,
    TemplateCriterion,
    ThresholdCriterion,
)
from .stats import STAT_KEYS, compute_stats, grouped_stats_df, window_stats


class Evaluator:
    """Weighted multi-criteria scoring engine with fluent + config interfaces.

    Builder parity with reference ``Evaluator`` (``evaluator.py:21-273``);
    execution is lazy Spark. Criteria are keyed by **column name** exactly like
    the reference (``evaluator.py:255-257``) — adding a second criterion on the
    same column silently replaces the first (documented reference trap,
    SURVEY §1.4-1).
    """

    def __init__(self, normalize_weights: bool = True):
        self.criteria: Dict[str, CriterionBase] = {}
        self.normalize_weights = normalize_weights
        # (frame, criteria, keys_by_column, approx) of the last evaluate
        # until its statistics bundle is collected
        self._pending_stats: Optional[tuple] = None

    # === Factory methods (from config) — reference evaluator.py:34-112 ===

    @classmethod
    def from_config(cls, config: Dict[str, Dict[str, Any]],
                    normalize_weights: bool = True) -> "Evaluator":
        """Build from ``{column: {'type': ..., 'weight': ..., ...}}``.

        Same five string type tags and error behavior as the reference
        (``evaluator.py:34-76``; ``custom`` is deliberately config-unsupported
        there), extended with the demos' ``template`` vocabulary
        (``demos/streamlit_demo.py:428-479``).
        """
        evaluator = cls(normalize_weights=normalize_weights)

        for column, params in config.items():
            params = dict(params)
            criterion_type = params.pop("type")
            weight = params.pop("weight")
            name = params.pop("name", column)

            if criterion_type == "linear":
                criterion: CriterionBase = LinearCriterion(name, weight, **params)
            elif criterion_type == "threshold":
                thresholds = [tuple(t) for t in params.pop("thresholds", [])]
                criterion = ThresholdCriterion(name, weight, thresholds=thresholds, **params)
            elif criterion_type == "direct":
                criterion = DirectScoreCriterion(name, weight, **params)
            elif criterion_type == "min_ratio":
                criterion = MinimumRatioCriterion(name, weight, **params)
            elif criterion_type == "formula":
                formula_str = params.pop("formula", "value")
                variables = params.pop("variables", {})
                criterion = FormulaCriterion(name, weight, formula=formula_str,
                                             variables=variables, **params)
            elif criterion_type == "template":
                template = params.pop("template")
                criterion = TemplateCriterion(name, weight, template, **params)
            else:
                raise ValueError(f"Unknown criterion type: {criterion_type}")

            evaluator.add_criterion(column, criterion)

        return evaluator

    @classmethod
    def from_yaml(cls, filepath: str, normalize_weights: bool = True) -> "Evaluator":
        """Build from a YAML file with a top-level ``criteria:`` key
        (reference ``evaluator.py:78-99``)."""
        import yaml

        with open(filepath, "r") as f:
            data = yaml.safe_load(f)
        return cls.from_config(data.get("criteria", {}), normalize_weights)

    @classmethod
    def from_json(cls, filepath: str, normalize_weights: bool = True) -> "Evaluator":
        """Build from a JSON file with a top-level ``criteria`` key
        (reference ``evaluator.py:101-112``)."""
        with open(filepath, "r") as f:
            data = json.load(f)
        return cls.from_config(data.get("criteria", {}), normalize_weights)

    # === Fluent interface — reference evaluator.py:116-237 ===

    def linear(self, column: str, weight: float, name: Optional[str] = None,
               higher_is_better: bool = True) -> "Evaluator":
        self.add_criterion(column, LinearCriterion(name or column, weight,
                                                   higher_is_better=higher_is_better))
        return self

    def threshold(self, column: str, weight: float, thresholds: list,
                  name: Optional[str] = None) -> "Evaluator":
        self.add_criterion(column, ThresholdCriterion(name or column, weight,
                                                      thresholds=thresholds))
        return self

    def direct(self, column: str, weight: float, name: Optional[str] = None,
               input_scale: float = 100) -> "Evaluator":
        self.add_criterion(column, DirectScoreCriterion(name or column, weight,
                                                        input_scale=input_scale))
        return self

    def min_ratio(self, column: str, weight: float, name: Optional[str] = None) -> "Evaluator":
        self.add_criterion(column, MinimumRatioCriterion(name or column, weight))
        return self

    def formula(self, column: str, weight: float, formula: str = "value",
                variables: Optional[dict] = None, name: Optional[str] = None) -> "Evaluator":
        self.add_criterion(column, FormulaCriterion(name or column, weight,
                                                    formula=formula, variables=variables))
        return self

    def custom(self, column: str, weight: float,
               func: Union[str, Callable, None] = None,
               name: Optional[str] = None, **kwargs: Any) -> "Evaluator":
        """Custom criterion: a callable ``(values: pd.Series, stats) -> pd.Series``
        (runs as an Arrow-vectorized pandas UDF) or a built-in name
        (``proximity_to_mean``/``proximity_to_median``/``log_scale``/
        ``inverse_squared`` — native expressions, reference ``evaluator.py:239-251``)."""
        if isinstance(func, str):
            self.add_criterion(column, BuiltinCustomCriterion(name or column, weight,
                                                              func, **kwargs))
        else:
            self.add_criterion(column, CustomCriterion(name or column, weight,
                                                       func, **kwargs))
        return self

    def template(self, column: str, weight: float, template: str,
                 name: Optional[str] = None, **params: Any) -> "Evaluator":
        """Pre-built scoring template criterion (demo vocabulary extension)."""
        self.add_criterion(column, TemplateCriterion(name or column, weight,
                                                     template, **params))
        return self

    # === Core methods — reference evaluator.py:255-273 ===

    def add_criterion(self, column: str, criterion: CriterionBase) -> None:
        self.criteria[column] = criterion

    def remove_criterion(self, column: str) -> None:
        if column in self.criteria:
            del self.criteria[column]

    def get_total_weight(self) -> float:
        return sum(c.weight for c in self.criteria.values())

    def get_normalized_weights(self) -> Dict[str, float]:
        total = self.get_total_weight()
        if total == 0:
            return {}
        return {name: c.weight / total for name, c in self.criteria.items()}

    # === Evaluation — reference evaluator.py:275-319 ===

    def _check_columns(self, df: DataFrame) -> None:
        existing = set(df.columns)
        for column in self.criteria:
            if column not in existing:
                # reference raises a plain KeyError at bids_df[column]
                # (evaluator.py:292) — preserve the exception type
                raise KeyError(column)

    def _final_score_expr(self, weighted: list) -> Column:
        if not weighted:
            return F.lit(0).cast("double")
        total = weighted[0]
        for w in weighted[1:]:
            total = total + w
        if self.normalize_weights:
            total_weight = self.get_total_weight()
            if total_weight > 0:
                return (total / F.lit(float(total_weight))).cast("double")
            return F.lit(0).cast("double")
        return total.cast("double")

    def evaluate(self, df: DataFrame, include_details: bool = True,
                 rank_partition_by: Optional[str] = None,
                 stats_mode: str = "full",
                 approx_percentiles: bool = False) -> DataFrame:
        """Evaluate all bids → scored, ranked, sorted DataFrame (lazy).

        Args:
            df: bid table (one row per bid).
            include_details: include per-criterion ``score_{name}`` columns.
            rank_partition_by: optional column to partition the ranking window
                by (avoids the global single-partition exchange when the table
                holds many independent evaluation batches).
            stats_mode: ``"full"`` (default — reference parity: every
                criterion column gets the whole 7-stat bundle, and
                :meth:`get_statistics` reports it) or ``"required"`` (the
                scale path: aggregate only the stats each criterion's
                expression reads — identical scores, cheaper stats job,
                partial :meth:`get_statistics`).
            approx_percentiles: compute median/q25/q75 with
                ``percentile_approx`` (O(1) sketch state per column) instead
                of the reference-exact ``percentile`` (which buffers every
                value) — the 100-TB quantile path; ≤0.01% rank error,
                min/max/mean/std stay exact. Documented divergence.
        """
        if stats_mode not in ("full", "required"):
            raise ValueError(
                f"stats_mode must be 'full' or 'required', got: {stats_mode}"
            )
        self._check_columns(df)

        required = {column: set(c.required_stat_keys)
                    for column, c in self.criteria.items()}
        keys_by_column = required if stats_mode == "required" else None
        self._pending_stats = (df, list(self.criteria.items()),
                               keys_by_column, approx_percentiles)
        # per-partition ranking has no global single-partition exchange for
        # window stats to ride, so it keeps the collected-literal route
        if rank_partition_by is not None or any(
                _needs_stat_values(c) for c in self.criteria.values()):
            result, helpers = df, []
            stats = self._collect_statistics()
        else:
            # the collected bundle waits for the first get_statistics()
            result, stats, helpers = window_stats(
                df, required, approx_percentiles=approx_percentiles)

        score_exprs: Dict[str, Column] = {}
        for column, criterion in self.criteria.items():
            score_exprs[f"score_{criterion.name}"] = criterion.weighted_score(
                F.col(column), stats[column]
            )

        if include_details and score_exprs:
            result = result.withColumns(score_exprs)
            weighted = [F.col(name) for name in score_exprs]
        else:
            weighted = list(score_exprs.values())

        result = result.withColumn("final_score", self._final_score_expr(weighted))
        if helpers:
            result = result.drop(*helpers)

        order = [F.desc("final_score")]
        if rank_partition_by is not None:
            w = Window.partitionBy(rank_partition_by).orderBy(*order)
            result = result.withColumn("ranking", F.rank().over(w).cast("long"))
            return result.orderBy("ranking")
        w = Window.orderBy(*order)
        result = result.withColumn("ranking", F.rank().over(w).cast("long"))
        # ranking ascending ≡ final_score descending (rank derives from this
        # exact sort; desc puts nulls last, as does ranking) — sorting on the
        # score lets Spark elide the second sort against the window's output
        # ordering (measured 18% on the sf0.1 rank query)
        return result.orderBy(F.desc("final_score"))

    def evaluate_batched(self, df: DataFrame, batch_col: str,
                         include_details: bool = True) -> DataFrame:
        """Evaluate MANY independent bid tables (tenders/batches) in one job.

        The 100-TB path: per-batch statistics via one ``groupBy`` shuffle,
        broadcast-joined back onto the rows (the stats side has one row per
        batch — tiny relative to the fact table), scoring expressions read
        stats from columns instead of collected literals, and all windows
        partition by the batch key so no global exchange appears anywhere.

        ``CustomCriterion`` (user ``(values, stats) -> scores`` functions,
        which may be SET-dependent — e.g. rank within the batch) runs as ONE
        ``applyInPandas`` over the batch key: each group is a whole batch, so
        the function sees exactly the rows and pandas-computed statistics it
        would see in a per-batch :meth:`evaluate` loop (bit-identical stats —
        the reference computes them with pandas too). Cost: one extra
        exchange on the batch key, the same partitioning the rank window
        needs anyway.
        """
        self._check_columns(df)
        custom = {col: c for col, c in self.criteria.items()
                  if isinstance(c, CustomCriterion)}
        native = {col: c for col, c in self.criteria.items() if col not in custom}

        stat_cols = list(native.keys())
        result = df
        if stat_cols:
            stats_df = grouped_stats_df(df, batch_col, stat_cols)
            result = df.join(F.broadcast(stats_df), on=batch_col, how="left")

        score_exprs: Dict[str, Column] = {}
        for column, criterion in native.items():
            col_stats = {k: F.col(f"{column}__{k}") for k in STAT_KEYS}
            score_exprs[f"score_{criterion.name}"] = criterion.weighted_score(
                F.col(column), col_stats
            )

        custom_names = [f"score_{c.name}" for c in custom.values()]
        if (include_details or custom) and score_exprs:
            result = result.withColumns(score_exprs)
            weighted = [F.col(name) for name in score_exprs]
        else:
            weighted = list(score_exprs.values())

        stats_cols_flat = [f"{c}__{k}" for c in dict.fromkeys(stat_cols)
                           for k in STAT_KEYS]
        if custom:
            # native scores are materialized columns by now — drop the
            # broadcast stats columns BEFORE the Arrow exchange so the Python
            # worker never serializes 7×|native| per-row-constant columns
            result = result.drop(*stats_cols_flat)
            items = [
                (col, f"score_{c.name}", float(c.weight), c.evaluation_function)
                for col, c in custom.items()
            ]
            result = _apply_custom_batched(result, batch_col, items)
            weighted = weighted + [F.col(n) for n in custom_names]

        result = result.withColumn("final_score", self._final_score_expr(weighted))
        w = Window.partitionBy(batch_col).orderBy(F.desc("final_score"))
        result = result.withColumn("ranking", F.rank().over(w).cast("long"))

        drop_cols = list(stats_cols_flat)
        if not include_details:
            drop_cols += list(score_exprs) + custom_names
        return result.drop(*drop_cols).orderBy(batch_col, "ranking")

    # === Introspection — reference evaluator.py:321-344 ===

    def get_statistics(self) -> Dict[str, Dict[str, Any]]:
        """Statistics of the last ``evaluate`` call, keyed by criterion name
        (reference ``evaluator.py:321-329``).

        When that call read its statistics as window Columns, the first call
        here runs the one fused stats job over the same input and caches
        the bundle on the criteria."""
        if self._pending_stats is not None:
            self._collect_statistics()
        statistics = {}
        for column, criterion in self.criteria.items():
            if criterion._statistics:
                statistics[criterion.name] = criterion._statistics
        return statistics

    def _collect_statistics(self) -> Dict[str, Dict[str, Any]]:
        """Run the pending fused stats job and store each criterion's
        bundle on it (reference ``criteria._statistics``)."""
        df, criteria, keys_by_column, approx = self._pending_stats
        self._pending_stats = None
        stats = compute_stats(df, [column for column, _ in criteria],
                              keys_by_column=keys_by_column,
                              approx_percentiles=approx)
        for column, criterion in criteria:
            criterion._statistics = dict(stats[column])
        return stats

    def summary(self) -> pd.DataFrame:
        """Driver-side summary of configured criteria (reference
        ``evaluator.py:331-344``) — config metadata, so plain pandas."""
        data = []
        total = self.get_total_weight()
        for column, criterion in self.criteria.items():
            data.append({
                "column": column,
                "criterion_name": criterion.name,
                "type": type(criterion).__name__,
                "weight": criterion.weight,
                "normalized_weight": criterion.weight / total if total > 0 else 0,
            })
        return pd.DataFrame(data)


#: criteria whose expressions accept Column stats (``evaluate_batched``
#: scores them that way too)
_COLUMN_STAT_CRITERIA = (
    BuiltinCustomCriterion, DirectScoreCriterion, LinearCriterion,
    MinimumRatioCriterion, TemplateCriterion, ThresholdCriterion,
)


def _needs_stat_values(criterion: CriterionBase) -> bool:
    """Whether ``criterion`` must see collected stat values, not Columns."""
    if isinstance(criterion, FormulaCriterion):
        # the pandas-UDF interpreter fallback closes over the stat values
        return not criterion.translated
    # a CustomCriterion's pandas UDF closes over the stats dict; criteria
    # outside this package may do Python arithmetic on the values
    return not isinstance(criterion, _COLUMN_STAT_CRITERIA)


def _apply_custom_batched(df: DataFrame, batch_col: str, items,
                          active_null_col: Optional[str] = None) -> DataFrame:
    """Score ``CustomCriterion`` columns per batch with ONE ``applyInPandas``.

    Each group handed to the pandas function is a complete batch, so the user
    ``(values, stats) -> scores`` function sees exactly what a per-batch
    :meth:`Evaluator.evaluate` would give it: the batch's own rows, and the
    reference's seven-stat bundle computed over those rows with pandas
    (``min/max/mean/median/std(ddof=1)/q25/q75`` — reference
    ``criteria.py:19-29``; numerically equivalent to the Spark exact aggs the
    non-custom path uses: ``stddev_samp`` ≡ ddof=1, exact ``percentile`` ≡
    pandas linear-interpolated ``quantile``).

    Args:
        items: ``(input column, output score column, weight, user fn)``
            tuples — one per custom criterion.
        active_null_col: staged-pipeline hook — when set, only rows where
            this column is null are scored (statistics computed over those
            rows only); eliminated rows keep a null score, matching the
            ``F.when(active, ...)`` contract of native staged scoring.

    Scale shape: one exchange on the batch key — the same partitioning the
    downstream rank window requires, so AQE reuses it; state is bounded by the
    largest single batch (identical bound to the rank window itself).
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        list(df.schema.fields)
        + [StructField(out, DoubleType()) for _, out, _, _ in items]
    )

    def _score_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        mask = pdf[active_null_col].isna() if active_null_col else None
        for col, out, weight, fn in items:
            vals = (pdf[col] if mask is None else pdf.loc[mask, col]).astype(
                "float64"
            )
            out_vals = pd.Series(float("nan"), index=pdf.index, dtype="float64")
            if len(vals):
                stats = {
                    "min": vals.min(), "max": vals.max(), "mean": vals.mean(),
                    "median": vals.median(), "std": vals.std(),
                    "q25": vals.quantile(0.25), "q75": vals.quantile(0.75),
                }
                scored = (
                    pd.Series(fn(vals, stats)).astype("float64").to_numpy()
                    * weight
                )
                if mask is None:
                    out_vals = pd.Series(scored, index=pdf.index)
                else:
                    out_vals[mask.to_numpy()] = scored
            pdf[out] = out_vals
        return pdf

    return df.groupBy(batch_col).applyInPandas(_score_batch, schema=schema)
