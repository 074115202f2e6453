"""Fused per-column statistics aggregation.

Reference semantics: ``bid_evaluation/criteria.py:19-29`` computes, per criterion
column, ``min, max, mean, median, std, q25, q75`` with pandas — i.e. *sample*
standard deviation (ddof=1) and linearly-interpolated quantiles.

Spark mapping (SURVEY §2.4-A1, §1.4-17):
- ``std``      → ``stddev_samp`` (ddof=1 parity),
- ``median``   → exact ``percentile(col, 0.5)`` (linear interpolation parity;
  deliberately NOT ``percentile_approx``),
- ``q25/q75``  → exact ``percentile(col, .25/.75)``.

Where the reference runs one full pandas pass per criterion (even when two
criteria read the same column), this engine batches every requested column's
seven statistics into ONE ``df.agg(...)`` job and collects a single row
(:func:`compute_stats`). The plain evaluator reads its statistics as Columns
instead: :func:`window_stats` evaluates the same aggregates as whole-frame
window functions inside the single partition its global ``RANK()`` window
gathers anyway, so scoring runs no stats job; the collected bundle is
computed only when :meth:`Evaluator.get_statistics` asks for it.

At scale: the agg is a partial (map-side combined) aggregation over a columnar
scan that prunes to exactly the requested columns — O(|columns|) state per
task, no shuffle of row data, a single 1-row exchange.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Mapping, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window, WindowSpec, functions as F

from bid_evaluation_spark.dispatch import local_cap

STAT_KEYS = ("min", "max", "mean", "median", "std", "q25", "q75")


def _stat_exprs(col: Column, prefix: str) -> List[Column]:
    """The seven reference statistics for one column, plus nothing else.

    The three exact percentiles are computed as ONE ``percentile(c,
    array(.25,.5,.75))`` aggregate: each percentile agg buffers the full
    column, so fusing them shares one buffer instead of three (measured 3×
    on the stats job at sf0.1). The array is unpacked by ``_unpack_stat_row``
    / :func:`_unpack_select` after the agg.
    """
    return _partial_stat_exprs(col, prefix, set(STAT_KEYS))


#: position of each quantile stat inside the fused ``__q`` array
_Q_IDX = {"q25": 0, "median": 1, "q75": 2}


def _unpack_stat_row(row: Mapping, prefix: str,
                     keys=frozenset(STAT_KEYS)) -> Dict[str, Optional[float]]:
    """Stats dict for one column from a collected fused-agg row."""
    out: Dict[str, Optional[float]] = {}
    quantiles = keys & _Q_IDX.keys()
    q = row[f"{prefix}__q"] if quantiles else None
    for k in STAT_KEYS:
        if k not in keys:
            continue
        if k in _Q_IDX:
            out[k] = q[_Q_IDX[k]] if q is not None else None
        else:
            out[k] = row[f"{prefix}__{k}"]
    return out


def _unpack_select(prefix: str) -> List[Column]:
    """Select-list exprs flattening one column's fused stats to scalars."""
    exprs = [F.col(f"{prefix}__{k}") for k in ("min", "max", "mean")]
    exprs.append(F.col(f"{prefix}__q")[1].alias(f"{prefix}__median"))
    exprs.append(F.col(f"{prefix}__std"))
    exprs.append(F.col(f"{prefix}__q")[0].alias(f"{prefix}__q25"))
    exprs.append(F.col(f"{prefix}__q")[2].alias(f"{prefix}__q75"))
    return exprs


#: accuracy for approximate percentiles (~1/accuracy relative rank error);
#: 10000 ⇒ ≤0.01% rank error with a few KB of sketch state per column
APPROX_PERCENTILE_ACCURACY = 10000


def _stat_aggs(col: Column, keys, approx: bool = False,
               window: Optional[WindowSpec] = None) -> Dict[str, Column]:
    """Unaliased aggregate per requested stat key of one column.

    Any requested quantile lands in one fused ``percentile(c, array)``
    under the key ``"q"`` (the buffer dominates, extra quantiles inside one
    agg are marginal). With ``approx``, quantiles use ``percentile_approx``
    instead — O(1) sketch state per column instead of buffering every
    value, the 100-TB path (documented divergence from the reference's
    pandas-exact quantiles; min/max/mean/std stay exact either way). With
    ``window``, every aggregate is evaluated over that window.
    """
    c = col.cast("double")
    aggs: Dict[str, Column] = {}
    for k, fn in (("min", F.min), ("max", F.max), ("mean", F.avg),
                  ("std", F.stddev_samp)):
        if k in keys:
            aggs[k] = fn(c)
    if keys & _Q_IDX.keys():
        qs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        aggs["q"] = (
            F.percentile_approx(c, qs, F.lit(APPROX_PERCENTILE_ACCURACY))
            if approx else F.percentile(c, qs)
        )
    if window is not None:
        aggs = {k: a.over(window) for k, a in aggs.items()}
    if "q" in aggs:
        aggs["q"] = aggs["q"].cast("array<double>")
    return aggs


def _partial_stat_exprs(col: Column, prefix: str, keys,
                        approx: bool = False) -> List[Column]:
    """Aggregation exprs for just the requested stat keys of one column."""
    return [a.alias(f"{prefix}__{k}")
            for k, a in _stat_aggs(col, keys, approx).items()]


def compute_stats(
    df: DataFrame,
    columns: Sequence[str],
    *,
    with_count: bool = False,
    keys_by_column: Optional[Mapping[str, Iterable[str]]] = None,
    approx_percentiles: bool = False,
) -> Dict[str, Dict[str, Optional[float]]]:
    """Compute the reference's statistics bundle for ``columns`` in ONE job.

    Returns ``{column: {min,max,mean,median,std,q25,q75}}`` (floats or None for
    empty/all-null input). When ``with_count`` is set, the returned dict has an
    extra ``"__count__"`` entry holding the row count (used by the staged
    pipeline to detect an empty survivor set without an extra job).

    ``keys_by_column`` is the ``stats_mode="required"`` scale path: only the
    listed stat keys are aggregated per column (columns may map to an empty
    set — they then cost nothing); omitted columns get the full bundle. With
    no keys requested anywhere (and no count), no job runs at all.
    """
    uniq = list(dict.fromkeys(columns))  # preserve order, drop dups
    keysets = {
        c: (set(STAT_KEYS) if keys_by_column is None
            else set(keys_by_column.get(c, STAT_KEYS)))
        for c in uniq
    }
    aggs: List[Column] = []
    for i, c in enumerate(uniq):
        aggs.extend(_partial_stat_exprs(F.col(c), f"c{i}", keysets[c],
                                        approx=approx_percentiles))
    if with_count:
        aggs.append(F.count(F.lit(1)).alias("__count__"))
    if not aggs:
        out0: Dict[str, Dict[str, Optional[float]]] = {c: {} for c in uniq}
        if with_count:
            out0["__count__"] = df.count()
        return out0

    row = df.agg(*aggs).first().asDict()
    out: Dict[str, Dict[str, Optional[float]]] = {}
    for i, c in enumerate(uniq):
        out[c] = _unpack_stat_row(row, f"c{i}", keysets[c])
    if with_count:
        out["__count__"] = row["__count__"]
    return out


def window_stats(
    df: DataFrame,
    keys_by_column: Mapping[str, Iterable[str]],
    *,
    approx_percentiles: bool = False,
) -> Tuple[DataFrame, Dict[str, Dict[str, Column]], List[str]]:
    """The lazy twin of :func:`compute_stats`: whole-frame window aggregates.

    Adds one helper column per requested aggregate (quantiles fused into
    one array column, as in the job) evaluated over ``Window.partitionBy()``
    with an unbounded frame, and returns ``(frame, {column: {stat: Column}},
    helper names)``. No job runs. The window gathers every row into one
    partition, so it belongs in plans that need that partition anyway (a
    global ``RANK()``); drop the helpers once the stats are read.
    """
    w = Window.partitionBy().rowsBetween(Window.unboundedPreceding,
                                         Window.unboundedFollowing)
    helpers: Dict[str, Column] = {}
    stats: Dict[str, Dict[str, Column]] = {}
    for i, (c, keys) in enumerate(keys_by_column.items()):
        keys = set(keys)
        prefix = f"__stat{i}"
        for k, agg in _stat_aggs(F.col(c), keys, approx_percentiles,
                                 window=w).items():
            helpers[f"{prefix}__{k}"] = agg
        stats[c] = {
            k: (F.col(f"{prefix}__q")[_Q_IDX[k]] if k in _Q_IDX
                else F.col(f"{prefix}__{k}"))
            for k in STAT_KEYS if k in keys
        }
    return (df.withColumns(helpers) if helpers else df), stats, list(helpers)


_STATS_LOCAL_MAX_ROWS = 10_000_000


def stats_bundle_df(df: DataFrame, columns: Iterable[str],
                    engine: str = "auto") -> DataFrame:
    """One-row DataFrame with ``{col}_{stat}`` columns for each requested column.

    The DataFrame-returning twin of :func:`compute_stats` — used when statistics
    should stay distributed (e.g. to ``crossJoin(broadcast(...))`` instead of a
    driver collect, or to expose the A1 stats bundle as a query).

    Engines: the EXACT percentiles are the cost — ``F.percentile``
    buffers every value in a per-column hashmap merged on one reducer.
    Below ``SPARK_GRAFT_STATS_LOCAL_MAX_ROWS`` rows (default 10M,
    probed with one column-pruned count the parquet footer answers)
    ``auto`` computes the whole bundle in ONE single-task numpy kernel
    (r12 opt): sort-based exact percentiles with Spark's ``Percentile``
    interpolation ``(hi−pos)·x[lo] + (pos−lo)·x[hi]``, min/max exact,
    mean/std within the bundle's 4-decimal rounding contract (the
    aggregate's own double sums are already merge-order-dependent).
    Above the cap — or with ``engine="agg"`` — the fused distributed
    aggregate runs unchanged, which at 100 TB should itself switch to
    ``approx_percentiles`` (SCALE.md).
    """
    cols = list(columns)
    if engine in ("auto", "kernel"):
        import os
        cap = local_cap("SPARK_GRAFT_STATS_LOCAL_MAX_ROWS", _STATS_LOCAL_MAX_ROWS)
        if engine == "kernel":
            cap = float("inf")
        n = df.count()
        # n == 0: Spark does not invoke the Arrow kernel for an empty
        # partition, so the all-null bundle row comes from the agg path
        if 0 < n <= cap:
            return _stats_bundle_kernel(df, cols)
    elif engine != "agg":
        raise ValueError(f"engine must be 'auto', 'kernel' or 'agg', "
                         f"got {engine!r}")
    aggs: List[Column] = []
    for c in cols:
        aggs.extend(_stat_exprs(F.col(c), c))
    flat: List[Column] = []
    for c in cols:
        flat.extend(_unpack_select(c))
    return df.agg(*aggs).select(*flat)


def _stats_bundle_kernel(df: DataFrame, cols: List[str]) -> DataFrame:
    """Single-task bundle: one pass, numpy sort per column for the exact
    percentiles. Nulls are excluded per column (aggregate semantics);
    an empty/all-null column yields nulls, matching the agg engine."""
    import numpy as np
    import pandas as pd

    names = [f"{c}__{k}" for c in cols for k in STAT_KEYS]
    schema = ", ".join(f"`{n}` double" for n in names)

    def _pctl(sorted_vals, p):
        n = len(sorted_vals)
        pos = (n - 1) * p
        lo = int(np.floor(pos))
        hi = int(np.ceil(pos))
        if lo == hi:
            return float(sorted_vals[lo])
        return float((hi - pos) * sorted_vals[lo]
                     + (pos - lo) * sorted_vals[hi])

    def kernel(batches):
        pdfs = list(batches)
        pdf = (pd.concat(pdfs, ignore_index=True) if pdfs
               else pd.DataFrame({f"_c{i}": pd.Series(dtype="float64")
                                  for i in range(len(cols))}))
        out = {}
        for i, c in enumerate(cols):
            vals = pdf[f"_c{i}"].to_numpy(dtype=np.float64)
            vals = vals[~np.isnan(vals)]
            p = f"{cols[i]}__"
            if len(vals) == 0:
                for k in STAT_KEYS:
                    out[p + k] = [None]
                continue
            s = np.sort(vals)
            out[p + "min"] = [float(s[0])]
            out[p + "max"] = [float(s[-1])]
            out[p + "mean"] = [float(s.sum() / len(s))]
            out[p + "median"] = [_pctl(s, 0.5)]
            out[p + "std"] = [float(np.std(s, ddof=1))
                              if len(s) > 1 else None]
            out[p + "q25"] = [_pctl(s, 0.25)]
            out[p + "q75"] = [_pctl(s, 0.75)]
        yield pd.DataFrame({n: pd.Series(out[n], dtype="object")
                            for n in names})

    proj = df.select(*[F.col(c).cast("double").alias(f"_c{i}")
                       for i in range(len(cols)) for c in [cols[i]]])
    return proj.repartition(1).mapInPandas(kernel, schema)


def grouped_stats_df(df: DataFrame, group_col: str, columns: Iterable[str]) -> DataFrame:
    """Per-group statistics bundle: one row per ``group_col`` value.

    The scale path for evaluating many independent tenders/batches in one job
    (SURVEY §2.5 note): instead of collect-to-literals per batch, compute all
    batches' stats in one shuffle and broadcast-join them back.
    """
    cols = list(columns)
    aggs: List[Column] = []
    for c in cols:
        aggs.extend(_stat_exprs(F.col(c), c))
    flat: List[Column] = [F.col(group_col)]
    for c in cols:
        flat.extend(_unpack_select(c))
    return df.groupBy(group_col).agg(*aggs).select(*flat)


def stats_row_to_nested(row: Mapping[str, Optional[float]], columns: Iterable[str]) -> Dict[str, Dict[str, Optional[float]]]:
    """Reshape a flat ``{col}_{stat}`` mapping into ``{col: {stat: value}}``."""
    return {c: {k: row[f"{c}__{k}"] for k in STAT_KEYS} for c in columns}
