"""Plain ``Evaluator.evaluate`` with statistics as whole-frame window
aggregates (``plans/stats.py::window_stats``), checked against the eager
route that collects the stats job and inlines its values as literals."""

import math

import pytest
from pyspark.sql import functions as F

from bid_evaluation_spark import Evaluator
from bid_evaluation_spark.functions.criteria import FormulaCriterion
from bid_evaluation_spark.plans import evaluator as evaluator_mod

SCHEMA = "vendor string, a double, b long, c double"


def _full():
    """Linear, min_ratio and a formula reading median/std."""
    return (Evaluator().linear("a", 0.2)
            .min_ratio("b", 0.2)
            .formula("c", 0.2, formula="clip(100 - abs(value - median) / std * 25, 0, 100)"))


def _mixed():
    return (Evaluator()
            .linear("a", 0.3, higher_is_better=False)
            .custom("b", 0.2, "proximity_to_median")
            .template("c", 0.3, "distance_from_mean")
            .threshold("vendor_len", 0.2, [(0, 2, 10.0), (2, 9, 90.0)]))


def _with_len(df):
    return df.withColumn("vendor_len", F.length("vendor"))


CASES = {
    "empty": [],
    "one_row": [("A", 3.0, 4, 5.0)],
    "constant": [("A", 7.0, 2, 1.0), ("B", 7.0, 2, 1.0), ("C", 7.0, 2, 1.0)],
    "nulls": [("A", 1.0, 5, None), ("B", None, 3, 2.0), ("C", 4.0, None, 8.0),
              ("D", 9.0, 7, 3.0)],
    "all_null": [("A", None, None, None), ("B", None, None, None)],
    "zeros": [("A", 0.0, 0, 0.0), ("B", 2.0, 4, 0.0), ("C", 0.0, 1, 6.0)],
    "spread": [(f"v{i}", float((i * 37) % 11), (i * 13) % 17 + 1,
                (i * 7) % 5 - 2.5) for i in range(40)],
}


def _eager(monkeypatch):
    """Force the collected-literal route for every criterion."""
    monkeypatch.setattr(evaluator_mod, "_needs_stat_values", lambda c: True)


def _rows(res):
    return res.columns, [r.asDict() for r in res.collect()]


def _assert_same(got, want):
    (gcols, grows), (wcols, wrows) = got, want
    assert gcols == wcols
    assert len(grows) == len(wrows)
    # same order by score; ties may come back in either order
    assert [r["ranking"] for r in grows] == [r["ranking"] for r in wrows]
    key = lambda r: r["vendor"]
    for g, w in zip(sorted(grows, key=key), sorted(wrows, key=key)):
        for k in wcols:
            gv, wv = g[k], w[k]
            if isinstance(wv, float) and gv is not None:
                if math.isnan(wv):
                    assert math.isnan(gv), (k, g, w)
                else:
                    assert gv == pytest.approx(wv, rel=1e-9, abs=1e-9), (k, g, w)
            else:
                assert gv == wv, (k, g, w)


@pytest.mark.parametrize("case", sorted(CASES))
@pytest.mark.parametrize("build", [_full, _mixed], ids=["native", "mixed"])
def test_parity_with_eager_route(spark, monkeypatch, case, build):
    df = _with_len(spark.createDataFrame(CASES[case], SCHEMA))
    got = _rows(build().evaluate(df))
    _eager(monkeypatch)
    want = _rows(build().evaluate(df))
    _assert_same(got, want)


@pytest.mark.parametrize("kwargs", [
    {"approx_percentiles": True},
    {"stats_mode": "required"},
    {"include_details": False},
])
def test_parity_options(spark, monkeypatch, kwargs):
    df = _with_len(spark.createDataFrame(CASES["spread"], SCHEMA))
    ev_new, ev_old = _mixed(), _mixed()
    got = _rows(ev_new.evaluate(df, **kwargs))
    stats_new = ev_new.get_statistics()
    _eager(monkeypatch)
    want = _rows(ev_old.evaluate(df, **kwargs))
    _assert_same(got, want)
    # the lazily collected bundle is the one the eager route inlined
    assert stats_new == ev_old.get_statistics()


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_evaluate_runs_no_job_until_collect(spark):
    df = _with_len(spark.createDataFrame(CASES["spread"], SCHEMA))
    ev = _mixed()
    res, n_eval = _jobs(spark, "ws-evaluate", lambda: ev.evaluate(df))
    assert n_eval == 0
    _, n_collect = _jobs(spark, "ws-collect", res.collect)
    assert n_collect > 0
    # the bundle is computed once, on the first get_statistics()
    st, n_stats = _jobs(spark, "ws-stats", ev.get_statistics)
    assert n_stats > 0 and set(st["a"]) == {"min", "max", "mean", "median",
                                            "std", "q25", "q75"}
    again, n_again = _jobs(spark, "ws-stats-again", ev.get_statistics)
    assert n_again == 0 and again == st


def test_statistics_match_reference_bundle(spark):
    df = spark.createDataFrame([("A", 10.0), ("B", 5.0), ("C", 8.0)],
                               "vendor string, x double")
    ev = Evaluator().linear("x", 1.0)
    ev.evaluate(df).collect()
    st = ev.get_statistics()["x"]
    assert (st["min"], st["max"], st["median"]) == (5.0, 10.0, 8.0)
    assert st["std"] == pytest.approx(2.516611, abs=1e-5)
    assert (st["q25"], st["q75"]) == (6.5, 9.0)


def test_result_schema_has_no_helper_columns(spark):
    df = _with_len(spark.createDataFrame(CASES["spread"], SCHEMA))
    res = _mixed().evaluate(df)
    assert not [c for c in res.columns if c.startswith("__stat")]
    assert "Window" in res._jdf.queryExecution().optimizedPlan().toString()


def test_custom_fallback_formula_and_partitioned_rank_keep_eager_route(spark, bids_3):
    cases = {
        # a lambda pickles by value (workers cannot import this module)
        "custom": Evaluator().custom(
            "experience", 1.0,
            lambda v, s: (v - s["min"]) / (s["max"] - s["min"]) * 100),
        "fallback": Evaluator(),
        "partitioned": Evaluator().linear("experience", 1.0),
    }
    cases["fallback"].add_criterion("experience", FormulaCriterion(
        "experience", 1.0, formula="(value - min) / (max - min) * 100",
        force_udf=True))
    assert not cases["fallback"].criteria["experience"].translated
    expected = {"A": 100.0, "B": 0.0, "C": 60.0}
    for name, ev in cases.items():
        kwargs = {"rank_partition_by": "vendor"} if name == "partitioned" else {}
        res, n_eval = _jobs(spark, f"ws-{name}",
                            lambda: ev.evaluate(bids_3, **kwargs))
        assert n_eval > 0, name  # the stats job runs inside evaluate()
        got = {r["vendor"]: (r["score_experience"], r["ranking"])
               for r in res.collect()}
        assert {v: s for v, (s, _) in got.items()} == pytest.approx(expected), name
        if name == "partitioned":
            assert {rk for _, rk in got.values()} == {1}
        else:
            assert {v: rk for v, (_, rk) in got.items()} == {"A": 1, "C": 2, "B": 3}
        assert ev.get_statistics()["experience"]["max"] == 10
