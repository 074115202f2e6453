#!/usr/bin/env python
"""Physical-plan audit for the headline queries.

For each audited query this prints a verdict on the plan properties that
matter at 100 TB (they are what Catalyst must be ALLOWED to do by the way the
engine builds its plans — declarative exprs, no early collect, no opaque
UDF between scan and filter):

- **column pruning**: the parquet ReadSchema carries only needed columns;
- **predicate pushdown**: filters appear as PushedFilters in the scan;
- **broadcast**: small-side joins execute as BroadcastHashJoin (no shuffle);
- **whole-stage codegen**: the scoring projection is inside a codegen span;
- **no unintended CartesianProduct** (the stats 1-row crossJoin and the
  brute-force query×corpus ANN are the two intended ones).

Usage: python tools/explain_audit.py [sf_dir]
Exits non-zero if any audited expectation fails.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


CHECKS = []


def check(name):
    def deco(fn):
        CHECKS.append((name, fn))
        return fn
    return deco


@check("evaluator scoring: pruned scan, one codegen span, no shuffle before agg")
def _eval_plan(spark, sf_dir):
    from bid_evaluation_spark import Evaluator
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "lineitem")
    res = (
        Evaluator()
        .linear("l_extendedprice", 0.6, higher_is_better=False)
        .threshold("l_quantity", 0.4, [(0, 25, 40.0), (25, 1e9, 100.0)])
        .evaluate(df, stats_mode="required", include_details=False)
        .select("l_orderkey", "final_score", "ranking")
    )
    plan = formatted(res)
    probs = []
    # AQE wraps the plan pre-execution (isFinalPlan=false) and hides codegen
    # spans; it does not change whether codegen applies — inspect with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        executed = plan_of(
            Evaluator()
            .linear("l_extendedprice", 0.6, higher_is_better=False)
            .threshold("l_quantity", 0.4, [(0, 25, 40.0), (25, 1e9, 100.0)])
            .evaluate(df, stats_mode="required", include_details=False)
            .select("l_orderkey", "final_score", "ranking")
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # codegen spans render as "*(n)" stage markers in plan toString
    if "WholeStageCodegen" not in executed and "*(" not in executed:
        probs.append("no codegen span in executed plan")
    if not re.search(r"\*\(\d+\) Project .*final_score", executed):
        probs.append("scoring projection not inside a codegen span")
    # stats are window aggregates inside the scoring plan (no join/subquery)
    if "Join" in plan:
        probs.append("stats joined into the scoring plan")
    # final projection selects 3 columns; scan must not read all 16
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    if m and len(m.group(1).split(",")) > 6:
        probs.append(f"scan reads too many columns: {m.group(1)}")
    return probs


@check("filter pushdown reaches the parquet scan")
def _pushdown(spark, sf_dir):
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "part")
    q = df.filter(F.col("p_size") > 40).select("p_partkey", "p_size")
    plan = formatted(q)
    probs = []
    if not re.search(r"PushedFilters: \[.*GreaterThan\(p_size", plan):
        probs.append("p_size filter not pushed to scan")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    if m and set(c.split(":")[0] for c in m.group(1).split(",")) - {"p_partkey", "p_size"}:
        probs.append(f"column pruning failed: {m.group(1)}")
    return probs


@check("flagship: dimension joins broadcast, no SortMergeJoin")
def _flagship_joins(spark, sf_dir):
    import __spark_entry__ as e

    res = e.queries()["flagship_supplier_scoring"](spark, sf_dir)
    plan = plan_of(res)
    probs = []
    if "BroadcastHashJoin" not in plan:
        probs.append("expected BroadcastHashJoin for nation/volume join")
    if "SortMergeJoin" in plan:
        probs.append("unexpected SortMergeJoin on a dimension-scale join")
    return probs


@check("batched evaluation: per-batch stats broadcast back, rank partitioned by batch")
def _batched(spark, sf_dir):
    from bid_evaluation_spark import Evaluator
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "orders")
    res = (
        Evaluator()
        .linear("o_totalprice", 1.0, higher_is_better=False)
        .evaluate_batched(df, "o_orderpriority")
    )
    plan = plan_of(res)
    probs = []
    if "BroadcastHashJoin" not in plan:
        probs.append("stats side not broadcast")
    # the rank window must be partitioned (no global single-partition sort)
    if not re.search(r"Window.*o_orderpriority", plan):
        probs.append("rank window not partitioned by batch key")
    return probs


@check("minhash: no cartesian product, band join is an equi-join")
def _minhash(spark, sf_dir):
    from bid_evaluation_spark.operators.dedup import minhash_near_duplicates
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    res = minhash_near_duplicates(df, threshold=0.5)
    plan = plan_of(res)
    probs = []
    if "CartesianProduct" in plan:
        probs.append("cartesian product in candidate generation")
    if "hashpartitioning" not in plan.lower() and "BroadcastHashJoin" not in plan:
        probs.append("band join is neither hash-partitioned nor broadcast")
    return probs


@check("asof join: no nested-loop join, single key shuffle")
def _asof(spark, sf_dir):
    from bid_evaluation_spark.operators.asof import asof_join
    from bid_evaluation_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    plan = plan_of(asof_join(clicks, buys))
    probs = []
    if "NestedLoop" in plan or "CartesianProduct" in plan:
        probs.append("as-of executed as nested-loop/cartesian")
    # union + one window partitioning on the key — no join operator at all
    if "Join" in plan:
        probs.append("unexpected join operator (should be union+window)")
    return probs


@check("range join: bucketed equi-join, no nested-loop theta join")
def _range(spark, sf_dir):
    from bid_evaluation_spark.operators.asof import range_join
    from bid_evaluation_spark.sources.io import load_table
    from bid_evaluation_spark.streaming.events import sessionize

    ev = load_table(spark, sf_dir, "events")
    sessions = sessionize(ev, gap_seconds=1800)
    res = range_join(
        ev.select("event_id", "user_id", "ts"),
        sessions.select("user_id", "session_start", "session_end"),
        by=["user_id"], bucket_width=1800.0,
    )
    plan = plan_of(res)
    probs = []
    if "NestedLoop" in plan or "CartesianProduct" in plan:
        probs.append("range join executed as nested-loop/cartesian")
    return probs


@check("exact dedup: partial (map-side) aggregation before the shuffle")
def _dedup_agg(spark, sf_dir):
    from bid_evaluation_spark.operators.dedup import exact_duplicate_groups
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    plan = plan_of(exact_duplicate_groups(df))
    probs = []
    if "partial" not in plan.lower():
        probs.append("no partial aggregation (map-side combine missing)")
    return probs


@check("decontaminate: equi-join candidates, no cartesian, exact verify join hashed")
def _decontaminate(spark, sf_dir):
    from bid_evaluation_spark.operators.pipeline import decontaminate
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    res = decontaminate(df.filter(F.col("doc_id") % 10 != 0),
                        df.filter(F.col("doc_id") % 10 == 0), threshold=0.3)
    plan = plan_of(res)
    probs = []
    if "CartesianProduct" in plan or "NestedLoop" in plan:
        probs.append("cross-table candidates via cartesian/nested-loop")
    return probs


@check("chunk/sample/pack: map-only or shard-partitioned — no global exchange")
def _pipeline_shapes(spark, sf_dir):
    from bid_evaluation_spark.operators.pipeline import (
        chunk_documents, hash_sample, pack_sequences)
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    probs = []
    for name, frame in (("chunk", chunk_documents(df, 32, 8)),
                        ("sample", hash_sample(df, 0.3))):
        plan = plan_of(frame)
        if "Exchange" in plan:
            probs.append(f"{name} plan shuffles (should be map-only)")
    pack_plan = plan_of(pack_sequences(df, 512, shard_col="source"))
    if re.search(r"Exchange SinglePartition", pack_plan):
        probs.append("pack window runs on a single partition (not sharded)")
    if not re.search(r"hashpartitioning\(source", pack_plan):
        probs.append("pack window not partitioned by the shard column")
    return probs


@check("mixture sample: map-only scan + filter after the counts pass")
def _mixture(spark, sf_dir):
    from bid_evaluation_spark.operators.pipeline import mixture_sample
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    res = mixture_sample(df, {"en": 4, "de": 2, "es": 2, "fr": 1, "zh": 1},
                         group_col="lang")
    plan = plan_of(res)
    probs = []
    if "Exchange" in plan or "Join" in plan:
        probs.append("sampling plan shuffles/joins (should be scan + filter)")
    return probs


@check("shuffle_rows: data window bucket-partitioned, offsets broadcast")
def _shuffle_rows(spark, sf_dir):
    from bid_evaluation_spark.operators.pipeline import shuffle_rows
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    plan = plan_of(shuffle_rows(df))
    probs = []
    if "hashpartitioning(_sh_b" not in plan:
        probs.append("position window not partitioned by the hash bucket")
    if "BroadcastHashJoin" not in plan:
        probs.append("bucket offsets not broadcast back")
    # the single-partition stage must only ever see the per-bucket counts
    if re.search(r"Window \[row_number\(\).*\], \[md5", plan):
        probs.append("row_number window runs globally over the data")
    return probs


@check("lm score: model join is hashed equi-join with partial aggregation")
def _lm_score(spark, sf_dir):
    from bid_evaluation_spark.operators.pipeline import lm_quality_score
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    plan = plan_of(lm_quality_score(df))
    probs = []
    if "CartesianProduct" in plan or "NestedLoop" in plan:
        probs.append("token-model join executed as cartesian/nested-loop")
    if "partial" not in plan.lower():
        probs.append("model counts lack map-side partial aggregation")
    return probs


@check("repetition stats: default id-partition Arrow kernel; agg engine "
       "partial-agg'd, max(struct) not a window")
def _repetition(spark, sf_dir):
    from bid_evaluation_spark.operators.quality import ngram_repetition_stats
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    probs = []
    # r12 opt: the default engine counts grams for all ns in ONE
    # partition-wide Arrow kernel after a single id-hash shuffle
    plan = plan_of(ngram_repetition_stats(df, ns=(1, 2)))
    if "MapInPandas" not in plan:
        probs.append("kernel engine missing its Arrow gram-count kernel")
    if plan.count("Exchange") > 1:
        probs.append("kernel engine shuffles more than the one id "
                     "repartition")
    # the distributed fallback keeps the spillable explode shape
    aplan = plan_of(ngram_repetition_stats(df, ns=(1, 2), engine="agg"))
    if "partial" not in aplan.lower():
        probs.append("agg engine gram counts lack map-side partial "
                     "aggregation")
    if "Window" in aplan:
        probs.append("per-doc top gram uses a window (should be max(struct))")
    for nm, p in (("kernel", plan), ("agg", aplan)):
        if "CartesianProduct" in p or "NestedLoop" in p:
            probs.append(f"unexpected cartesian/nested-loop join ({nm})")
    return probs


@check("gopher gate + PII redaction: map-only, zero exchange")
def _map_only_quality(spark, sf_dir):
    from bid_evaluation_spark.operators.pii import redact_pii
    from bid_evaluation_spark.operators.quality import gopher_quality_flags
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    probs = []
    for name, res in (("gopher", gopher_quality_flags(df)),
                      ("pii", redact_pii(df))):
        plan = plan_of(res)
        if "Exchange" in plan:
            probs.append(f"{name} plan shuffles (should be map-only)")
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
            probs.append(f"{name} plan drops into Python")
    return probs


@check("bm25: stats pass one fused agg; scoring map-only; top-k TakeOrdered")
def _bm25(spark, sf_dir):
    from bid_evaluation_spark.operators.retrieval import (
        bm25_scores, bm25_topk, corpus_term_stats)
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    terms = ["spark", "join", "hash"]
    stats = corpus_term_stats(df, terms)
    probs = []
    score_plan = plan_of(bm25_scores(df, terms, stats=stats))
    if "Exchange" in score_plan:
        probs.append("scoring pass shuffles (should be map-only)")
    topk_plan = plan_of(bm25_topk(df, terms, k=25))
    if "TakeOrderedAndProject" not in topk_plan:
        probs.append("top-k is not TakeOrdered (global sort exchange?)")
    return probs


@check("rolling features: one exchange+sort shared by every window")
def _rolling(spark, sf_dir):
    from bid_evaluation_spark.operators.features import (
        forward_labels, rolling_features)
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value")
    plan = plan_of(forward_labels(rolling_features(df, windows=(5,))))
    probs = []
    if plan.count("Exchange") != 1:
        probs.append(f"expected exactly 1 exchange, saw {plan.count('Exchange')}")
    if plan.count("Sort ") > 1:
        probs.append("window specs did not share one sort")
    return probs


@check("line dedup: single window shuffle on the line key, no self-join")
def _line_dedup(spark, sf_dir):
    from bid_evaluation_spark.operators.pipeline import chunk_documents
    from bid_evaluation_spark.operators.quality import drop_repeated_lines
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    lines = chunk_documents(df, chunk_tokens=16, overlap=0).select(
        "doc_id", F.col("chunk_index").alias("pos"),
        F.col("chunk_text").alias("line"))
    plan = plan_of(drop_repeated_lines(lines))
    probs = []
    if plan.count("Exchange") != 1:
        probs.append(f"expected exactly 1 exchange, saw {plan.count('Exchange')}")
    if "Join" in plan:
        probs.append("count+first computed via join (should be one window)")
    return probs


@check("bloom decontaminate: train shingles filtered BEFORE the candidate join")
def _bloom_decon_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.pipeline import decontaminate_bloom
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    train = df.filter(F.col("doc_id") % 10 != 0)
    ev = df.filter(F.col("doc_id") % 10 == 0)
    plan = plan_of(decontaminate_bloom(train, ev, threshold=0.25, k=3))
    probs = []
    if "CartesianProduct" in plan or "BroadcastNestedLoop" in plan:
        probs.append("candidate generation degenerated to a cross product")
    # the Arrow membership kernel must sit on the map side, i.e. appear in
    # the plan at all (ArrowEvalPython / EvalPython node), before any join
    if "EvalPython" not in plan:
        probs.append("bloom membership kernel missing from the plan")
    if plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") \
            + plan.count("BroadcastHashJoin") < 1:
        probs.append("no equi-join for candidates")
    return probs


@check("pagerank round: pre-normalized edges equi-join + partial agg, no cartesian")
def _pagerank_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 2.0)],
        "src string, dst string, w double")
    ranks = pagerank(edges, weight="w", max_iter=2)
    plan = plan_of(ranks)
    probs = []
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        probs.append("pagerank round uses a non-equi join")
    # after localCheckpoint the returned plan must be flat (a scan of the
    # checkpointed RDD), not a 2-round nested join tree
    if plan.count("Join") > 0 and "Scan ExistingRDD" not in plan:
        probs.append("lineage not truncated: joins visible in final plan")
    return probs


@check("robust z-scores: per-group stats broadcast back, no cartesian")
def _robust_z_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.features import robust_zscores
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "events")
    plan = plan_of(robust_zscores(df, "value", group_col="event_type"))
    probs = []
    if "CartesianProduct" in plan:
        probs.append("grouped path produced a cartesian product")
    if plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoop") < 2:
        probs.append("median/MAD frames not broadcast back (expected 2)")
    return probs


@check("collocations: count tables equi-joined, top-k TakeOrdered, no cartesian")
def _collocations_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.text import collocations
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    plan = plan_of(collocations(df, min_count=5, k=20))
    probs = []
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        probs.append("pair/unigram join degenerated to a cross product")
    if "TakeOrderedAndProject" not in plan:
        probs.append("top-k is a global sort, not TakeOrdered")
    return probs


@check("naive bayes: default Arrow scoring kernel; join engine model join "
       "hashed + partial-agg'd, no window either way")
def _nb_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.classify import nb_predict, nb_train
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    model = nb_train(df, label_col="lang")
    probs = []
    # r12 opt: the default route collects the (capped) model table and
    # scores every document in one map-only Arrow kernel
    plan = plan_of(nb_predict(df, model))
    if "MapInPandas" not in plan:
        probs.append("kernel engine missing its Arrow scoring kernel")
    if plan.count("Exchange") > 1:
        probs.append("kernel engine shuffles more than the one id "
                     "repartition")
    # the distributed fallback keeps the joined, spillable shape
    jplan = plan_of(nb_predict(df, model, engine="join"))
    if "CartesianProduct" in jplan or "BroadcastNestedLoopJoin" in jplan:
        probs.append("token-model join degenerated to a cross product")
    if "partial" not in jplan.lower():
        probs.append("join engine count aggregates lack map-side partial "
                     "aggregation")
    if "EvalPython" in jplan:
        probs.append("join engine scoring drops into Python")
    for nm, p in (("kernel", plan), ("join", jplan)):
        if "Window" in p:
            probs.append(f"argmax uses a window ({nm}; should be "
                         "greatest + when-chain)")
    return probs


@check("logreg: gradient is one partial-agg'd pass; prediction map-only")
def _logreg_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.classify import (
        logreg_predict, logreg_train)
    from bid_evaluation_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", (F.col("label") % 2).cast("double").alias("_y"))
    probs = []
    model = logreg_train(emb, dim=64, iters=1, lr=1.0)
    pred_plan = plan_of(logreg_predict(emb, model))
    if "Exchange" in pred_plan:
        probs.append("prediction shuffles (should be map-only scoring)")
    if "EvalPython" in pred_plan:
        probs.append("prediction drops into Python (should be codegen exprs)")
    return probs


@check("sketches: cells/registers partial-agg'd, lookup equi-join, no python")
def _sketch_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.sketch import cms_topk, hll_distinct
    from bid_evaluation_spark.operators.text import tokens
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    probs = []
    cms_plan = plan_of(cms_topk(df, k=10))
    if "partial" not in cms_plan.lower():
        probs.append("cms cells lack map-side partial aggregation (no merge)")
    if "CartesianProduct" in cms_plan or "BroadcastNestedLoopJoin" in cms_plan:
        probs.append("cms lookup degenerated to a cross product")
    toks = df.select(F.explode(tokens(F.lower(F.col("text")))).alias("_t"))
    hll_plan = plan_of(hll_distinct(toks, "_t"))
    if "partial" not in hll_plan.lower():
        probs.append("hll registers lack map-side partial aggregation")
    if "EvalPython" in cms_plan + hll_plan:
        probs.append("sketch math drops into Python")
    return probs


@check("contrastive mining: anchors broadcast, per-anchor window, no sort-merge")
def _contrastive_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.similarity import (
        mine_contrastive_pairs)
    from bid_evaluation_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    res = mine_contrastive_pairs(emb.filter(F.col("vec_id") < 10), emb,
                                 k_neg=5, k_pos=3)
    plan = plan_of(res)
    probs = []
    if "Broadcast" not in plan:
        probs.append("anchor side not broadcast (corpus would shuffle)")
    if "SortMergeJoin" in plan:
        probs.append("similarity pass shuffles both sides (sort-merge join)")
    if not re.search(r"hashpartitioning\(query_id", plan):
        probs.append("top-k window not partitioned per anchor")
    return probs


@check("group gate: stats broadcast back, partial agg, single scan pattern")
def _group_gate_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.pipeline import filter_by_group_score
    from bid_evaluation_spark.operators.text import quality_score
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents").withColumn(
        "q", quality_score("text"))
    plan = plan_of(filter_by_group_score(df, "source", "q", min_avg=42.0))
    probs = []
    if "BroadcastHashJoin" not in plan:
        probs.append("group stats not broadcast back")
    if "partial" not in plan.lower():
        probs.append("group averages lack map-side partial aggregation")
    if "CartesianProduct" in plan:
        probs.append("stats join degenerated to a cross product")
    return probs


@check("temperature sample + curriculum bins: map-only after the stats pass")
def _temp_curriculum_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.pipeline import (
        curriculum_bins, temperature_mixture_sample)
    from bid_evaluation_spark.operators.text import quality_score
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    probs = []
    t_plan = plan_of(temperature_mixture_sample(df, alpha=0.5,
                                                group_col="lang", seed="t"))
    if "Exchange" in t_plan or "Join" in t_plan:
        probs.append("temperature filter shuffles/joins (thresholds should "
                     "be literals)")
    c_plan = plan_of(curriculum_bins(df.withColumn("q", quality_score()),
                                     "q", n_bins=4))
    if "Exchange" in c_plan or "Window" in c_plan:
        probs.append("bin assignment not map-only (thresholds should be "
                     "literals)")
    return probs


@check("roc_auc: rank window over the per-score table, not the rows")
def _auc_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.metrics import roc_auc
    from bid_evaluation_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        (F.col("label") % 2).cast("double").alias("_y"),
        (F.col("vec_id") / 1000.0).alias("prob"))
    plan = plan_of(roc_auc(emb, digits=3))
    probs = []
    if "partial" not in plan.lower():
        probs.append("per-score reduction lacks map-side partial agg")
    # the single-partition window must consume the _s groupBy output, not
    # the raw rows: its child ordering is on the score key
    if not re.search(r"Window.*_s", plan):
        probs.append("rank window not keyed on the quantized score table")
    return probs


@check("jpeg/png feature kernel: payload projected before the Arrow batch")
def _mm_kernel_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.multimodal import (
        extract_image_features, synthetic_media_df)

    media = synthetic_media_df(spark, n=6)
    plan = plan_of(extract_image_features(media))
    probs = []
    if "MapInPandas" not in plan:
        probs.append("decode kernel is not an Arrow-batched MapInPandas")
    m = re.search(r"Project \[([^\]]*)\]", plan)
    if m and "mime" in m.group(1):
        probs.append("kernel input not pruned to (id, payload)")
    return probs


@check("pareto frontier: no dominance cartesian; kernel scan (auto) or bucketed window")
def _pareto_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.analytics import pareto_frontier_2d
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "part")
    probs = []
    # Default (auto) route at this scale: single-task prefix-max kernel.
    plan = plan_of(pareto_frontier_2d(df, "p_retailprice", "p_size",
                                      buckets=16))
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        probs.append("dominance computed via a product join, not prefix-max")
    if "MapInPandas" not in plan:
        probs.append("auto route below the key cap is not the prefix-max "
                     "Arrow kernel")
    if "PushedFilters: [IsNotNull(p_retailprice), IsNotNull(p_size)]" not in plan:
        probs.append("null filters not pushed to the parquet scan")
    if "partial_max" not in plan:
        probs.append("per-key max lacks map-side partial aggregation")
    # Above-cap engine: bucketed window, unchanged.
    bplan = plan_of(pareto_frontier_2d(df, "p_retailprice", "p_size",
                                       buckets=16, engine="buckets"))
    if "CartesianProduct" in bplan or "BroadcastNestedLoopJoin" in bplan:
        probs.append("bucketed engine computes dominance via a product join")
    if "windowspecdefinition(_b" not in bplan:
        probs.append("prefix-max window is not partitioned by the bucket key")
    if "BroadcastHashJoin" not in bplan:
        probs.append("frontier-keys join back is not broadcast")
    return probs


@check("gini + diversity: window partitioning reused by the agg, partial aggs, no join")
def _gini_entropy_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.analytics import (
        category_diversity, gini_by_group)
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    g = gini_by_group(load_table(spark, sf_dir, "orders"),
                      "o_orderpriority", "o_totalprice")
    gp = plan_of(g)
    if gp.count("Exchange") != 1:
        probs.append("gini should have exactly ONE exchange "
                     "(agg reuses the window's group partitioning); got "
                     f"{gp.count('Exchange')}")
    e = category_diversity(load_table(spark, sf_dir, "documents"),
                           "source", "lang")
    ep = plan_of(e)
    if "Join" in ep:
        probs.append("diversity uses a join; the sum c*ln c identity "
                     "should make it pure aggregation")
    if ep.count("partial_") < 2:
        probs.append("diversity aggregations lack map-side partials")
    return probs


@check("pca covariance: gram cells stay distributed, partial agg on (i, j)")
def _pca_cov_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.pca import pca_covariance
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(pca_covariance(df, "embedding"))
    probs = []
    if "MapInPandas" not in plan:
        probs.append("gram sketch is not an Arrow-batched MapInPandas")
    if "partial_sum" not in plan:
        probs.append("gram cell sums lack map-side partial aggregation")
    if "CartesianProduct" in plan:
        probs.append("unexpected cartesian in the covariance plan")
    return probs


@check("cdc: diff is one hashed full-outer join; upsert anti+union; compact one window")
def _cdc_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.cdc import (
        apply_upsert, compact_latest, snapshot_diff)
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    od = load_table(spark, sf_dir, "orders")
    old = od.filter(F.col("o_orderkey") % 7 != 0)
    new = od.filter(F.col("o_orderkey") % 5 != 0)
    dp = plan_of(snapshot_diff(old, new, ["o_orderkey"], ["o_totalprice"]))
    if "FullOuter" not in dp:
        probs.append("diff does not plan a full-outer join")
    if dp.count("Join") != 1:
        probs.append(f"diff should be exactly one join, got {dp.count('Join')}")
    if "CartesianProduct" in dp or "BroadcastNestedLoopJoin" in dp:
        probs.append("diff join is not hashed/equi")
    up = plan_of(apply_upsert(
        od.select("o_orderkey", "o_totalprice"),
        od.filter(F.col("o_orderkey") % 3 == 0)
          .select("o_orderkey", "o_totalprice"), ["o_orderkey"]))
    if "LeftAnti" not in up:
        probs.append("upsert survivors are not a left-anti join")
    if "Window" in up or "Sort [o_orderkey" in up:
        probs.append("upsert plans a window/global sort it does not need")
    cp = plan_of(compact_latest(load_table(spark, sf_dir, "events"),
                                ["user_id", "event_type"], "ts", "event_id"))
    if cp.count("Exchange") != 1:
        probs.append("compaction should be exactly one key-partitioned "
                     f"exchange, got {cp.count('Exchange')}")
    if "row_number()" not in cp:
        probs.append("compaction is not a row_number window")
    return probs


@check("concurrency sweep-line: boundaries partial-agg'd, prefix sum bucket-partitioned")
def _concurrency_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.timeseries import concurrency_timeline
    from bid_evaluation_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events")
    iv = ev.groupBy("user_id").agg(F.min("ts").alias("s"),
                                   F.max("ts").alias("e"))
    plan = plan_of(concurrency_timeline(iv, "s", "e", buckets=8))
    probs = []
    if "partial_sum" not in plan:
        probs.append("per-instant net lacks map-side partial aggregation")
    if "windowspecdefinition(_b" not in plan:
        probs.append("prefix sum window is not partitioned by the bucket key")
    if "CartesianProduct" in plan or "Join" in plan:
        probs.append("sweep-line plans a join it does not need")
    return probs


@check("zorder + weighted quantile + interval merge: single-exchange shapes, codegen key")
def _layout_wq_merge_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.analytics import (
        weighted_quantile_by_group)
    from bid_evaluation_spark.operators.layout import (
        cluster_by_zorder, zorder_key)
    from bid_evaluation_spark.operators.timeseries import merge_intervals
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    od = load_table(spark, sf_dir, "orders")
    zp = plan_of(zorder_key(od, ["o_totalprice", "o_custkey"], bits=8))
    if "BatchEvalPython" in zp or "MapInPandas" in zp:
        probs.append("zorder key fell out of JVM codegen into Python")
    if "Exchange" in zp:
        probs.append("zorder key computation should be map-only")
    cp = plan_of(cluster_by_zorder(od, ["o_totalprice", "o_custkey"], 8,
                                   bits=8))
    if cp.count("Exchange") != 1:
        probs.append("clustering rewrite should be exactly ONE range "
                     f"exchange, got {cp.count('Exchange')}")
    li = load_table(spark, sf_dir, "lineitem")
    wq = plan_of(weighted_quantile_by_group(
        li, "l_returnflag", "l_extendedprice", "l_quantity"))
    if wq.count("Exchange") != 1:
        probs.append("weighted quantile should reuse one group exchange, "
                     f"got {wq.count('Exchange')}")
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select("user_id", "event_id",
                   F.col("ts").cast("double").alias("s"),
                   (F.col("ts").cast("double") + 3600.0).alias("e"))
    mp = plan_of(merge_intervals(iv, "user_id", "s", "e", "event_id"))
    if "Join" in mp:
        probs.append("interval merge plans a self-join it does not need")
    if mp.count("Exchange") != 1:
        probs.append("interval merge should be one key exchange, got "
                     f"{mp.count('Exchange')}")
    return probs


@check("triangle counting: local dense kernel on the default route; join "
       "engine equi-joins only (degree-oriented), partial aggs, no cartesian")
def _triangles_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.graph import triangle_counts
    from bid_evaluation_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events")
    edges = (ev.select("user_id",
                       F.floor(F.col("ts").cast("double") / 3600)
                       .cast("long").alias("hr"))
             .distinct()
             .groupBy("hr").agg(F.min("user_id").alias("u"),
                                F.max("user_id").alias("v"))
             .filter(F.col("u") != F.col("v")))
    probs = []
    # r12 opt: small graphs collect to the driver's dense-matrix
    # kernel — the returned plan is a LocalTableScan, no shuffle
    plan = plan_of(triangle_counts(edges, "u", "v"))
    if "Exchange" in plan:
        probs.append("local route still shuffles (expected a "
                     "LocalTableScan of driver-kernel results)")
    # the distributed fallback keeps the degree-oriented join shape
    jplan = plan_of(triangle_counts(edges, "u", "v", engine="join"))
    if "CartesianProduct" in jplan or "BroadcastNestedLoopJoin" in jplan:
        probs.append("wedge/closing join is not an equi-join")
    if "partial_count" not in jplan:
        probs.append("degree/triangle counts lack map-side partials")
    return probs


@check("prefix jaccard/containment + novelty + quantile match: equi-joins, map-only transform")
def _setsim_novelty_qmatch_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.analytics import quantile_match
    from bid_evaluation_spark.operators.dedup import (
        containment_join, jaccard_similarity_join)
    from bid_evaluation_spark.operators.pipeline import novelty_score
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    docs = load_table(spark, sf_dir, "documents")
    sub = docs.filter(F.col("doc_id") % 25 == 0)
    # r12 opt: both set-similarity joins dispatch small inputs to
    # exact local/map-side kernels; the forced join engines must keep
    # the prefix-filter equi-join shape
    kplan = plan_of(jaccard_similarity_join(sub, threshold=0.75))
    if "MapInPandas" not in kplan or kplan.count("Exchange") > 1:
        probs.append("jaccard local route should be one id-block "
                     "repartition feeding the matrix kernel")
    cplan = plan_of(containment_join(sub, docs, threshold=0.75))
    if "Join" in cplan or "Exchange" in cplan:
        probs.append("containment kernel route should be map-only over "
                     "the hay scan")
    for name, frame in (
            ("jaccard prefix join",
             jaccard_similarity_join(sub, threshold=0.75,
                                     engine="join")),
            ("containment join",
             containment_join(sub, docs, threshold=0.75,
                              engine="join")),
            ("novelty", novelty_score(sub, docs))):
        plan = plan_of(frame)
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            probs.append(f"{name}: non-equi product join in the plan")
        if "windowspecdefinition" in plan and name != "containment join":
            probs.append(f"{name}: unexpected window (no ranks should "
                         "materialize)")
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    qm = plan_of(quantile_match(od, "o_totalprice", li, "l_extendedprice",
                                n_segments=8))
    if "Join" in qm or "Exchange" in qm:
        probs.append("quantile match transform is not map-only")
    if "BatchEvalPython" in qm or "MapInPandas" in qm:
        probs.append("quantile match fell out of JVM codegen")
    return probs


@check("multi-table LSH: one (table, bucket) equi-join, dedup before verify, no product")
def _lsh_multitable_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.similarity import lsh_topk
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    plan = plan_of(lsh_topk(q, emb, k=5, num_planes=3, num_tables=4))
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        probs.append("candidate generation degenerated to a product join")
    if plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") \
            + plan.count("ShuffledHashJoin") > 1:
        probs.append("more than one join: the table/bucket key should fuse "
                     "all tables into ONE equi-join")
    # the dedup must run on (query, neighbor) BEFORE the rank window
    # (SortAggregate, not Hash: the carried vector arrays aren't hashable)
    if "Aggregate(key=[query_id" not in plan \
            and "Aggregate(keys=[query_id" not in plan:
        probs.append("no candidate dedup stage before the verify")
    return probs


@check("decontaminate auto: dispatch adds nothing to the exact plan at local scale")
def _decontaminate_auto_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.pipeline import decontaminate
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    auto = decontaminate(train, ev, threshold=0.3)
    exact = decontaminate(train, ev, threshold=0.3, method="exact")
    if not auto.sameSemantics(exact):
        probs.append("auto did not resolve to the exact plan on the "
                     "broadcastable eval side")
    if "ArrowEvalPython" in plan_of(auto):
        probs.append("auto path pays the Bloom Python kernel locally")
    return probs


@check("bigram LM: count-agg training, equi-join scoring, tokens in codegen")
def _lm_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.lm import perplexity, train_bigram_lm
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    docs = load_table(spark, sf_dir, "documents")
    uni, big = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    plan = plan_of(perplexity(docs.filter(F.col("doc_id") % 2 == 1),
                              uni, big))
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        probs.append("model lookup degenerated to a product join")
    if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
        probs.append("tokenize/logprob fell out of JVM codegen into Python")
    # training counts must partially aggregate before their shuffle
    if "partial_count" not in plan and "partial" not in plan.lower():
        probs.append("no map-side partial aggregation in the count tables")
    return probs


@check("pq: encode map-only Arrow kernel; ADC one equi-join, LUT broadcast")
def _pq_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.pq import (formula_codebook,
                                                   pq_adc_topk, pq_encode)
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    emb = load_table(spark, sf_dir, "embeddings")
    cb = formula_codebook(8, 16, 8)
    enc_plan = plan_of(pq_encode(emb, cb))
    if "Exchange" in enc_plan:
        probs.append("encode should be map-only (no exchange)")
    if "BatchEvalPython" in enc_plan:
        probs.append("encode kernel degraded to row-at-a-time Python")
    if "ArrowEvalPython" not in enc_plan:
        probs.append("encode kernel should be the Arrow-vectorized path")
    codes = pq_encode(emb, cb)
    plan = plan_of(pq_adc_topk(emb.filter(F.col("vec_id") < 8), codes, cb,
                               k=5))
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        probs.append("ADC degenerated to a product join")
    if "BroadcastHashJoin" not in plan:
        probs.append("query LUT (queries x m x ksub rows) not broadcast")
    if "BatchEvalPython" in plan:
        probs.append("ADC kernel degraded to row-at-a-time Python")
    return probs


@check("ivfpq: probe->list->code equi-joins only, no product, Arrow kernels")
def _ivfpq_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.pq import (formula_coarse,
                                                   formula_codebook,
                                                   ivfpq_topk)
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(ivfpq_topk(emb.filter(F.col("vec_id") < 8), emb,
                              formula_coarse(16, 64),
                              formula_codebook(8, 16, 8), k=5, nprobe=4))
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        probs.append("IVF-PQ degenerated to a product join")
    if "BatchEvalPython" in plan:
        probs.append("assignment/ADC degraded to row-at-a-time Python")
    return probs


@check("span dedup: one hash groupBy with partial agg, equi-join back, no window")
def _span_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.spans import duplicated_span_stats
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(duplicated_span_stats(docs, span=10, stride=5))
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        probs.append("span matching degenerated to a product join")
    if "windowspecdefinition" in plan.lower() or "Window" in plan:
        probs.append("unexpected window: keep-first must be min-agg, not rank")
    if "Python" in plan:
        probs.append("span hashing fell out of JVM codegen into Python")
    return probs


@check("stat ops: corr one fused agg; conformal bounded windows; backtest lag-only")
def _stat_ops_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.profile import correlation_matrix
    from bid_evaluation_spark.operators.timeseries import (
        seasonal_naive_backtest)
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    li = load_table(spark, sf_dir, "lineitem")
    plan = plan_of(correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount"]))
    if plan.count("HashAggregate") + plan.count("SortAggregate") > 2:
        probs.append("correlation should be ONE fused agg (partial+final)")
    if "Join" in plan:
        probs.append("correlation needs no join")
    ev = load_table(spark, sf_dir, "events")
    plan = plan_of(seasonal_naive_backtest(ev, "user_id", "ts", "value", 7,
                                           "event_id"))
    if "CartesianProduct" in plan or "Python" in plan:
        probs.append("backtest should be lag windows + agg only")
    if "Window" in plan and "user_id" not in plan.split("Window")[1][:400]:
        probs.append("lag window not partitioned by key")
    return probs


@check("dsir: bounded ratio table broadcast to the feature stream, no product")
def _dsir_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.dsir import dsir_logweights
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(dsir_logweights(docs.filter(F.col("doc_id") % 5 != 0),
                                   docs.filter(F.col("doc_id") % 5 == 0),
                                   buckets=1024))
    if "CartesianProduct" in plan:
        probs.append("ratio lookup degenerated to a product join")
    # r13: the two corpus totals are 1-row frames attached to the
    # <=buckets-row ratio table via broadcast nested loop — bounded by
    # construction. More than those two is a degenerated product.
    if plan.count("BroadcastNestedLoopJoin") > 2:
        probs.append("unexpected non-total BroadcastNestedLoopJoin "
                     f"({plan.count('BroadcastNestedLoopJoin')} > 2)")
    if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
        probs.append("feature hashing fell out of JVM codegen into Python")
    if "BroadcastHashJoin" not in plan:
        probs.append("bounded (<= buckets rows) ratio table not broadcast "
                     "to the exploded feature stream")
    if "InMemoryTableScan" not in plan:
        probs.append("persisted (id, bucket) feature proxy missing — the "
                     "raw corpus would be re-hashed per consumer")
    return probs


@check("leakage-safe split: map-only md5 projection after one left join back")
def _leakage_split_plan(spark, sf_dir):
    from bid_evaluation_spark.operators.pipeline import leakage_safe_split
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    docs = load_table(spark, sf_dir, "documents")
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "a_id long, b_id long")
    plan = plan_of(leakage_safe_split(docs, pairs, seed="audit"))
    if "CartesianProduct" in plan:
        probs.append("cartesian in the cluster join-back")
    if "windowspecdefinition" in plan:
        probs.append("unexpected window: split labels must be a projection")
    if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
        probs.append("md5 split fell out of JVM codegen")
    return probs


@check("salted_join: both sides hash-partitioned on (key, salt), no broadcast")
def _salted_join(spark, sf_dir):
    from bid_evaluation_spark.operators.skew import salted_join
    from bid_evaluation_spark.sources.io import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", (F.col("o_custkey") % 23).alias("band"))
    dim = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") % 23).alias("band"),
        F.col("c_acctbal").alias("bal")).distinct()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(salted_join(orders, dim, ["band"], salt_buckets=8))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    probs = []
    # the whole point: the exchange keys must include the salt so a hot
    # band spreads over salt_buckets reducers
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    salted_parts = [p for p in parts if "_salt" in p and "band" in p]
    if len(salted_parts) < 2:
        probs.append(
            f"expected both join inputs exchanged on (band, _salt), "
            f"found partitionings: {parts}")
    if "BroadcastHashJoin" in plan:
        probs.append("join broadcast despite disabled threshold "
                     "(salt would be dead weight)")
    if "CartesianProduct" in plan:
        probs.append("explode of the build side became a product")
    return probs


@check("target encode: stats-join shape, no window, no row-wise python")
def _target_encode(spark, sf_dir):
    from bid_evaluation_spark.operators.encode import target_encode
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
        F.pmod(F.col("o_orderkey"), F.lit(5)).cast("int").alias("fold"))
    plan = plan_of(target_encode(df, "o_orderpriority", "y",
                                 method="kfold", fold_col="fold"))
    probs = []
    if "Window" in plan:
        probs.append("window appeared — encode must be agg+join, "
                     "not a per-category window over the corpus")
    if "BatchEvalPython" in plan:
        probs.append("row-at-a-time Python UDF in the encode path")
    if "CartesianProduct" in plan:
        probs.append("unexpected product (prior is the only cross join "
                     "and must be broadcast)")
    # category/fold stats must aggregate BEFORE joining back (two
    # aggregate-below-join subtrees), not re-aggregate per row
    if plan.count("HashAggregate") < 2:
        probs.append("expected >=2 aggregates (cat stats, cat x fold "
                     "stats) feeding the joins")
    return probs


@check("feature hash: explode -> one partial-agg groupBy, no join, no python")
def _feature_hash(spark, sf_dir):
    from bid_evaluation_spark.operators.encode import feature_hash_triplets
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    res = feature_hash_triplets(df, n_features=64)
    plan = plan_of(res)
    fmt = formatted(res)
    probs = []
    if "Join" in plan:
        probs.append("join appeared — the hashing trick is vocabulary-"
                     "free, nothing to join")
    if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
        probs.append("python UDF in the hash path — md5/conv are JVM "
                     "expressions")
    if "partial_sum" not in plan and "partial_" not in plan:
        probs.append("no map-side partial aggregation before the "
                     "(doc, bucket) exchange")
    m = re.search(r"ReadSchema: struct<([^>]*)>", fmt)
    if m and "text" not in m.group(1):
        probs.append(f"scan schema missing text: {m.group(1)}")
    if m and len(m.group(1).split(",")) > 2:
        probs.append(f"scan reads more than (doc_id, text): {m.group(1)}")
    return probs


@check("stump + isotonic: pruned scan, bounded-histogram window, broadcast map")
def _stump_isotonic(spark, sf_dir):
    from bid_evaluation_spark.operators.encode import (decision_stump,
                                                       isotonic_bins)
    from bid_evaluation_spark.sources.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    st = decision_stump(li, "l_extendedprice", "l_quantity", n_bins=16)
    fmt = formatted(st)
    probs = []
    m = re.search(r"ReadSchema: struct<([^>]*)>", fmt)
    if m and sorted(c.split(":")[0] for c in m.group(1).split(",")) != \
            ["l_extendedprice", "l_quantity"]:
        probs.append(f"stump scan not pruned to feature+label: "
                     f"{m.group(1)}")
    if "BatchEvalPython" in fmt or "ArrowEvalPython" in fmt:
        probs.append("python UDF in the stump path")
    # the window runs over the <=16-row histogram — it must sit ABOVE the
    # binning aggregate, never over raw rows
    plan = plan_of(st)
    win_pos = plan.find("Window")
    agg_pos = plan.rfind("HashAggregate")
    if win_pos == -1:
        probs.append("prefix-sum window missing")
    elif agg_pos < win_pos:
        probs.append("window below the histogram aggregate — prefix "
                     "sums would run over raw rows")

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "y", (F.col("o_orderstatus") == "F").cast("int"))
    iso_plan = plan_of(isotonic_bins(orders, "o_totalprice", "y",
                                     n_bins=50))
    if "BroadcastHashJoin" not in iso_plan:
        probs.append("isotonic calibration map not broadcast-joined")
    if "BatchEvalPython" in iso_plan:
        probs.append("python UDF in the isotonic scoring path")

    # gbm scoring must be a pure projection — no join, no shuffle
    from bid_evaluation_spark.operators.encode import (gbm_predict,
                                                       gbm_stumps)
    model = gbm_stumps(li, "l_extendedprice", "l_quantity",
                       n_rounds=2, n_bins=8)
    gplan = plan_of(gbm_predict(li, model, "l_extendedprice"))
    if "Exchange" in gplan or "Join" in gplan:
        probs.append("gbm_predict is not map-only")
    if "*(" not in gplan:  # codegen'd nodes print with the * prefix
        probs.append("gbm scoring projection fell out of codegen")
    return probs


@check("textrank: grouped-pagerank rounds are equi-joins, partitioned top-k")
def _textrank(spark, sf_dir):
    from bid_evaluation_spark.operators.graph import textrank_keywords
    from bid_evaluation_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(textrank_keywords(docs, n_iters=2, top_k=3))
    probs = []
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        probs.append("non-equi join in the textrank plan")
    if "BatchEvalPython" in plan:
        probs.append("row-at-a-time python in the textrank plan")
    # the top-k window must partition by document — a global window
    # would serialize the whole corpus through one task
    win_lines = [ln for ln in plan.splitlines() if "Window" in ln]
    if win_lines and not any("_doc" in ln for ln in win_lines):
        probs.append(f"top-k window not partitioned by doc: {win_lines}")
    return probs


@check("dq audit: N rules share ONE aggregation pass; stable ids partition-local")
def _dq(spark, sf_dir):
    from bid_evaluation_spark.operators.dq import (DQRule,
                                                   assign_stable_ids,
                                                   dq_audit)
    from bid_evaluation_spark.sources.io import load_table

    orders = load_table(spark, sf_dir, "orders")
    rep = dq_audit(orders, [
        DQRule("o_custkey", "not_null"), DQRule("o_orderkey", "unique"),
        DQRule("o_totalprice", "min", value=0.0),
        DQRule("o_orderstatus", "in_set", values=["O", "F", "P"])])
    plan = plan_of(rep)
    probs = []
    if "Join" in plan:
        probs.append("dq report joined something — rules must fuse into "
                     "the single agg")
    if "Window" in plan:
        probs.append("window in the dq audit plan")
    if plan.count("FileScan") > 1:
        probs.append("multiple scans — rules did not share one pass")

    # the pre-materialization stage must be a RANGE exchange (that is
    # what makes partition-local ranks globally ordered); checkpointing
    # truncates it out of the final plan, so audit the stage directly
    keyed = orders.select("o_orderkey")
    staged = keyed.repartitionByRange(8, F.col("o_orderkey"))
    if "rangepartitioning(o_orderkey" not in plan_of(staged):
        probs.append("stable ids lost the range partitioning")
    ids = assign_stable_ids(keyed, ["o_orderkey"], num_partitions=8)
    iplan = plan_of(ids)
    # the whole point: ordering work stays partition-local — the only
    # global structure is the broadcast offset table
    if re.search(r"Exchange SinglePartition", iplan):
        probs.append("stable ids funneled through a single partition")
    if "BroadcastHashJoin" not in iplan and "BroadcastNestedLoop" in iplan:
        probs.append("offset table joined without broadcast hash")
    if "BroadcastHashJoin" not in iplan:
        probs.append("offset table not broadcast")
    return probs


@check("basket: Apriori semi-join, no cartesian; acf: ONE window + ONE "
       "exchange; jl: map-only Arrow, zero exchange")
def _basket_acf_jl(spark, sf_dir):
    from bid_evaluation_spark.operators.basket import association_rules
    from bid_evaluation_spark.operators.embeddings import jl_project
    from bid_evaluation_spark.operators.timeseries import acf_by_key
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    li = load_table(spark, sf_dir, "lineitem")
    bplan = plan_of(association_rules(li, "l_orderkey", "l_partkey",
                                      min_count=3))
    if "Generate" not in bplan:
        probs.append("basket pairs not generated by native array "
                     "explode (posexplode/slice)")
    if "CartesianProduct" in bplan:
        probs.append("cartesian product in the basket plan")
    if "InMemoryTableScan" not in bplan:
        probs.append("basket arrays/supp not persisted — every consumer "
                     "replays the scan + groupBy")
    # the heavy-tail engine (item_prune=True) must still gate the pair
    # stream map-side with the Apriori broadcast semi-joins
    pplan = plan_of(association_rules(li, "l_orderkey", "l_partkey",
                                      min_count=3, item_prune=True))
    if pplan.count("LeftSemi") < 2:
        probs.append("item_prune=True lost the Apriori semi-join prune")

    ev = load_table(spark, sf_dir, "events")
    # r13: the default engine is the sorted-partition moments kernel —
    # one key exchange, one sort, ONE Python pass, no window/join
    aplan = plan_of(acf_by_key(ev, "event_type", ["ts", "event_id"],
                               "value", lags=(1, 2, 3)))
    if aplan.count("MapInPandas") != 1:
        probs.append("acf kernel engine expected exactly one MapInPandas "
                     f"pass: {aplan.count('MapInPandas')}")
    if aplan.count("Exchange") != 1:
        probs.append("acf expected exactly one (key) exchange: "
                     f"{aplan.count('Exchange')}")
    if "Join" in aplan:
        probs.append("join in the acf plan")
    # the agg fallback keeps the fused one-window shape
    fplan = plan_of(acf_by_key(ev, "event_type", ["ts", "event_id"],
                               "value", lags=(1, 2, 3), engine="agg"))
    if fplan.count("Window") != 1:
        probs.append("agg-engine acf lags did not share one window pass: "
                     f"{fplan.count('Window')} Window nodes")
    if fplan.count("Exchange") != 1:
        probs.append("agg-engine acf expected exactly one exchange "
                     f"(groupBy rides the window): "
                     f"{fplan.count('Exchange')}")

    emb = load_table(spark, sf_dir, "embeddings")
    jplan = plan_of(jl_project(emb, 64, 16))
    if "Exchange" in jplan:
        probs.append("jl projection shuffled — must be map-only")
    if "ArrowEvalPython" not in jplan:
        probs.append("jl kernel not Arrow-batched")
    return probs


@check("spatial: cell-keyed equi-join, no cartesian; attribution: bounded "
       "windows; ucb1: single scan")
def _spatial_attrib_ucb(spark, sf_dir):
    from bid_evaluation_spark.operators.analytics import ucb1_scores
    from bid_evaluation_spark.operators.attribution import (
        attribute_conversions)
    from bid_evaluation_spark.operators.spatial import radius_join
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    part = load_table(spark, sf_dir, "part")
    pts = part.select(F.col("p_partkey").alias("pid"),
                      ((F.col("p_partkey") * 37 % 1000) / 10.0).alias("x"),
                      ((F.col("p_partkey") * 61 % 1000) / 10.0).alias("y"))
    splan = plan_of(radius_join(pts, "pid", "x", "y", 2.0))
    if "CartesianProduct" in splan or "BroadcastNestedLoop" in splan:
        probs.append("radius join fell back to a product — must equi-join "
                     "on the cell key")
    if "Generate explode" not in splan:
        probs.append("3x3 candidate explode missing from the radius join")

    ev = load_table(spark, sf_dir, "events")
    aplan = plan_of(attribute_conversions(ev, "user_id", "ts",
                                          "event_type", "purchase",
                                          "event_id"))
    if "Join" in aplan:
        probs.append("join in the attribution plan — closed journeys "
                     "must be the journey<total predicate, not a join")
    if aplan.count("Exchange") > 3:
        probs.append(f"attribution shuffles too much: "
                     f"{aplan.count('Exchange')} exchanges")
    if aplan.count("FileScan") + aplan.count("InMemoryTableScan") != 1:
        probs.append("attribution scanned the log more than once")

    uplan = plan_of(ucb1_scores(ev, "event_type", "value"))
    if uplan.count("FileScan") + uplan.count("InMemoryTableScan") != 1:
        probs.append("ucb1 scanned the log more than once for the total")
    if "Join" in uplan:
        probs.append("join in the ucb1 plan")
    return probs


@check("postings: 2 exchanges no join; phrase: doc-keyed joins only; "
       "lpa: flat checkpointed rounds; holt: one grouped Arrow kernel")
def _postings_lpa_holt(spark, sf_dir):
    from bid_evaluation_spark.operators.graph import label_propagation
    from bid_evaluation_spark.operators.retrieval import (inverted_postings,
                                                          phrase_search)
    from bid_evaluation_spark.operators.timeseries import holt_by_key
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    docs = load_table(spark, sf_dir, "documents")
    pplan = plan_of(inverted_postings(docs, min_df=5))
    if "Join" in pplan:
        probs.append("postings joined — min_df must be a window count")
    if pplan.count("Exchange") > 2:
        probs.append(f"postings shuffled {pplan.count('Exchange')}x "
                     "(expect groupBy + term window)")

    fplan = plan_of(phrase_search(docs, "table hash"))
    if "CartesianProduct" in fplan or "BroadcastNestedLoop" in fplan:
        probs.append("phrase join fell back to a product")
    if "Generate" not in fplan:
        probs.append("phrase postings lost the posexplode")

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
                      F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"))
    # r12 opt: small graphs route to the single-task Arrow kernel
    # (MapInArrow); the distributed round engine must stay
    # checkpoint-truncated — audit both dispatch outcomes
    lplan = plan_of(label_propagation(edges, max_iter=2))
    if "MapInArrow" not in lplan and "ExistingRDD" not in lplan:
        probs.append("lpa neither local Arrow kernel nor "
                     "checkpoint-truncated rounds")
    if lplan.count("Join") > 2:
        probs.append("lpa final plan carries joins from earlier rounds")
    lplan_dist = plan_of(label_propagation(edges, max_iter=2,
                                           engine="rounds"))
    if "ExistingRDD" not in lplan_dist:
        probs.append("lpa distributed rounds not checkpoint-truncated — "
                     "plan grows per iteration")

    ev = load_table(spark, sf_dir, "events")
    hplan = plan_of(holt_by_key(ev, "user_id", "ts", "value", "event_id"))
    # r12 opt: the recurrence runs step-vectorized in one partition-wide
    # MapInPandas after a key-hash repartition + in-partition sort (one
    # Python call per PARTITION, not per key)
    if "MapInPandas" not in hplan:
        probs.append("holt kernel not a partition-wide Arrow kernel")
    if hplan.count("Exchange") != 1:
        probs.append(f"holt expected exactly one exchange: "
                     f"{hplan.count('Exchange')}")
    return probs


@check("triples: Apriori prunes, no product; kcore: truncated peels; "
       "dhash: band equi-join blocking")
def _triples_kcore_dhash(spark, sf_dir):
    from bid_evaluation_spark.operators.basket import frequent_triples
    from bid_evaluation_spark.operators.graph import k_core
    from bid_evaluation_spark.operators.multimodal import (
        dhash_neardup_pairs)
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    li = load_table(spark, sf_dir, "lineitem")
    tplan = plan_of(frequent_triples(li, "l_orderkey", "l_partkey",
                                     min_count=2))
    if "CartesianProduct" in tplan:
        probs.append("cartesian in the triples plan")
    if "Generate" not in tplan:
        probs.append("triples not generated by native array explode")
    # the heavy-tail engine (pair_prune=True) must still carry the
    # item- and pair-level Apriori semi-joins
    tpplan = plan_of(frequent_triples(li, "l_orderkey", "l_partkey",
                                      min_count=2, pair_prune=True))
    if tpplan.count("LeftSemi") < 2:
        probs.append("pair_prune=True lost an Apriori prune (item- and "
                     "pair-level semi-joins expected)")

    edges = li.select(F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
                      F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"))
    # r12 opt: small graphs route to the single-task Arrow kernel
    # (MapInArrow, no checkpoints); the distributed engine must stay
    # checkpoint-truncated — audit both dispatch outcomes
    kplan = plan_of(k_core(edges, k=30, n_rounds=3))
    if "MapInArrow" not in kplan and "ExistingRDD" not in kplan:
        probs.append("kcore neither local Arrow kernel nor "
                     "checkpoint-truncated peels")
    kplan_dist = plan_of(k_core(edges, k=30, n_rounds=3,
                                engine="rounds"))
    if "ExistingRDD" not in kplan_dist:
        probs.append("kcore distributed peels not checkpoint-truncated")

    hashes = spark.createDataFrame(
        [(i, (i * 2654435761) % (1 << 62)) for i in range(64)],
        "media_id long, dhash long")
    dplan = plan_of(dhash_neardup_pairs(hashes, max_hamming=6))
    if "CartesianProduct" in dplan or "BroadcastNestedLoop" in dplan:
        probs.append("dhash candidates fell back to a product — must "
                     "equi-join on (band, value)")
    if "Generate" not in dplan:
        probs.append("dhash band explode missing")
    return probs


@check("mi: joins only on 1-row aggregates; woe: single scan; trend: "
       "group-keyed pair join, no product")
def _mi_woe_trend(spark, sf_dir):
    from bid_evaluation_spark.operators.features import (mutual_information,
                                                         woe_iv)
    from bid_evaluation_spark.operators.timeseries import trend_test
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    docs = load_table(spark, sf_dir, "documents")
    mplan = plan_of(mutual_information(docs, "lang", "source"))
    if "SortMergeJoin" in mplan or "ShuffledHashJoin" in mplan:
        probs.append("mi shuffled a join — 1-row aggregates must "
                     "broadcast/nested-loop")

    o = load_table(spark, sf_dir, "orders").withColumn(
        "_lbl", F.col("o_orderstatus") == "F")
    wplan = plan_of(woe_iv(o, "o_orderpriority", "_lbl"))
    if wplan.count("FileScan") + wplan.count("InMemoryTableScan") != 1:
        probs.append("woe scanned the table more than once for totals")
    if "Join" in wplan:
        probs.append("join in the woe plan")

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_id") % 20 == 0)
          .withColumn("_x", F.col("ts").cast("double")))
    tplan = plan_of(trend_test(ev, "event_type", "_x", "value"))
    if "CartesianProduct" in tplan:
        probs.append("cartesian in the trend-test pair join")
    return probs


@check("seasonal: join-free shared-key windows; window funnel: user-keyed "
       "stage slices; nelson-aalen: bounded windows after groupBy")
def _seasonal_funnel_na(spark, sf_dir):
    from bid_evaluation_spark.operators.timeseries import (nelson_aalen,
                                                           seasonal_decompose)
    from bid_evaluation_spark.sources.io import load_table
    from bid_evaluation_spark.streaming.events import window_funnel

    probs = []
    ev = load_table(spark, sf_dir, "events").withColumn(
        "_x", F.col("ts").cast("double"))
    splan = plan_of(seasonal_decompose(ev, "event_type", ["_x", "event_id"],
                                       "value", period=7))
    if "Join" in splan:
        probs.append("join in the seasonal-decompose plan — components "
                     "must be windows")
    if splan.count("FileScan") + splan.count("InMemoryTableScan") != 1:
        probs.append("seasonal decompose scanned more than once")

    fplan = plan_of(window_funnel(ev, ["view", "click", "purchase"],
                                  604800.0))
    if "CartesianProduct" in fplan:
        probs.append("cartesian in the window-funnel plan")

    durs = ev.select(((F.col("event_id") % 97) + 1).cast("double")
                     .alias("dur"),
                     (F.col("event_id") % 5 != 0).alias("obs"))
    nplan = plan_of(nelson_aalen(durs, "dur", "obs"))
    if "HashAggregate" not in nplan:
        probs.append("nelson-aalen lost the duration groupBy — windows "
                     "must run on the bounded distinct-time table")
    return probs


@check("ivm: three delta joins, no full recompute join; quantile2pass: "
       "counts-only shuffle then one-bucket sort")
def _ivm_quantile(spark, sf_dir):
    from bid_evaluation_spark.operators.ivm import join_insert_delta
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_acctbal")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice")
    a, da = (cust.filter(F.col("custkey") % 5 != 0),
             cust.filter(F.col("custkey") % 5 == 0))
    b, db = (orders.filter(F.col("o_orderkey") % 4 != 0),
             orders.filter(F.col("o_orderkey") % 4 == 0))
    plan = plan_of(join_insert_delta(a, da, b, db, "custkey"))
    joins = (plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
             + plan.count("BroadcastHashJoin"))
    if joins != 3:
        probs.append(f"ivm delta expected exactly 3 equi-joins, saw {joins}")
    if "CartesianProduct" in plan:
        probs.append("cartesian in the ivm plan")
    return probs


@check("regress: OLS/ridge train in ONE partial-agg groupBy, no join, "
       "no window, no python")
def _regress(spark, sf_dir):
    from bid_evaluation_spark.operators.regress import ols2
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "_y", F.col("l_extendedprice") / 1000.0)
    plan = plan_of(ols2(li, "l_returnflag", "l_quantity", "l_discount",
                        "_y"))
    if plan.count("HashAggregate") != 2:  # partial + final of ONE agg
        probs.append("expected one partial+final aggregate pair")
    for bad in ("Join", "Window", "BatchEvalPython", "ArrowEvalPython"):
        if bad in plan:
            probs.append(f"unexpected {bad} in OLS plan")
    if "ReadSchema" in plan and "l_shipdate" in plan:
        probs.append("scan not pruned: l_shipdate read")
    return probs


@check("linkpred/recs: capped per-container self-join, equi only, "
       "degree joins broadcastable, no cartesian")
def _linkpred_recs(spark, sf_dir):
    from bid_evaluation_spark.operators.graph import link_prediction
    from bid_evaluation_spark.operators.recs import item_item_cosine
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    li = load_table(spark, sf_dir, "lineitem")
    for name, df in (
            ("linkpred", link_prediction(li, "l_orderkey", "l_partkey",
                                         max_container_size=7,
                                         min_common=2)),
            ("recs", item_item_cosine(li, "l_orderkey", "l_partkey", k=5,
                                      max_user_items=7, min_common=2))):
        plan = plan_of(df)
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            probs.append(f"{name}: non-equi join in plan")
        if "BatchEvalPython" in plan:
            probs.append(f"{name}: python UDF in hot path")
    return probs


@check("scd2+pit: key-partitioned windows, PIT is one equi-join with "
       "interval filter, no cartesian")
def _scd2_pit(spark, sf_dir):
    from bid_evaluation_spark.operators.cdc import pit_join, scd2_history
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    o = load_table(spark, sf_dir, "orders")
    hist = scd2_history(o, ["o_custkey"], "o_orderdate",
                        ["o_orderpriority", "o_orderstatus"], "o_orderkey")
    hp = plan_of(hist)
    if "CartesianProduct" in hp or "Join" in hp:
        probs.append("scd2 should be pure windows, saw a join")
    facts = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").alias("fact_ts"))
    jp = plan_of(pit_join(facts, hist, ["o_custkey"], "fact_ts"))
    if "CartesianProduct" in jp or "BroadcastNestedLoopJoin" in jp:
        probs.append("pit join degenerated to a product")
    eqj = (jp.count("SortMergeJoin") + jp.count("ShuffledHashJoin")
           + jp.count("BroadcastHashJoin"))
    if eqj != 1:
        probs.append(f"pit expected exactly 1 equi-join, saw {eqj}")
    return probs


@check("mahalanobis/changepoint/logrank: stats broadcast back, per-key "
       "windows, bounded global window only on distinct-duration table")
def _maha_cp_lr(spark, sf_dir):
    from bid_evaluation_spark.operators.profile import mahalanobis_outliers
    from bid_evaluation_spark.operators.timeseries import (
        changepoint_by_key, logrank_test)
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "_y", F.col("l_extendedprice") / 1000.0)
    mp = plan_of(mahalanobis_outliers(li, "l_returnflag", "l_quantity",
                                      "_y", top_k=20))
    if "BroadcastHashJoin" not in mp:
        probs.append("mahalanobis stats join not broadcast")
    if "BatchEvalPython" in mp:
        probs.append("mahalanobis python in scoring path")
    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", F.col("ts")).alias("_h"))
              .agg((F.round(F.avg("value") * 1e6) / 1e6).alias("_v")))
    cp = plan_of(changepoint_by_key(hourly, "event_type", ["_h"], "_v"))
    if "Join" in cp:
        probs.append("changepoint should be join-free windows")
    lr = ev.select(((F.col("event_id") % 97) + 1).cast("double")
                   .alias("dur"),
                   (F.col("event_id") % 5 != 0).alias("obs"),
                   F.when(F.col("user_id") % 2 == 0, "a").otherwise("b")
                   .alias("g"))
    lp = plan_of(logrank_test(lr, "dur", "obs", "g", "a", "b"))
    # the global window must sit ABOVE the groupBy(duration) reduction
    if lp.index("HashAggregate") > lp.index("Window"):
        probs.append("logrank window runs before the duration reduction")
    return probs


@check("knn/top_paths/compaction: broadcast retrieval, rn-cut before "
       "collect_list, manifest-only windows")
def _knn_paths_compact(spark, sf_dir):
    from bid_evaluation_spark.operators.classify import knn_classify
    from bid_evaluation_spark.operators.layout import compaction_plan
    from bid_evaluation_spark.streaming.events import top_paths
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 37 == 0)
    c = emb.filter(F.col("vec_id") % 37 != 0)
    # r12 opt: the default retrieval route is the cosine_topk Arrow
    # kernel (bounded queries mined in one corpus pass); the forced join
    # engine must keep the broadcast product (never a shuffled cartesian)
    kp = plan_of(knn_classify(q, c, k=5))
    if "MapInPandas" not in kp and "BroadcastNestedLoopJoin" not in kp:
        probs.append("knn retrieval neither Arrow kernel nor broadcast "
                     "product")
    if "CartesianProduct" in kp:
        probs.append("knn product is a shuffled cartesian, not broadcast")
    from bid_evaluation_spark.operators.similarity import cosine_topk
    jp = plan_of(cosine_topk(q, c, k=5, engine="join"))
    if "BroadcastNestedLoopJoin" not in jp:
        probs.append("cosine_topk join engine lost its broadcast product "
                     "shape")
    if "CartesianProduct" in jp:
        probs.append("cosine_topk join engine is a shuffled cartesian")
    ev = load_table(spark, sf_dir, "events")
    tp = plan_of(top_paths(ev, gap_seconds=1800, max_len=3, k=20))
    # plan text prints ROOT FIRST, so in a correct plan the collect_list
    # aggregate (downstream of the cut) appears EARLIER in the text than
    # the _rn filter it consumes
    i_filter = tp.find("_rn")
    i_collect = tp.find("collect_list")
    if i_collect >= 0 and i_filter >= 0 and i_filter < i_collect:
        probs.append("collect_list before the rn<=max_len cut")
    files = load_table(spark, sf_dir, "orders").select(
        F.concat(F.lit("part-"), F.col("o_orderkey").cast("string"))
        .alias("path"), F.floor("o_totalprice").cast("long").alias("size"))
    cp = plan_of(compaction_plan(files, "path", "size", 1_000_000))
    if "Join" in cp:
        probs.append("compaction planner should be join-free")
    return probs


@check("dbscan/active-users/join-size: cell equi-joins only, bounded "
       "contribution explode, count-table-only preflight")
def _dbscan_au_js(spark, sf_dir):
    from bid_evaluation_spark.operators.dq import join_size_estimate
    from bid_evaluation_spark.operators.spatial import dbscan
    from bid_evaluation_spark.operators.timeseries import active_users
    from bid_evaluation_spark.sources.io import load_table

    probs = []
    part = load_table(spark, sf_dir, "part")
    pts = part.select(
        F.col("p_partkey").alias("pid"),
        ((F.col("p_partkey") * 37 % 1000) / 10.0).alias("x"),
        ((F.col("p_partkey") * 61 % 1000) / 10.0).alias("y"))
    dp = plan_of(dbscan(pts, "pid", "x", "y", eps=1.5, min_pts=4))
    if "CartesianProduct" in dp or "BroadcastNestedLoopJoin" in dp:
        probs.append("dbscan: non-equi join (blocking lost)")
    ev = load_table(spark, sf_dir, "events")
    ap = plan_of(active_users(ev, "ts", "user_id", windows=(1, 7, 28)))
    if "CartesianProduct" in ap:
        probs.append("active_users: cartesian in plan")
    if ap.count("Generate") != 1:
        probs.append("active_users: expected exactly one bounded explode")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    jp = plan_of(join_size_estimate(o, li, "o_orderkey", "l_orderkey"))
    # the estimator must join COUNT TABLES (aggregates below the join),
    # never the raw sides: in root-first plan text the join prints before
    # the per-side aggregates it consumes
    if "HashAggregate" not in jp:
        probs.append("join-size: no aggregation below the key join")
    return probs


@check("wave7: winnow/script map-only; corpus-overlap distinct-first; "
       "MMR in-plan greedy (no Python, broadcast selected)")
def _wave7(spark, sf_dir):
    from bid_evaluation_spark.operators.retrieval import mmr_rerank
    from bid_evaluation_spark.operators.similarity import cosine_topk
    from bid_evaluation_spark.operators.text import (script_profile,
                                                     winnow_fingerprints)
    from bid_evaluation_spark.sources.io import load_table
    from pyspark.sql import functions as F

    probs = []
    docs = load_table(spark, sf_dir, "documents")
    # winnow + script: pure projections, no shuffle, no Python
    for name, res in (
            ("winnow", docs.select(
                winnow_fingerprints(F.col("text"), 3, 4).alias("w"))),
            ("script", script_profile(docs))):
        p = plan_of(res)
        if "Exchange" in p:
            probs.append(f"{name} plan shuffles (should be map-only)")
        if "BatchEvalPython" in p or "ArrowEvalPython" in p:
            probs.append(f"{name} plan drops into Python")
    # MMR: unrolled greedy must stay JVM-side; the selected set joins
    # as a broadcast (bounded <= select_k rows per query)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 6)
    cands = (cosine_topk(q, emb, k=8)
             .join(emb.select(F.col("vec_id").alias("neighbor_id"),
                              "embedding"), "neighbor_id"))
    # mmr_rerank localCheckpoints each greedy round (lineage truncation,
    # r7 ADVICE fix) — the checkpoint is EAGER, so the returned plan is a
    # union of checkpointed scans and the per-round joins are no longer
    # visible in it. Stub checkpointing to identity for the audit so the
    # full lazy plan (broadcast joins, windows) is what gets inspected.
    try:  # Spark 4: the concrete class overrides the abstract base
        from pyspark.sql.classic.dataframe import DataFrame as _DF
    except ImportError:
        from pyspark.sql import DataFrame as _DF
    _lc = _DF.localCheckpoint
    _DF.localCheckpoint = lambda self, eager=True: self
    try:
        mp = plan_of(mmr_rerank(cands, select_k=3, lam=0.7,
                                query_col="query_id", id_col="neighbor_id",
                                rel_col="cosine", vec_col="embedding"))
    finally:
        _DF.localCheckpoint = _lc
    if "BatchEvalPython" in mp or "ArrowEvalPython" in mp:
        probs.append("mmr plan drops into Python")
    if "BroadcastHashJoin" not in mp and "BroadcastNestedLoopJoin" not in mp:
        probs.append("mmr selected-set join is not broadcast")
    if "CartesianProduct" in mp:
        probs.append("mmr plan has a cartesian product")
    return probs


@check("wave8: neardup banding codegen hash projection + partial-agg "
       "doc-min (r12 opt); ordered marker bucket-min aggregate, no "
       "cartesian, no Python")
def _wave8(spark, sf_dir):
    from bid_evaluation_spark.operators.dedup import (minhash_band_table,
                                                      neardup_mark_ordered)
    from bid_evaluation_spark.sources.io import load_table
    from pyspark.sql import functions as F

    probs = []
    docs = load_table(spark, sf_dir, "documents")
    bp = plan_of(minhash_band_table(docs))
    # r12 opt: the per-shingle md5s are plain projection columns over an
    # EXPLODED shingle stream (codegen) folded by a partially-aggregated
    # groupBy(id).min — NOT interpreted transform/aggregate lambdas. The
    # only HOFs left are word_shingles' zip_with slices.
    if "aggregate(" in bp or "zip_with(least" in bp:
        probs.append("band table still folds hashes in interpreted HOFs")
    if "partial_min" not in bp.replace("partial min", "partial_min") \
            and "HashAggregate" not in bp:
        probs.append("band table lost the partial doc-min aggregate")
    if "BatchEvalPython" in bp or "ArrowEvalPython" in bp:
        probs.append("band table drops into Python")
    if "Generate explode" not in bp and "Generate posexplode" not in bp:
        probs.append("band table lost its explode (schema drift?)")
    mp = plan_of(neardup_mark_ordered(docs))
    if "BatchEvalPython" in mp or "ArrowEvalPython" in mp:
        probs.append("neardup marker drops into Python")
    if "CartesianProduct" in mp or "BroadcastNestedLoopJoin" in mp:
        probs.append("neardup marker materializes pairs")
    if "HashAggregate" not in mp:
        probs.append("neardup marker lost the bucket-min aggregate")
    return probs


@check("wave9: media fingerprints — Arrow kernels pruned to (id,payload); "
       "video signature pure-JVM single-shuffle agg; banded hamming join "
       "never cartesian")
def _wave9(spark, sf_dir):
    from bid_evaluation_spark.operators.audiofp import (
        audio_fingerprint, audio_neardup_pairs)
    from bid_evaluation_spark.operators.multimodal import synthetic_media_df
    from bid_evaluation_spark.operators.videofp import (
        video_dhash_frames, video_signature)

    probs = []
    media = synthetic_media_df(spark, n=6)
    for label, df in (("audio fp", audio_fingerprint(media)),
                      ("video frame hash", video_dhash_frames(media))):
        p = plan_of(df)
        if "MapInPandas" not in p:
            probs.append(f"{label} kernel is not Arrow-batched MapInPandas")
        m = re.search(r"Project \[([^\]]*)\]", p)
        if m and ("mime" in m.group(1) or "duration_ms" in m.group(1)):
            probs.append(f"{label} input not pruned to (id, payload)")
    sig = video_signature(video_dhash_frames(media))
    sp = plan_of(sig)
    if "BatchEvalPython" in sp or "ArrowEvalPython" in sp.replace(
            "MapInPandas", ""):
        probs.append("signature aggregation drops into Python")
    if "partial_count" not in sp and "partial_sum" not in sp:
        probs.append("signature agg lacks map-side partial aggregation")
    # exactly ONE shuffle after the decode kernel (the groupBy on the id)
    if sp.count("Exchange hashpartitioning") > 1:
        probs.append("signature agg shuffles more than once")
    np_ = plan_of(audio_neardup_pairs(audio_fingerprint(media)))
    if "CartesianProduct" in np_ or "BroadcastNestedLoopJoin" in np_:
        probs.append("banded hamming near-dup degenerates to all-pairs")
    return probs


@check("wave9b: mp2 fixture kernel parallel + pruned; link-graph host "
       "aggregation map-side partial, single shuffle, no Python after "
       "the parse kernel")
def _wave9b(spark, sf_dir):
    import __spark_entry__ as entry

    probs = []
    p = plan_of(entry.queries()["mm_mp2_decode_documents"](spark, sf_dir))
    if "MapInPandas" not in p:
        probs.append("mp2 decode is not an Arrow-batched kernel")
    if "RoundRobinPartitioning" not in p and "REPARTITION" not in p:
        probs.append("mp2 fixture input not repartitioned to compute "
                     "parallelism (single-split serial decode)")
    m = re.search(r"ReadSchema: struct<([^>]*)", p)
    if m and "text" in m.group(1):
        probs.append("mp2 scan reads text column it never uses")

    from bid_evaluation_spark.operators.linkgraph import (
        extract_links, host_degrees, host_graph)
    pages = spark.createDataFrame(
        [("http://a.example/", '<a href="/x">x</a>')] * 3,
        "url string, html string")
    g = host_graph(extract_links(pages))
    gp = plan_of(g)
    if "partial_count" not in gp:
        probs.append("host_graph lacks map-side partial aggregation")
    after_kernel = gp.split("MapInPandas")[0]
    if "BatchEvalPython" in after_kernel:
        probs.append("host_graph drops into row-Python after the kernel")
    if gp.count("Exchange hashpartitioning") > 1:
        probs.append("host_graph shuffles more than once")
    dp = plan_of(host_degrees(g))
    if "CartesianProduct" in dp or "BroadcastNestedLoopJoin" in dp:
        probs.append("host_degrees join degenerates to all-pairs")

    from bid_evaluation_spark.operators.audiomatch import match_clips
    lm = spark.createDataFrame([(1, 7, 0), (2, 7, 3)],
                               "media_id long, lm_hash long, t int")
    mp = plan_of(match_clips(lm, lm, min_votes=1))
    if "CartesianProduct" in mp or "BroadcastNestedLoopJoin" in mp:
        probs.append("landmark match degenerates to a clip cross-join")
    if not re.search(r"Join.{0,120}lm_hash", mp):
        probs.append("landmark match does not join on lm_hash")
    if "partial_count" not in mp:
        probs.append("offset vote lacks map-side partial aggregation")

    from bid_evaluation_spark.operators.confusable import (
        mark_homoglyph_dups)
    docs = spark.createDataFrame([(1, "Frее"), (2, "free")],
                                 "doc_id long, text string")
    cp = plan_of(mark_homoglyph_dups(docs))
    if "BatchEvalPython" in cp or "ArrowEvalPython" in cp \
            or "MapInPandas" in cp:
        probs.append("homoglyph skeleton dropped into Python — must be "
                     "native translate/regexp_replace")
    if "translate" not in cp:
        probs.append("homoglyph skeleton lost the translate expression")
    return probs


@check("wave10: video near-dup — ONE decode kernel; shot join is banded "
       "equi-join (no video cross-join); pair verdict partial-aggregated")
def check_wave10_video_neardup(spark, sf_dir):
    from bid_evaluation_spark.operators.videodedup import (
        shot_phashes, video_neardup)

    probs = []
    media = spark.createDataFrame([(1, b""), (2, b"")],
                                  "media_id long, payload binary")
    shots = shot_phashes(media)
    sp = plan_of(shots)
    if sp.count("MapInPandas") != 1:
        probs.append("shot_phashes must be exactly ONE Arrow kernel "
                     "(decode+segment+hash in one pass)")
    vp = plan_of(video_neardup(shots))
    if "CartesianProduct" in vp or "BroadcastNestedLoopJoin" in vp:
        probs.append("video near-dup degenerates to a video cross-join")
    if not re.search(r"Join.{0,160}_v", vp):
        probs.append("shot join is not the (band,value) equi-join")
    if "partial_count" not in vp:
        probs.append("pair verdict lacks map-side partial aggregation")
    # the wide-band layout must keep the same equi-join shape
    wp = plan_of(video_neardup(shots, max_hamming=3, band_bits=16))
    if "CartesianProduct" in wp or "BroadcastNestedLoopJoin" in wp:
        probs.append("wide-band layout degenerates to all-pairs")
    return probs


@check("wave10b: maxsim — default Arrow partial-max kernel (r12 opt), "
       "join fallback broadcast + native scoring, partial-aggregated "
       "max/sum on both; media fixtures repartitioned + one kernel "
       "each")
def check_wave10b_maxsim_media(spark, sf_dir):
    import __spark_entry__ as entry
    from bid_evaluation_spark.operators.lateinteraction import maxsim_topk

    probs = []
    toks = spark.createDataFrame(
        [(1, 0, [1.0, 0.0]), (2, 0, [0.0, 1.0])],
        "doc_id long, token_idx long, vec array<double>")
    qs = toks.withColumnRenamed("doc_id", "query_id")
    mp = plan_of(maxsim_topk(toks, qs, k=2))
    if "MapInPandas" not in mp:
        probs.append("maxsim default engine is not the Arrow "
                     "partial-max kernel")
    if "BroadcastNestedLoopJoin" in mp:
        probs.append("maxsim default engine still pays the broadcast "
                     "cross product")
    jp = plan_of(maxsim_topk(toks, qs, k=2, engine="join"))
    if "BroadcastExchange" not in jp:
        probs.append("maxsim join engine: query tokens not broadcast")
    if "BatchEvalPython" in jp or "ArrowEvalPython" in jp \
            or "MapInPandas" in jp:
        probs.append("maxsim join engine dropped into Python — must "
                     "be native zip_with/aggregate")
    for nm, p in (("kernel", mp), ("join", jp)):
        if "partial_max" not in p and "partial_sum" not in p:
            probs.append(f"maxsim {nm} engine aggregations lack "
                         "map-side partials")

    for name in ("mm_tiff_decode_documents", "mm_bmp_decode_documents",
                 "mm_vad_segments_documents",
                 "mm_orient_normalize_documents"):
        p = plan_of(entry.queries()[name](spark, sf_dir))
        if "RoundRobinPartitioning" not in p and "REPARTITION" not in p:
            probs.append(f"{name}: fixture not repartitioned to "
                         "compute parallelism")
        if "MapInPandas" not in p:
            probs.append(f"{name}: decode is not an Arrow kernel")
    return probs


@check("wave11: audio curation — ONE decode kernel; gates native "
       "predicates; dedup is a landmark equi-join (no clip cross-join) "
       "with partial-aggregated votes and canonical min")
def check_wave11_audio_curation(spark, sf_dir):
    from bid_evaluation_spark.operators.audiocuration import audio_curation

    from bid_evaluation_spark.operators.audiocuration import (
        curation_features)
    from bid_evaluation_spark.operators.cache import release_all

    probs = []
    media = spark.createDataFrame([(1, b""), (2, b"")],
                                  "media_id long, payload binary")
    fp = plan_of(curation_features(media))
    if fp.count("MapInPandas") != 1:
        probs.append("curation features must be exactly ONE Arrow "
                     "kernel (decode+VAD+loudness+mel+landmarks)")
    p = plan_of(audio_curation(media))
    release_all()
    if "InMemoryTableScan" not in p:
        probs.append("manifest not persisted — the decode kernel would "
                     "re-run once per consumer branch")
    if "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p:
        probs.append("landmark dedup degenerates to a clip cross-join")
    if not re.search(r"Join.{0,160}lm_hash", p):
        probs.append("dedup join is not the landmark-hash equi-join")
    if "partial_count" not in p:
        probs.append("offset votes lack map-side partial aggregation")
    if "partial_min" not in p:
        probs.append("canonical dup_of lacks a partial-aggregated min")
    return probs


@check("wave11b: r11 operators — span removal & Luhn redaction fully "
       "native; incremental dedup joins the index (no re-shingle "
       "cross-join); hard negatives broadcast anchors; container "
       "inventories are single Arrow kernels")
def check_wave11b_r11_operators(spark, sf_dir):
    import __spark_entry__ as entry
    from bid_evaluation_spark.operators.cache import release_all
    from bid_evaluation_spark.operators.dedup import (
        incremental_minhash_candidates, minhash_index_table)
    from bid_evaluation_spark.operators.pii import redact_ccn
    from bid_evaluation_spark.operators.similarity import hard_negatives
    from bid_evaluation_spark.operators.spans import (
        remove_duplicated_spans)

    probs = []
    docs = spark.createDataFrame([(0, "a b c d e")],
                                 "doc_id long, text string")
    for name, df in (("span_removal", remove_duplicated_spans(docs)),
                     ("redact_ccn", redact_ccn(docs))):
        p = plan_of(df)
        if "BatchEvalPython" in p or "MapInPandas" in p:
            probs.append(f"{name} dropped into Python — must be "
                         "native Column math")
    idx = minhash_index_table(docs)
    p = plan_of(incremental_minhash_candidates(docs, idx))
    release_all()
    if "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p:
        probs.append("incremental dedup degenerates to a cross-join")
    if not re.search(r"Join.{0,200}bh", p):
        probs.append("incremental dedup lost the (band, bh) equi-join")
    emb = spark.createDataFrame([(0, [1.0, 0.0], 0), (1, [0.0, 1.0], 1)],
                                "vec_id long, embedding array<double>, "
                                "label int")
    # r12 opt: the default route mines anchors in one Arrow kernel over
    # the corpus scan; the forced join engine must keep the anchors
    # broadcast (never shuffled)
    p = plan_of(hard_negatives(emb, k=1))
    if "MapInPandas" not in p and "BroadcastExchange" not in p:
        probs.append("hard_negatives neither Arrow kernel nor broadcast "
                     "anchors")
    pj = plan_of(hard_negatives(emb, k=1, engine="join"))
    if "BroadcastExchange" not in pj:
        probs.append("hard_negatives join engine anchors are not broadcast")
    for name in ("mm_mp3_inventory_documents",
                 "mm_mp4_inventory_documents",
                 "mm_ogg_inventory_documents",
                 "mm_media_census_documents"):
        p = plan_of(entry.queries()[name](spark, sf_dir))
        # fixture gen + inventory parse = exactly two Arrow kernels
        if p.count("MapInPandas") != 2:
            probs.append(f"{name}: expected fixture+parse as exactly "
                         "two Arrow kernels")
        if "RoundRobinPartitioning" not in p and "REPARTITION" not in p:
            probs.append(f"{name}: fixture not repartitioned to "
                         "compute parallelism")
    return probs


@check("wave12: media funnel — payload crosses exactly ONE Arrow "
       "kernel (census+route+features fused); manifest persisted; "
       "image dedup is a partial-aggregated groupBy-min, never a "
       "pairwise join")
def check_wave12_media_funnel(spark, sf_dir):
    from bid_evaluation_spark.operators.cache import release_all
    from bid_evaluation_spark.operators.mediafunnel import (
        funnel_manifest, media_funnel)

    probs = []
    media = spark.createDataFrame([(1, b""), (2, b"")],
                                  "media_id long, payload binary")
    fp = plan_of(funnel_manifest(media))
    if fp.count("MapInPandas") != 1:
        probs.append("funnel manifest must be exactly ONE Arrow kernel "
                     "(sniff+route+decode+features)")
    p = plan_of(media_funnel(media))
    release_all()
    if "InMemoryTableScan" not in p:
        probs.append("manifest not persisted — the decode kernel would "
                     "re-run across the dedup branch and the verdict")
    if "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p:
        probs.append("image dedup degenerates to a pairwise cross-join")
    if "SortMergeJoin" in p and "dhash" not in p:
        probs.append("dedup join lost the dhash equi-key")
    if "partial_min" not in p:
        probs.append("canonical keep-lowest lacks a partial-aggregated "
                     "min (the linear dedup shape)")
    return probs


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from bid_evaluation_spark.session import get_spark

    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    failed = 0
    for name, fn in CHECKS:
        try:
            probs = fn(spark, sf_dir)
        except Exception as exc:  # audit must never mask a broken query
            probs = [f"audit error: {type(exc).__name__}: {exc}"]
        if probs:
            failed += 1
            print(f"FAIL  {name}")
            for p in probs:
                print(f"      - {p}")
        else:
            print(f"OK    {name}")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
