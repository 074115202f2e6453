#!/usr/bin/env python
"""Benchmark: headline engine queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced to full execution with the noop sink (computes every
row/column, no driver collect, no disk write). Session startup and table
warm-up (file listing + schema) are excluded from timings — the measurement
target is query execution, which is what scales with data size.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def bench_eval_rank_lineitem(spark, sf_dir):
    """Full evaluation over the fact table: 3 criteria + final + global rank."""
    from bid_evaluation_spark import Evaluator
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "lineitem")
    res = (
        Evaluator()
        .linear("l_extendedprice", 0.4, higher_is_better=False)
        .threshold("l_quantity", 0.3, [(0, 10, 40.0), (10, 25, 70.0), (25, 1e9, 100.0)])
        .formula("l_discount", 0.3, "clip((1 - value) * 100, 0, 100)")
        # the scale path: aggregate only the stats each criterion reads
        # (min/max of price here — no exact-percentile buffers); scores are
        # identical to stats_mode="full" (tested)
        .evaluate(df, stats_mode="required")
    )
    _force(res)


def bench_staged_orders(spark, sf_dir):
    """Two-stage elimination pipeline (same shape as the oracle-checked
    ``staged_threshold_orders`` query), on the required-stats scale path."""
    from bid_evaluation_spark import StagedEvaluator
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "orders")
    st = (
        StagedEvaluator()
        .add_stage("Screening", filter_type="score_threshold", threshold=40)
        .linear("o_totalprice", 1.0, higher_is_better=False)
        .add_stage("Value")
        .min_ratio("o_totalprice", 1.0)
    )
    _force(st.evaluate(df, stats_mode="required"))
    st.release()


def bench_batched_eval_orders(spark, sf_dir):
    """Many-tender scale path: per-priority batches scored in ONE job."""
    from bid_evaluation_spark import Evaluator
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "orders")
    res = (
        Evaluator()
        .linear("o_totalprice", 1.0, higher_is_better=False)
        .evaluate_batched(df, "o_orderpriority")
    )
    _force(res)


def bench_stats_bundle_lineitem(spark, sf_dir):
    import __spark_entry__ as e

    _force(e.queries()["a1_stats_bundle_lineitem"](spark, sf_dir))


def bench_minhash_dedup_documents(spark, sf_dir):
    from bid_evaluation_spark.operators.dedup import minhash_near_duplicates
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    _force(minhash_near_duplicates(df, threshold=0.2, num_perm=64, bands=16))


def bench_simhash_documents(spark, sf_dir):
    from bid_evaluation_spark.operators.dedup import simhash_near_duplicates
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    _force(simhash_near_duplicates(df, max_hamming=8))


def bench_text_stats_documents(spark, sf_dir):
    from bid_evaluation_spark.operators.text import with_text_stats
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    _force(with_text_stats(df))


def bench_ann_topk_embeddings(spark, sf_dir):
    from bid_evaluation_spark.operators.similarity import cosine_topk
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "embeddings")
    _force(cosine_topk(df.filter(F.col("vec_id") < 50), df, k=10, two_phase=True))


def bench_embedding_neardup(spark, sf_dir):
    from bid_evaluation_spark.operators.dedup import embedding_near_duplicates
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "embeddings")
    _force(embedding_near_duplicates(df, threshold=0.35, block_col="label"))


def bench_decontaminate_documents(spark, sf_dir):
    from bid_evaluation_spark.operators.pipeline import decontaminate
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    _force(decontaminate(df.filter(F.col("doc_id") % 10 != 0),
                         df.filter(F.col("doc_id") % 10 == 0), threshold=0.3,
                         method="exact"))


def bench_decontaminate_auto_documents(spark, sf_dir):
    """The default dispatch: Catalyst plan-size stats pick exact here (the
    eval side broadcasts, so Bloom has no exchange to shrink) — this row
    should track bench_decontaminate_documents, demonstrating the default
    path no longer pays Bloom's fixed overhead at local scale."""
    from bid_evaluation_spark.operators.pipeline import decontaminate
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    _force(decontaminate(df.filter(F.col("doc_id") % 10 != 0),
                         df.filter(F.col("doc_id") % 10 == 0), threshold=0.3))


def bench_decontaminate_bloom_documents(spark, sf_dir):
    """Same task as decontaminate_documents with the broadcast-Bloom
    map-side shingle pre-filter — the two rows measure the shuffle saving
    directly."""
    from bid_evaluation_spark.operators.pipeline import decontaminate_bloom
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    _force(decontaminate_bloom(df.filter(F.col("doc_id") % 10 != 0),
                               df.filter(F.col("doc_id") % 10 == 0),
                               threshold=0.3))


def bench_events_sliding(spark, sf_dir):
    from bid_evaluation_spark.sources.io import load_table
    from bid_evaluation_spark.streaming.events import sliding_agg

    df = load_table(spark, sf_dir, "events")
    _force(sliding_agg(df, "6 hours", "1 hour"))


def bench_events_sessionize(spark, sf_dir):
    from bid_evaluation_spark.sources.io import load_table
    from bid_evaluation_spark.streaming.events import sessionize

    df = load_table(spark, sf_dir, "events")
    _force(sessionize(df, gap_seconds=1800))


def bench_quality_repetition(spark, sf_dir):
    from bid_evaluation_spark.operators.quality import ngram_repetition_stats
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    _force(ngram_repetition_stats(df, ns=(1, 2)))


def bench_rolling_features_events(spark, sf_dir):
    from bid_evaluation_spark.operators.features import (
        forward_labels, rolling_features)
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value")
    _force(forward_labels(rolling_features(df, windows=(5,))))


def bench_nb_classify_documents(spark, sf_dir):
    """Self-train the Naive Bayes lang classifier + predict every doc:
    explode+groupBy model build, pivot, 1:1 token join, fused score agg."""
    from bid_evaluation_spark.operators.classify import nb_classify
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    _force(nb_classify(df, label_col="lang"))


def bench_cms_topk_documents(spark, sf_dir):
    """Count-min heavy hitters over all token occurrences (sketch build +
    distinct-candidate lookup + top-k)."""
    from bid_evaluation_spark.operators.sketch import cms_topk
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    _force(cms_topk(df, k=50))


def bench_cdc_diff_orders(spark, sf_dir):
    """Incremental-snapshot CDC classification: one hashed full-outer join
    over two derived order snapshots + null-safe change detection."""
    from bid_evaluation_spark.operators.cdc import snapshot_diff
    from bid_evaluation_spark.sources.io import load_table

    od = load_table(spark, sf_dir, "orders")
    old = od.filter(F.col("o_orderkey") % 7 != 0)
    new = (od.filter(F.col("o_orderkey") % 5 != 0)
           .withColumn("o_totalprice",
                       F.when(F.col("o_orderkey") % 3 == 0,
                              F.col("o_totalprice") * 2)
                       .otherwise(F.col("o_totalprice"))))
    _force(snapshot_diff(old, new, ["o_orderkey"], ["o_totalprice"]))


def bench_pareto_frontier_part(spark, sf_dir):
    """2-D skyline via the bucketed distributed prefix-max (no all-pairs
    dominance join); includes the boundary/bucket-max driver round-trips."""
    from bid_evaluation_spark.operators.analytics import pareto_frontier_2d
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "part")
    _force(pareto_frontier_2d(df, "p_retailprice", "p_size", buckets=32))


def bench_lm_perplexity_documents(spark, sf_dir):
    """Bigram-LM quality filter: train on half the corpus, score the rest
    (two count aggs + two hashed equi-joins + per-doc avg)."""
    from bid_evaluation_spark.operators.lm import perplexity, train_bigram_lm
    from bid_evaluation_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    uni, big = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    _force(perplexity(docs.filter(F.col("doc_id") % 2 == 1), uni, big))


def bench_ivfpq_embeddings(spark, sf_dir):
    """IVF-PQ compressed ANN: 64 queries probe 4/16 lists over PQ codes —
    codegen assignment/encode + equi-join ADC."""
    from bid_evaluation_spark.operators.pq import (formula_coarse,
                                                   formula_codebook,
                                                   ivfpq_topk)
    from bid_evaluation_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    _force(ivfpq_topk(emb.filter(F.col("vec_id") < 64), emb,
                      formula_coarse(16, 64), formula_codebook(8, 16, 8),
                      k=10, nprobe=4))


def bench_video_neardup_documents(spark, sf_dir):
    """Round-10 composition: AVI decode→cuts→shot pHash→banded join."""
    import __spark_entry__ as e

    _force(e.queries()["mm_video_neardup_documents"](spark, sf_dir))


def bench_maxsim_embeddings(spark, sf_dir):
    """Round-10 late-interaction rerank (native zip_with/aggregate)."""
    import __spark_entry__ as e

    _force(e.queries()["retrieval_maxsim_embeddings"](spark, sf_dir))


def bench_audio_curation_documents(spark, sf_dir):
    """Round-11 composition: ONE decode pass (VAD+K-loudness+mel+
    landmarks) → native gates → landmark equi-join dedup → verdict."""
    import __spark_entry__ as e

    _force(e.queries()["mm_audio_curation_documents"](spark, sf_dir))


def bench_span_removal_documents(spark, sf_dir):
    """Round-11 ExactSubstr removal over the full corpus: windows →
    keep-first marking → covered-token cut → native text rebuild."""
    from bid_evaluation_spark.operators.spans import (
        remove_duplicated_spans)
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "documents")
    _force(remove_duplicated_spans(df, span=10, stride=3))


def bench_media_funnel_documents(spark, sf_dir):
    """Round-12 census-routed funnel: ONE Arrow pass (sniff + routed
    decode + features) → native gates → linear dHash dedup →
    precedence verdict over a 19-class mixed-payload corpus."""
    import __spark_entry__ as e

    _force(e.queries()["pipe_media_funnel_documents"](spark, sf_dir))


def bench_webp_decode_documents(spark, sf_dir):
    """Round-12 VP8L pixel decode through the funnel manifest kernel
    (canonical prefix codes + transforms + LZ77 per row)."""
    import __spark_entry__ as e

    _force(e.queries()["mm_webp_decode_documents"](spark, sf_dir))


BENCHES = {
    "eval_rank_lineitem": bench_eval_rank_lineitem,
    "staged_orders": bench_staged_orders,
    "batched_eval_orders": bench_batched_eval_orders,
    "stats_bundle_lineitem": bench_stats_bundle_lineitem,
    "minhash_dedup_documents": bench_minhash_dedup_documents,
    "simhash_documents": bench_simhash_documents,
    "text_stats_documents": bench_text_stats_documents,
    "ann_topk_embeddings": bench_ann_topk_embeddings,
    "embedding_neardup": bench_embedding_neardup,
    "decontaminate_documents": bench_decontaminate_documents,
    "decontaminate_auto_documents": bench_decontaminate_auto_documents,
    "decontaminate_bloom_documents": bench_decontaminate_bloom_documents,
    "events_sliding": bench_events_sliding,
    "events_sessionize": bench_events_sessionize,
    "quality_repetition": bench_quality_repetition,
    "rolling_features_events": bench_rolling_features_events,
    "nb_classify_documents": bench_nb_classify_documents,
    "cms_topk_documents": bench_cms_topk_documents,
    "cdc_diff_orders": bench_cdc_diff_orders,
    "pareto_frontier_part": bench_pareto_frontier_part,
    "lm_perplexity_documents": bench_lm_perplexity_documents,
    "ivfpq_embeddings": bench_ivfpq_embeddings,
    "video_neardup_documents": bench_video_neardup_documents,
    "maxsim_embeddings": bench_maxsim_embeddings,
    "audio_curation_documents": bench_audio_curation_documents,
    "span_removal_documents": bench_span_removal_documents,
    "media_funnel_documents": bench_media_funnel_documents,
    "webp_decode_documents": bench_webp_decode_documents,
}


#: Idle-box anchor for the fixed calibration job below: the minimum
#: calibration second observed across this repo's idle close-out runs
#: (r10: 0.306, r11: 0.263). ``calibration_ratio`` =
#: min(before, after) / this — >1 means THIS run's box was slower than
#: the anchor and the raw headline overstates regressions by that
#: factor; ``value_normalized`` = value / ratio is the machine-written
#: deflation (r11 verdict task 2: the artifact must carry the
#: normalization itself, not leave it to prose).
CALIB_BASELINE_SEC = 0.263


def _calibrate(spark):
    """Deterministic fixed-work JVM job timed as a box-speed anchor: the
    same plan every round, so round-over-round drift in THIS number is
    machine/VM noise, not engine regression (this box's idle speed has
    measurably drifted 1.1-1.4x between runs — NOTES.md). Compare query
    deltas against the calibration delta before blaming a plan."""
    t0 = time.time()
    spark.range(0, 200_000_000, 1, 32).selectExpr(
        "sum(id * 3 % 7) as s").collect()
    return round(time.time() - t0, 3)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    from bid_evaluation_spark.operators.cache import release_all
    from bid_evaluation_spark.session import get_spark
    from bid_evaluation_spark.sources.io import TESTDATA_TABLES, load_table

    # console progress bars (disabled in get_spark's builder — a STATIC
    # conf, not settable at runtime) interleave \r-frames with the result
    # line and made every BENCH_r*.json unparseable for the driver
    spark = get_spark("bid-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up (excluded from timings — discard-first-iteration practice):
    # one count() per table warms the parquet scan path, codegen/JIT, and the
    # OS page cache; the 1-row mapInPandas spins up the Arrow Python workers.
    # What stays measured is query execution, which is what scales with data.
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).count()
    def _noop_udf(it):
        for b in it:
            yield b

    spark.range(1).mapInPandas(_noop_udf, "id long").count()
    _calibrate(spark)   # discarded: first range-agg JVM job pays JIT
    calib_before = _calibrate(spark)

    # k interleaved passes over the whole suite (pass 0 is the cold pass;
    # later passes are warm steady-state). Reporting the per-query MIN
    # makes the headline robust to the measured 1.1-1.4x idle-box speed
    # drift that made earlier single-shot cold records non-comparable
    # across rounds; the per-query spread is emitted as the artifact's own
    # noise bound.
    def timed(name):
        """Run one bench entry; its persists are released after timing so
        no cache carries over into the next entry or pass."""
        t0 = time.time()
        BENCHES[name](spark, sf_dir)
        runs[name].append(round(time.time() - t0, 3))
        release_all()

    runs = {name: [] for name in BENCHES}
    for _ in range(max(1, passes)):
        for name in BENCHES:
            timed(name)
    # noise taming (r9 verdict task 7): queries whose spread exceeds
    # 2.5x after the base passes get extra warm passes (to 5 total) so
    # the per-query min is a readable round-over-round trend, not a
    # draw from a 4.9x-wide distribution. Adaptive, not a hardcoded
    # list — whatever is noisy THIS run gets the extra samples.
    extra_passes = {}
    for name, ts in runs.items():
        if min(ts) > 0 and max(ts) / min(ts) > 2.5:
            for _ in range(5 - len(ts)):
                timed(name)
            extra_passes[name] = len(runs[name])
    calib_after = _calibrate(spark)

    best = {n: min(ts) for n, ts in runs.items()}
    cold = {n: ts[0] for n, ts in runs.items()}
    warm = {n: min(ts[1:]) if len(ts) > 1 else ts[0]
            for n, ts in runs.items()}
    spread = {n: round(max(ts) / min(ts), 3) if min(ts) > 0 else None
              for n, ts in runs.items()}
    # warm spread excludes pass 0 (cold is definitionally an outlier and
    # already reported separately as cold_*) — THIS is the steady-state
    # stability number round-over-round trend reading should use
    warm_spread = {n: (round(max(ts[1:]) / min(ts[1:]), 3)
                       if len(ts) > 1 and min(ts[1:]) > 0 else None)
                   for n, ts in runs.items()}

    total = round(sum(best.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # self-normalization (r11 verdict task 2): deflate by how much
    # slower than the idle-box anchor this run's JVM measurably was,
    # so a loaded box can no longer print an apparent regression the
    # prose has to explain. Raw numbers stay primary; normalized ones
    # are the cross-round comparable.
    calib_ratio = round(min(calib_before, calib_after)
                        / CALIB_BASELINE_SEC, 3)
    norm = max(calib_ratio, 1.0)   # never inflate on a fast box
    total_normalized = round(total / norm, 3)
    best_normalized = {n: round(v / norm, 3) for n, v in best.items()}
    payload = json.dumps({
        "metric": ("bid_evaluation_spark headline suite wall time "
                   f"(per-query min of {passes} interleaved passes)"),
        "value": total,
        "unit": "sec",
        "value_normalized": total_normalized,
        "calibration_ratio": calib_ratio,
        "calibration_baseline_sec": CALIB_BASELINE_SEC,
        "queries": best,
        "queries_normalized": best_normalized,
        "cold_value": round(sum(cold.values()), 3),
        "cold_queries": cold,
        "warm_value": round(sum(warm.values()), 3),
        "warm_queries": warm,
        "passes": passes,
        "pass_runs": runs,
        "noise": {
            "per_query_max_over_min": spread,
            "worst_spread": max(v for v in spread.values() if v),
            "warm_max_over_min": warm_spread,
            "worst_warm_spread": max(
                (v for v in warm_spread.values() if v), default=None),
            "extra_passes": extra_passes,
            "calibration_sec_before": calib_before,
            "calibration_sec_after": calib_after,
            "calibration_note": ("fixed 200M-row JVM aggregate (first "
                                 "run discarded for JIT); ratio vs the "
                                 "pinned idle-box anchor deflates "
                                 "value_normalized — box-speed drift "
                                 "is machine-written, not prose"),
        },
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    })
    # result hygiene: Spark progress bars share stdout and have left the
    # driver's `parsed` field null every round — flush their remnants,
    # start a FRESH line for the JSON, and mirror it to a sidecar file
    sys.stdout.flush()
    sys.stderr.flush()
    print()
    print(payload, flush=True)
    sidecar = os.environ.get("SPARK_GRAFT_BENCH_OUT",
                             os.path.join(os.path.dirname(
                                 os.path.abspath(__file__)),
                                 "artifacts", "bench_result.json"))
    try:
        os.makedirs(os.path.dirname(sidecar), exist_ok=True)
        with open(sidecar, "w") as fh:
            fh.write(payload + "\n")
    except OSError:
        pass  # read-only checkout still gets the stdout line
    spark.stop()
    # The collecting driver keeps only ~1 KB of stdout tail, which truncated
    # the full 22-query payload mid-JSON in rounds 6-7 ("parsed": null).
    # Print a compact (<1 KB) summary as the VERY LAST stdout line so the
    # tail always contains one complete, parseable JSON object; the full
    # per-query payload stays above and in the sidecar.
    fields = {
        "metric": "bid_evaluation_spark headline suite wall time",
        "value": total,
        "unit": "sec",
        # r12 verdict task 2: the driver's PERF per_query/scaling blocks
        # came back EMPTY because this last line carried totals only (the
        # full payload above gets truncated out of the ~1 KB stdout tail).
        # A 2-decimal per-query map fits the budget and restores per-query
        # regression visibility to the round gate.
        "queries": {n: round(v, 2) for n, v in best.items()},
        "value_normalized": total_normalized,
        "calibration_ratio": calib_ratio,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(best),
        "cold_value": round(sum(cold.values()), 3),
        "warm_value": round(sum(warm.values()), 3),
        "passes": passes,
        "full_payload": "see prior stdout line or artifacts/bench_result.json",
    }
    summary = json.dumps(fields, separators=(",", ":"))
    # The 1 KB budget must hold even if optional fields grow: shed the
    # least-important keys until it fits (never abort after the bench ran;
    # a bare `assert` would also vanish under `python -O`). "queries" is
    # shed LAST (before only the headline scalars) — it is the field the
    # driver's per-query comparison reads.
    for drop in ("full_payload", "passes", "cold_value", "warm_value",
                 "n_queries", "value_normalized", "calibration_ratio",
                 "sf", "queries"):
        if len(summary) < 1000:
            break
        fields.pop(drop, None)
        summary = json.dumps(fields, separators=(",", ":"))
    print(summary, flush=True)


if __name__ == "__main__":
    main()
