"""Naive Bayes + logistic regression: hand-computed golden values, numpy
differential parity, separable-fixture learning, and edge contracts."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from bid_evaluation_spark.operators.classify import (
    logreg_predict, logreg_train, nb_classify, nb_predict, nb_train,
)


@pytest.fixture()
def fruit_docs(spark):
    # class 'a' speaks apples, class 'b' speaks zebras; doc 5 is unlabeled
    rows = [
        (0, "apple banana apple", "a"),
        (1, "banana apple", "a"),
        (2, "zebra xylo zebra", "b"),
        (3, "xylo zebra xylo xylo", "b"),
        (4, "", "a"),
        (5, "apple zebra", None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, cls string")


def test_nb_train_golden(fruit_docs):
    model = nb_train(fruit_docs, text_col="text", label_col="cls", add_k=1.0)
    assert model.labels == ["a", "b"]
    # priors over the 5 LABELED docs: 3 'a', 2 'b'
    assert model.log_priors == pytest.approx([math.log(3 / 5), math.log(2 / 5)])
    # vocab = {apple, banana, zebra, xylo}; n_tokens a=5, b=7
    assert model.floors == pytest.approx([math.log(1 / 9), math.log(1 / 11)])
    tbl = {r["_tok"]: r for r in model.table.collect()}
    assert tbl["apple"]["_lp_0"] == pytest.approx(math.log((3 + 1) / 9))
    assert tbl["apple"]["_lp_1"] == pytest.approx(math.log(1 / 11))
    assert tbl["xylo"]["_lp_1"] == pytest.approx(math.log((4 + 1) / 11))
    model.release()


def test_nb_predict_golden_and_edges(fruit_docs):
    model = nb_train(fruit_docs, text_col="text", label_col="cls")
    out = {r["doc_id"]: r for r in
           nb_predict(fruit_docs, model, id_col="doc_id").collect()}
    assert len(out) == 6
    # hand-computed: doc 0 = prior_a + 2*ln(4/9) + ln(3/9)
    want0 = math.log(3 / 5) + 2 * math.log(4 / 9) + math.log(3 / 9)
    assert out[0]["pred_label"] == "a"
    assert out[0]["pred_logp"] == pytest.approx(want0)
    assert out[0]["n_tokens"] == 3
    assert out[2]["pred_label"] == "b"
    # empty doc: prior-only argmax -> 'a' (3/5 > 2/5), score = prior
    assert out[4]["pred_label"] == "a"
    assert out[4]["pred_logp"] == pytest.approx(math.log(3 / 5))
    assert out[4]["n_tokens"] == 0
    # unseen token ("mango") takes the per-class floor
    extra = fruit_docs.sparkSession.createDataFrame(
        [(9, "mango")], "doc_id long, text string")
    got = nb_predict(extra, model).collect()[0]
    want = math.log(3 / 5) + math.log(1 / 9)   # class a floor wins
    assert got["pred_label"] == "a" and got["pred_logp"] == pytest.approx(want)
    model.release()


def test_nb_predict_kernel_matches_join_engine(spark, monkeypatch):
    # Messy corpus: duplicate ids (token counts POOL per id via the join
    # engine's groupBy), null id (one pooled group), empty/whitespace
    # docs, unseen tokens, unicode. Kernel and join engines must agree
    # on (pred_label, n_tokens) exactly and pred_logp to well under the
    # 1e-6 argmax contract.
    rows = [
        (1, "apple apple banana", "a"),
        (1, "apple zebra", "a"),          # pools with the row above
        (2, "zebra zebra xylo", "b"),
        (None, "banana banana", "a"),
        (None, "xylo", "b"),
        (3, "", "a"),
        (4, "   ", "b"),
        (5, "mango unseen tokens", None),
        (6, "héllo wörld héllo", "a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, cls string")
    model = nb_train(df, label_col="cls")
    kern = {(r["doc_id"],): r for r in
            nb_predict(df, model, engine="kernel").collect()}
    join = {(r["doc_id"],): r for r in
            nb_predict(df, model, engine="join").collect()}
    assert kern.keys() == join.keys() and len(kern) == 7
    for k in kern:
        a, b = kern[k], join[k]
        assert (a["pred_label"], a["n_tokens"]) == \
               (b["pred_label"], b["n_tokens"]), k
        assert a["pred_logp"] == pytest.approx(b["pred_logp"], abs=1e-9)
    # env cap below |V| routes auto to the join engine
    monkeypatch.setenv("SPARK_GRAFT_NB_LOCAL_MAX_VOCAB", "1")
    routed = nb_predict(df, model)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    model.release()
    with pytest.raises(ValueError):
        nb_predict(df, model, engine="nope")


def test_nb_separable_fixture_classifies_perfectly(spark):
    rng = np.random.default_rng(5)
    vocab = {"x": ["red", "green", "blue"], "y": ["do", "re", "mi", "fa"]}
    rows = [(i, " ".join(rng.choice(vocab[c], size=rng.integers(3, 9))), c)
            for i, c in enumerate(rng.choice(["x", "y"], size=60))]
    df = spark.createDataFrame(rows, "doc_id long, text string, cls string")
    out = nb_classify(df, label_col="cls", id_col="doc_id")
    joined = out.join(df, on="doc_id")
    assert joined.filter(F.col("pred_label") != F.col("cls")).count() == 0


def test_nb_numpy_differential(spark):
    # identical add-k NB computed densely in numpy must match to 1e-9
    rng = np.random.default_rng(17)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(40):
        c = ["p", "q", "r"][i % 3]
        bias = {"p": 0, "q": 4, "r": 8}[c]
        ws = rng.choice(vocab[bias:bias + 6], size=rng.integers(1, 7))
        rows.append((i, " ".join(ws), c))
    df = spark.createDataFrame(rows, "doc_id long, text string, cls string")
    model = nb_train(df, label_col="cls", add_k=0.7)
    got = {r["doc_id"]: r for r in nb_predict(df, model).collect()}

    labels = sorted({c for _, _, c in rows})
    counts = {(c, w): 0 for c in labels for w in vocab}
    totals = {c: 0 for c in labels}
    docs_per = {c: 0 for c in labels}
    for _, text, c in rows:
        docs_per[c] += 1
        for w in text.split():
            counts[(c, w)] += 1
            totals[c] += 1
    V = len({w for (_, w), n in counts.items() if n > 0})
    for i, text, _ in rows:
        scores = []
        for c in labels:
            s = math.log(docs_per[c] / len(rows))
            for w in text.split():
                s += math.log((counts[(c, w)] + 0.7) / (totals[c] + 0.7 * V))
            scores.append(s)
        best = max(range(len(labels)), key=lambda k: (round(scores[k], 6),
                                                      -k))
        assert got[i]["pred_label"] == labels[best], i
        assert got[i]["pred_logp"] == pytest.approx(scores[best], abs=1e-9)
    model.release()


def test_nb_error_paths(spark, fruit_docs):
    with pytest.raises(ValueError, match="add_k"):
        nb_train(fruit_docs, label_col="cls", add_k=0.0)
    empty = spark.createDataFrame([], "doc_id long, text string, cls string")
    with pytest.raises(ValueError, match="no labeled rows"):
        nb_train(empty, label_col="cls")


# ---------------------------------------------------------------------------
# logistic regression
# ---------------------------------------------------------------------------

def _synth(rng, n=200, dim=6):
    X = rng.normal(size=(n, dim))
    w_true = rng.normal(size=dim)
    y = (X @ w_true + 0.25 > 0).astype(np.float64)
    return X, y


def test_logreg_matches_numpy_gd_exactly(spark):
    rng = np.random.default_rng(23)
    X, y = _synth(rng)
    df = spark.createDataFrame(
        [(row.tolist(), float(t)) for row, t in zip(X, y)],
        "embedding array<double>, _y double")
    model = logreg_train(df, dim=6, iters=4, lr=1.0)

    w = np.zeros(6)
    b = 0.0
    for _ in range(4):
        p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
        r = p - y
        w = w - 1.0 * (r[:, None] * X).mean(axis=0)
        b = b - 1.0 * r.mean()
    assert model.weights == pytest.approx(w.tolist(), abs=1e-9)
    assert model.bias == pytest.approx(b, abs=1e-9)


def test_logreg_learns_separable_data(spark):
    rng = np.random.default_rng(31)
    X, y = _synth(rng, n=300)
    df = spark.createDataFrame(
        [(row.tolist(), float(t)) for row, t in zip(X, y)],
        "embedding array<double>, _y double")
    model = logreg_train(df, dim=6, iters=25, lr=2.0)
    scored = logreg_predict(df, model)
    acc = (scored.filter(F.col("pred") == F.col("_y").cast("int")).count()
           / scored.count())
    assert acc > 0.9, acc
    # gradient norm shrinks as it converges
    assert model.history[-1] < model.history[0]


def test_logreg_predict_is_map_only(spark):
    rng = np.random.default_rng(7)
    X, y = _synth(rng, n=50)
    df = spark.createDataFrame(
        [(row.tolist(), float(t)) for row, t in zip(X, y)],
        "embedding array<double>, _y double")
    model = logreg_train(df, dim=6, iters=2, lr=1.0)
    plan = logreg_predict(df, model)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_logreg_scoring_works_on_a_stream(spark, tmp_path):
    # map-only scoring means the trained model applies to readStream
    # unchanged — train batch, deploy streaming (the quality-gate shape)
    rng = np.random.default_rng(41)
    X, y = _synth(rng, n=80)
    df = spark.createDataFrame(
        [(i, row.tolist(), float(t)) for i, (row, t) in enumerate(zip(X, y))],
        "rid long, embedding array<double>, _y double")
    model = logreg_train(df, dim=6, iters=10, lr=2.0)

    src = str(tmp_path / "stream_src")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (logreg_predict(stream, model)
         .select("rid", "prob", "pred")
         .writeStream.format("memory").queryName("logreg_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    streamed = {r["rid"]: (r["prob"], r["pred"])
                for r in spark.sql("SELECT * FROM logreg_stream").collect()}
    batch = {r["rid"]: (r["prob"], r["pred"])
             for r in logreg_predict(df, model).collect()}
    assert streamed == batch and len(streamed) == 80


def test_nb_scoring_on_a_stream_via_foreachBatch(spark, tmp_path, fruit_docs):
    # nb_predict chains two aggregations (per-doc-token counts, then the
    # per-doc score sum), which Spark's stateful-chain correctness check
    # rejects on an unbounded stream — the deployment shape is foreachBatch:
    # score each micro-batch with the static model, batch-identical results
    model = nb_train(fruit_docs, label_col="cls")
    src = str(tmp_path / "nb_stream_src")
    fruit_docs.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(fruit_docs.schema).parquet(src)

    got = {}

    def score_batch(batch_df, _batch_id):
        for r in nb_predict(batch_df, model, id_col="doc_id").collect():
            got[r["doc_id"]] = r["pred_label"]

    q = (stream.writeStream.foreachBatch(score_batch)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    batch = {r["doc_id"]: r["pred_label"]
             for r in nb_predict(fruit_docs, model).collect()}
    assert got == batch and len(got) == 6
    model.release()


def test_knn_classify_majority_and_ties(spark):
    from bid_evaluation_spark.operators.classify import knn_classify

    # corpus: label 0 clustered near (1,0); label 1 near (0,1)
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0], 0), (11, [0.9, 0.1], 0), (12, [0.95, 0.05], 0),
         (20, [0.0, 1.0], 1), (21, [0.1, 0.9], 1)],
        "vec_id long, embedding array<float>, label int")
    queries = spark.createDataFrame(
        [(1, [1.0, 0.05]), (2, [0.05, 1.0])],
        "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in
           knn_classify(queries, corpus, k=3).collect()}
    assert out[1]["predicted"] == 0 and out[1]["votes"] == 3
    assert out[2]["predicted"] == 1 and out[2]["votes"] == 2
    assert 0.99 <= out[1]["top_cosine"] <= 1.0

    # 2-2 vote tie at k=4 -> smallest label wins
    out4 = {r["vec_id"]: r for r in
            knn_classify(queries, corpus, k=4).collect()}
    q2 = out4[2]
    assert q2["votes"] == 2 and q2["predicted"] in (0, 1)
    # neighbors of q2 at k=4: 20,21 (label 1) + 2 of label 0 -> tie -> 0
    assert q2["predicted"] == 0

    import pytest as _pytest
    with _pytest.raises(ValueError):
        knn_classify(queries, corpus, k=0)


def test_nb_classify_model_table_is_released(spark, fruit_docs):
    from bid_evaluation_spark.operators.cache import release_all

    jsc = spark.sparkContext._jsc
    release_all()
    spark.catalog.clearCache()
    assert jsc.getPersistentRDDs().size() == 0
    nb_classify(fruit_docs.filter(F.col("cls").isNotNull()),
                label_col="cls", id_col="doc_id").collect()
    release_all()
    assert jsc.getPersistentRDDs().size() == 0
