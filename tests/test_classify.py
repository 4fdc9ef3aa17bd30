"""Multinomial NB classifier (operators/classify.py)."""

import math

import pytest

from neosemantics_spark.operators import classify


@pytest.fixture(scope="module")
def model_and_docs(spark):
    train = spark.createDataFrame(
        [
            (1, "good fine good", "ham"),
            (2, "fine", "ham"),
            (3, "buy now", "spam"),
        ],
        ["doc_id", "text", "label"],
    )
    model = classify.train_nb(train, "label")
    return model, train


def test_train_nb_tables(spark, model_and_docs):
    model, _ = model_and_docs
    assert model.vocab_size == 4 and model.n_docs == 3
    cls = {r["label"]: (r["n_docs"], r["n_tokens"]) for r in model.classes.collect()}
    assert cls == {"ham": (2, 4), "spam": (1, 2)}
    lik = {
        (r["token"], r["label"]): r["cnt"] for r in model.likelihoods.collect()
    }
    assert lik[("good", "ham")] == 2 and lik[("buy", "spam")] == 1


def test_nb_score_hand_formula(spark, model_and_docs):
    model, _ = model_and_docs
    docs = spark.createDataFrame([(10, "good good buy")], ["doc_id", "text"])
    out = classify.nb_score(docs, model).collect()
    assert len(out) == 1
    r = out[0]
    # ham: ln(2/3) + mean(ln(3/8), ln(3/8), ln(1/8))
    ham = math.log(2 / 3) + (math.log(3 / 8) * 2 + math.log(1 / 8)) / 3
    # spam: ln(1/3) + mean(ln(1/6), ln(1/6), ln(2/6))
    spam = math.log(1 / 3) + (math.log(1 / 6) * 2 + math.log(2 / 6)) / 3
    expect_label = "ham" if ham >= spam else "spam"
    assert r["predicted"] == expect_label
    assert abs(r["score"] - round(max(ham, spam), 4)) <= 1e-4


def test_nb_score_separates_classes(spark, model_and_docs):
    model, _ = model_and_docs
    docs = spark.createDataFrame(
        [(20, "good fine fine"), (21, "buy buy now"), (22, "")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in classify.nb_score(docs, model).collect()}
    assert out[20]["predicted"] == "ham"
    assert out[21]["predicted"] == "spam"
    # zero-token doc: prior-only decision → majority class
    assert out[22]["predicted"] == "ham"
    assert abs(out[22]["score"] - round(math.log(2 / 3), 4)) <= 1e-4


def test_nb_oov_finite(spark, model_and_docs):
    model, _ = model_and_docs
    docs = spark.createDataFrame([(30, "zzz qqq unseen")], ["doc_id", "text"])
    [r] = classify.nb_score(docs, model).collect()
    assert math.isfinite(r["score"])


def test_save_load_roundtrip(spark, model_and_docs, tmp_path):
    model, _ = model_and_docs
    path = str(tmp_path / "nb_model")
    classify.save_nb(model, path)
    loaded = classify.load_nb(spark, path)
    assert loaded.vocab_size == model.vocab_size
    assert loaded.n_docs == model.n_docs and loaded.alpha == model.alpha
    docs = spark.createDataFrame(
        [(40, "good fine"), (41, "buy now now")], ["doc_id", "text"]
    )
    a = sorted(map(tuple, classify.nb_score(docs, model).collect()))
    b = sorted(map(tuple, classify.nb_score(docs, loaded).collect()))
    assert a == b


def test_save_load_reject_remote_scheme(spark, model_and_docs, tmp_path):
    """save_nb/load_nb mix Spark writers with POSIX meta.json I/O — a
    remote root would silently split the artifact (ADVICE r5)."""
    import pytest as _pytest

    model, _ = model_and_docs
    with _pytest.raises(ValueError, match="URI scheme"):
        classify.save_nb(model, "hdfs://nn/models/nb")
    with _pytest.raises(ValueError, match="URI scheme"):
        classify.load_nb(spark, "s3a://bucket/models/nb")
    # file: scheme is normalized and works
    path = str(tmp_path / "nb_model_file")
    classify.save_nb(model, "file://" + path)
    loaded = classify.load_nb(spark, "file://" + path)
    assert loaded.vocab_size == model.vocab_size

