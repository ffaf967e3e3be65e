"""Model-based language ID: trainer, numpy scorer, seam protocol, parity.

The exact cross-engine train→predict parity is pinned by the driver oracle
(``tx_langid_model`` in ``__spark_entry__``); these tests pin the pieces —
hash/normalization math against hand computations, trainer determinism,
model quality on held-out synthetic docs, the pluggable BatchScorer seam,
and the import-gated fastText adapter.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from html_table_spark.operators import langid


def test_normalize_matches_sql_convention():
    assert langid._normalize("A \t B") == " a b "
    assert langid._normalize("") == "  "
    assert langid._normalize(None) == "  "
    # NBSP is NOT ASCII whitespace: every engine keeps it
    assert langid._normalize("a b") == " a b "


def test_gram_buckets_hand_computed():
    # "ab" normalizes to " ab " → grams " ab", "ab " with the documented
    # polynomial hash (cp0*961 + cp1*31 + cp2) % buckets
    bs = langid._gram_buckets("ab", ngram=3, buckets=1 << 20)
    exp0 = 32 * 961 + 97 * 31 + 98
    exp1 = 97 * 961 + 98 * 31 + 32
    assert bs.tolist() == [exp0, exp1]
    # short/empty text yields zero grams (normalized length < ngram)
    assert langid._gram_buckets("", ngram=3, buckets=64).size == 0
    # astral codepoints hash as SINGLE characters (utf-32 decode): the
    # normalized " 😀 " is 3 codepoints → exactly one trigram, and its hash
    # uses the full codepoint value (not surrogate halves)
    bs = langid._gram_buckets("\U0001f600", ngram=3, buckets=1 << 40)
    assert bs.tolist() == [32 * 961 + 0x1F600 * 31 + 32]


def _toy_corpus(spark):
    rows = []
    en = ["the cat sat on the mat", "a dog and the bird", "to be or not to be"]
    fr = ["le chat est sur le tapis", "la vie est belle", "je suis ici"]
    for i, t in enumerate(en):
        rows.append((i * 2, t, "en"))
    for i, t in enumerate(fr):
        rows.append((i * 2 + 1, t, "fr"))
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_train_and_predict_roundtrip(spark):
    docs = _toy_corpus(spark)
    model = langid.train_langid_model(docs, buckets=256, ngram=3)
    assert model.classes == ("en", "fr")
    assert model.weights.shape == (256, 2)
    # weights column-sum identity: sum_b exp(w[b,c]) == (total+B)/(total+B)
    for c in range(2):
        assert math.isclose(np.exp(model.weights[:, c]).sum(), 1.0, rel_tol=1e-9)
    out = {
        r["doc_id"]: r["pred_lang"]
        for r in langid.langid_predict(docs, model).collect()
    }
    # training docs classify correctly (separable toy corpus)
    assert [out[i] for i in (0, 2, 4)] == ["en", "en", "en"]
    assert [out[i] for i in (1, 3, 5)] == ["fr", "fr", "fr"]


def test_predict_held_out_and_score_schema(spark):
    train = _toy_corpus(spark)
    model = langid.train_langid_model(train, buckets=256, ngram=3)
    held = spark.createDataFrame(
        [(100, "the bird sat on a dog"), (101, "le tapis est sur la table")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in langid.langid_predict(held, model).collect()}
    assert rows[100]["pred_lang"] == "en"
    assert rows[101]["pred_lang"] == "fr"
    assert isinstance(rows[100]["score"], float)
    df = langid.langid_predict(held, model)
    assert [f.name for f in df.schema.fields] == ["doc_id", "pred_lang", "score"]


def test_predict_keeps_string_doc_ids(spark):
    """The output id column takes the input's type: the canonical corpus
    and WARC-derived documents carry string ids."""
    model = langid.train_langid_model(_toy_corpus(spark), buckets=256, ngram=3)
    held = spark.createDataFrame(
        [("doc-a", "the bird sat on a dog"), ("doc-b", "le tapis est sur la table")],
        "doc_id string, text string",
    )
    df = langid.langid_predict(held, model)
    assert df.schema["doc_id"].dataType == T.StringType()
    rows = {r["doc_id"]: r["pred_lang"] for r in df.collect()}
    assert rows == {"doc-a": "en", "doc-b": "fr"}


def test_trainer_deterministic_across_partitionings(spark):
    docs = _toy_corpus(spark)
    m1 = langid.train_langid_model(docs.repartition(1), buckets=128)
    m2 = langid.train_langid_model(docs.repartition(7), buckets=128)
    assert m1.classes == m2.classes
    assert np.array_equal(m1.weights, m2.weights)
    assert np.array_equal(m1.priors, m2.priors)


def test_empty_text_scores_prior_argmax(spark):
    docs = _toy_corpus(spark)
    # skew priors: duplicate the en docs so en has the larger prior
    skewed = docs.union(docs.where(F.col("lang") == "en"))
    model = langid.train_langid_model(skewed, buckets=128)
    empty = spark.createDataFrame([(7, "")], "doc_id long, text string")
    # "" normalizes to two spaces → zero grams → argmax over priors alone
    row = langid.langid_predict(empty, model).collect()[0]
    assert row["pred_lang"] == "en"
    assert row["score"] == round(float(model.priors[0]), 4)


def test_pluggable_batch_scorer_seam(spark):
    class Upper:
        def predict_batch(self, texts):
            return (["xx" for _ in texts], [float(len(t or "")) for t in texts])

    assert isinstance(Upper(), langid.BatchScorer)
    docs = spark.createDataFrame([(1, "abc"), (2, "")], "doc_id long, text string")
    rows = sorted(
        langid.langid_predict(docs, Upper()).collect(), key=lambda r: r["doc_id"]
    )
    assert [(r["pred_lang"], r["score"]) for r in rows] == [("xx", 3.0), ("xx", 0.0)]


def test_fasttext_loader_import_gated():
    try:
        import fasttext  # noqa: F401

        pytest.skip("fasttext installed in this environment")
    except ImportError:
        pass
    with pytest.raises(ImportError, match="predict_batch"):
        langid.load_fasttext_langid("/nonexistent/lid.bin")


def test_model_validation():
    with pytest.raises(ValueError, match="sorted"):
        langid.LangIdModel(
            classes=("fr", "en"), buckets=4, ngram=3,
            weights=np.zeros((4, 2)), priors=np.zeros(2),
        )
    with pytest.raises(ValueError, match="shape"):
        langid.LangIdModel(
            classes=("en", "fr"), buckets=4, ngram=3,
            weights=np.zeros((3, 2)), priors=np.zeros(2),
        )
    with pytest.raises(ValueError, match="positive"):
        langid.train_langid_model(None, buckets=0)


def test_registry_query_against_real_corpus(spark):
    """tx_langid_model at sf0.001: one prediction per doc, labels drawn
    from the training classes, deterministic across partitionings.  (The
    synthetic corpus's lang column is metadata uncorrelated with its token
    content — every language shares one vocabulary — so held-out accuracy
    is structurally chance there; generalization is pinned on the separable
    toy corpus above, and cross-engine value parity by the driver oracle.)"""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    pred = entry.tx_langid_model(spark, sf)
    truth = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "lang")
    n = truth.count()
    assert pred.count() == n
    assert pred.join(truth, "doc_id").count() == n
    classes = {r["lang"] for r in truth.where(F.col("doc_id") % 5 < 2).collect()}
    assert {r["pred_lang"] for r in pred.collect()} <= classes
    again = {
        (r["doc_id"], r["pred_lang"], r["score"])
        for r in entry.tx_langid_model(spark, sf).collect()
    }
    assert {(r["doc_id"], r["pred_lang"], r["score"]) for r in pred.collect()} == again
