"""Model-based language identification: a fastText-shaped linear classifier
over hashed character n-grams, trained distributed and applied via a
broadcast model + Arrow-batched pandas UDF.

The heuristic scorers in ``functions/text.py`` (``lang_id``,
``lang_id_ngram``) are the cheap JVM-side signals; a real 100-TB pipeline
routes language ID through a trained model (fastText / CLD3 class).  This
module supplies that seam with the same architecture those models use —
bag of hashed character n-grams → per-class linear weights → argmax
(Joulin et al. 2016, "Bag of Tricks for Efficient Text Classification") —
implemented so that

* **training** is one distributed pass: each Arrow batch reduces its
  documents to a partial ``(bucket, class) → count`` table inside the
  Python worker, Spark's hash aggregation merges the partials, and only
  the ``buckets × classes`` count matrix (k-constant, model-sized — never
  corpus-sized) is collected to the driver;
* **scoring** broadcasts the fitted model once and runs a single
  ``mapInPandas`` pass — per-document work is vectorized numpy (codepoint
  array → strided polynomial hash → one fancy-indexed weight gather), the
  corpus text never shuffles, and nothing touches the extraction hot path;
* every arithmetic step (normalization, the polynomial gram hash, add-one
  smoothing, log-prior, argmax tie-break) is replicated exactly by a
  DuckDB SQL twin, so the whole train→predict loop is value-oracled like
  the BPE trainer (``__spark_entry__._bpe_state_sql`` precedent).

Pluggability: :func:`langid_predict` accepts either a :class:`LangIdModel`
(the built-in numpy fast path) or any object with a
``predict_batch(texts) -> (labels, scores)`` method — the import-gated
:func:`load_fasttext_langid` adapter wraps a real fastText ``.bin`` behind
that protocol when the library is available (it is not in this sandbox, so
the loader raises a clear ``ImportError`` and the tests exercise the
protocol with a stub).

Reference parity note: the reference library (bakame-php/html-table) has no
language ID; this operator family is part of the training-data-pipeline
surface the build plan adds beyond the reference (SURVEY.md §2 extension
rows).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Iterator, Protocol, Sequence, runtime_checkable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "LangIdModel",
    "train_langid_model",
    "langid_predict",
    "BatchScorer",
    "load_fasttext_langid",
]

# ASCII-only whitespace fold: Java regex \s (Spark), RE2 \s (DuckDB) and
# this pattern all mean [ \t\n\r\f\v], so the three engines normalize
# byte-identically.  re.ASCII keeps Python's \s from also eating U+00A0 etc.
_WS_RE = re.compile(r"\s+", re.ASCII)

# Polynomial hash base per position for the default trigram model: the gram
# (c0, c1, c2) hashes to (cp(c0)*961 + cp(c1)*31 + cp(c2)) mod buckets —
# small enough to restate in one SQL expression with unicode()/substr().
_HASH_BASE = 31


@dataclass(frozen=True)
class LangIdModel:
    """A fitted hashed-ngram linear language classifier.

    ``weights[b, c]`` is the add-one-smoothed log-likelihood ratio term
    ``ln((count(b, c) + 1) / (total(c) + buckets))``; ``priors[c]`` is the
    log class prior.  ``classes`` is sorted so numpy's first-max ``argmax``
    implements the deterministic alphabetical tie-break the SQL twin uses.
    """

    classes: tuple[str, ...]
    buckets: int
    ngram: int
    weights: np.ndarray  # float64 (buckets, n_classes)
    priors: np.ndarray   # float64 (n_classes,)

    def __post_init__(self) -> None:
        if tuple(sorted(self.classes)) != self.classes:
            raise ValueError("classes must be sorted (deterministic argmax)")
        if self.weights.shape != (self.buckets, len(self.classes)):
            raise ValueError("weights shape mismatch")


def _normalize(text: str | None) -> str:
    """' ' + lowercased, ASCII-whitespace-folded text + ' ' — identical to
    ``char_trigrams``'s JVM normalization and the DuckDB twin's
    ``' ' || regexp_replace(lower(t), '\\s+', ' ', 'g') || ' '``."""
    return " " + _WS_RE.sub(" ", (text or "").lower()) + " "


def _gram_buckets(text: str | None, ngram: int, buckets: int) -> np.ndarray:
    """Vectorized gram hashing: decode once to a codepoint array (utf-32),
    then a strided polynomial dot — no per-gram Python objects."""
    t = _normalize(text)
    cps = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    n = cps.size - ngram + 1
    if n <= 0:
        return np.empty(0, dtype=np.int64)
    acc = np.zeros(n, dtype=np.int64)
    for j in range(ngram):
        acc = acc * _HASH_BASE + cps[j : j + n]
    return acc % buckets


def train_langid_model(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    buckets: int = 2048,
    ngram: int = 3,
) -> LangIdModel:
    """Fit the classifier from a labeled seed corpus in one distributed pass.

    Scale design: gram extraction + hashing happen inside the Arrow batch
    (vectorized numpy), each batch emits an already-reduced
    ``(bucket, label, cnt)`` partial — so the shuffle that follows carries
    at most ``buckets × classes`` rows per task regardless of corpus size —
    and Spark's two-phase hash aggregation merges the partials.  The only
    collect is the model itself (``buckets × classes`` counts + per-class
    totals), the same k-constant driver role as the k-means centroids in
    ``similarity.py`` and the BPE merge argmax in ``bpe.py``.
    """
    if buckets <= 0 or ngram <= 0:
        raise ValueError("buckets and ngram must be positive")

    def partial_counts(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            frames = []
            for label, grp in pdf.groupby(label_col, sort=False):
                bs = [
                    _gram_buckets(t, ngram, buckets)
                    for t in grp[text_col].tolist()
                ]
                cat = np.concatenate(bs) if bs else np.empty(0, np.int64)
                if cat.size == 0:
                    # still count the class total (zero grams) via a
                    # sentinel-free empty frame; totals come from counts
                    continue
                uniq, cnt = np.unique(cat, return_counts=True)
                frames.append(
                    pd.DataFrame(
                        {"b": uniq, "cls": str(label), "cnt": cnt.astype("int64")}
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    counts = (
        labeled.select(F.col(text_col), F.col(label_col))
        .mapInPandas(partial_counts, schema="b long, cls string, cnt long")
        .groupBy("b", "cls")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    )
    # class doc-counts for the log prior (tiny aggregate, one row per class)
    doc_counts = {
        r["cls"]: r["n"]
        for r in labeled.groupBy(F.col(label_col).alias("cls"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    classes = tuple(sorted(doc_counts))
    idx = {c: i for i, c in enumerate(classes)}
    grid = np.zeros((buckets, len(classes)), dtype=np.int64)
    for r in counts:
        grid[r["b"], idx[r["cls"]]] = r["cnt"]
    totals = grid.sum(axis=0)
    weights = np.log((grid + 1.0) / (totals + float(buckets)))
    n_docs = float(sum(doc_counts.values()))
    priors = np.log(
        np.array([doc_counts[c] for c in classes], dtype=np.float64) / n_docs
    )
    return LangIdModel(
        classes=classes, buckets=buckets, ngram=ngram,
        weights=weights, priors=priors,
    )


@runtime_checkable
class BatchScorer(Protocol):
    """The pluggable scoring seam: anything that labels a batch of texts."""

    def predict_batch(
        self, texts: Sequence[str]
    ) -> tuple[list[str], list[float]]: ...


class _ModelScorer:
    """Numpy fast path for :class:`LangIdModel` behind the seam protocol."""

    def __init__(self, model: LangIdModel) -> None:
        self.m = model

    def predict_batch(
        self, texts: Sequence[str]
    ) -> tuple[list[str], list[float]]:
        m = self.m
        labels: list[str] = []
        scores: list[float] = []
        for t in texts:
            bs = _gram_buckets(t, m.ngram, m.buckets)
            s = m.priors + m.weights[bs].sum(axis=0)
            # round-6 argmax: the SQL twin sums the identical ln() terms in
            # a different order; rounding absorbs the <1e-9 float drift so
            # ties resolve alphabetically (classes sorted, first max wins)
            k = int(np.argmax(np.round(s, 6)))
            labels.append(m.classes[k])
            scores.append(float(round(s[k], 4)))
        return labels, scores


def langid_predict(
    docs: DataFrame,
    model: "LangIdModel | BatchScorer",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Label every document: ``(id_col, pred_lang, score)``.

    One Arrow-batched ``mapInPandas`` pass; the model rides to executors in
    the serialized closure exactly once per worker (model-sized, the
    broadcast role — a ``LangIdModel`` at the default shape is
    ``2048 × |classes|`` float64, ~80 KB).  The corpus never shuffles, and
    per-document work is vectorized numpy, keeping the no-per-row-Python
    rule: Python touches Arrow columns, not Row objects.
    """
    scorer: BatchScorer = (
        _ModelScorer(model) if isinstance(model, LangIdModel) else model
    )

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            labels, scores = scorer.predict_batch(pdf[text_col].tolist())
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "pred_lang": pd.Series(labels, index=pdf.index),
                    "score": pd.Series(scores, index=pdf.index, dtype="float64"),
                }
            )

    out_schema = T.StructType(
        [
            T.StructField(id_col, docs.schema[id_col].dataType),
            T.StructField("pred_lang", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        run, schema=out_schema
    )


def load_fasttext_langid(path: str) -> BatchScorer:
    """Adapter for a real fastText ``lid`` model behind the same seam.

    Import-gated: the fasttext library (and any model artifact) is not
    available in this sandbox, so this raises ``ImportError`` with a clear
    message; when it is available, the returned scorer plugs straight into
    :func:`langid_predict`.
    """
    try:
        import fasttext  # type: ignore[import-not-found]
    except ImportError as e:  # pragma: no cover - sandbox has no fasttext
        raise ImportError(
            "fasttext is not installed; langid_predict accepts any object "
            "with predict_batch(texts) -> (labels, scores) — train the "
            "built-in hashed-ngram model with train_langid_model, or "
            "install fasttext and retry"
        ) from e

    model = fasttext.load_model(path)  # pragma: no cover

    class _FastTextScorer:  # pragma: no cover
        def predict_batch(self, texts):
            cleaned = [(t or "").replace("\n", " ") for t in texts]
            lab, prob = model.predict(cleaned)
            return (
                [l[0].removeprefix("__label__") for l in lab],
                [float(round(p[0], 4)) for p in prob],
            )

    return _FastTextScorer()  # pragma: no cover
