"""Corpus-level analysis and data-mixing operators.

These complement the per-document text analysis in ``functions/text.py``
with the corpus-wide passes a training-data pipeline runs between filtering
and tokenization: boilerplate n-gram discovery, vocabulary statistics, and
deterministic stratified sampling for mixture construction.

All three are pure DataFrame compositions (JVM expressions + hash
aggregates + one small window each) with exact DuckDB oracle twins in
``__spark_entry__.oracle_sql``.

Scale notes (100 TB):

- ``topk_ngrams``: the heavy stream is (lang, gram) and collapses through a
  two-phase hash aggregate *before* the ranking window, so the window input
  cardinality is bounded by vocabulary², not corpus size. The window
  partitions by language — a handful of huge partitions if ranked rows were
  corpus-sized, but they are post-aggregate counts, so each language
  partition holds at most |vocab per lang|² rows. For web-scale vocabularies,
  cap with a count threshold filter (``HAVING cnt >= t``) before the window.
- ``vocab_stats``: two chained hash aggregates, (source, token) then
  (source); the shuffled payload is tokens + counts, never documents.
- ``pack_sequences``: the global prefix sum a packing index needs is NOT a
  global window (single-partition at scale) — it's a two-phase distributed
  prefix sum: tiny per-bucket sums relation, broadcast offsets, parallel
  per-bucket windows. See the function docstring.
- ``stratified_sample``: exact per-stratum quota via hash-ranking — ranking
  key is ``md5(text)`` so the sample is deterministic, reproducible across
  engines, and independent of input partitioning/row order. The window sorts
  per stratum; at 100 TB replace the exact rank with a hash-threshold
  (keep if md5(text) < quantile(quota/count)) to avoid the per-stratum
  sort — same distribution, no window. The exact form is kept because the
  reference-twin gate needs byte-identical membership.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingles, token_count, tokens


def topk_ngrams(
    docs: DataFrame,
    n: int = 2,
    k: int = 5,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` word n-grams per group by corpus frequency — the
    boilerplate-discovery pass (the most frequent n-grams per language are
    the site chrome / template phrases a cleaning pipeline strips).

    Documents with fewer than ``n`` tokens are excluded (their whole-text
    fallback shingle is not a real n-gram). Ties break on the gram string
    ascending, so the result is deterministic.

    Returns ``(group_col, gram, cnt, rnk)`` with ``rnk`` in 1..k.
    """
    from .util import ensure_parallelism

    grams = ensure_parallelism(
        docs.where(token_count(text_col) >= n).select(group_col, text_col)
    ).select(
        F.col(group_col),
        F.explode(shingles(text_col, n)).alias("gram"),
    )
    counts = grams.groupBy(group_col, "gram").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy(group_col).orderBy(
        F.col("cnt").desc(), F.col("gram").asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(group_col, "gram", "cnt", "rnk")
    )


def vocab_stats(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group vocabulary statistics: total token count, vocabulary size,
    hapax-legomena count (tokens occurring exactly once in the group), and
    type-token ratio — the corpus-health signals used to spot generator
    collapse / crawler loops in a training mix (a source whose TTR craters
    is emitting templated text).

    Returns ``(group_col, n_tokens, vocab, hapax, ttr)``.
    """
    tok = docs.select(F.col(group_col), F.explode(tokens(text_col)).alias("tok"))
    counts = tok.groupBy(group_col, "tok").agg(F.count("*").alias("c"))
    return (
        counts.groupBy(group_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("vocab"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("hapax"),
        )
        .select(
            group_col,
            "n_tokens",
            "vocab",
            "hapax",
            F.round(F.col("vocab") / F.col("n_tokens"), 4).alias("ttr"),
        )
    )


def lm_score(
    docs: DataFrame,
    reference: DataFrame,
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document language-model quality score: average add-one-smoothed
    bigram log-probability under a per-language bigram model counted from a
    trusted ``reference`` split — the CCNet/KenLM-style perplexity filter
    every web-corpus pipeline runs (documents far from the reference
    distribution score low and get binned or dropped).

    score(d) = mean over bigrams (w1 w2) of ln((c(w1 w2) + 1) / (c(w1) + V)),
    with counts and vocabulary size V per language. Documents with fewer
    than 2 tokens, and languages absent from the reference split, are
    unscored (omitted). Returns ``(id_col, group_col, n_bigrams,
    avg_logp)``.

    Scale design: the model side is reference-sized, never corpus-sized —
    bigram counts, unigram counts, and V are all aggregates of the trusted
    split, **broadcast** to the corpus scan; scoring is then map-side
    probes plus one per-doc partial aggregate, so the corpus text never
    shuffles. The float pipeline is ln/avg/round(4): a 1-ulp libm
    divergence between engines is ~1e-16 per term, far inside the 1e-4
    rounding, so the DuckDB oracle recomputes it exactly.
    """
    doc_bi = docs.where(token_count(text_col) >= 2).select(
        F.col(id_col),
        F.col(group_col),
        F.explode(shingles(text_col, 2)).alias("gram"),
    ).withColumn("w1", F.split_part(F.col("gram"), F.lit(" "), F.lit(1)))
    ref_bi = (
        reference.where(token_count(text_col) >= 2)
        .select(F.col(group_col), F.explode(shingles(text_col, 2)).alias("gram"))
        .groupBy(group_col, "gram")
        .agg(F.count("*").alias("c12"))
    )
    ref_tok = reference.select(
        F.col(group_col), F.explode(tokens(text_col)).alias("tok")
    )
    ref_uni = ref_tok.groupBy(group_col, "tok").agg(F.count("*").alias("c1"))
    ref_v = ref_tok.groupBy(group_col).agg(
        F.countDistinct("tok").alias("v")
    )
    scored = (
        doc_bi.join(F.broadcast(ref_bi), [group_col, "gram"], "left")
        .join(
            F.broadcast(ref_uni.withColumnRenamed("tok", "w1")),
            [group_col, "w1"],
            "left",
        )
        .join(F.broadcast(ref_v), group_col, "inner")
        .withColumn(
            "logp",
            F.log(
                (F.coalesce(F.col("c12"), F.lit(0)) + 1)
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
            ),
        )
    )
    return scored.groupBy(id_col, group_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("logp"), 4).alias("avg_logp"),
    )


def pack_sequences(
    docs: DataFrame,
    ctx_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_width: int = 4096,
) -> DataFrame:
    """Concat-and-chop sequence packing: lay every document's tokens end to
    end in ``id_col`` order and chop the stream into fixed ``ctx_len``
    context windows — the packing index a GPT-style pretraining loader
    needs (which windows does each document land in, and at what offset).

    Returns ``(id_col, n_tokens, tok_start, seq_start, seq_end)`` for
    documents with at least one token: ``tok_start`` is the document's
    offset in the global token stream, ``seq_start``/``seq_end`` the first
    and last context-window indices it occupies.

    Scale design — the naive form is a global window (``ORDER BY id`` with
    no partition key), which Spark executes on a SINGLE partition: a
    non-starter at 100 TB. This implements the classic distributed prefix
    sum instead: (1) bucket rows by ``floor(id / bucket_width)``; (2) one
    tiny aggregate of per-bucket token sums — |rows| / bucket_width rows —
    whose running total is the only global window, over that tiny relation;
    (3) broadcast the bucket offsets back and finish with a per-bucket
    window (partitioned, parallel). Results are byte-identical to the
    naive global window, which is exactly what the DuckDB oracle runs.
    ``bucket_width`` trades bucket-relation size against per-bucket window
    width; at 10^11 rows, width 10^6 keeps the bucket relation at 10^5
    rows while each parallel window sorts only 10^6.
    """
    toks = docs.select(
        F.col(id_col),
        token_count(text_col).cast("bigint").alias("n_tokens"),
    ).where(F.col("n_tokens") > 0)
    b = toks.withColumn("b", F.floor(F.col(id_col) / bucket_width))
    bucket_sums = b.groupBy("b").agg(F.sum("n_tokens").alias("s"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_sums.select(
        "b", F.coalesce(F.sum("s").over(wb), F.lit(0)).alias("off")
    )
    wr = (
        Window.partitionBy("b")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tok_start = F.col("off") + F.coalesce(
        F.sum("n_tokens").over(wr), F.lit(0).cast("bigint")
    )
    return (
        b.join(F.broadcast(offsets), "b")
        .withColumn("tok_start", tok_start)
        .select(
            id_col,
            "n_tokens",
            "tok_start",
            F.floor(F.col("tok_start") / ctx_len).alias("seq_start"),
            F.floor(
                (F.col("tok_start") + F.col("n_tokens") - 1) / ctx_len
            ).alias("seq_end"),
        )
    )


def stratified_sample(
    docs: DataFrame,
    quota: int,
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic stratified sampling: keep exactly ``min(quota, |stratum|)``
    documents per group, selected by ranking on a content hash — the
    data-mixing primitive for building a training mixture with fixed
    per-language (or per-source) budgets.

    Hash-ranking (``md5(text)``, ties broken by id) makes the sample a pure
    function of content: re-running on a re-partitioned, re-ordered, or
    incrementally-grown corpus keeps previously-selected documents stable
    near the top of the ranking, unlike ``rand()``-based sampling.

    Returns ``(id_col, group_col, rnk)`` with ``rnk`` in 1..quota.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(text_col)).asc(), F.col(id_col).asc()
    )
    return (
        docs.select(id_col, group_col, F.row_number().over(w).alias("rnk"))
        .where(F.col("rnk") <= quota)
    )


def token_budget(
    docs: DataFrame,
    budget: int,
    score_col: str = "q",
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_scale: int = 1000,
) -> DataFrame:
    """Quality-greedy token-budget selection: order documents by
    ``(score desc, id asc)`` and keep each document whose running token
    total *before* it is still under ``budget`` — the FineWeb/DCLM-style
    curation step ("take the best N-token subset of the corpus"). The
    last selected document may overshoot the budget (classic greedy
    take-until-crossed semantics), which is what the SQL definition
    ``WHERE tokens_before < budget`` states exactly.

    Returns ``(id_col, score_col, n_tokens, tok_before)`` for the
    selected documents.

    Scale design — the naive form is a single global window
    (``SUM(n_tokens) OVER (ORDER BY score DESC, id)``), which Spark
    executes on ONE partition: a non-starter at 100 TB. This is the same
    two-phase distributed prefix sum as :func:`pack_sequences`, but keyed
    by a score histogram instead of an id range:

    1. bucket documents by ``floor(score * bucket_scale)`` — monotone in
       the score, so bucket order IS priority order and the decomposition
       is exact regardless of where the boundaries fall;
    2. aggregate per-bucket token sums — at most ``bucket_scale + 2``
       rows for a [0,1] score — and run the only global window over that
       tiny relation (descending) to get each bucket's
       strictly-higher-priority token offset;
    3. broadcast the offsets back and finish with per-bucket windows
       (partitioned, parallel) ordered ``(score desc, id asc)``.

    The result is byte-identical to the naive global window, which is
    exactly what the DuckDB oracle twin runs. Selection never looks at
    the text again after the token count, so only ``(id, score,
    n_tokens)`` shuffles — never document bodies.
    """
    scored = docs.select(
        F.col(id_col),
        F.col(score_col),
        token_count(text_col).cast("bigint").alias("n_tokens"),
    )
    b = scored.withColumn("b", F.floor(F.col(score_col) * bucket_scale))
    bucket_sums = b.groupBy("b").agg(F.sum("n_tokens").alias("s"))
    # strictly-higher buckets come first in priority order => descending
    wb = Window.orderBy(F.col("b").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bucket_sums.select(
        "b", F.coalesce(F.sum("s").over(wb), F.lit(0)).alias("off")
    )
    wr = (
        Window.partitionBy("b")
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.col("off") + F.coalesce(
        F.sum("n_tokens").over(wr), F.lit(0).cast("bigint")
    )
    return (
        b.join(F.broadcast(offsets), "b")
        .withColumn("tok_before", before)
        .where(F.col("tok_before") < budget)
        .select(id_col, score_col, "n_tokens", "tok_before")
    )


def tfidf_topk(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-``k`` salient terms by TF-IDF — the keyword-
    extraction / topic-binning signal a curation pipeline uses to build
    domain mixtures ("which docs are about X") without embeddings.

    score = tf * ln(N / df), tf the term's in-document count, df the number
    of documents containing it, N the corpus document count. Ranking uses
    the ROUNDED score (4 dp, with the same +1e-9 knife-edge nudge as
    quality_score) so the ordering is identical cross-engine; ties break on
    the token ascending.

    Returns ``(id_col, tok, tf, tfidf, rnk)`` with ``rnk`` in 1..k.

    Scale design (100 TB): two chained hash aggregates — (doc, token) then
    (token) — so the shuffled payload is tokens + counts, never text. The
    document-frequency relation is vocabulary-sized and **broadcast** back;
    N is a 1-row aggregate (broadcast nested-loop of a single row, the
    qs_count pattern). The ranking window partitions by document, bounded
    by per-document vocabulary — never corpus-wide.
    """
    tok = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    tf = tok.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = docs.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")) + 1e-9, 4
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(id_col, "tok", "tf", "tfidf", "rnk")
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    val_frac: float = 0.2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Leakage-safe train/validation split: assign splits per NEAR-DUP
    CLUSTER, not per document, so no validation document shares a
    near-duplicate with the training set (the standard eval-integrity
    requirement — a doc-level random split leaks every near-dup family
    that straddles the boundary, silently inflating eval scores).

    ``pairs`` is any near-dup pair relation (``id_a``, ``id_b`` — LSH,
    SimHash, or embedding pairs); documents in no pair are their own
    singleton group. The split is a deterministic hash of the GROUP id —
    ``md5(cast(group as string))`` compared against the hex prefix of
    ``val_frac`` — so membership is reproducible across engines, runs,
    and partitionings, and every member of a group lands on the same
    side by construction.

    Returns ``(id_col, group_id, split)`` for every document.

    Scale design: connected components runs on ids only
    (:func:`~html_table_spark.operators.dedup.connected_components` —
    min-label propagation, optional pointer jumping); the corpus joins
    the component relation once on ids, and split assignment is a pure
    map expression. Nothing corpus-sized shuffles except that one
    ids-only join.
    """
    from .dedup import connected_components

    if not 0.0 < val_frac < 1.0:
        raise ValueError(f"val_frac must be in (0, 1), got {val_frac}")
    comp = connected_components(pairs).withColumnRenamed("node", id_col)
    group = F.coalesce("component", F.col(id_col))
    # hex prefix threshold: lexicographic comparison of lowercase hex is
    # numeric comparison, so P(md5 < prefix) = int(prefix, 16) / 16^8
    thr = format(int(val_frac * 16**8), "08x")
    return (
        docs.select(id_col)
        .join(comp, id_col, "left")
        .select(
            id_col,
            group.alias("group_id"),
            F.when(F.md5(group.cast("string")) < thr, "val")
            .otherwise("train")
            .alias("split"),
        )
    )


def corpus_lineage(committed: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage + metrics rows for a corpus-build run."""
    return (
        committed.groupBy("part_id")
        .agg(
            F.countDistinct("doc_id").alias("doc_count"),
            F.sum(F.col("kept").cast("long")).alias("kept_count"),
            F.sum(F.when(F.col("kept"), F.col("n_tokens"))
                  .otherwise(F.lit(0))).alias("token_count"),
            F.sum(F.col("pii_scrubbed").cast("long")).alias("pii_count"),
        )
        .select(F.lit(run_id).alias("run_id"), "part_id", "doc_count",
                "kept_count", "token_count", "pii_count")
    )


def run_corpus_job(
    spark,
    documents: DataFrame,
    sink,
    *,
    resume: bool = True,
    min_quality: float = 0.3,
    max_dup: float = 0.5,
) -> dict:
    """One snapshot-committed corpus-build run over a span-stream corpus —
    the training-data shape of the deployment contract: reassemble each
    document's text JVM-side, gate on quality/repetition, exact-dedup to
    the min-id member per fingerprint, PII-scrub the survivors, and
    commit with per-partition lineage, resumable from the last committed
    snapshot.

    EVERY processed document gets a committed row — survivors with
    ``kept = true`` and their scrubbed text, gate/dedup victims with
    ``kept = false`` and a null ``clean_text``. That is not just
    removal-rate bookkeeping: resume anti-joins on COMMITTED doc_ids, so
    a document dropped by this run's dedup must still commit, or the
    next resumed run would see it as unprocessed and resurrect it
    without its canonical twin in scope (dedup semantics would then
    depend on how the corpus was split across runs). Dedup is
    WITHIN-RUN by design; duplicates straddling two snapshots are the
    incremental pass's job (``dedup.bloom_dedup`` against the committed
    corpus), exactly as in a production ingest.

    Committed like ``run_job`` / ``run_maincontent_job``, by
    ``sink.write_run``: the rows are written once, lineage aggregates the
    written files, the manifest lands atomically after both writes, and
    its ``processed``/``docs``/``tokens`` are the sums of the lineage's
    ``doc_count``/``kept_count``/``token_count``. The whole pass is JVM
    expressions + two hash aggregates (fingerprint dedup, lineage) — no
    Python on the hot path.
    """
    from ..functions.text import (
        dup_token_ratio,
        fingerprint,
        pii_scrub,
        quality_score,
    )
    from .extract import html_reassembly_col

    # the canonical-dedup join matches doc_id with plain equality and would
    # silently drop a null id (the resume anti-join is null-safe), so nulls
    # are rejected up front and counted in the manifest.
    # Rejected docs are never committed, so EVERY run (including resumed
    # ones) re-reports the nulls still present in its input — that per-run
    # visibility is the contract (test_run_corpus_job_rejects_null_ids
    # pins it), not an accounting bug. The count job projects doc_id only,
    # so the scan reads one column, not the span payloads.
    n_null = (
        documents.select("doc_id")
        .filter(F.col("doc_id").isNull())
        .count()
    )
    documents = documents.filter(F.col("doc_id").isNotNull())
    if resume:
        documents = sink.remaining_documents(documents)
    docs = documents.select(
        "doc_id", html_reassembly_col("spans").alias("text")
    )
    scored = docs.select(
        "doc_id",
        "text",
        quality_score("text").alias("quality"),
        dup_token_ratio("text").alias("dup"),
        fingerprint(F.col("text")).alias("fp"),
    )
    gate = (F.col("quality") >= min_quality) & (F.col("dup") <= max_dup)
    # canonical member per fingerprint AMONG gate survivors only (a
    # low-quality twin must not steal canonical status from a kept doc)
    canon = (
        scored.filter(gate)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .withColumn("is_canon", F.lit(True))
    )
    scrubbed = pii_scrub("text")
    out = (
        scored.join(canon, ["fp", "doc_id"], "left")
        .withColumn("kept", gate & F.coalesce("is_canon", F.lit(False)))
        .select(
            "doc_id",
            F.when(F.col("kept"), scrubbed).alias("clean_text"),
            token_count("text").cast("long").alias("n_tokens"),
            "quality",
            "kept",
            F.spark_partition_id().alias("part_id"),
            (F.col("kept") & (scrubbed != F.col("text"))).alias(
                "pii_scrubbed"
            ),
        )
    )
    manifest = sink.write_run(out, corpus_lineage)
    manifest["processed"] = manifest["doc_count"]
    manifest["docs"] = manifest["kept_count"]
    manifest["tokens"] = manifest["token_count"]
    manifest["null_id_docs"] = int(n_null)
    return manifest
