"""Plan shapes: the physical plans the engine is designed around, read
from the plans of the test corpus's queries, not from their output.

- Each ``__spark_entry__.queries()`` entry in :data:`CHECKS` holds its
  shape: parquet scans column-pruned and filters pushed, relational
  operators in whole-stage codegen (no Python in the plan except the
  extraction/simhash Arrow stages), small dimension joins broadcast, top-k
  as TakeOrderedAndProject (no global sort). Expect tokens are substrings
  of the formatted plan; forbid tokens are regular expressions over it.
- The extraction pass (``plan_extraction``) over a one-file corpus (one
  split, or cut into several) and a multi-file corpus: one Python stage,
  the ``MapInArrow``; a scan pruned to the two columns it reads; no
  ``Exchange`` between the scan and the ``MapInArrow`` unless the salt
  rule fires, and then exactly the salt's.
- The resume path (``plan_extraction(..., resume_from=sink)``, as
  ``run_job`` plans it) keeps that plan: over an empty sink there is
  nothing to join, and over a sink holding a small committed share the
  anti-join broadcasts the committed ids, and building the plan runs no
  Spark job.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pyarrow.parquet as pq
import pytest

from html_table_spark.plans.pipeline import plan_extraction, run_job
from html_table_spark.sources.documents import read_documents
from html_table_spark.sources.sinks import SnapshotSink


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


CHECKS = {
    # name: (expect_substrings, forbid_substrings)
    "q1_pricing": (["HashAggregate", "PushedFilters"], ["Python", "Sort "]),
    "q3_shipping": (["BroadcastHashJoin", "TakeOrderedAndProject"], ["Python"]),
    "q6_revenue": (["PushedFilters: [IsNotNull(l_shipdate)"], ["Python"]),
    "qs_sorted_slice": (["TakeOrderedAndProject"], ["Python", "Exchange rangepartitioning"]),
    "qs_fetch_pairs": (["HashAggregate"], ["Python", "Window"]),
    # one deliberate roundrobin spread for narrow single-file scans; never a
    # key shuffle (hashpartitioning) — the signature computation is a map
    "dd_minhash_sig": ([], ["Python", "Exchange hashpartitioning"]),
    "dd_lsh_pairs": (["HashAggregate"], ["Python"]),
    "ann_topk": (["TakeOrderedAndProject"], ["Python", "Exchange rangepartitioning"]),
    "ann_ivf": (["TakeOrderedAndProject"], ["Python", "Exchange rangepartitioning"]),
    "tx_stats": ([], ["Python", "Exchange"]),  # pure map
    "tx_langid": ([], ["Python", "Exchange"]),  # pure map (trigram argmax)
    # URL canonicalization: pure JVM expressions (zero Python); the
    # first-occurrence verdict is one hash agg + one join, never a window
    # over a single partition or a cartesian plan
    # (forbid Python EXECUTION nodes, not the bare token: the local
    # fixture's createDataFrame scan mentions applySchemaToPythonRDD)
    "tx_url_dedup": (
        ["HashAggregate"],
        ["EvalPython", "PythonUDF", "MapInPandas", "CartesianProduct"],
    ),
    # CDX indexing: one Arrow pass over archives, zero shuffle
    "x_warc_cdx": (["MapInPandas"], ["Exchange", "CartesianProduct"]),
    # robots evaluation: ONE Arrow parse of the host-sized robots table
    # (plan dedup via the window form), URL side pure JVM; never cartesian
    # (max-over-struct aggregates plan as SortAggregate, hence the looser
    # "Aggregate" expectation)
    "tx_robots_filter": (
        ["MapInPandas", "Aggregate"],
        ["CartesianProduct", "BroadcastNestedLoop"],
    ),
    # markdown render / metadata extraction: ONE Arrow-batched map pass,
    # zero shuffle
    "mc_markdown": (["MapInPandas"], ["Exchange", "CartesianProduct"]),
    "mc_metadata": (["MapInPandas"], ["Exchange", "CartesianProduct"]),
    # WARC ingestion: parse is one Arrow-batched map over archives; the
    # record×extraction join must never degenerate to a cartesian plan
    "x_warc_extract": (["MapInPandas"], ["CartesianProduct", "BroadcastNestedLoop"]),
    # model-based langid: ONE Arrow-batched map pass over the corpus — the
    # broadcast-model predict never shuffles (training's two-phase agg is a
    # separate driver-side job, not part of this plan)
    "tx_langid_model": (["MapInPandas"], ["Exchange", "CartesianProduct"]),
    "tx_repetition": ([], ["Python", "Exchange"]),  # pure map
    "tx_filter": ([], ["Python", "Exchange"]),  # pure map + filter, one scan
    "q_top_customers_window": (["BroadcastHashJoin", "Window"], ["Python"]),
    "q_rollup": (["Expand", "HashAggregate"], ["Python"]),  # one shuffle, no union-of-aggs
    "q_anti_join": (["LeftAnti"], ["Python"]),
    "q_salted_agg": (["HashAggregate"], ["Python", "Sort "]),
    "q_skew_join": (["Generate"], ["Python", "BroadcastNestedLoop"]),
    # as-of join must be the union+window plan, never a range/cross join
    "q_asof_join": (["Window", "Union"], ["Python", "CartesianProduct", "BroadcastNestedLoop"]),
    "q_sessionize": (["Window", "HashAggregate"], ["Python", "CartesianProduct"]),
    "q_percentiles": (["HashAggregate"], ["Python"]),
    "dd_embed_cosine": (["HashAggregate"], ["CartesianProduct", "BroadcastNestedLoop"]),
    # extraction is the one legitimate Arrow stage (MapInArrow); the union
    # of the five selector passes must stay shuffle-free (map-only branches)
    "x_xpath_extended": (["Union", "MapInArrow"], ["Exchange hashpartitioning"]),
    "qs_json": (["MapInArrow"], ["Exchange hashpartitioning"]),
    # banded self-join: one hash shuffle on (band_idx, band_key), hamming
    # verify JVM-side after a distinct — never a cross join
    "dd_simhash": (["HashAggregate"], ["CartesianProduct", "BroadcastNestedLoop"]),
    "qs_count": ([], ["CartesianProduct"]),  # 1x1 crossJoin → BNLJ is fine
    # north-rule operators (round 4): single Arrow-batched python stage,
    # never a key shuffle — the only Exchange allowed is the roundrobin
    # single-file spread
    "mc_blocks": (["MapInPandas"], ["Exchange hashpartitioning"]),
    # doc-level reduction: ONE hash agg on doc_id + the restore join; the
    # blocks side itself must still be map-only up to that agg
    "mc_main_text": (["MapInPandas", "HashAggregate"],
                     ["CartesianProduct", "BroadcastNestedLoop"]),
    # write+read chain: two python stages pipelined in one task — binary
    # payloads must never cross a shuffle boundary
    "pdf_spans": (["MapInPandas"], ["Exchange hashpartitioning"]),
    # two-phase budget prefix sum: per-bucket (partitioned) windows plus a
    # broadcast of the tiny bucket-offsets relation; never Python, never a
    # row-level sort-merge join
    "tx_token_budget": (["Window", "HashAggregate", "BroadcastHashJoin"],
                        ["Python", "SortMergeJoin", "CartesianProduct"]),
    # quantized scan + rescore: both stages TakeOrdered heaps — no global
    # sort, no Python, no join back to the store
    "ann_quantized": (["TakeOrderedAndProject"],
                      ["Python", "Exchange rangepartitioning",
                       "CartesianProduct", "SortMergeJoin"]),
    # PQ/ADC: encode + table lookups are map-side expressions; candidate
    # cut and rescore are TakeOrdered heaps
    "ann_pq": (["TakeOrderedAndProject"],
               ["Python", "Exchange rangepartitioning",
                "CartesianProduct", "SortMergeJoin"]),
    # two chained hash aggs; vocabulary-sized DF relation broadcast back;
    # ranking window bounded per doc — no sort-merge join anywhere
    "tx_tfidf": (["HashAggregate", "BroadcastHashJoin", "Window"],
                 ["Python", "SortMergeJoin"]),
    # first-occurrence selection must be an aggregate with map-side
    # partial combine (boilerplate-skew-proof), never a row_number window
    # over the segment; reassembly join is ids-only
    "dd_segments": (["Aggregate"], ["Window", "Python",
                                    "CartesianProduct"]),
    # cluster-bucketed self-join (never cartesian); Arrow pair rescore is
    # the one sanctioned Python stage
    "dd_semantic": (["ArrowEvalPython"], ["CartesianProduct",
                                          "BatchEvalPython"]),
    # batch probe is a map-side filter over the broadcast bitmap literal
    # (xxhash64 in the filter); exact tier is a left-semi on the pruned
    # sliver — no shuffle of the batch before the prune
    "dd_bloom": (["xxhash64", "LeftSemi"], ["BatchEvalPython",
                                            "ArrowEvalPython",
                                            "CartesianProduct"]),
    # canonical output: ids-only anti join against the drop set
    "dd_canonical": (["LeftAnti"], ["Python", "CartesianProduct"]),
    # split assignment is a map expression after one ids-only join
    "tx_train_val_split": (["md5"], ["Python", "CartesianProduct"]),
    # tokenization probes the broadcast word->token-count map; the corpus
    # side never sort-merge joins
    "tx_bpe_tokenize": (["BroadcastHashJoin", "HashAggregate"],
                        ["SortMergeJoin", "Python", "CartesianProduct"]),
    # batched ANN: query side broadcast, index never shuffles for the
    # candidate join; per-query window; Arrow rescore only
    # batched top-k must be the two-phase WindowGroupLimit rewrite: a
    # partial map-side group limit ahead of the exchange, so the shuffle
    # carries at most k rows per query per input partition
    "ann_batch": (["BroadcastHashJoin", "WindowGroupLimit",
                   "ArrowEvalPython"],
                  ["SortMergeJoin", "CartesianProduct",
                   "BatchEvalPython"]),
}

# a hash shuffle that carries a document's text: the n-gram family shuffles
# (gram, id) rows only; the one sanctioned move of text is the roundrobin
# spread of a narrow single-file input (ensure_parallelism)
TEXT_SHUFFLE = r"Exchange\nInput \[\d+\]: \[[^\]]*\btext#\d+[^\]]*\]\nArguments: hashpartitioning"

# BENCH/CORPUS_OPS.md's plan facts for the corpus-pipeline family (the
# decontamination broadcast and the per-bucket packing window are also
# pinned on hand-made inputs in test_corpus_ops.py)
CHECKS.update({
    # benchmark blocklist broadcast once, probed map-side by every corpus
    # partition; only the contaminated (id, count) rows shuffle
    "dd_decontaminate": (["BroadcastHashJoin", "RoundRobinPartitioning"],
                         ["Python", "SortMergeJoin", "CartesianProduct", TEXT_SHUFFLE]),
    # document frequency is a two-phase hash aggregate (map-side partial
    # combine); the explode runs after the roundrobin spread of the
    # single-file input, never on one core; text never crosses a shuffle
    "dd_ngram_novelty": (["partial_count", "RoundRobinPartitioning"],
                         ["Python", "CartesianProduct", TEXT_SHUFFLE]),
    "dd_exact_substr": (["partial_count", "RoundRobinPartitioning"],
                        ["Python", "CartesianProduct", TEXT_SHUFFLE]),
    # stratified sample: rank-limit pushdown keeps `quota` rows per language
    # per partition before the final sort
    "tx_sample_mix": (["WindowGroupLimit"], ["Python"]),
    # per-language top-k n-grams: two-phase count, then the same pushdown
    "tx_topk_ngrams": (["partial_count", "WindowGroupLimit"], ["Python", TEXT_SHUFFLE]),
    # token explode into two chained hash aggregates, no window, no join
    "tx_vocab": (["partial_count", "Generate"], ["Python", "Window", "Join"]),
    # bucketed partial sums, broadcast offsets, per-bucket windows; never a
    # row-level sort-merge join
    "tx_pack_sequences": (["BroadcastHashJoin", "Window"], ["Python", "SortMergeJoin"]),
    # one codegen'd scan: Project over the scan, no exchange at all
    "tx_pii_scrub": (["Project [codegen id"], ["Python", "Exchange"]),
})


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__

    return __spark_entry__.queries()


@pytest.mark.parametrize("name", list(CHECKS))
def test_query_plan_shape(spark, sf_dir, queries, name):
    expect, forbid = CHECKS[name]
    text = formatted(queries[name](spark, sf_dir))
    missing = [token for token in expect if token not in text]
    unexpected = [token for token in forbid if re.search(token, text)]
    assert not missing and not unexpected, f"{name}: missing {missing}, unexpected {unexpected}\n{text}"


# ---------------------------------------------------------------------------
# the extraction pass and its resume
# ---------------------------------------------------------------------------

# a node line of SparkPlan.toString: tree prefix, codegen stage, node name
_NODE = re.compile(r"^([ :+\-]*)(?:\*\(\d+\) )?(\w+)")
_IDS = re.compile(r"#\d+L?|, \[plan_id=\d+\]")
# the node names of a Python stage
_PYTHON = re.compile(r"Python|InPandas|InArrow")


def _plan_text(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _nodes(plan: str) -> list[tuple[int, str, str]]:
    """``(depth, name, line)`` per node of a plan tree."""
    out = []
    for line in plan.splitlines():
        m = _NODE.match(line)
        if m:
            out.append((len(m.group(1)), m.group(2), _IDS.sub("", line[m.end(1):])))
    return out


def _scan_path(df) -> list[tuple[str, str]]:
    """``(name, line)`` of the nodes from the root down to the corpus scan:
    the first scan in the tree, a join's streamed side."""
    nodes = _nodes(_plan_text(df))
    k = next(i for i, (_, name, _) in enumerate(nodes) if name == "FileScan")
    path, depth = [], nodes[k][0] + 1
    for d, name, line in reversed(nodes[: k + 1]):
        if d < depth:
            path.append((name, line))
            depth = d
    return path[::-1]


def _exchanges(df) -> list[str]:
    """The Exchanges between the corpus scan and the root."""
    return [line for name, line in _scan_path(df) if name == "Exchange"]


@pytest.fixture(scope="module")
def corpora(sf_dir, tmp_path_factory):
    """The test corpus as it ships (one file, one row group: the salt rule
    fires), rewritten uncompressed as one file of one row group (larger
    than one split, so the scan cuts it into byte ranges of which one holds
    rows: the salt rule fires) and cut into four files (the scan keeps
    every core busy)."""
    one = f"{sf_dir}/documents.parquet"
    table = pq.read_table(one)
    tmp = tmp_path_factory.mktemp("plan_shapes")
    split = str(tmp / "documents.parquet")
    pq.write_table(table, split, compression="none", row_group_size=table.num_rows)
    multi = tmp / "documents"
    multi.mkdir()
    step = -(-table.num_rows // 4)
    for i in range(4):
        pq.write_table(table.slice(i * step, step), str(multi / f"part-{i}.parquet"))
    return {"one_file": one, "one_file_split": split, "multi_file": str(multi)}


@pytest.fixture(scope="module")
def committed_share(spark, corpora, tmp_path_factory):
    """Per layout, a sink holding the committed run of 20 documents."""
    sinks = {}
    for layout, path in corpora.items():
        sink = SnapshotSink(str(tmp_path_factory.mktemp("committed") / layout))
        run_job(spark, read_documents(spark, path).limit(20), sink, resume=False)
        sinks[layout] = sink
    return sinks


LAYOUTS = ["one_file", "one_file_split", "multi_file"]
# the salt's repartition (plans.pipeline.salted)
SALT = "Exchange hashpartitioning(xxhash64(doc_id, 42)"


@pytest.mark.parametrize("layout", LAYOUTS)
def test_extraction_has_one_python_stage(spark, corpora, layout):
    plan = plan_extraction(read_documents(spark, corpora[layout]))
    python = [name for _, name, _ in _nodes(_plan_text(plan)) if _PYTHON.search(name)]
    assert python == ["MapInArrow"], _plan_text(plan)


@pytest.mark.parametrize("layout", LAYOUTS)
def test_extraction_scan_is_pruned(spark, corpora, layout):
    """The corpus has five columns; the pass reads the two it uses."""
    plan = plan_extraction(read_documents(spark, corpora[layout]))
    scan = _scan_path(plan)[-1][1]
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in scan, scan


@pytest.mark.parametrize("layout", LAYOUTS)
def test_extraction_shuffles_only_to_salt(spark, corpora, layout):
    """No Exchange between the scan and the MapInArrow on a multi-file
    corpus; exactly the salt's on a one-file corpus, however many splits
    the scan cuts it into."""
    if layout == "one_file_split":
        assert read_documents(spark, corpora[layout]).rdd.getNumPartitions() > 1
    exchanges = _exchanges(plan_extraction(read_documents(spark, corpora[layout])))
    if layout == "multi_file":
        assert exchanges == []
    else:
        assert len(exchanges) == 1 and exchanges[0].startswith(SALT), exchanges


@pytest.mark.parametrize("layout", LAYOUTS)
def test_first_resume_keeps_the_scan_plan(spark, corpora, tmp_path, layout):
    """Over an empty sink the resume filter joins nothing: the pass keeps
    the bench plan's Exchanges (none, or the salt's) and partition count."""
    docs = read_documents(spark, corpora[layout])
    bench = plan_extraction(docs)
    resumed = plan_extraction(docs, resume_from=SnapshotSink(str(tmp_path / "sink")))
    assert "Join" not in _plan_text(resumed), _plan_text(resumed)
    assert _exchanges(resumed) == _exchanges(bench)
    assert resumed.rdd.getNumPartitions() == bench.rdd.getNumPartitions()


@pytest.mark.parametrize("layout", LAYOUTS)
def test_resume_broadcasts_a_small_committed_share(spark, corpora, committed_share, layout):
    """Over a sink holding a small committed share the anti-join broadcasts
    the committed ids: the corpus side keeps the bench plan's Exchanges and
    partition count, never a sort-merge join's shuffle. The salt is decided
    on the corpus, so the committed files neither count as corpus files nor
    get their join's query stages run while the plan is built."""
    docs = read_documents(spark, corpora[layout])
    bench = plan_extraction(docs)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    resumed = plan_extraction(docs, resume_from=committed_share[layout])
    assert not set(tracker.getJobIdsForGroup(None)) - before
    path = [line for _, line in _scan_path(resumed)]
    assert any(line.startswith("BroadcastHashJoin") and "LeftAnti" in line for line in path), path
    assert "SortMergeJoin" not in _plan_text(resumed)
    assert _exchanges(resumed) == _exchanges(bench)
    assert resumed.rdd.getNumPartitions() == bench.rdd.getNumPartitions()
