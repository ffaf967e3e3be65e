"""Dump physical plans for the headline queries and assert the plan-shape
properties the engine is designed around:

- parquet scans are column-pruned (ReadSchema carries only needed columns)
  and filters are pushed (PushedFilters non-empty where expected);
- relational operators run inside WholeStageCodegen (no Python in the plan
  except the extraction/simhash Arrow stages);
- small dimension joins broadcast (BroadcastHashJoin);
- top-k compiles to TakeOrderedAndProject (no global sort).

Usage: python scripts/explain_plans.py [sf_dir]   (writes BENCH/PLANS.md)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    import io
    from contextlib import redirect_stdout

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


def main() -> None:
    import __spark_entry__ as entrymod
    from html_table_spark.session import get_spark

    spark = get_spark("explain", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    report = ["# Physical plans (sf=%s)\n" % SF]
    failures = []
    for name, (expect, forbid) in CHECKS.items():
        df = queries[name](spark, SF)
        text = formatted(df)
        for token in expect:
            if token not in text:
                failures.append(f"{name}: missing `{token}`")
        for token in forbid:
            if re.search(token, text):
                failures.append(f"{name}: unexpected `{token}`")
        status = "OK" if not any(f.startswith(name + ":") for f in failures) else "VIOLATION"
        report.append(f"\n## {name} — {status}\n\n```\n{text.strip()}\n```\n")
        print(f"{status:9s} {name}")
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/PLANS.md", "w") as fh:
        fh.write("\n".join(report))
    spark.stop()
    if failures:
        print("\nPLAN VIOLATIONS:")
        for f in failures:
            print(" -", f)
        sys.exit(1)
    print("\nall plan-shape checks hold; full dumps in BENCH/PLANS.md")


if __name__ == "__main__":
    main()
