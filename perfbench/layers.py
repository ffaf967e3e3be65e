"""The traced run: each layer of the extraction job timed on its own.

Spans are recorded here, around calls into the program's public functions;
no code inside the program is touched except by wrapping, for the length of
one traced job, the functions that job calls. The metric names and units
are BENCHMARK.json's ``per_layer`` list; ``MOVES`` records which end-to-end
metric and workload a change to each layer should move.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics

import check
from tracing import Tracer, self_times

MOVES = {
    "session.start_s": "setup_s on all workloads",
    "sources.documents.scan_s": "docs_per_s on bulk",
    "sources.documents.scan_mb": "docs_per_s on bulk",
    "operators.extract.reassembly_s": "docs_per_s on bulk",
    "operators.extract.html_mb": "docs_per_s on bulk",
    "htmldom.parse_s": "docs_per_s, tables_per_s on bulk and skew; peak_rss_mb",
    "semantics.grid_s": "docs_per_s, tables_per_s on bulk and skew; peak_rss_mb",
    "semantics.tables": "tables_per_s on bulk and skew",
    "semantics.cells": "tables_per_s on bulk and skew",
    "spans.encode_s": "docs_per_s, tables_per_s on bulk and skew",
    "spans.spans": "tables_per_s on bulk and skew",
    "operators.extract.arrow_build_s": "docs_per_s, tables_per_s on bulk and skew; peak_rss_mb",
    "operators.extract.kernel_docs_per_core_s": "docs_per_s, tables_per_s on bulk and skew",
    "operators.extract.chunk_s": "tables_per_s on skew",
    "operators.extract.chunk_rows": "tables_per_s on skew",
    "plans.pipeline.discover_s": "tables_per_s on skew",
    "plans.pipeline.discovered_ids": "tables_per_s on skew",
    "plans.pipeline.normal_leg_s": "docs_per_s on bulk",
    "plans.pipeline.mega_leg_s": "tables_per_s on skew",
    "plans.pipeline.concurrent_s": "docs_per_s on bulk, tables_per_s on skew",
    "plans.pipeline.overlap_ratio": "docs_per_s on bulk, tables_per_s on skew",
    "plans.pipeline.kernel_efficiency": "docs_per_s on bulk, tables_per_s on skew",
    "sources.sinks.resume_filter_s": "the resume path's wall (traced only)",
    "sources.sinks.write_s": "the resume path's wall (traced only)",
    "sources.sinks.lineage_s": "the resume path's wall (traced only)",
    "sources.sinks.commit_s": "the resume path's wall (traced only)",
    "sources.sinks.bytes_written": "the resume path's wall (traced only)",
    "trace.overhead_s": "nothing: traced minus untraced wall of the end-to-end job",
}

# one document in KERNEL_STRIDE (in doc_id order) forms the kernel sample;
# each kernel stage reports the fastest of KERNEL_ROUNDS passes over it
KERNEL_STRIDE = 16
KERNEL_ROUNDS = 3
# the scan and the scan with reassembly run alternately this many times
SCAN_ROUNDS = 3


def say(line: str) -> None:
    print(line, flush=True)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str | None) -> int:
    total = 0
    for dirpath, _, files in os.walk(path or ""):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def html_by_id(job, seed: int) -> dict[str, str]:
    from html_table_spark.spans import doc_spans_to_html

    import corpus

    return {d["doc_id"]: doc_spans_to_html(d["spans"]) for d in corpus.documents(job.workload, seed)}


def kernel_sample(html: dict[str, str]) -> list[tuple[str, str]]:
    return [(d, html[d]) for d in sorted(html)[::KERNEL_STRIDE]]


def measure_kernel(job, sample, tracer: Tracer) -> dict:
    """Single core, no Spark: the kernel's stages over a fixed sample of the
    workload's HTML. Each stage runs as its own pass with the cyclic GC off,
    as the Arrow operator runs it."""
    import pyarrow as pa

    from html_table_spark.htmldom import parse_html
    from html_table_spark.operators.extract import make_arrow_extractor
    from html_table_spark.semantics import parse_document
    from html_table_spark.spans import encode_table_flat

    htmls = [h for _, h in sample]
    config = job.config
    batches = [
        pa.RecordBatch.from_arrays(
            [pa.array([d for d, _ in sample[i : i + 1024]]), pa.array(htmls[i : i + 1024])],
            names=["doc_id", "html"],
        )
        for i in range(0, len(sample), 1024)
    ]
    times: dict[str, list[float]] = {}

    def timed(name: str, fn):
        span = tracer.start(name)
        result = fn()
        times.setdefault(name, []).append(tracer.finish(span))
        return result

    def encode_all(results):
        kind, text, ref, off = [], [], [], []
        for tables in results:
            for table in tables:
                encode_table_flat(table, kind, text, ref, off)
        return len(kind)

    out: dict[str, float] = {}
    for _ in range(KERNEL_ROUNDS):
        gc.collect()
        gc.disable()
        try:
            timed("htmldom.parse_html", lambda: [parse_html(h) for h in htmls])
            results = timed("semantics.parse_document", lambda: [parse_document(h, config) for h in htmls])
            out["spans.spans"] = timed("spans.encode_table_flat", lambda: encode_all(results))
            out["semantics.tables"] = sum(len(t) for t in results)
            out["semantics.cells"] = sum(t.n_cells for ts in results for t in ts)
            del results
            extractor = make_arrow_extractor(config)
            timed("operators.extract.arrow_extractor", lambda: sum(b.num_rows for b in extractor(iter(batches))))
        finally:
            gc.enable()
    best = {name: min(v) for name, v in times.items()}
    parse_s, doc_s = best["htmldom.parse_html"], best["semantics.parse_document"]
    encode_s, gen_s = best["spans.encode_table_flat"], best["operators.extract.arrow_extractor"]
    out["htmldom.parse_s"] = parse_s
    out["semantics.grid_s"] = doc_s - parse_s
    out["spans.encode_s"] = encode_s
    out["operators.extract.arrow_build_s"] = gen_s - doc_s - encode_s
    out["operators.extract.kernel_docs_per_core_s"] = len(sample) / gen_s
    out["_kernel_s"] = gen_s
    return out


def traced_job(job, tracer: Tracer) -> float:
    """The workload's end-to-end job, as ``Job.timed`` runs it, under a
    ``job`` span with each leg's action wrapped in a child span; returns its
    wall."""
    from html_table_spark.plans import pipeline

    leg_action = tracer.wrap("plans.pipeline.leg_action", check.row_keys_leg)
    with tracer.span("job") as span:
        pipeline.run_extraction_concurrent(job.docs, job.config, leg_action=leg_action)
    return span.end - span.start


def traced_write_job(job, tracer: Tracer) -> tuple[int, dict]:
    """The production write path: ``run_job(resume=True)`` into a fresh sink
    holding the committed share (``Job.commit_base``), under a
    ``plans.pipeline.run_job`` span, with the leg writes, the lineage (from
    the ``lineage_from_extracted`` call to the ``commit_run`` call, which
    covers the lineage write) and the commit as child spans. The resume
    filter is lazy and runs inside the leg writes; ``measure_resume_filter``
    times it on its own.

    Returns the bytes it wrote and the check of its committed rows against
    the uncommitted remainder: each such document once, no other, and one
    commit added to the base's."""
    from html_table_spark.plans import pipeline

    sink = job.fresh_sink()
    orig = {
        "run_extraction_concurrent": pipeline.run_extraction_concurrent,
        "lineage_from_extracted": pipeline.lineage_from_extracted,
    }
    commit_run = sink.commit_run
    lineage: list = []

    def traced_write(*a, **k):
        with tracer.span("sources.sinks.leg_writes"):
            return orig["run_extraction_concurrent"](*a, **k)

    def traced_lineage(*a, **k):
        lineage.append(tracer.start("sources.sinks.lineage"))
        return orig["lineage_from_extracted"](*a, **k)

    def traced_commit(*a, **k):
        if lineage:
            tracer.finish(lineage.pop())
        with tracer.span("sources.sinks.commit_run"):
            return commit_run(*a, **k)

    sink.commit_run = traced_commit
    pipeline.run_extraction_concurrent = traced_write
    pipeline.lineage_from_extracted = traced_lineage
    try:
        with tracer.span("plans.pipeline.run_job") as span:
            manifest = pipeline.run_job(job.spark, job.docs, sink, job.config, resume=True)
    finally:
        pipeline.run_extraction_concurrent = orig["run_extraction_concurrent"]
        pipeline.lineage_from_extracted = orig["lineage_from_extracted"]
    written = _dir_bytes(manifest["data_path"]) + _dir_bytes(manifest["lineage_path"])
    remainder = {d: k for d, k in job.expected.items() if d not in job.prep["committed"]}
    checked = check.compare(remainder, check.row_keys(job.committed_rows(manifest)))
    checked["commits_added"] = len(sink.manifests()) - 1
    shutil.rmtree(sink.root, ignore_errors=True)
    return written, checked


def measure_resume_filter(job, tracer: Tracer) -> None:
    """``remaining_documents`` over a sink holding the committed share, its
    doc ids materialised into a noop sink."""
    sink = job.fresh_sink()
    with tracer.span("sources.sinks.remaining_documents"):
        _noop(sink.remaining_documents(job.docs).select("doc_id"))
    shutil.rmtree(sink.root, ignore_errors=True)


def measure_spark_layers(job, tracer: Tracer) -> dict:
    from pyspark.sql import functions as F

    from html_table_spark.operators.extract import extract_tables, html_reassembly_col
    from html_table_spark.plans.pipeline import (
        DEFAULT_MEGA_COST,
        discover_mega_ids,
        mega_span_count_hint,
        plan_extraction_legs,
        run_extraction_concurrent,
    )
    from html_table_spark.sources.documents import read_documents

    out: dict[str, float] = {}
    spark, config = job.spark, job.config
    scans, reassemblies = [], []
    for _ in range(SCAN_ROUNDS):
        with tracer.span("sources.documents.read_documents") as s:
            _noop(read_documents(spark, job.prep["corpus"]).select("doc_id", "spans"))
        scans.append(s.end - s.start)
        with tracer.span("operators.extract.html_reassembly_col") as s:
            docs = read_documents(spark, job.prep["corpus"])
            _noop(docs.select("doc_id", html_reassembly_col("spans").alias("html")))
        reassemblies.append(s.end - s.start)
    out["sources.documents.scan_s"] = statistics.median(scans)
    out["operators.extract.reassembly_s"] = statistics.median(reassemblies) - out["sources.documents.scan_s"]
    with tracer.span("plans.pipeline.discover_mega_ids"):
        ids = discover_mega_ids(job.docs, span_count_hint=mega_span_count_hint(DEFAULT_MEGA_COST))
    out["plans.pipeline.discovered_ids"] = len(ids or [])
    mega_ids = sorted(d for d in job.expected if d.startswith("mega"))
    with tracer.span("operators.extract.extract_tables_chunk"):
        out["operators.extract.chunk_rows"] = extract_tables(
            job.docs.where(F.col("doc_id").isin(mega_ids)),
            config,
            mega_cost_threshold=DEFAULT_MEGA_COST,
            mega_policy="chunk",
        ).count()
    with tracer.span("plans.pipeline.plan_extraction_legs"):
        normal, mega = plan_extraction_legs(job.docs, config)
    with tracer.span("plans.pipeline.normal_leg"):
        check.row_keys_leg("normal", normal)
    with tracer.span("plans.pipeline.mega_leg"):
        if mega is not None:
            check.row_keys_leg("mega", mega)
    with tracer.span("plans.pipeline.run_extraction_concurrent"):
        run_extraction_concurrent(job.docs, config, leg_action=check.row_keys_leg)
    measure_resume_filter(job, tracer)
    return out


def run_traced(job, args, session_s: float, cache: str, pinned_ok: bool, per_layer: dict) -> dict:
    """Per-layer metrics for one workload; ``per_layer`` maps each metric
    name to its unit."""
    tracer = Tracer()
    # the end-to-end job untraced and traced in the order U T T U, after one
    # job that is not timed (the first after set-up runs slower): jobs still
    # speed up a little from one to the next, and the difference of the two
    # means, the tracing overhead, cancels a steady drift
    job.run()
    untraced, traced, checks = [], [], []
    for kind in "UTTU":
        if kind == "U":
            wall, _, checked = job.timed()
            untraced.append(wall)
            checks.append(checked)
        else:
            traced.append(traced_job(job, tracer))
    # the resume path: commit three quarters of the corpus (untraced), then
    # one traced write job over the whole corpus into a copy of that sink
    job.commit_base()
    written, resumed = traced_write_job(job, tracer)
    checks.append(resumed)
    for checked in checks:
        say(check.describe(checked))
    spark_out = measure_spark_layers(job, tracer)
    html = html_by_id(job, args.seed)
    sample = kernel_sample(html)
    kernel = measure_kernel(job, sample, tracer)
    spans = tracer.spans
    selfs = self_times(spans)
    concurrent_s = selfs["plans.pipeline.run_extraction_concurrent"]
    total_html = sum(len(h) for h in html.values())
    sample_html = sum(len(h) for _, h in sample)
    cores = job.spark.sparkContext.defaultParallelism
    metrics = {
        "session.start_s": session_s,
        "sources.documents.scan_mb": _dir_bytes(job.prep["corpus"]) / 2**20,
        "operators.extract.html_mb": total_html / 2**20,
        "operators.extract.chunk_s": selfs["operators.extract.extract_tables_chunk"],
        "plans.pipeline.discover_s": selfs["plans.pipeline.discover_mega_ids"],
        "plans.pipeline.normal_leg_s": selfs["plans.pipeline.normal_leg"],
        "plans.pipeline.mega_leg_s": selfs["plans.pipeline.mega_leg"],
        "plans.pipeline.concurrent_s": concurrent_s,
        "plans.pipeline.overlap_ratio": (
            selfs["plans.pipeline.normal_leg"] + selfs["plans.pipeline.mega_leg"]
        ) / concurrent_s,
        "plans.pipeline.kernel_efficiency": (
            kernel["_kernel_s"] * total_html / sample_html
        ) / (concurrent_s * cores),
        "sources.sinks.resume_filter_s": selfs["sources.sinks.remaining_documents"],
        "sources.sinks.write_s": selfs["sources.sinks.leg_writes"],
        "sources.sinks.lineage_s": selfs["sources.sinks.lineage"],
        "sources.sinks.commit_s": selfs["sources.sinks.commit_run"],
        "sources.sinks.bytes_written": written,
        "trace.overhead_s": statistics.mean(traced) - statistics.mean(untraced),
    }
    metrics.update(spark_out)
    metrics.update({k: v for k, v in kernel.items() if not k.startswith("_")})
    path = os.path.join(cache, f"trace-{job.workload}-{args.seed}.jsonl")
    tracer.write(path)
    say(f"spans: {len(spans)} written to {path}")
    say("span self times (s): " + ", ".join(f"{k}={v:.4f}" for k, v in selfs.items()))
    say(f"end-to-end job walls (s): untraced {[round(w, 4) for w in untraced]}, "
        f"traced {[round(w, 4) for w in traced]}")
    say(
        f"single-core kernel: {metrics['operators.extract.kernel_docs_per_core_s']:.0f} docs/s/core "
        f"over {len(sample)} docs (ROADMAP: 1,489 docs/s/core on 8,000 sf0.01 docs); "
        f"kernel share of the concurrent job's core time {metrics['plans.pipeline.kernel_efficiency']:.2f}"
    )
    for name, unit in per_layer.items():
        layer = name.rsplit(".", 1)[0]
        say(f"layer={layer} workload={job.workload} {name} = {metrics[name]:.6g} {unit}  (moves {MOVES[name]})")
    failed = sum(c["failed"] for c in checks)
    return {
        "correct": pinned_ok and failed == 0 and resumed["commits_added"] == 1,
        "attempted": sum(c["attempted"] for c in checks),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in per_layer.items()},
    }
