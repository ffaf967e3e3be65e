"""Cluster job entrypoint — ``spark-submit --py-files`` deployment.

    spark-submit --master <master> \
        --py-files html_table_spark.zip \
        job.py --input <corpus parquet/iceberg> --output <sink root> \
               [--mode all|single|maincontent|corpus] [--no-resume] [--format auto|warc]

(``scripts/submit.sh`` packs the zip and runs this.) The session comes
from ``session.get_spark``, the builder the tests and the benchmark use:
spark-submit's ``--master`` and ``--conf`` win, and the job plans as the
benchmark does: the same Arrow batch caps and scan split sizes, and a
narrow corpus salted into as many partitions as the context has cores
when the plan is built (``--conf spark.default.parallelism=N`` overrides
that count).
Re-running the same command after a failure resumes from the last
committed snapshot (anti-join on committed doc_ids).
"""

from __future__ import annotations

import argparse
import json

# absolute imports: spark-submit executes this file as a top-level script;
# the package arrives via --py-files
from html_table_spark.session import get_spark


def main(argv: list[str] | None = None) -> dict:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--input", required=True, help="corpus path (parquet dir or iceberg://tbl)")
    parser.add_argument("--output", required=True, help="snapshot sink root")
    parser.add_argument("--mode", choices=["all", "single", "maincontent", "corpus"],
                        default="all",
                        help="'all': every top-level table per doc; 'single': reference "
                             "one-table semantics; 'maincontent': boilerplate-strip "
                             "pipeline (block features + verdicts) instead of tables; "
                             "'corpus': training-corpus build (quality gate + exact "
                             "dedup + PII scrub) with the same snapshot commit")
    parser.add_argument("--no-resume", action="store_true")
    parser.add_argument("--format", choices=["auto", "warc"], default="auto",
                        help="'auto': parquet/iceberg documents table; 'warc': a "
                             "directory of .warc/.warc.gz crawl archives ingested "
                             "via sources/warc.py (HTML 200 responses become docs)")
    args = parser.parse_args(argv)

    from html_table_spark.config import ParserConfig
    from html_table_spark.plans.pipeline import run_job
    from html_table_spark.sources.documents import read_documents
    from html_table_spark.sources.sinks import SnapshotSink
    from html_table_spark.sources.warc import read_warc_documents

    spark = get_spark("html-table-extract")
    if args.format == "warc":
        documents = read_warc_documents(spark, args.input)
    else:
        documents = read_documents(spark, args.input)
    sink = SnapshotSink(args.output)
    resume = not args.no_resume
    if args.mode == "corpus":
        from html_table_spark.operators.corpus import run_corpus_job

        manifest = run_corpus_job(spark, documents, sink, resume=resume)
    elif args.mode == "maincontent":
        from html_table_spark.operators.maincontent import run_maincontent_job

        manifest = run_maincontent_job(spark, documents, sink, resume=resume)
    else:
        config = ParserConfig().all_tables() if args.mode == "all" else ParserConfig()
        manifest = run_job(spark, documents, sink, config, resume=resume)
    print(json.dumps(manifest))
    return manifest


if __name__ == "__main__":
    main()
