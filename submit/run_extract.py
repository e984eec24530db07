#!/usr/bin/env python
"""Production extraction entrypoint (the north-rule deployment shape):

    spark-submit --master <cluster> \\
        --py-files dist/donut_spark.zip \\
        submit/run_extract.py \\
        --input  <spans table path>  \\
        --output <output root>       \\
        [--resume --n-buckets 4096] [--modality spans|pdf]

Input (``--modality spans``, default): a table of interleaved documents
``(doc_id string, spans array<struct<kind,text,media_ref,offset:int>>
[, expected, gt_parse])`` — parquet or (when the session has an Iceberg
catalog configured) an Iceberg table name.

Extraction is one Python row per document with no shuffle. An input
with ``gt_parse`` is also evaluated: ``roundtrip_ok`` and ``nted`` in
the same Python node, plus ``exact_match`` when it has ``expected``. An
input without ``gt_parse`` is extracted only. A poison document is
quarantined, never fatal.

Input (``--modality pdf``): a table of native documents ``(doc_id
string, content binary)`` holding real PDF bytes; the layout parser
(core/pdf.py via operators/pdfparse.py) recovers the interleaved span
sequence in reading order, and unparseable documents land in
quarantine/ with the reason — the job never dies on a poison PDF.

Output layout under ``--output``:
    data/        extracted documents (parquet; in resume mode clustered
                 on ``_bucket`` and written as ``_bucket=`` partitions
                 with dynamic partition overwrite)
    quarantine/  rows whose extraction errored (``_error`` column) —
                 the job never fails on a poison document; ``_bucket=``
                 partitioned in resume mode
    lineage/     audit rows (n_docs, n_spans, checksum) over the rows the
                 data/ write consumed, aggregated from the sink's
                 persisted frame (data/ is not read back): per Spark
                 partition in plain mode, per ``_bucket=`` partition in
                 resume mode; checksum is the order-insensitive XOR of
                 xxhash64(doc_id, to_json(extracted)), so plain and
                 resumed runs of one input give one global XOR
    _commits/    bucket commit log (resume mode)

All session tuning comes from ``donut_spark.sources.session.ENGINE_CONF``
defaults + whatever ``--conf`` the submitter passes (submitter wins).
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument(
        "--modality", choices=("spans", "pdf"), default="spans",
        help="input shape: interleaved span tables (default) or native "
             "PDF bytes parsed by the layout codec",
    )
    ap.add_argument("--resume", action="store_true",
                    help="bucket-checkpointed idempotent run (S10)")
    ap.add_argument("--n-buckets", type=int, default=256)
    args = ap.parse_args()

    # Imports AFTER argparse: on an executor-shipped zip this module is
    # driver-side, but failing fast on bad args shouldn't need the JVM.
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from donut_spark.sources.session import ENGINE_CONF

    if args.modality == "pdf":
        from donut_spark.operators.pdfparse import (
            pdf_documents_from_table as extract,
        )
    else:
        from donut_spark.operators.extract import extract_documents as extract

    builder = SparkSession.builder.appName("donut_spark_extract")
    for key, value in ENGINE_CONF.items():
        # submitter --conf wins: builder.config only fills unset keys when
        # the session doesn't exist yet; explicit precedence via getAll
        builder = builder.config(key, value)
    spark = builder.getOrCreate()

    spans = spark.read.parquet(args.input)

    if args.resume:
        from donut_spark.operators.checkpoint import run_resumable

        # extract() preserves every input column, so _bucket flows through
        done = run_resumable(
            spark, spans, extract, args.output, n_buckets=args.n_buckets
        )
        print(f"resumable run: processed buckets {done}")
    else:
        from donut_spark.operators.sink import write_outputs

        write_outputs(spark, extract(spans), args.output)
    # lineage/ counts every row of data/: no second scan of the output
    lineage = spark.read.parquet(f"{args.output}/lineage")
    n = lineage.agg(F.sum("n_docs")).first()[0] or 0
    print(f"extracted {n} documents -> {args.output}/data")
    # leak audit: the sink's persist is released after its consumers —
    # repeated runs must stay flat
    from donut_spark.plans.cache import persistent_rdd_ids

    print(f"residual cached rdds: {len(persistent_rdd_ids(spark.sparkContext))}")


if __name__ == "__main__":
    main()
