"""Ad-hoc noop-sink isolation benches for the round-6 optimization pass
(guide §1.4). NOT part of the frozen driver bench — cited numbers land in
OPTIMIZATION_r06.md.

Usage: python bench_extra.py <leg> [sf_dir]
Legs: pdf_parse, q15, q26, q52, q42, q24, flagship, skew, q55, streaming
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402


def timeit(fn, n=2):
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    leg = sys.argv[1]
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf1.0"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import __spark_entry__ as entry
    from donut_spark.sources.session import get_spark

    spark = get_spark(cores=cpus, app_name="bench_extra")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf}/documents.parquet").count()

    if leg == "pdf_parse":
        from donut_spark.operators.pdfparse import pdf_documents_from_table
        from donut_spark.sources.fixtures import load_spans, materialize_pdf_table

        pdfs = spark.read.parquet(materialize_pdf_table(spark, sf))
        pdfs.count()
        expected = load_spans(spark, sf).select("doc_id", "expected")

        def run():
            (
                pdf_documents_from_table(pdfs)
                .join(expected, "doc_id")
                .agg(
                    F.count("*").alias("docs"),
                    F.avg((F.col("extracted") == F.col("expected")).cast("int")).alias("em"),
                )
                .collect()
            )

        print(leg, round(timeit(run), 3))
    elif leg in entry.queries():
        q = entry.queries()[leg]
        spark.sparkContext.setJobDescription(leg)
        print(leg, round(timeit(lambda: noop(q(spark, sf))), 3))
    elif leg == "flagship":
        from donut_spark.operators.extract import extract_and_evaluate
        from donut_spark.sources.fixtures import load_spans

        load_spans(spark, sf).count()

        def run():
            extract_and_evaluate(load_spans(spark, sf)).agg(
                F.count("*"), F.avg("exact_match"), F.avg("roundtrip_ok")
            ).collect()

        print(leg, round(timeit(run), 3))
    elif leg == "skew":
        from donut_spark.operators.extract import extract_and_evaluate
        from donut_spark.sources.fixtures import materialize_skewed_spans

        skew = spark.read.parquet(materialize_skewed_spans(spark, sf))
        skew.count()
        t = timeit(
            lambda: extract_and_evaluate(skew)
            .agg(F.count("*"), F.avg("exact_match"))
            .collect()
        )
        print("skew_doc_mode", round(t, 3))
    elif leg == "streaming":
        from bench_streaming import run as streaming_run

        out = streaming_run(spark, sf)
        print(
            "contamination",
            out["contamination"]["busy_sec"],
            "exact_dedup",
            out["exact_dedup"]["busy_sec"],
        )
    else:
        raise SystemExit(f"unknown leg {leg}")


if __name__ == "__main__":
    main()
