#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

The headline metric is flagship extraction throughput (docs/sec) — the
BASELINE.json target — plus per-query wall times for the operator
battery. Run with SPARK_GRAFT_CPUS=8 and =32 on the same input to
measure scaling efficiency (see BENCH/BASELINE.md and bench_scaling.py).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F


HEADLINE = [
    # (name, builder) — builders imported lazily from __spark_entry__
    "q01_filter_project",
    "q02_group_agg",
    "q03_broadcast_join",
    "q04_multi_join",
    "q07_window_first",
    "q15_exact_dup_clusters",
    "q24_minhash_dedup",
    "q25_simhash_dedup",
    "q27_ann_topk",
    "q28_ann_lsh",
    "q26_jaccard_verify",
    "q42_embedding_neardup",
    "q48_ann_ivf_full",
    "q50_ann_index_probe",
    "q51_ann_pq",
    "q52_contamination",
    "q53_ann_ivfadc",
    "q54_ann_ivfadc_pruned",
    "q55_pdf_extract",
]

# persisted-index queries: after the battery (index built + cached on
# disk) one more invocation times the PROBE ALONE — the repeated-query
# regime the index layouts exist for
PROBE_ONLY = [
    "q50_ann_index_probe",
    "q51_ann_pq",
    "q53_ann_ivfadc",
    "q54_ann_ivfadc_pruned",
]


def calibrate() -> dict:
    """Fixed-size microbenches that pin the HOST's health at bench time
    (this VM shows sustained multi-x degradation phases — documented in
    BENCH/BASELINE.md): float matmul (BLAS), crc32 (memory bandwidth),
    python loop (interpreter). Healthy references measured in a clean
    window; a 3x+ excess on matmul means the surrounding numbers carry
    host noise, and scale-up RATIOS from the same window are the only
    trustworthy comparison."""
    import zlib

    import numpy as np

    a = np.random.default_rng(0).standard_normal((2000, 2000))
    t0 = time.perf_counter()
    (a @ a).sum()
    matmul_s = time.perf_counter() - t0
    data = b"\xa5" * (64 << 20)
    t0 = time.perf_counter()
    zlib.crc32(data)
    crc_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    loop_s = time.perf_counter() - t0
    return {
        "matmul2000_s": round(matmul_s, 3),
        "crc32_64mb_s": round(crc_s, 3),
        "pyloop_2m_s": round(loop_s, 3),
        # measured on this host in an idle window (round 4): matmul
        # (threaded BLAS) jitters 0.4-1.1s even idle — treat >3s as
        # degraded; crc32/pyloop are tight (±20%) and are the reliable
        # health signals
        "healthy_ref": {"matmul2000_s": 0.5, "crc32_64mb_s": 0.03, "pyloop_2m_s": 0.14},
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from donut_spark.sources.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(cores=cpus, app_name="donut_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    cal_before = calibrate()

    # warm the JVM + parquet footers once
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    results: dict[str, float] = {}
    queries = entry_mod.queries()

    # flagship extraction throughput (the BASELINE.json metric is
    # EXTRACTION docs/sec, so the input is staged once via the
    # materialized fixture and only extract+evaluate is timed — same
    # methodology as bench_scaling.py); min-of-2 because this host shows
    # transient multi-x slowdown bursts (BENCH/BASELINE.md) — the first
    # run also warms the UDF worker pool
    from donut_spark.operators.extract import extract_and_evaluate
    from donut_spark.sources.fixtures import load_spans

    load_spans(spark, sf_dir).count()  # materialize + warm footers

    flagship_sec = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        flag = extract_and_evaluate(load_spans(spark, sf_dir))
        agg = flag.agg(
            F.count("*").alias("docs"),
            F.avg("exact_match").alias("em"),
            F.avg("roundtrip_ok").alias("rt"),
        ).collect()[0]
        flagship_sec = min(flagship_sec, time.perf_counter() - t0)
    results["flagship_extract"] = round(flagship_sec, 3)
    docs_per_sec = agg["docs"] / flagship_sec

    # min-of-2 for every battery query, same rationale as the flagship:
    # single-shot numbers on this host conflate plan cost with transient
    # multi-x VM slowdown bursts. The DataFrame is REBUILT each pass —
    # re-collecting the same object would reuse AQE-materialized shuffle
    # stages and under-report.
    for name in HEADLINE:
        q = queries[name]
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df = q(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        results[name] = round(best, 3)

    # warm-index probe-only latency (indexes were built during the
    # battery and are keyed-cached on disk, so these invocations run
    # the pruned-partition probe path alone — the repeated-query regime)
    for name in PROBE_ONLY:
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        results[f"{name}_probe_only"] = round(time.perf_counter() - t0, 3)

    # adversarial skew (SURVEY §4.1 motivating case): the sf battery
    # input plus 4 docs of 10k spans each. The fused flagship plan pins
    # each heavy doc to ONE Python worker for the whole doc. Timed on the
    # staged input; exact_match_rate must be 1.0 (recorded alongside).
    # The row keeps its `skew_doc_mode` name from when a span-parallel
    # plan was timed beside it. Excluded from `total` to keep the
    # battery comparable across rounds.
    from donut_spark.sources.fixtures import materialize_skewed_spans

    skew = spark.read.parquet(materialize_skewed_spans(spark, sf_dir))
    skew.count()  # materialize + warm footers
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        skew_agg = (
            extract_and_evaluate(skew)
            .agg(F.count("*").alias("docs"), F.avg("exact_match").alias("em"))
            .collect()[0]
        )
        best = min(best, time.perf_counter() - t0)
    results["skew_doc_mode"] = round(best, 3)
    skew_match = {"doc": float(skew_agg["em"])}

    # PDF modality throughput (round-5): parse REAL staged PDF bytes for
    # every battery document back into extracted span arrays
    # (pdf_documents_from_table = layout parse + reading-order
    # reassembly). The PDF table is materialized once (synth excluded
    # from timing); pdf_em pins span-sequence equality vs expected on
    # the same run. Excluded from `total` like the skew rows.
    from donut_spark.operators.pdfparse import pdf_documents_from_table
    from donut_spark.sources.fixtures import materialize_pdf_table

    pdfs = spark.read.parquet(materialize_pdf_table(spark, sf_dir))
    pdfs.count()  # warm footers
    expected = load_spans(spark, sf_dir).select("doc_id", "expected")
    pdf_best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        pdf_agg = (
            pdf_documents_from_table(pdfs)
            .join(expected, "doc_id")
            .agg(
                F.count("*").alias("docs"),
                F.avg(
                    (F.col("extracted") == F.col("expected")).cast("int")
                ).alias("em"),
            )
            .collect()[0]
        )
        pdf_best = min(pdf_best, time.perf_counter() - t0)
    results["pdf_parse"] = round(pdf_best, 3)
    pdf_docs_per_sec = pdf_agg["docs"] / pdf_best

    # media-decode throughput (round-5 audio session): run the REAL
    # codecs — PNG unfilter, JPEG Huffman+IDCT, WAV PCM parse, EBML
    # dims — over every media_ref of the first 500 battery docs and
    # checksum the decodes. Map-only Arrow kernel; excluded from
    # `total` like the other modality legs.
    from donut_spark.operators.multimodal import (
        decode_and_featurize,
        synth_media_table,
    )

    media_src = load_spans(spark, sf_dir).filter(
        F.col("doc_id").cast("long") < 500
    )
    media = synth_media_table(spark, media_src)
    media = media.repartition(cpus).persist()
    n_media = media.count()  # synth excluded from the timed leg
    media_best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        decode_and_featurize(media).agg(
            F.count("*"), F.sum("pix_sum")
        ).collect()
        media_best = min(media_best, time.perf_counter() - t0)
    results["media_decode"] = round(media_best, 3)
    media_per_sec = n_media / media_best
    media.unpersist()

    # streaming ingest legs (round-4 verdict item 7): sustained docs/s
    # for the stateless contamination filter and the watermark-bounded
    # dedup, plus the per-batch state-row series evidencing bounded
    # state. Excluded from `total` like the skew rows.
    from bench_streaming import run as streaming_run

    streaming = streaming_run(spark, sf_dir)

    # attach the recorded N→4N scaling evidence (BASELINE.json north rule;
    # regenerated by bench_scaling.py) so every bench snapshot carries it
    scaling = None
    scaling_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "BENCH", "scaling.json")
    if os.path.exists(scaling_path):
        with open(scaling_path) as fh:
            s = json.load(fh)
        scaling = {
            "low_cpus": s["low"]["cpus"],
            "low_docs_per_sec": s["low"]["docs_per_sec"],
            "high_cpus": s["high"]["cpus"],
            "high_docs_per_sec": s["high"]["docs_per_sec"],
            "scaling_efficiency": s["scaling_efficiency"],
        }

    cal_after = calibrate()
    total = sum(
        results[k]
        for k in results
        if not k.endswith("_probe_only")
        and not k.startswith("skew_")
        and k not in ("pdf_parse", "media_decode")
    )
    print(
        json.dumps(
            {
                "metric": "total wall time: flagship extraction + operator battery",
                "value": round(total, 3),
                "unit": "sec",
                "queries": results,
                "sf": sf_dir,
                "cpus": cpus,
                "docs": int(agg["docs"]),
                "docs_per_sec": round(docs_per_sec, 2),
                "exact_match_rate": float(agg["em"]),
                "roundtrip_rate": float(agg["rt"]),
                "skew_exact_match": skew_match,
                "pdf_docs_per_sec": round(pdf_docs_per_sec, 2),
                "media_objects": int(n_media),
                "media_decodes_per_sec": round(media_per_sec, 2),
                "pdf_exact_match_rate": float(pdf_agg["em"]),
                "streaming": streaming,
                "scaling": scaling,
                "calibration": {"before": cal_before, "after": cal_after},
            }
        )
    )


if __name__ == "__main__":
    main()
