"""Lineage & metrics (SURVEY.md §4.3) — the reference's jsonl results +
pickled-error side channel (`test.py:136-152,187-189`) generalized to a
distributed, schema-stable audit table.

One row per ``_bucket`` (resume mode) or per output partition (plain
mode): ``n_docs``, ``n_spans`` and ``checksum``, an order-insensitive XOR
of ``xxhash64(doc_id, to_json(extracted))`` row hashes. The checksum
certifies each document's id and extracted span sequence, so two runs
(plain or resumed, any cluster size) compare grouping-free via the
global XOR.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["lineage_metrics", "quarantine_split"]


def lineage_metrics(df: DataFrame) -> DataFrame:
    """Lineage rows for an extraction output ``(doc_id, extracted, ...)``,
    grouped by ``_bucket`` when the frame has it, otherwise by Spark
    partition (``partition_id``)."""
    if "_bucket" in df.columns:
        key = "_bucket"
    else:
        key = "partition_id"
        df = df.withColumn(key, F.spark_partition_id())
    return (
        df.withColumn("_rowhash", F.xxhash64("doc_id", F.to_json("extracted")))
        .groupBy(key)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("extracted")).alias("n_spans"),
            # BIT_XOR is order-insensitive → stable across schedulers
            F.expr("bit_xor(_rowhash)").alias("checksum"),
        )
    )


def quarantine_split(df: DataFrame):
    """S11: never fail the job — rows with a non-null ``_error`` go to a
    quarantine frame written beside the output."""
    good = df.filter(F.col("_error").isNull()).drop("_error")
    bad = df.filter(F.col("_error").isNotNull())
    return good, bad
