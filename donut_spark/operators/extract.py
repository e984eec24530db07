"""The flagship extraction pipeline (SURVEY.md §3.1 restated, §7.6).

Lineage:  spans table → cheap relational pre-filters → boilerplate-strip
extraction → invariant evaluation (span-sequence equality,
json2token/token2json round-trip, nTED) → partitioned sink +
per-partition lineage.

One physical plan for the extraction step: one Arrow batch row per
document, one Python node, no exchange — scan splits provide all the
parallelism. A poison document never fails the job: the kernel's error
channel routes it to ``_error`` (quarantine). The heaviest document is
pinned to one Python worker. A span-parallel explode/shuffle plan that
spread it out was removed: on a 4-vCPU host it won only from one
150 000-span document up, by at most about 13%, and it had no error
channel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..functions.udfs import _extract_spans_err
from ..sources.fixtures import SPAN_SCHEMA, build_spans_table

__all__ = [
    "extract_documents",
    "evaluate_extraction",
    "run_flagship",
]


def extract_documents(spans_df: DataFrame, mode: str = "doc") -> DataFrame:
    """Add an ``extracted`` column of cleaned spans in reading order and
    an ``_error`` column (NULL unless the error channel caught a poison
    document).

    Input must have (doc_id, spans). Non-empty-doc filtering happens
    here (F-family predicate, pushed to the scan by Catalyst since it
    precedes any UDF). Building the plan runs no Spark job, so batch and
    streaming frames take the same path.

    ``mode`` is inert: ``"doc"`` and ``"span"`` build the same plan, and
    any other value raises ``ValueError``. It remains only for the
    benchmark's ``skew_span`` workload, which still passes ``"span"``.
    """
    if mode not in ("doc", "span"):
        raise ValueError(f"unknown mode: {mode}")
    return (
        spans_df.filter(F.size("spans") > 0)
        .withColumn("_ex", _extract_spans_err(F.to_json("spans")))
        .withColumn(
            "extracted",
            F.from_json(F.col("_ex.extracted_json"), ArrayType(SPAN_SCHEMA)),
        )
        .withColumn("_error", F.col("_ex._error"))
        .drop("_ex")
    )


def evaluate_extraction(df: DataFrame) -> DataFrame:
    """Per-row invariant columns: exact span-sequence match vs expected,
    round-trip validity, and nTED of the round-tripped gt_parse.

    ``exact_match`` compares (kind, text, media_ref, order) — offsets are
    dense on both sides, so array equality is exactly the reference's
    per-document span-sequence equality.
    """
    out = df
    if "expected" in df.columns:
        out = out.withColumn(
            "exact_match", (F.col("extracted") == F.col("expected")).cast("int")
        )
    if "gt_parse" in df.columns:
        # ONE fused Python node, not a 4-UDF chain: each ArrowEvalPython
        # re-buffers its child rows, and rows here carry the extracted
        # span arrays (multi-MB on the media-heavy tail) — see
        # functions/udfs._tree_eval_fused
        from ..functions.udfs import _tree_eval_fused

        out = (
            out.withColumn("_tev", _tree_eval_fused("gt_parse"))
            .withColumn("token_seq", F.col("_tev.token_seq"))
            .withColumn("pred_parse", F.col("_tev.pred_parse"))
            .withColumn("roundtrip_ok", F.col("_tev.roundtrip_ok"))
            .withColumn("nted", F.col("_tev.nted"))
            .drop("_tev")
        )
    return out


def extract_and_evaluate(spans_df: DataFrame) -> DataFrame:
    """Fused flagship path: extraction + round-trip + nTED in ONE
    pandas-UDF node (see ``_extract_eval_fused``), exact-match compare
    JVM-side. Semantically identical to ``evaluate_extraction(
    extract_documents(df))`` but with half the Python workers and
    Arrow hops per task — the plan that survives wide parallelism.
    """
    from ..functions.udfs import _extract_eval_fused

    df = spans_df.filter(F.size("spans") > 0).withColumn(
        "_ev", _extract_eval_fused(F.to_json("spans"), F.col("gt_parse"))
    ).withColumn(
        "extracted", F.from_json(F.col("_ev.extracted_json"), ArrayType(SPAN_SCHEMA))
    )
    out = df.select(
        *[c for c in spans_df.columns],
        "extracted",
        F.col("_ev.token_seq").alias("token_seq"),
        F.col("_ev.pred_parse").alias("pred_parse"),
        F.col("_ev.roundtrip_ok").alias("roundtrip_ok"),
        F.col("_ev.nted").alias("nted"),
        F.col("_ev._error").alias("_error"),
    )
    if "expected" in spans_df.columns:
        out = out.withColumn(
            "exact_match", (F.col("extracted") == F.col("expected")).cast("int")
        )
    return out


def run_flagship(
    spark: SparkSession, sf_dir: str, limit: int | None = None
) -> DataFrame:
    """End-to-end: synthesize spans table → extract → evaluate →
    quarantine errored docs (good rows only).

    Runs the fused single-Python-node plan (``extract_and_evaluate``). A
    poison document lands in ``_error`` and is dropped here (reference
    parity: `test.py:147-152,187-189`). Aggregate with
    ``df.agg(avg("exact_match"), avg("roundtrip_ok"), avg("nted"))`` for
    the corpus-level metrics (A1/A2 analogues).
    """
    from ..plans.lineage import quarantine_split

    spans = build_spans_table(spark, sf_dir, limit=limit)
    good, _bad = quarantine_split(extract_and_evaluate(spans))
    return good
