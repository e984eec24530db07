"""The flagship extraction pipeline (SURVEY.md §3.1 restated, §7.6).

Lineage:  spans table → cheap relational pre-filters → boilerplate-strip
extraction → invariant evaluation (span-sequence equality,
json2token/token2json round-trip, nTED) → partitioned sink +
per-partition lineage.

One spans operator, :func:`extract_documents`, backed by one pandas UDF
(``functions/udfs._extract_eval_fused``): one Arrow batch row per
document, one Python node, no exchange — scan splits provide all the
parallelism. It extracts, and in the same pass per document evaluates
when the input has ``gt_parse``; ``exact_match`` is compared JVM-side
when the input has ``expected``. A poison document, in its spans or in
its ``gt_parse``, never fails the job: the UDF's one ``try`` per
document routes it to ``_error`` (quarantine). The heaviest document is
pinned to one Python worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..functions.udfs import _extract_eval_fused
from ..sources.fixtures import SPAN_SCHEMA, build_spans_table

__all__ = [
    "extract_documents",
    "evaluate_extraction",
    "run_flagship",
]

_EVAL_COLUMNS = ("token_seq", "pred_parse", "roundtrip_ok", "nted")


def extract_documents(spans_df: DataFrame, mode: str = "doc") -> DataFrame:
    """The spans operator: ``spans_df`` plus ``extracted`` (cleaned spans
    in reading order) and ``_error`` (NULL unless the error channel
    caught a poison document), all from one Python node.

    Input must have (doc_id, spans). An input with ``gt_parse`` also
    gets ``token_seq``, ``pred_parse``, ``roundtrip_ok`` and ``nted``
    from the same node; an input with ``expected`` also gets
    ``exact_match``, compared JVM-side. Non-empty-doc filtering happens
    here (F-family predicate, pushed to the scan by Catalyst since it
    precedes any UDF). Building the plan runs no Spark job, so batch and
    streaming frames take the same path.

    ``mode`` is inert: ``"doc"`` and ``"span"`` build the same plan, and
    any other value raises ``ValueError``. It remains only for the
    benchmark's ``skew_span`` workload, which still passes ``"span"``.
    """
    if mode not in ("doc", "span"):
        raise ValueError(f"unknown mode: {mode}")
    has_gt = "gt_parse" in spans_df.columns
    gt = F.col("gt_parse") if has_gt else F.lit(None).cast("string")
    df = spans_df.filter(F.size("spans") > 0).withColumn(
        "_ev", _extract_eval_fused(F.to_json("spans"), gt)
    ).withColumn(
        "extracted", F.from_json(F.col("_ev.extracted_json"), ArrayType(SPAN_SCHEMA))
    )
    out = df.select(
        *spans_df.columns,
        "extracted",
        *[F.col(f"_ev.{c}").alias(c) for c in (_EVAL_COLUMNS if has_gt else ())],
        F.col("_ev._error").alias("_error"),
    )
    return evaluate_extraction(out)


# The name the flagship callers and the benchmarks use: the same operator.
extract_and_evaluate = extract_documents


def evaluate_extraction(df: DataFrame) -> DataFrame:
    """Add the evaluation columns an extraction frame ``df`` lacks.

    * ``token_seq``, ``pred_parse``, ``roundtrip_ok`` and ``nted`` when
      ``df`` has ``gt_parse``: the ``gt_parse`` half of the one spans
      UDF, whose error (e.g. a ``gt_parse`` nested too deep to parse)
      is merged into ``_error`` after any error ``df`` already carries;
    * ``exact_match`` when ``df`` has ``expected``. It compares (kind,
      text, media_ref, order): offsets are dense on both sides, so array
      equality is exactly the reference's per-document span-sequence
      equality.

    Over :func:`extract_documents`' output nothing is missing, so this
    adds no Python node.
    """
    missing = [c for c in _EVAL_COLUMNS if c not in df.columns]
    if "gt_parse" in df.columns and missing:
        error = F.col("_ev._error")
        if "_error" in df.columns:
            error = F.coalesce(F.col("_error"), error)
        no_spans = F.lit(None).cast("string")
        df = (
            df.withColumn("_ev", _extract_eval_fused(no_spans, F.col("gt_parse")))
            .select("*", *[F.col(f"_ev.{c}").alias(c) for c in missing])
            .withColumn("_error", error)
            .drop("_ev")
        )
    if "expected" in df.columns and "exact_match" not in df.columns:
        df = df.withColumn(
            "exact_match", (F.col("extracted") == F.col("expected")).cast("int")
        )
    return df


def run_flagship(
    spark: SparkSession, sf_dir: str, limit: int | None = None
) -> DataFrame:
    """End-to-end: synthesize spans table → extract → evaluate →
    quarantine errored docs (good rows only).

    Runs the one spans operator (``extract_documents``). A poison
    document lands in ``_error`` and is dropped here (reference
    parity: `test.py:147-152,187-189`). Aggregate with
    ``df.agg(avg("exact_match"), avg("roundtrip_ok"), avg("nted"))`` for
    the corpus-level metrics (A1/A2 analogues).
    """
    from ..plans.lineage import quarantine_split

    spans = build_spans_table(spark, sf_dir, limit=limit)
    good, _bad = quarantine_split(extract_documents(spans))
    return good
