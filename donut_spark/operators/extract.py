"""The flagship extraction pipeline (SURVEY.md §3.1 restated, §7.6).

Lineage:  spans table → cheap relational pre-filters → skew decluster →
boilerplate-strip extraction (doc- or span-parallel) → invariant
evaluation (span-sequence equality, json2token/token2json round-trip,
nTED) → partitioned sink + per-partition lineage.

Two physical plans for the extraction step:

* doc plan  — one Arrow batch row per document; zero extra shuffle; best
  when document sizes are bounded.
* span plan — ``explode`` to spans, extract each independently,
  reassemble with ``array_sort``/``flatten``/``transform`` (all
  JVM-side); one shuffle, but the media-heavy tail (a single 10k-span
  document) spreads over the whole cluster instead of pinning one
  Python worker. This is the 10^12-document plan (SURVEY.md §4.1).

``mode="doc"`` always runs the doc plan. ``mode="span"`` is
weight-routed: one JVM aggregate (``max`` and ``sum`` of
``size(spans)``) over the input decides, and the span plan runs only
when the heaviest document, pinned to one Python worker by the doc
plan, would cost more than the span plan's whole critical path (see
``_span_plan_pays``). Otherwise the doc plan runs. Both plans give the
same rows and schema for healthy documents. Only the doc plan has an
error channel: it routes a poison document to ``_error`` (quarantine),
while on the span plan the same document fails the job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..functions.udfs import _extract_spans_err, extract_pieces
from ..plans.skew import decluster, salt_heavy
from ..sources.fixtures import SPAN_SCHEMA, build_spans_table

__all__ = [
    "extract_documents",
    "evaluate_extraction",
    "run_flagship",
]

# The span plan's cost, in spans of doc-plan Python work, measured with
# both plans on one job (extract + evaluate_extraction + plain sink) on
# a 4-vCPU host at 2-8 task slots: its per-span Python time is about
# twice the doc plan's (traced udfs.python_run_s 6.9 vs 3.8 s on the same
# spans), and its exchange, two-phase aggregation and re-join add a
# fixed ~1.5 s, about 50 000 spans' worth. On the doc side of the line
# ``_span_plan_pays`` draws, the doc plan won every measured input, up
# to one 100 000-span document in 122 000 spans at 4 slots (4.5 vs
# 5.3 s); on the other side the span plan won or tied, e.g. one
# 150 000-span document in 173 000 spans at 4 slots (5.5 vs 6.3 s).
_SPAN_COST_RATIO = 2
_SPAN_PLAN_FIXED_SPANS = 50_000

_RENUMBER = (
    "transform(_flat, (p, i) -> named_struct("
    "'kind', p.kind, 'text', p.text, 'media_ref', p.media_ref, "
    "'offset', cast(i as int)))"
)


def extract_documents(
    spans_df: DataFrame, mode: str = "doc", decluster_input: bool = False
) -> DataFrame:
    """Add an ``extracted`` column of cleaned spans in reading order and
    an ``_error`` column (NULL unless the doc plan's error channel caught
    a poison document; the span plan has no error channel, so a poison
    document fails the job when it runs).

    Input must have (doc_id, spans). Non-empty-doc filtering happens
    here (F-family predicate, pushed to the scan by Catalyst since it
    precedes any UDF). Set ``decluster_input`` when the source is
    clustered by document weight (e.g. a crawl ordered by site) — it
    buys uniform UDF load for one extra shuffle; leave it off when the
    upstream already hash-distributed (e.g. fixture synthesis).

    ``mode="span"`` runs one aggregate job over the input to pick the
    plan (module docstring), so it needs a batch frame: a streaming
    frame raises ``ValueError``.
    """
    if mode not in ("doc", "span"):
        raise ValueError(f"unknown mode: {mode}")
    if mode == "span" and spans_df.isStreaming:
        raise ValueError(
            "extract_documents(mode='span') probes the whole input to pick "
            "its plan and cannot run on a streaming DataFrame; use mode='doc'"
        )
    df = spans_df.filter(F.size("spans") > 0)
    if mode == "span" and _has_outlier(df):
        return _span_plan(df)
    if decluster_input:
        df = decluster(df)
    # error-channel extraction: poison docs land in the _error column
    # (quarantine) instead of failing the task/stream
    return (
        df.withColumn("_ex", _extract_spans_err(F.to_json("spans")))
        .withColumn(
            "extracted",
            F.from_json(F.col("_ex.extracted_json"), ArrayType(SPAN_SCHEMA)),
        )
        .withColumn("_error", F.col("_ex._error"))
        .drop("_ex")
    )


def _has_outlier(df: DataFrame) -> bool:
    """True when the heaviest document makes the span plan the faster
    one (``_span_plan_pays``). An empty input has no outlier."""
    size = F.size("spans")
    heaviest, total = df.agg(F.max(size), F.sum(size)).first()
    slots = df.sparkSession.sparkContext.defaultParallelism
    return heaviest is not None and _span_plan_pays(heaviest, total, slots)


def _span_plan_pays(heaviest: int, total: int, slots: int) -> bool:
    """Compare the two plans' critical paths in spans of doc-plan work:
    the doc plan's is its heaviest document (it cannot finish before the
    one worker holding that document does), the span plan's is every
    span spread evenly over the slots at its higher per-span cost, plus
    its fixed cost. On two slots or fewer the span plan never pays."""
    return heaviest > _SPAN_COST_RATIO * total / slots + _SPAN_PLAN_FIXED_SPANS


def _span_plan(df: DataFrame) -> DataFrame:
    # The exploded side carries ONLY slim per-span fields. Pass-through
    # columns (spans, expected, gt_parse, ...) do NOT ride the explode:
    # an earlier design attached them to the pos==0 row and recovered
    # them with first(ignorenulls) through both aggregation phases —
    # measured on the 100k-span adversarial fixture that is
    # superlinear (each agg boundary re-copies the document's arrays
    # element-by-element through the object agg buffers; 46 s vs ~1 s
    # for the same extraction with the arrays pruned). They are
    # re-attached by a doc_id join at the end, where they move exactly
    # once as raw row bytes.
    exploded = df.select(
        "doc_id",
        # span count rides along so salt_heavy can tell the media-heavy
        # tail apart per exploded row (evaluated pre-explode, zero cost)
        F.size("spans").alias("_w"),
        F.posexplode("spans").alias("pos", "s"),
    ).select(
        "doc_id",
        "_w",
        # NULL coercion + tie-break parity with doc mode: the fused
        # kernel reads span.get('offset') or 0 / .get('media_ref') or ''
        # and Python's stable sort keeps input order on equal offsets —
        # coalesce here and carry pos as the secondary sort key so both
        # physical modes produce identical extracted sequences on null
        # or duplicate offsets
        F.coalesce(F.col("s.offset"), F.lit(0)).alias("offset"),
        F.col("pos"),
        F.col("s.kind").alias("_kind"),
        F.col("s.text").alias("_text"),
        F.col("s.media_ref").alias("_mref"),
    )
    # Salt FIRST, then an EXPLICIT exchange on (doc_id, _salt), and only
    # THEN the extraction UDF. Two scale properties hang on this order,
    # both found on the 10k-span adversarial fixture:
    #
    # 1. Memory: placed directly over the Generate, ArrowEvalPython's
    #    row queue buffers the explode's JOIN rows — every exploded row
    #    re-materializes the document's full spans/expected arrays, so
    #    one Arrow batch window holds O(batch × doc_size) bytes
    #    (quadratic in span count; a 4×10k-span file OOMed an 8 GiB
    #    heap). Below the exchange the buffered rows are the SLIM gated
    #    projection — the pos==0 row alone carries the arrays, exactly
    #    once per document.
    # 2. Skew: the explode keeps a document's spans inside its scan
    #    split, so without the exchange the Python kernel for a heavy
    #    doc still ran on ONE worker — the salting only spread the
    #    (cheap) reassembly. Pre-UDF repartitioning spreads the heavy
    #    doc's UDF work over its 16 salt buckets, which is the actual
    #    §4.1 win.
    #
    # The phase-1 groupBy keys equal the repartition keys, so the
    # aggregation reuses this exchange (no extra shuffle vs the old
    # plan — the exchange moved from post-partial-agg to pre-UDF).
    salted = salt_heavy(exploded, "doc_id", "pos", F.col("_w"))
    salted = salted.repartition(
        df.sparkSession.sparkContext.defaultParallelism * 2,
        "doc_id",
        "_salt",
    )
    # Two-phase salted reassembly (plans/skew.salt_heavy): one
    # media-heavy document (a 10k-span doc is one groupBy key) would
    # otherwise merge on a single reducer. Heavy rows (>= 48 spans, the
    # fixture's media-heavy tail) fan out over 16 salt values; phase 1
    # collects partials per (doc_id, _salt), phase 2 concatenates the
    # few partial arrays per doc. Light docs all use _salt=0, so phase 1
    # is one group per doc and phase 2 moves already-aggregated rows.
    # Ordering is unaffected: array_sort runs on the flattened whole.
    salted = salted.withColumn(
        "pieces",
        F.when(
            F.col("_kind") == "media",
            F.array(
                F.struct(
                    F.lit("media").alias("kind"),
                    F.lit("").alias("text"),
                    F.coalesce(F.col("_mref"), F.lit("")).alias("media_ref"),
                )
            ),
        ).otherwise(extract_pieces(F.col("_text"))),
    ).drop("_kind", "_text", "_mref")
    reassembled = (
        salted.groupBy("doc_id", "_salt")
        .agg(F.collect_list(F.struct("offset", "pos", "pieces")).alias("_pp"))
        .groupBy("doc_id")
        .agg(F.flatten(F.collect_list("_pp")).alias("_parts"))
        .withColumn("_flat", F.expr("flatten(transform(array_sort(_parts), p -> p.pieces))"))
        .withColumn("extracted", F.expr(_RENUMBER))
        .select("doc_id", "extracted")
    )
    # Re-attach the original columns with one doc_id equi-join. The
    # reassembled side leaves phase 2 already hash-partitioned on
    # doc_id, so only the base side shuffles — its rows (including the
    # media-heavy arrays) move exactly once, as raw bytes, never
    # through an aggregation buffer. This re-reads the input plan; at
    # corpus scale that is a column-complete parquet scan (cheap next
    # to the Python extraction), and synthesized inputs should be
    # materialized first (bench/fixtures do). The cast and the NULL
    # _error give the doc plan's output schema: its from_json is
    # all-nullable, the renumbering transform is not.
    return df.join(reassembled, "doc_id").select(
        *df.columns,
        F.col("extracted").cast(ArrayType(SPAN_SCHEMA)),
        F.lit(None).cast("string").alias("_error"),
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
        # re-buffers its child rows, and rows here carry the reassembled
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


def extract_and_evaluate(spans_df: DataFrame, decluster_input: bool = False) -> DataFrame:
    """Fused flagship path: extraction + round-trip + nTED in ONE
    pandas-UDF node (see ``_extract_eval_fused``), exact-match compare
    JVM-side. Semantically identical to ``evaluate_extraction(
    extract_documents(df, "doc"))`` but with half the Python workers and
    Arrow hops per task — the plan that survives wide parallelism.
    """
    from ..functions.udfs import _extract_eval_fused

    df = spans_df.filter(F.size("spans") > 0)
    if decluster_input:
        df = decluster(df)
    df = df.withColumn(
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
    spark: SparkSession,
    sf_dir: str,
    mode: str = "doc",
    limit: int | None = None,
) -> DataFrame:
    """End-to-end: synthesize spans table → extract → evaluate →
    quarantine errored docs (good rows only).

    ``mode="doc"`` uses the fused single-Python-node plan; ``"span"`` the
    weight-routed ``extract_documents(mode="span")``. A poison document
    lands in ``_error`` and is dropped here whenever the doc plan runs
    (reference parity: `test.py:147-152,187-189`); on the span plan it
    fails the job. Aggregate with ``df.agg(avg("exact_match"),
    avg("roundtrip_ok"), avg("nted"))`` for the corpus-level metrics
    (A1/A2 analogues).
    """
    from ..plans.lineage import quarantine_split

    spans = build_spans_table(spark, sf_dir, limit=limit)
    if mode == "doc":
        evaluated = extract_and_evaluate(spans)
    else:
        evaluated = evaluate_extraction(extract_documents(spans, mode=mode))
    good, _bad = quarantine_split(evaluated)
    return good
