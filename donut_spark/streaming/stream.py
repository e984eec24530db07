"""Streaming extraction (SURVEY.md §2.10).

The reference is pure batch; the closest streaming analogue is its
infinite online synthesizer (`donut/util.py:453-502`). The per-document
pipeline is stateless projection + UDFs, so the streaming variant needs
no watermarks or stateful operators: any micro-batch source works with
the identical column pipeline. Provided for incremental ingest
(Iceberg incremental reads / file streams in production; a file stream
or rate source here).
"""

from __future__ import annotations

# module-top pandas: pandas_udf resolves 'pd.Series'/'pd.DataFrame'
# type hints against the defining module's globals — a local import
# inside the factory fails with UNSUPPORTED_SIGNATURE
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import extract_documents
from ..sources.fixtures import SPANS_TABLE_SCHEMA

__all__ = [
    "stream_extract_from_files",
    "stream_pdf_extract_from_files",
    "windowed_event_counts",
    "sessionize",
    "streaming_exact_dedup",
    "streaming_contamination",
    "java_ws_shingles",
]

import re as _re

# Java's \s is ASCII-only ([ \t\n\x0B\f\r]); Python's is Unicode-aware
# (NBSP, U+2028/29, U+3000, ...). Every Python twin of a JVM
# split(\s+) MUST use this class or web text containing exotic
# whitespace tokenizes differently and twin parity silently breaks.
_JAVA_WS = _re.compile("[ \\t\\n\\x0b\\f\\r]+")


def java_ws_shingles(text: str | None, n: int) -> list:
    """Python twin of ``dedup._shingle_explode``'s JVM expression with
    ``distinct=False``: lowercase → split on the JAVA whitespace class →
    drop empty boundary tokens → word ``n``-grams joined by ' ' (one
    entry per OCCURRENCE; empty shingles dropped). Module-level so the
    unicode-whitespace parity fuzz exercises the exact deployed code."""
    words = [w for w in _JAVA_WS.split((text or "").lower()) if w]
    top = max(len(words) - n, 0)
    return [s for s in (" ".join(words[i : i + n]) for i in range(top + 1)) if s]


def stream_extract_from_files(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-stream source of spans-table parquet → streaming extraction.

    Returns a streaming DataFrame; attach a sink with
    ``.writeStream.format("parquet").option("checkpointLocation", ...)``
    — the checkpoint gives exactly-once per micro-batch, the streaming
    twin of `operators/checkpoint.py`.
    """
    source = (
        spark.readStream.schema(SPANS_TABLE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return extract_documents(source)


def stream_pdf_extract_from_files(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Streaming twin of ``run_extract --modality pdf``: a file stream
    of PDF tables ``(doc_id, content binary)`` parsed incrementally by
    the layout codec.

    The parse kernel is per-row stateless (``extract_pdf_spans``'s
    ``mapInPandas``), so no watermark or state store is needed and the
    batch/stream plans are identical above the source — micro-batch
    checkpointing gives exactly-once ingest of a landing zone of native
    documents. Poison PDFs surface as ``kind='error'`` rows in-stream;
    route them to a quarantine sink with a filter, same contract as the
    batch path.
    """
    from ..operators.pdfparse import PDF_TABLE_SCHEMA, extract_pdf_spans

    source = (
        spark.readStream.schema(PDF_TABLE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return extract_pdf_spans(source)


def windowed_event_counts(
    events: DataFrame, window: str = "1 minute", watermark: str = "2 minutes"
) -> DataFrame:
    """Late-data-tolerant windowed aggregation over the events stream —
    the streaming analogue of the A1 grouped means."""
    from pyspark.sql import functions as F

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )


SESSION_SCHEMA = "user_id LONG, session_start LONG, session_end LONG, n_events INT"
_SESSION_STATE_SCHEMA = "start LONG, last LONG, n INT"


def sessionize(events: DataFrame, gap_seconds: int = 60) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization via
    ``applyInPandasWithState`` (SURVEY.md §2.10's 'custom stateful
    operator' slot).

    Per user, events sorted by epoch-second ``ts_sec`` fold into
    sessions split on gaps > ``gap_seconds``; closed sessions are
    emitted, the open tail persists in group state across micro-batches.
    State is O(1) per user — the shape that survives 10^12 events.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        import pandas as pd

        rows = pd.concat(list(pdfs)).sort_values("ts_sec")
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        out = []
        for ts in rows["ts_sec"]:
            ts = int(ts)
            if start is None:
                start, last, n = ts, ts, 1
            elif ts - last > gap_seconds:
                out.append((key[0], start, last, n))
                start, last, n = ts, ts, 1
            else:
                # rows are sorted within the batch, but a LATE cross-batch
                # arrival can precede the persisted session — extend the
                # span with min/max so the end never moves backward
                # (session_end < session_start) and a late event can't
                # reset the gap anchor
                start = min(start, ts)
                last = max(last, ts)
                n += 1
        state.update((start, last, n))
        yield pd.DataFrame(
            out, columns=["user_id", "session_start", "session_end", "n_events"]
        )

    prepared = events.selectExpr(
        "user_id", "cast(unix_timestamp(ts) as long) as ts_sec"
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``operators.dedup.exact_dedup``: keep the first
    arrival of each normalized content fingerprint, drop re-arrivals
    within the watermark horizon.

    The scale property is the state bound: ``dropDuplicatesWithinWatermark``
    keys state on the fingerprint and EVICTS entries once the watermark
    passes them, so state is O(distinct fingerprints per watermark
    window), not O(all history) — a plain ``dropDuplicates`` on an
    unbounded stream grows state forever, which is the classic way a
    10^12-doc ingest dedup falls over. Duplicates separated by more than
    the watermark are the accepted trade (re-dedup in batch compaction —
    the standard lambda shape for ingest pipelines).
    """
    from pyspark.sql import functions as F

    from ..functions.udfs import fingerprint_udf

    return (
        docs.withColumn("fp", fingerprint_udf(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .drop("fp")
    )


def streaming_contamination(
    docs: DataFrame,
    benchmark_shingles: "BenchmarkShingles",
    text_col: str = "text",
) -> DataFrame:
    """Ingest-time train/test contamination flag — the streaming twin of
    ``operators.dedup.contamination_overlap`` (oracle-backed q52).

    STATELESS by design: the benchmark side of a contamination sweep is
    small by definition, so its distinct shingle set
    (``dedup.benchmark_shingle_set`` — computed by the SAME JVM shingle
    expression the batch sweep uses, and carrying its n-gram size so a
    mismatched probe is impossible) collects once driver-side and
    rides the UDF closure as a broadcast. The corpus stream then passes
    through one Arrow-batched map — no state, no watermark, any output
    mode, and the scale shape matches the batch plan (the 10^12-doc
    side never shuffles). Adds ``n_hits``/``n_distinct_hits`` columns;
    filter downstream (``n_hits >= 1``) to quarantine leaks at ingest.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, StructField, StructType

    n = benchmark_shingles.n
    bench = benchmark_shingles.shingles  # closure-broadcast

    hit_schema = StructType(
        [
            StructField("n_hits", IntegerType()),
            StructField("n_distinct_hits", IntegerType()),
        ]
    )

    @F.pandas_udf(hit_schema)
    def hits(text: pd.Series) -> pd.DataFrame:
        contains = bench.__contains__
        intersect = bench.intersection
        out = []
        for t in text:
            # java_ws_shingles is the module-level python twin of
            # dedup._shingle_explode (JAVA whitespace class, empty
            # tokens/shingles dropped). n_hits counts raw OCCURRENCES
            # (the batch twin explodes the corpus side non-distinct —
            # repetition is leak evidence); n_distinct_hits the
            # distinct overlapping shingles. intersection(raw) probes
            # the (usually miss-only) shingles against the set without
            # materializing set(raw) per document.
            raw = java_ws_shingles(t, n)
            raw_hits = sum(map(contains, raw))
            out.append((raw_hits, len(intersect(raw))))
        return pd.DataFrame(out, columns=["n_hits", "n_distinct_hits"])

    return docs.withColumn("_c", hits(F.col(text_col))).select(
        "*", F.col("_c.n_hits").alias("n_hits"),
        F.col("_c.n_distinct_hits").alias("n_distinct_hits")
    ).drop("_c")
