"""Skew handling for UDF *compute* cost (SURVEY.md §4.1).

AQE's skew-join splitting balances shuffle **bytes**; it cannot see that
one document costs 100× more Python time inside a pandas UDF. Two
explicit strategies:

* :func:`decluster` — hash-repartition on ``doc_id`` so media-heavy
  documents that arrive clustered (e.g. a crawl ordered by site) spread
  uniformly over partitions; cheap, no per-row weights.
* :func:`salt_heavy` — bucket rows by a weight expression (e.g.
  ``size(spans)``) and give the heavy tail extra salt values, so a
  single hot bucket fans out over many partitions. Used before wide
  groupBys keyed on skewed values.

At 10^12 documents the doc-level UDF is the unit of work, so the span
pipeline also offers span-level parallelism (`operators/extract.py`
``mode="span"``) where the heavy tail parallelizes *within* a document.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["decluster", "maybe_decluster", "salt_heavy"]


def decluster(df: DataFrame, key: str = "doc_id", num_partitions: int | None = None) -> DataFrame:
    """Uniformly spread rows by hashing a high-cardinality key, breaking
    any input-order clustering of expensive documents.

    The partition count is always explicit: an advisory ``repartition(col)``
    lets AQE coalesce by *bytes*, and pandas-UDF stages are compute-bound,
    not byte-bound — AQE would happily squash a 30 MB / 40 CPU-minute
    stage onto one core. Default: 2× the cluster's default parallelism.
    """
    if not num_partitions:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    return df.repartition(num_partitions, F.col(key))


def maybe_decluster(
    df: DataFrame, key: str = "doc_id", source_partitions: int | None = None
) -> DataFrame:
    """Decluster ONLY when the source yields fewer partitions than the
    cluster's parallelism.

    The case this exists for: a small/local input arrives as 1-2 scan
    splits and a downstream pandas-UDF stage inherits that width, pinning
    all Python compute to one core. At corpus scale the scan already
    yields thousands of splits, the condition is false, and NO exchange
    is added — repartitioning 100 TB of raw text to fix a problem it
    doesn't have would be the real bug.

    Pass ``source_partitions`` when the caller already knows the scan
    width (file count, parquet footer row groups): the fallback probe
    ``df.rdd.getNumPartitions()`` runs no job but DOES materialize the
    physical plan driver-side on every invocation — cheap for a scan
    projection, not free on a wide composed plan.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if source_partitions is None:
        source_partitions = df.rdd.getNumPartitions()
    if source_partitions >= target:
        return df
    return df.repartition(target * 2, F.col(key))


def salt_heavy(
    df: DataFrame,
    key: str,
    row_col: str,
    weight: Column,
    heavy_threshold: int = 48,
    salt_buckets: int = 16,
) -> DataFrame:
    """Add a deterministic ``_salt`` column: 0 for light rows,
    0..salt_buckets-1 for heavy rows (derived from a row-distinguishing
    column, e.g. span ``offset``) — group on ``(key, _salt)``, merge
    partials second: the classic two-phase skewed aggregation.

    Wired into the span-mode reassembly groupBy
    (``operators/extract.py::extract_documents(mode="span")``), where
    one media-heavy document is one hot groupBy key; plan pinned by
    tests/test_pipeline.py::test_span_mode_salted_two_phase_plan."""
    return df.withColumn(
        "_salt",
        F.when(
            weight >= F.lit(heavy_threshold),
            F.pmod(F.xxhash64(F.col(key), F.col(row_col)), F.lit(salt_buckets)),
        ).otherwise(F.lit(0)),
    )
