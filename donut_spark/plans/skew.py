"""Skew handling for UDF *compute* cost (SURVEY.md §4.1).

AQE's skew-join splitting balances shuffle **bytes**; it cannot see that
one partition costs 100× more Python time inside a pandas UDF.
:func:`maybe_decluster` covers the case where that matters at small
scale: a narrow scan (1-2 splits) feeding an explode and a Python stage
would pin all of it to one core, so it hash-repartitions on the key —
and adds no exchange when the scan is already wide. The dedup shingle
explodes (``operators/dedup.py``) use it.

The extraction plan (``operators/extract.py``) needs neither: scan
splits provide its parallelism, and its heaviest document stays on one
Python worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["maybe_decluster"]


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

    The partition count is explicit (2× the default parallelism): an
    advisory ``repartition(col)`` lets AQE coalesce by *bytes*, and
    pandas-UDF stages are compute-bound, not byte-bound.

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
