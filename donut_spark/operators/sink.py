"""The extraction job's sink: ``data/``, ``quarantine/`` and ``lineage/``.

The one write path of both run shapes. A plain run
(``submit/run_extract.py``) calls :func:`write_outputs` directly; a
resumable run (:func:`operators.checkpoint.run_resumable`) adds only its
commit log around the same call.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.lineage import lineage_metrics, quarantine_split

__all__ = ["write_outputs"]

_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


@contextmanager
def _dynamic_overwrite(spark: SparkSession):
    """Dynamic partition overwrite for the block: a partitioned write
    replaces only the partitions it holds rows for; a non-partitioned
    write ignores the mode and replaces its whole directory."""
    prev = spark.conf.get(_OVERWRITE_MODE, "static")
    spark.conf.set(_OVERWRITE_MODE, "dynamic")
    try:
        yield
    finally:
        spark.conf.set(_OVERWRITE_MODE, prev)


def _write(df: DataFrame, path: str, bucketed: bool) -> None:
    writer = df.write.mode("overwrite")
    if bucketed:
        writer = writer.partitionBy("_bucket")
    writer.parquet(path)


def write_outputs(spark: SparkSession, evaluated: DataFrame, out: str) -> None:
    """Write an extraction output under ``out``.

    * ``data/``: rows whose ``_error`` is null, without ``_error``;
    * ``quarantine/``: rows whose ``_error`` is set (S11: a poison
      document never fails the job). A frame without ``_error`` has
      nothing to quarantine;
    * ``lineage/``: :func:`plans.lineage.lineage_metrics` over the
      ``data/`` files just written -- auditing what is on disk, not the
      plan.

    A frame with a ``_bucket`` column is written ``partitionBy("_bucket")``
    under dynamic partition overwrite: only the buckets present in
    ``evaluated`` are replaced, and only they are audited again. Without
    ``_bucket`` every write replaces its whole directory.
    """
    bucketed = "_bucket" in evaluated.columns
    if "_error" not in evaluated.columns:
        evaluated = evaluated.withColumn("_error", F.lit(None).cast("string"))
    # the data and quarantine writes are two filters over the same lazy
    # frame; without the persist the second write re-runs the whole
    # extraction kernel (the dominant cost) to collect the errored rows
    evaluated = evaluated.persist(StorageLevel.MEMORY_AND_DISK)
    good, bad = quarantine_split(evaluated)
    with _dynamic_overwrite(spark):
        try:
            _write(good, f"{out}/data", bucketed)
            _write(bad, f"{out}/quarantine", bucketed)
            # data/ also holds buckets committed by earlier runs: the
            # audit reads back only the buckets this write replaced
            written = (
                [r[0] for r in good.select("_bucket").distinct().collect()]
                if bucketed
                else None
            )
        finally:
            evaluated.unpersist()
        if bucketed and not written:
            return
        fresh = spark.read.parquet(f"{out}/data")
        if bucketed:
            fresh = fresh.filter(F.col("_bucket").isin(written))
        _write(lineage_metrics(fresh), f"{out}/lineage", bucketed)
