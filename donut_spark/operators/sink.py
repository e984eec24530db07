"""The extraction job's sink: ``data/``, ``quarantine/`` and ``lineage/``.

The one write path of both run shapes. A plain run
(``submit/run_extract.py``) calls :func:`write_outputs` directly; a
resumable run (:func:`operators.checkpoint.run_resumable`) adds only its
commit log around the same call.

All three outputs read one persisted frame: the extraction kernel runs
once, and ``lineage/`` is aggregated from the rows the ``data/`` write
consumed, with no second job over ``data/``. In resume mode that frame
is clustered on ``_bucket`` first, so each bucket is written by one
task.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.lineage import lineage_metrics, quarantine_split

__all__ = ["sink_frame", "write_outputs"]

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
    * ``lineage/``: :func:`plans.lineage.lineage_metrics` over the rows
      the ``data/`` write consumed, taken from the same persisted frame
      (no read-back of ``data/``).

    A frame with a ``_bucket`` column is clustered on ``_bucket`` (one
    rebalance exchange, see :func:`sink_frame`) and written
    ``partitionBy("_bucket")`` under dynamic partition overwrite: only
    the buckets present in ``evaluated`` are replaced, in ``lineage/``
    too. Without ``_bucket`` every write replaces its whole directory.
    """
    bucketed = "_bucket" in evaluated.columns
    # the data, quarantine and lineage writes are three readers of one
    # lazy frame; without the persist each of them re-runs the whole
    # extraction kernel (the dominant cost)
    evaluated = sink_frame(evaluated).persist(StorageLevel.MEMORY_AND_DISK)
    good, bad = quarantine_split(evaluated)
    with _dynamic_overwrite(spark):
        try:
            _write(good, f"{out}/data", bucketed)
            _write(bad, f"{out}/quarantine", bucketed)
            _write(lineage_metrics(good), f"{out}/lineage", bucketed)
        finally:
            evaluated.unpersist()


def sink_frame(evaluated: DataFrame) -> DataFrame:
    """The frame :func:`write_outputs` persists and splits: ``evaluated``
    with an ``_error`` column and, when it has ``_bucket``, clustered on
    it. Clustering puts each bucket in one writer task, so ``data/`` and
    ``quarantine/`` get one file per bucket rather than one per scan task
    and bucket; AQE's rebalance splits only a bucket that outgrows its
    advisory partition size."""
    if "_error" not in evaluated.columns:
        evaluated = evaluated.withColumn("_error", F.lit(None).cast("string"))
    if "_bucket" in evaluated.columns:
        evaluated = evaluated.hint("rebalance", "_bucket")
    return evaluated
