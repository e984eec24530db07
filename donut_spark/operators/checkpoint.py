"""Resumable, idempotent batch runs via a bucket commit log.

Spark restatement of the reference's checkpoint-resume
(`train.py:27-39,139`; S10 in SURVEY.md §2.1): instead of model
weights, the unit of durability is a *bucket* of documents
(``pmod(xxhash64(doc_id), n_buckets)``). A run

1. reads the commit log (marker files under ``<out>/_commits/``),
2. anti-filters already-committed buckets from the input,
3. processes the remaining buckets and writes them through the job's
   one sink (``operators.sink.write_outputs``), which clusters the rows
   on bucket id and writes them partitioned by it (each bucket directory
   is written atomically by Spark's committer): ``data/`` and
   ``quarantine/`` hold exactly the rows a plain run writes, plus the
   ``_bucket`` partitioning, and ``lineage/`` holds one audit row per
   bucket, aggregated from the rows the ``data/`` write consumed,
4. appends one marker per bucket that completed.

Any partition/bucket can therefore resume after a crash without
recomputing finished work, and re-runs are no-ops. ALL marker and
directory I/O goes through the Hadoop FileSystem API (resolved from the
path's scheme), so the commit log, orphan cleanup, and bucket listing
behave identically on local files, HDFS, and S3A — the deployments the
submit/ entrypoints advertise.
"""

from __future__ import annotations

from typing import Callable, List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sink import write_outputs

__all__ = ["committed_buckets", "mark_committed", "run_resumable"]

_COMMITS = "_commits"


def _fs_for(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for a string path via the Hadoop FS API —
    scheme-aware, so file:/, hdfs:/ and s3a:/ all resolve correctly."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def _active_spark(spark: SparkSession | None) -> SparkSession:
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "checkpoint I/O needs a SparkSession (Hadoop FS access)"
        )
    return spark


def _list_names(spark: SparkSession, dir_str: str) -> List[str]:
    fs, path = _fs_for(spark, dir_str)
    if not fs.exists(path):
        return []
    return [status.getPath().getName() for status in fs.listStatus(path)]


def committed_buckets(
    out_path: str, spark: SparkSession | None = None
) -> List[int]:
    spark = _active_spark(spark)
    return sorted(
        int(name.split("-")[1])
        for name in _list_names(spark, f"{out_path}/{_COMMITS}")
        if name.startswith("bucket-")
    )


def mark_committed(
    out_path: str, buckets: List[int], spark: SparkSession | None = None
) -> None:
    spark = _active_spark(spark)
    fs, commits_dir = _fs_for(spark, f"{out_path}/{_COMMITS}")
    fs.mkdirs(commits_dir)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    for b in buckets:
        # create(path, overwrite=True) then close: the marker's existence
        # is the commit bit; content is informational only
        out = fs.create(jvm_path(f"{out_path}/{_COMMITS}/bucket-{b}"), True)
        out.write(bytearray(b"done\n"))
        out.close()


def _remove_orphan_buckets(
    spark: SparkSession, dir_str: str, done: set
) -> None:
    """Remove UNCOMMITTED _bucket dirs before writing: an orphan left by
    a crash whose bucket has no rows in this run's input would otherwise
    survive and get certified as committed with stale data. Committed
    dirs are never touched."""
    fs, _ = _fs_for(spark, dir_str)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    for name in _list_names(spark, dir_str):
        if name.startswith("_bucket=") and int(name.split("=")[1]) not in done:
            fs.delete(jvm_path(f"{dir_str}/{name}"), True)


def run_resumable(
    spark: SparkSession,
    input_df: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    out_path: str,
    n_buckets: int = 64,
) -> List[int]:
    """Run ``transform`` over all not-yet-committed buckets of
    ``input_df`` (keyed on ``doc_id``) and write the result through
    :func:`operators.sink.write_outputs` into ``_bucket=<b>``
    partitions of ``data/``, ``quarantine/`` and ``lineage/``.

    Returns the list of buckets processed this invocation.
    """
    done = set(committed_buckets(out_path, spark))
    bucketed = input_df.withColumn(
        "_bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )
    if done:
        bucketed = bucketed.filter(~F.col("_bucket").isin(*done))

    result = transform(bucketed)
    if "_bucket" not in result.columns:
        raise ValueError("transform must preserve the _bucket column")

    # The sink's dynamic partition overwrite replaces only the _bucket=
    # partitions present in this run; committed partitions are untouched.
    # This closes the crash window between the parquet job committing and
    # mark_committed running — a re-run REPLACES the orphaned partitions
    # instead of appending duplicate rows (idempotence doesn't depend on
    # the marker write landing). Lineage too: an orphaned lineage row
    # would certify a bucket whose data/quarantine we just deleted — the
    # audit must never outlive the data it audits.
    for sub in ("data", "quarantine", "lineage"):
        _remove_orphan_buckets(spark, f"{out_path}/{sub}", done)
    write_outputs(spark, result, out_path)

    # Every non-committed bucket was processed this run (the anti-filter
    # leaves exactly those in the input), so ALL of them commit — a
    # bucket whose transform output is EMPTY is done too; deriving the
    # commit set from output listings would recompute it forever.
    processed = sorted(b for b in range(n_buckets) if b not in done)
    mark_committed(out_path, processed, spark)
    return processed
