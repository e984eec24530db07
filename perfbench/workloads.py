"""Seeded inputs, the three job shapes, and their output checks.

Every input is derived from ``--seed`` alone: the texts of the flat
``documents`` table (``data/documents_sf0.1.parquet``, 5000 rows), whose
assignment to ids the seed permutes, a seed-offset numeric ``doc_id``
namespace, and a seeded ~1% poison set. Spans come from
``sources.fixtures.synth_doc`` (the per-document generator behind
``build_spans_table`` and ``build_skewed_spans_table``), run in the
driver because a Spark job costs seconds more per run; PDF bytes come from
``operators.pdfparse.synth_pdf_table``. Everything is written inside the
benchmark's work directory -- never through the ``materialize_*``
defaults, which write into the source tree.

Each workload injects a poison set whose fate is exactly known, so the
failure fraction is never 0 and the output check can demand set
equality:

* ``corpus_doc`` -- ground truth nested deeper than any JSON decoder
  accepts; the fused kernel's error channel routes the row to
  ``quarantine/``.
* ``skew_span`` -- documents with an empty span list; extraction drops
  them (``size(spans) > 0``), so they are missing from the output.
* ``pdf_native`` -- PDF bytes truncated to half their length; the parser
  raises and the row lands in ``quarantine/``.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from typing import Callable, Dict, List

N_DOCS = {"corpus_doc": 10000, "skew_span": 2000, "pdf_native": 3000}
HEAVY_DOCS = 3          # skew_span: fewer heavy documents than a 4-core host
HEAVY_SPANS = 10_000    # ... together more than half of all spans
N_BUCKETS = 16          # corpus_doc resume sink: ~625 docs per bucket
INPUT_FILES = 32        # the fixtures' file layout
POISON_SHARE = 0.01
DOCUMENTS = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data", "documents_sf0.1.parquet"
)


def _text_pool() -> List[str]:
    """The ``documents`` texts the seed permutes, in ``doc_id`` order."""
    import pyarrow.parquet as pq

    table = pq.read_table(DOCUMENTS, columns=["doc_id", "text"]).sort_by("doc_id")
    return table.column("text").to_pylist()


@dataclass
class Staged:
    """Everything one workload's jobs and checks need."""

    name: str
    input_path: str
    attempted: int
    input_bytes: int
    poison: set
    truth_path: str = ""        # pdf_native: (doc_id, expected, gt_parse)


def _doc_ids(seed: int, n: int) -> List[int]:
    base = (seed % 100_000) * 100_000   # the seed offsets the id namespace
    return [base + i for i in range(n)]


def _poison(seed: int, ids: List[int]) -> set:
    rng = random.Random(seed * 7919 + 1)
    return {str(i) for i in rng.sample(ids, max(1, int(len(ids) * POISON_SHARE)))}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def dir_files(path: str) -> int:
    return sum(
        1
        for _root, _dirs, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def _spans_rows(seed: int, n: int, heavy: int = 0) -> List[dict]:
    """Rows of the spans table for ``n`` seeded ids, built by
    ``sources.fixtures.synth_doc`` -- the per-document generator that
    ``build_spans_table`` maps over -- plus ``heavy`` documents of
    ``HEAVY_SPANS`` spans named the way ``build_skewed_spans_table``
    names them."""
    from donut_spark.sources.fixtures import synth_doc

    ids = _doc_ids(seed, n)
    pool = _text_pool()
    order = list(range(len(pool)))
    random.Random(seed).shuffle(order)   # the seed permutes the texts
    texts = [pool[order[i % len(order)]] for i in range(n)]
    rows = []
    for doc_id, text in zip(ids, texts):
        spans, expected, gt = synth_doc(str(doc_id), text)
        rows.append(dict(doc_id=str(doc_id), spans=spans, expected=expected, gt_parse=gt))
    n_media = HEAVY_SPANS // 2
    for i in range(heavy):
        doc_id = f"skew_{i:02d}_{ids[i]}"
        spans, expected, gt = synth_doc(
            doc_id, texts[i], n_text=HEAVY_SPANS - n_media, n_media=n_media
        )
        rows.append(dict(doc_id=doc_id, spans=spans, expected=expected, gt_parse=gt))
    return rows


def _write_table(rows: List[dict], path: str) -> None:
    """Parquet in the fixtures' layout: ``INPUT_FILES`` files, rows
    placed by a hash of ``doc_id``."""
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.list_(
        pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )
    )
    schema = pa.schema(
        [
            ("doc_id", pa.string()),
            ("spans", span),
            ("expected", span),
            ("gt_parse", pa.string()),
        ]
    )
    parts: List[List[dict]] = [[] for _ in range(INPUT_FILES)]
    for r in rows:
        parts[zlib.crc32(r["doc_id"].encode()) % INPUT_FILES].append(r)
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(parts):
        pq.write_table(
            pa.Table.from_pylist(part, schema=schema),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def stage(spark, name: str, seed: int, root: str) -> Staged:
    """Build the workload's input table under ``root`` (untimed)."""
    from pyspark.sql import functions as F

    shutil.rmtree(root, ignore_errors=True)
    inp = os.path.join(root, "input")
    truth = ""
    rows = _spans_rows(seed, N_DOCS[name], HEAVY_DOCS if name == "skew_span" else 0)
    poison = _poison(seed, _doc_ids(seed, N_DOCS[name]))

    if name == "corpus_doc":
        deep = "[" * 20_000 + "]" * 20_000
        for r in rows:
            if r["doc_id"] in poison:
                r["gt_parse"] = deep
        _write_table(rows, inp)
    elif name == "skew_span":
        for r in rows:
            if r["doc_id"] in poison:
                r["spans"], r["expected"] = [], []
        _write_table(rows, inp)
    elif name == "pdf_native":
        from donut_spark.operators.pdfparse import synth_pdf_table

        truth = os.path.join(root, "truth")
        _write_table(rows, truth)
        hit = F.col("doc_id").isin(sorted(poison))
        synth_pdf_table(spark, spark.read.parquet(truth)).withColumn(
            "content",
            F.when(
                hit, F.expr("substring(content, 1, int(length(content) / 2))")
            ).otherwise(F.col("content")),
        ).repartition(INPUT_FILES, "doc_id").write.parquet(inp)
    else:
        raise ValueError(f"unknown workload: {name}")

    return Staged(
        name=name,
        input_path=inp,
        attempted=len(rows),
        input_bytes=dir_bytes(inp),
        poison=poison,
        truth_path=truth,
    )


# ---------------------------------------------------------------- jobs


def extraction(name: str) -> Callable:
    """The workload's extraction operator chain (DataFrame → DataFrame
    with ``extracted`` and ``_error``), without any sink."""
    from pyspark.sql import functions as F

    if name == "corpus_doc":
        from donut_spark.operators.extract import extract_and_evaluate

        return extract_and_evaluate
    if name == "skew_span":
        from donut_spark.operators.extract import (
            evaluate_extraction,
            extract_documents,
        )

        def span_mode(df):
            out = evaluate_extraction(extract_documents(df, mode="span"))
            return out.withColumn("_error", F.lit(None).cast("string"))

        return span_mode
    from donut_spark.operators.pdfparse import pdf_documents_from_table

    return pdf_documents_from_table


def plain_sink(spark, evaluated, out: str) -> None:
    """The non-resume sink of ``submit/run_extract.py``: persist across
    the two quarantine_split writes, then the lineage audit."""
    from pyspark.storagelevel import StorageLevel

    from donut_spark.plans.lineage import lineage_metrics, quarantine_split

    evaluated = evaluated.persist(StorageLevel.MEMORY_AND_DISK)
    good, bad = quarantine_split(evaluated)
    good.write.mode("overwrite").parquet(f"{out}/data")
    bad.write.mode("overwrite").parquet(f"{out}/quarantine")
    evaluated.unpersist()
    lineage_metrics(spark.read.parquet(f"{out}/data")).write.mode(
        "overwrite"
    ).parquet(f"{out}/lineage")


def run_job(spark, staged: Staged, out: str) -> None:
    """One job as a user submits it: input scan → extraction → sink."""
    df = spark.read.parquet(staged.input_path)
    if staged.name == "corpus_doc":
        from donut_spark.operators.checkpoint import run_resumable

        run_resumable(spark, df, extraction("corpus_doc"), out, n_buckets=N_BUCKETS)
    else:
        plain_sink(spark, extraction(staged.name)(df), out)


def warm(spark) -> None:
    """Warm the Python worker pool: one task per core slot, each importing
    the package's kernels into its worker."""

    def load(batches):
        import donut_spark.core.pdf  # noqa: F401
        import donut_spark.functions.udfs  # noqa: F401

        yield from batches

    cores = spark.sparkContext.defaultParallelism
    spark.range(cores, numPartitions=cores).mapInPandas(
        load, schema="id long"
    ).write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- checks


class CheckFailed(RuntimeError):
    pass


def check(spark, staged: Staged, out: str, full: bool = True) -> Dict[str, float]:
    """Read the committed output back and verify it.

    Every job: ``lineage/`` row counts plus ``quarantine/`` equal the
    docs attempted minus the known drops, and the order-insensitive
    lineage XOR is returned for comparison across jobs of one seed.
    ``full`` adds the poison-set equality and the output rates, which
    must all be 1.0."""
    from pyspark.sql import functions as F

    lineage = spark.read.parquet(f"{out}/lineage")
    count_col = "n_rows" if "n_rows" in lineage.columns else "n_docs"
    lin = lineage.agg(
        F.sum(count_col).alias("n"), F.expr("bit_xor(checksum)").alias("x")
    ).collect()[0]
    n_data = int(lin["n"])
    quarantine = spark.read.parquet(f"{out}/quarantine")
    bad_ids = [r.doc_id for r in quarantine.select("doc_id").collect()]
    n_bad = len(bad_ids)
    dropped = len(staged.poison) if staged.name == "skew_span" else 0
    if n_data + n_bad != staged.attempted - dropped:
        raise CheckFailed(
            f"{staged.name}: docs in {staged.attempted}, data {n_data} + "
            f"quarantine {n_bad} (expected {staged.attempted - dropped} committed)"
        )
    res = {
        "committed": n_data + n_bad,
        "data": n_data,
        "quarantine": n_bad,
        "failed": staged.attempted - n_data,
        "lineage_xor": int(lin["x"]),
    }
    if not full:
        return res

    data = spark.read.parquet(f"{out}/data")
    if staged.name == "pdf_native":
        from donut_spark.operators.extract import evaluate_extraction

        truth = spark.read.parquet(staged.truth_path).select(
            "doc_id", "expected", "gt_parse"
        )
        scored = evaluate_extraction(data.join(truth, "doc_id", "left"))
    else:
        scored = data
    agg = scored.agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("ids"),
        F.avg("exact_match").alias("em"),
        F.avg("roundtrip_ok").alias("rt"),
        F.avg("nted").alias("nted"),
    ).collect()[0]
    if agg["ids"] != n_data or agg["n"] != n_data:
        raise CheckFailed(f"{staged.name}: data/ disagrees with lineage/ or has duplicates")
    if staged.name == "skew_span":
        # poison docs are dropped by the empty-span filter, never quarantined
        failed_ids = _missing(spark, staged, data)
        if bad_ids:
            raise CheckFailed(f"{staged.name}: unexpected quarantine rows {bad_ids[:5]}")
    else:
        failed_ids = set(bad_ids)
    if len(failed_ids) != len(staged.poison) or failed_ids != staged.poison:
        raise CheckFailed(
            f"{staged.name}: failed set != injected poison set "
            f"({len(failed_ids)} vs {len(staged.poison)})"
        )
    for key in ("em", "rt", "nted"):
        if agg[key] is None or abs(float(agg[key]) - 1.0) > 1e-12:
            raise CheckFailed(f"{staged.name}: {key} = {agg[key]}, expected 1.0")
    res.update(
        exact_match_rate=float(agg["em"]),
        roundtrip_rate=float(agg["rt"]),
        nted_mean=float(agg["nted"]),
    )
    return res


def _missing(spark, staged: Staged, data) -> set:
    inp = spark.read.parquet(staged.input_path).select("doc_id")
    gone = inp.join(data.select("doc_id"), "doc_id", "left_anti")
    return {r.doc_id for r in gone.collect()}
