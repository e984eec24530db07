"""Deterministic synthesis of the interleaved text+media documents table.

The engine's flagship input (BASELINE.json ``input_hint``) is
``(doc_id string, spans array<struct<kind,text,media_ref,offset:int>>)``.
The sandbox's driver tables don't carry that shape, so this module
derives it deterministically from the flat ``documents`` text table
(seeded per doc_id) — the Spark-native restatement of the reference's
SynthDoG generator (`synthdog/template.py:46-78`, layouts
`synthdog/layouts/grid.py:18-68`): sample a layout, fill boxes with
corpus text, and record ground truth as the generation order.

Each document also carries an analytically-derived *expected* output
(clean spans in reading order) and a ``gt_parse`` JSON tree, making the
per-row invariant — span-sequence equality on (kind, text, media_ref,
order) — testable without circularity: the expectation is computed from
the template algebra below, never by running the extraction kernel.

Key properties:
* offsets are a seeded permutation — stored span order is shuffled, so
  reading-order recovery (`array_sort` on offset) is really exercised
  (mirrors the layout-order label join `synthdog/template.py:66-68`);
* ~10% of docs are media-heavy (>= 48 spans) — the skew tail of
  SURVEY.md §4.1;
* all randomness is `random.Random(crc32(doc_id))` — byte-identical
  output at any parallelism level or cluster size.
"""

from __future__ import annotations

import json
import random
import zlib
from typing import Iterator, List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "SPAN_SCHEMA",
    "SPANS_TABLE_SCHEMA",
    "synth_doc",
    "build_spans_table",
    "build_multi_gt_metadata",
    "materialize_spans",
    "materialize_ivfadc_codebooks",
    "load_spans",
    "build_skewed_spans_table",
    "materialize_skewed_spans",
]

SPAN_SCHEMA = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

SPANS_TABLE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_SCHEMA)),
        StructField("expected", ArrayType(SPAN_SCHEMA)),
        StructField("gt_parse", StringType()),
    ]
)

_ROMAN_LOWER = 8560  # ⅰ
_ROMAN_UPPER = 8544  # Ⅰ


def _marker(ol_type: str, idx: int) -> str:
    if ol_type == "a":
        return chr(97 + idx)
    if ol_type == "A":
        return chr(65 + idx)
    if ol_type == "i":
        return chr(_ROMAN_LOWER + idx)
    if ol_type == "I":
        return chr(_ROMAN_UPPER + idx)
    return str(idx + 1)


def _wrap_chunk(rng: random.Random, words: List[str]) -> Tuple[str, str]:
    """Wrap clean words into boilerplate HTML; return (html, expected_text).

    The expected text is derived from the template algebra (block tags
    contribute their text; list items gain markers; cells join with
    spaces) — independent of the extraction kernel.
    """
    text = " ".join(words)
    template = rng.randrange(8)
    if template == 0 or len(words) < 2:
        return text, text
    if template == 1:
        return f"<p>{text}</p>", text
    if template == 2:
        return f'<div class="c{rng.randrange(9)}"><b>{words[0]}</b> {" ".join(words[1:])}</div>', text
    if template == 3:
        level = rng.randrange(1, 7)
        return f"<h{level}>{text}</h{level}>", text
    if template == 4:
        cut = rng.randrange(1, len(words))
        a, b = " ".join(words[:cut]), " ".join(words[cut:])
        return f"{a}<br>{b}", f"{a} {b}"
    if template == 5:
        cut = rng.randrange(1, len(words))
        a, b = " ".join(words[:cut]), " ".join(words[cut:])
        html = (
            f'<table border="1"><tr><td class="x">{a}</td>'
            f"<td>{b}</td></tr></table>"
        )
        return html, f"{a} {b}"
    if template == 6:
        ol_type = rng.choice(["1", "a", "A", "i", "I"])
        cut = max(1, len(words) // 2)
        items = [" ".join(words[:cut]), " ".join(words[cut:])]
        html = f'<ol type="{ol_type}">' + "".join(
            f"<li>{it}</li>" for it in items
        ) + "</ol>"
        expected = " ".join(
            f"{_marker(ol_type, i)}. {it}" for i, it in enumerate(items)
        )
        return html, expected
    # template == 7: unordered list
    cut = max(1, len(words) // 2)
    items = [" ".join(words[:cut]), " ".join(words[cut:])]
    html = "<ul>" + "".join(f"<li>{it}</li>" for it in items) + "</ul>"
    expected = " ".join(f"• {it}" for it in items)
    return html, expected


def synth_doc(
    doc_id: str,
    corpus_text: str,
    n_text: int | None = None,
    n_media: int | None = None,
) -> Tuple[list, list, str]:
    """Build one document: (shuffled spans, expected spans, gt_parse json).

    Deterministic in (doc_id, corpus_text) only. ``n_text``/``n_media``
    override the seeded span counts (the skew-bench fixture forces a
    10k-span tail this way); ``None`` keeps the committed distribution —
    the rng draw order is unchanged either way, so existing doc_ids keep
    their byte-identical output.
    """
    rng = random.Random(zlib.crc32(doc_id.encode("utf-8")))
    words = corpus_text.split() or ["empty"]

    heavy = rng.random() < 0.10
    if n_text is None:
        n_text = rng.randint(24, 40) if heavy else rng.randint(1, 8)
    if n_media is None:
        n_media = rng.randint(24, 40) if heavy else rng.randint(0, 3)

    raw_spans: List[Tuple[str, str, str]] = []   # generation (reading) order
    expected: List[Tuple[str, str, str]] = []
    for i in range(n_text):
        k = rng.randint(1, min(12, len(words)))
        start = rng.randrange(len(words))
        chunk = [words[(start + j) % len(words)] for j in range(k)]
        html, clean = _wrap_chunk(rng, chunk)
        raw_spans.append(("text", html, ""))
        expected.append(("text", clean, ""))
    media_positions = sorted(
        rng.randrange(n_text + 1) for _ in range(n_media)
    )
    for j, pos in enumerate(reversed(media_positions)):
        ref = f"img_{doc_id}_{n_media - 1 - j}"
        raw_spans.insert(pos, ("media", "", ref))
        expected.insert(pos, ("media", "", ref))

    # reading order == generation order; store shuffled with offset labels
    order = list(range(len(raw_spans)))
    rng.shuffle(order)
    spans = [
        {
            "kind": raw_spans[i][0],
            "text": raw_spans[i][1],
            "media_ref": raw_spans[i][2],
            "offset": i,
        }
        for i in order
    ]
    expected_rows = [
        {"kind": k, "text": t, "media_ref": m, "offset": i}
        for i, (k, t, m) in enumerate(expected)
    ]

    gt_parse = {
        "doc": {
            "title": " ".join(words[:3]),
            "items": [
                {"nm": words[(7 * i) % len(words)], "cnt": str(rng.randint(1, 9))}
                for i in range(rng.randint(1, 4))
            ],
        }
    }
    return spans, expected_rows, json.dumps(gt_parse, ensure_ascii=False, sort_keys=True)


def build_spans_table(
    spark: SparkSession,
    sf_dir: str,
    limit: int | None = None,
    with_expected_json: bool = False,
) -> DataFrame:
    """documents(text table) → interleaved spans table, distributed.

    Uses `mapInPandas` (iterator form, Arrow-batched) so generation is
    per-partition and memory-bounded; determinism comes from per-doc
    seeds, never partition layout.

    ``with_expected_json`` adds an ``expected_json`` column serialized
    by the SAME ``json.dumps`` call the fused extraction UDF uses for
    ``extracted_json`` — so span-sequence equality is byte-comparable
    as a plain string across engines (the DuckDB oracle path).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    if limit:
        docs = docs.limit(limit)
    # small single-file inputs arrive as 1 scan partition; spread the
    # per-doc Python synth across the cluster (hash on doc_id keeps it
    # deterministic — seeds are per-doc, layout-independent)
    docs = docs.repartition(spark.sparkContext.defaultParallelism * 2, "doc_id")

    cols = ["doc_id", "spans", "expected", "gt_parse"]
    schema = SPANS_TABLE_SCHEMA
    if with_expected_json:
        cols = cols + ["expected_json"]
        schema = StructType(
            SPANS_TABLE_SCHEMA.fields + [StructField("expected_json", StringType())]
        )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                spans, expected, gt = synth_doc(str(doc_id), text or "")
                row = [str(doc_id), spans, expected, gt]
                if with_expected_json:
                    row.append(json.dumps(expected, ensure_ascii=False))
                rows.append(tuple(row))
            yield pd.DataFrame(rows, columns=cols)

    return docs.mapInPandas(gen, schema=schema)


MULTI_GT_SCHEMA = StructType(
    [
        StructField("file_name", StringType()),
        StructField("ground_truth", StringType()),
    ]
)


def build_multi_gt_metadata(
    spark: SparkSession, sf_dir: str, limit: int | None = None
) -> DataFrame:
    """DocVQA-shaped metadata rows (reference `donut/util.py:75-82`):
    even doc_ids carry a ``gt_parses`` LIST of two candidates — the true
    parse plus a deterministic decoy (altered title, truncated items) —
    odd doc_ids the single ``gt_parse`` envelope. Double-encoded exactly
    like the metadata.jsonl sink (`synthdog/template.py:110-117`)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    if limit:
        docs = docs.limit(limit)
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                _, _, gt = synth_doc(str(doc_id), text or "")
                tree = json.loads(gt)
                if int(doc_id) % 2 == 0:
                    decoy = {
                        "doc": {
                            "title": tree["doc"]["title"] + " decoy",
                            "items": tree["doc"]["items"][:1],
                        }
                    }
                    env = {"gt_parses": [tree, decoy]}
                else:
                    env = {"gt_parse": tree}
                rows.append(
                    (str(doc_id), json.dumps(env, ensure_ascii=False, sort_keys=True))
                )
            yield pd.DataFrame(rows, columns=["file_name", "ground_truth"])

    return docs.mapInPandas(gen, schema=MULTI_GT_SCHEMA)


FIXTURES_ROOT = "/root/repo/.fixtures"


def materialize_spans(
    spark: SparkSession, sf_dir: str, out_root: str = FIXTURES_ROOT
) -> str:
    """Write the spans fixture for ``sf_dir`` to parquet once; return its
    path. Idempotent (keyed on the _SUCCESS marker).

    The materialized copy is what both sides of the correctness gate
    read: the Spark queries scan it like any table, and the DuckDB
    oracles `read_parquet` the same files — so the comparison can never
    drift even if the generator code changes between runs.

    File count is FIXED at 32 (deterministic hash layout, independent
    of the writing session's core count): map-only UDF pipelines take
    their parallelism from scan splits — no exchange — so the fixture
    must carry at least as many splits as the widest bench session
    (local[32]); the old 4-file layout pinned the flagship to 4 of 32
    cores. At corpus scale the same sizing rule is files ≈
    maxPartitionBytes-sized chunks ≫ cores, so the condition holds for
    free there.
    """
    import os

    name = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(out_root, f"spans_{name}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    df = build_spans_table(spark, sf_dir, with_expected_json=True)
    df.repartition(32, "doc_id").write.mode("overwrite").parquet(path)
    return path


def load_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the materialized spans fixture (materializing on first use)."""
    return spark.read.parquet(materialize_spans(spark, sf_dir))


def build_skewed_spans_table(
    spark: SparkSession,
    sf_dir: str,
    heavy_docs: int = 4,
    heavy_spans: int = 10_000,
) -> DataFrame:
    """The SURVEY §4.1 motivating case as a stageable fixture: the
    regular spans table plus ``heavy_docs`` documents of ``heavy_spans``
    interleaved spans each — the media-heavy tail where one document is
    ~10³× the median's UDF cost, which AQE cannot see (it balances
    bytes, not Python time) and which pins doc-parallel extraction to
    ``heavy_docs`` cores. Heavy docs come from the same ``synth_doc``
    algebra (forced span counts), so ``expected``/``gt_parse`` invariants
    hold and exact_match_rate must stay 1.0."""
    base = build_spans_table(spark, sf_dir)
    seeds = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
        .orderBy("doc_id")
        .limit(heavy_docs)
        .collect()
    )

    n_media = heavy_spans // 2
    n_text = heavy_spans - n_media

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                spans, expected, gt = synth_doc(
                    str(doc_id), text or "", n_text=n_text, n_media=n_media
                )
                rows.append((str(doc_id), spans, expected, gt))
            yield pd.DataFrame(
                rows, columns=["doc_id", "spans", "expected", "gt_parse"]
            )

    heavy_src = spark.createDataFrame(
        [(f"skew_{i:02d}_{r.doc_id}", r.text) for i, r in enumerate(seeds)],
        ["doc_id", "text"],
    ).repartition(max(1, heavy_docs))  # one synth task per heavy doc
    heavy = heavy_src.mapInPandas(gen, schema=SPANS_TABLE_SCHEMA)
    return base.unionByName(heavy)


def materialize_skewed_spans(
    spark: SparkSession, sf_dir: str, out_root: str = FIXTURES_ROOT
) -> str:
    """Write the skewed spans fixture once (idempotent, 32-file layout —
    same sizing rule as :func:`materialize_spans`); the hash layout puts
    each heavy doc in its own file alongside light docs, which is
    exactly the adversarial scan shape: the extraction plan inherits it
    and pins each heavy doc to one Python worker."""
    import os

    name = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(out_root, f"spans_skew_{name}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    df = build_skewed_spans_table(spark, sf_dir)
    df.repartition(32, "doc_id").write.mode("overwrite").parquet(path)
    return path


def materialize_pdf_table(
    spark: SparkSession, sf_dir: str, out_root: str = FIXTURES_ROOT
) -> str:
    """Write the synthesized PDF table (one real PDF per document, see
    operators/pdfparse.synth_pdf_table) for ``sf_dir`` once — the staged
    input for the PDF-modality throughput bench, so only the PARSE is
    timed, not the synth. Same 32-file sizing rule as
    :func:`materialize_spans` (map-only parse takes its parallelism
    from scan splits)."""
    import os

    from ..operators.pdfparse import synth_pdf_table

    name = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(out_root, f"pdf_{name}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    spans = spark.read.parquet(materialize_spans(spark, sf_dir, out_root))
    df = synth_pdf_table(spark, spans)
    df.repartition(32, "doc_id").write.mode("overwrite").parquet(path)
    return path


def materialize_fingerprints(sf_dir: str, out_root: str = FIXTURES_ROOT) -> str:
    """Committed fingerprint fixture for the dedup ORACLES: one row per
    document with the SimHash (Charikar 2002) and MinHash signature
    (Broder 1997) computed by the exact kernels the Spark UDFs wrap
    (`functions/udfs.py::simhash_udf` / `minhash_udf` defaults: 64 perms,
    word-3-shingles, seed 1; signed-64 representation).

    Built pure-Python (pyarrow, no JVM) so the oracle side never touches
    Spark: DuckDB brute-forces all-pairs hamming / replays the band-slice
    equality join over these columns, which checks the Spark BLOCKING
    plan (pigeonhole chunk index, banded self-join) against the
    quadratic ground truth it must reproduce exactly. Idempotent, keyed
    on file existence; drift vs the kernels is pinned by
    tests/test_queries_oracle.py::test_fingerprint_fixture_matches_kernels.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..core import textstats

    name = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(out_root, f"fingerprints_{name}.parquet")
    if os.path.exists(path):
        return path

    signed64 = textstats.signed64

    docs = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()
    docs.sort(key=lambda r: r["doc_id"])
    table = pa.table(
        {
            "doc_id": pa.array([r["doc_id"] for r in docs], pa.int64()),
            "simhash": pa.array(
                [signed64(textstats.simhash64(r["text"] or "")) for r in docs],
                pa.int64(),
            ),
            "minhash_sig": pa.array(
                [
                    [
                        int(v)
                        for v in textstats.minhash_signature(
                            textstats.word_shingles(r["text"] or "", 3), 64, 1
                        )
                    ]
                    for r in docs
                ],
                pa.list_(pa.int64()),
            ),
        }
    )
    os.makedirs(out_root, exist_ok=True)
    # atomic publish: an interrupted write must never leave a truncated
    # parquet at the committed path (existence is the idempotency key)
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)
    return path


def materialize_ivf_centroids(
    spark: SparkSession | None = None,
    sf_dir: str = "/root/testdata/sf0.01",
    n_centroids: int = 16,
    iters: int = 3,
    out_root: str = FIXTURES_ROOT,
) -> str:
    """Committed IVF codebook fixture: the NORMALIZED centroids
    (cell int32, centroid array<double>) that `_ivf_centroids` trains on
    the sf0.01 embeddings with the q41 parameters (16 cells, 3 Lloyd
    iterations, hash-uniform bounded sample).

    Freezing the codebook makes the pruned-probe IVF query (q41)
    oracle-constructible: given these centroids, cell assignment
    (argmax cosine, ties to the lowest cell) and probe choice (top
    ``n_probe`` cells by query cosine) are deterministic arithmetic
    DuckDB can replay with ``list_dot_product`` — the pruned result is
    then EXACTLY brute-force top-k restricted to the probed cells. Same
    discipline as :func:`materialize_srp_planes` for the q28 SRP
    replica. Idempotent (keyed on file existence); drift vs the trainer
    is pinned by tests/test_queries_oracle.py::
    test_ivf_centroid_fixture_matches_trainer."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    name = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(
        out_root, f"ivf_centroids_{name}_c{n_centroids}_i{iters}.parquet"
    )
    if os.path.exists(path):
        return path
    if spark is None:
        raise RuntimeError(
            f"IVF centroid fixture missing at {path} and no SparkSession "
            "given to train it"
        )
    from ..operators.similarity import _ivf_centroids

    df = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cents = _ivf_centroids(df, n_centroids, "embedding", "vec_id", iters)
    cn = cents / np.clip(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12, None)
    table = pa.table(
        {
            "cell": pa.array(range(len(cn)), pa.int32()),
            "centroid": pa.array(
                [row.tolist() for row in cn], pa.list_(pa.float64())
            ),
        }
    )
    os.makedirs(out_root, exist_ok=True)
    # atomic publish: an interrupted write must never leave a truncated
    # parquet at the committed path (existence is the idempotency key)
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)
    return path


def materialize_ivfadc_codebooks(
    spark: SparkSession | None = None,
    sf_dir: str = "/root/testdata/sf0.01",
    n_centroids: int = 16,
    m: int = 16,
    k: int = 64,
    out_root: str = FIXTURES_ROOT,
) -> tuple[str, str]:
    """Committed IVF-ADC parameter fixture — the frozen side of the
    PRUNED-probe oracle (q54): two parquets,

    * ``cents``: (cell int32, centroid array<double> RAW — the residual
      subtrahend and the probe's cell-dot term — and centroid_n, its
      unit-norm twin used for cell assignment / probe selection), and
    * ``books``: (s int32, j int32, code array<double>) — the m×k PQ
      codebook entries for the cell residuals.

    Trained ONCE on the sf0.01 embeddings by the same
    :func:`donut_spark.operators.ann_index.train_ivfadc` the index
    writer uses, so given these constants, cell assignment (argmax
    cosine, ties to the lowest cell), probe choice (top n_probe cells by
    query dot, ties to the lowest cell), residual PQ encoding (per-
    subspace L2 argmin, ties to the lowest j), the ADC score
    (q·centroid[cell] + Σ_s q_sub·code) and the rerank window are all
    deterministic arithmetic DuckDB replays from first principles —
    no kernel output is ever captured. Drift vs the trainer is pinned by
    tests/test_queries_oracle.py::test_ivfadc_fixture_matches_trainer.
    Idempotent (keyed on file existence), atomic publish."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    name = os.path.basename(sf_dir.rstrip("/"))
    stem = os.path.join(out_root, f"ivfadc_{name}_c{n_centroids}_m{m}_k{k}")
    cents_path, books_path = stem + "_cents.parquet", stem + "_books.parquet"
    if os.path.exists(cents_path) and os.path.exists(books_path):
        return cents_path, books_path
    if spark is None:
        raise RuntimeError(
            f"IVF-ADC fixture missing at {stem}_*.parquet and no "
            "SparkSession given to train it"
        )
    import numpy as np

    from ..operators.ann_index import train_ivfadc

    df = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    centroids, books = train_ivfadc(df, n_centroids=n_centroids, m=m, k=k)
    cn = centroids / np.clip(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12, None
    )
    cents_tbl = pa.table(
        {
            "cell": pa.array(range(len(centroids)), pa.int32()),
            "centroid": pa.array(
                [row.tolist() for row in centroids], pa.list_(pa.float64())
            ),
            "centroid_n": pa.array(
                [row.tolist() for row in cn], pa.list_(pa.float64())
            ),
        }
    )
    mm, kk, _ = books.shape
    books_tbl = pa.table(
        {
            "s": pa.array([s for s in range(mm) for _ in range(kk)], pa.int32()),
            "j": pa.array([j for _ in range(mm) for j in range(kk)], pa.int32()),
            "code": pa.array(
                [books[s, j].tolist() for s in range(mm) for j in range(kk)],
                pa.list_(pa.float64()),
            ),
        }
    )
    os.makedirs(out_root, exist_ok=True)
    # atomic publish: an interrupted write must never leave a truncated
    # parquet at the committed path (existence is the idempotency key)
    for tbl, path in ((cents_tbl, cents_path), (books_tbl, books_path)):
        pq.write_table(tbl, path + ".tmp")
        os.replace(path + ".tmp", path)
    return cents_path, books_path


def materialize_srp_planes(
    dim: int = 64, n_bits: int = 32, seed: int = 13, out_root: str = FIXTURES_ROOT
) -> str:
    """Committed SRP hyperplane fixture: the seeded Gaussian planes of
    `operators/similarity.py::_srp_planes`, one row per signature bit
    (bit int32, plane array<double>). Lets the DuckDB oracle recompute
    the ENTIRE signed-random-projection pipeline independently —
    sig bit = (embedding · plane) > 0 via `list_dot_product`, band
    packing via integer arithmetic — so the q28 LSH probe is checked
    end-to-end (signatures, bucketing, candidate set, exact rerank)
    against a second implementation, not replayed."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..operators.similarity import _srp_planes

    path = os.path.join(out_root, f"srp_planes_d{dim}_b{n_bits}_s{seed}.parquet")
    if os.path.exists(path):
        return path
    planes = _srp_planes(dim, n_bits, seed)  # (dim, n_bits) float64
    table = pa.table(
        {
            "bit": pa.array(range(n_bits), pa.int32()),
            "plane": pa.array(
                [planes[:, j].tolist() for j in range(n_bits)],
                pa.list_(pa.float64()),
            ),
        }
    )
    os.makedirs(out_root, exist_ok=True)
    # atomic publish: an interrupted write must never leave a truncated
    # parquet at the committed path (existence is the idempotency key)
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)
    return path
