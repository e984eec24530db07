"""PDF layout parsing as a distributed operator (north-rule modality).

The north rule lists "PDF/layout parse" beside HTML boilerplate strip
and DOM heuristics as a main-content-extraction modality. The reference
repo has no PDF path (it consumes pre-rendered page images,
`donut/util.py:113`); this operator is the engine's native-document
twin: a table of ``(doc_id, content binary)`` PDFs is parsed by the
from-scratch subset codec in ``core/pdf.py`` into the SAME interleaved
span sequence ``(kind, text, media_ref, order)`` the rest of the
pipeline consumes — reading order recovered from device-space layout
(page, top-to-bottom line, left-to-right x), NOT stream emission order.

Two operators share one parse and one poison boundary
(:func:`_parse_each`), each a map-only ``mapInPandas`` Arrow kernel over
the binary column — zero shuffle, embarrassingly parallel:

* :func:`pdf_documents_from_table` is the extraction operator: one row
  per document with ``extracted`` and ``_error``, the spans operator's
  contract, batch or streaming input alike;
* :func:`extract_pdf_spans` is the layout view: one row per span with
  its page and position, and a poison document as a single
  ``kind='error'`` row. q55 checks those positions.

The synth writer is deterministic in ``doc_id`` alone, so the q55
oracle recomputes every page/coordinate/text value from the spans
fixture with closed-form SQL arithmetic — no PDF code on the SQL side.
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "PDF_TABLE_SCHEMA",
    "PDF_SPANS_SCHEMA",
    "layout_slot",
    "doc_layout_pages",
    "synth_pdf_table",
    "extract_pdf_spans",
    "pdf_documents_from_table",
]

PDF_TABLE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("content", BinaryType()),
    ]
)

PDF_SPANS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("seq", IntegerType()),
        StructField("page", IntegerType()),
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("x", DoubleType()),
        StructField("y", DoubleType()),
        StructField("size", DoubleType()),
    ]
)

# layout constants shared by the writer, the tests and the q55 oracle:
# slot i of a document's expected-span sequence lands in a two-column
# grid, K = 3 + num % 4 grid rows per page (num = int(doc_id)):
#   row = i // 2, col = i % 2
#   page = row // K,  y = 720 - 36 * (row % K),  x = 72 + 240 * col
#   size = 10 + i % 5 for text, 0 for media
_Y0, _DY, _X0, _DX = 720, 36, 72, 240


def _k_for(num: int) -> int:
    return 3 + num % 4


def layout_slot(num: int, i: int) -> Tuple[int, float, float]:
    """slot index → (page, x, y) for doc ``num`` (closed form)."""
    row, col = divmod(i, 2)
    k = _k_for(num)
    return row // k, float(_X0 + _DX * col), float(_Y0 - _DY * (row % k))


def doc_layout_pages(num: int, expected: List[tuple]) -> list:
    """A document's expected spans → per-page positioned span lists in
    the writer's input shape (core.pdf Span tuples, reading order)."""
    k = _k_for(num)
    n_slots = len(expected)
    n_rows = (n_slots + 1) // 2
    n_pages = max(1, (n_rows + k - 1) // k)
    pages: List[list] = [[] for _ in range(n_pages)]
    for i, sp in enumerate(expected):
        if isinstance(sp, dict):  # Arrow struct → dict under mapInPandas
            kind, text, media_ref = sp["kind"], sp["text"], sp["media_ref"]
        else:
            kind, text, media_ref = sp[0], sp[1], sp[2]
        page, x, y = layout_slot(num, i)
        if kind == "media":
            pages[page].append(("media", x, y, 0.0, media_ref))
        else:
            pages[page].append(("text", x, y, float(10 + i % 5), text))
    return pages


def synth_pdf_table(spark: SparkSession, spans_df: DataFrame) -> DataFrame:
    """Deterministic PDF table: one real PDF per document.

    Every document's *expected* interleaved span sequence (reading
    order ground truth) is laid out on the closed-form grid above and
    written by ``core/pdf.py``'s writer. Encoding variants rotate by
    ``num % 4`` (Tm/Td positioning, TJ kern splits, hex strings, a
    two-stream /Contents array), ``num % 7`` picks the content-stream
    filter chain (raw / FlateDecode / LZWDecode / RunLengthDecode /
    [ASCII85+Flate] / [ASCII85+RunLength] / [ASCIIHex+LZW]),
    ``num % 3 == 2`` docs get the PDF 1.5 file shape
    (object stream + Predictor-12 xref stream) instead of the classic
    1.4 table, ``num % 5 == 3`` docs swap the Type1 font for a
    Type0/Identity-H font with a /ToUnicode CMap (show strings become
    2-byte glyph codes only the CMap can decode), and ``num % 11 == 7``
    docs take the LEGACY text path instead — a simple font whose
    /Encoding /Differences array remaps every used byte code through
    uniXXXX glyph names (falling back deterministically when a doc's
    alphabet exceeds one byte), and ``num % 13`` ∈ {10, 11, 12} docs
    are ROTATED pages (/Rotate 90/180/270 with landscape /MediaBox,
    hoisted onto the /Pages node for odd seeds) whose content is
    pre-rotated in user space — reading order only comes out right
    through the display-space transform — every cross-reference,
    filter, text-encoding and page-geometry shape real generators emit
    flows through the same parse, and decoy BI…ID…EI inline images are
    sprinkled between operators. ``num % 17`` ∈ {4, 8, 12} docs are
    ENCRYPTED under the standard security handler with an empty user
    password (RC4-40 / RC4-128 / AES-128 crypt filters — the shapes
    legacy generators emit) and ``num % 53 == 17`` docs take the
    modern AES-256 / R6 shape (rarer in the rotation because its
    spec-mandated key derivation is deliberately expensive; the
    per-process memo in core/pdfcrypt.py amortizes it) — a parser
    that quarantines every /Encrypt document loses those rows and
    FAILS the oracle. Emission order inside each page
    is seed-shuffled so a parser that trusts stream order FAILS the
    oracle. Deterministic in doc_id alone — stable across partition
    layouts and cluster sizes.
    """
    src = spans_df.select("doc_id", "expected")

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        from ..core.pdf import encode_pdf

        for pdf in batches:
            rows = []
            for doc_id, expected in zip(pdf["doc_id"], pdf["expected"]):
                num = int(doc_id)
                pages = doc_layout_pages(num, list(expected))
                kw = dict(
                    seed=num * 7919 + 13,
                    variant=num % 4,
                    rotate={10: 90, 11: 180, 12: 270}.get(num % 13, 0),
                    xref_stream=(num % 3 == 2),
                    cid_font=(num % 5 == 3),
                    stream_filter=(
                        None,
                        "flate",
                        "lzw",
                        "rl",
                        "a85flate",
                        "a85rl",
                        "ahxlzw",
                    )[num % 7],
                    encrypt=(
                        "aes256"
                        if num % 53 == 17
                        else {4: "rc4-40", 8: "rc4-128", 12: "aesv2"}.get(
                            num % 17
                        )
                    ),
                )
                if num % 11 == 7 and not kw["cid_font"]:
                    kw["simple_encoding"] = "differences"
                try:
                    content = encode_pdf(pages, **kw)
                except ValueError:
                    # >255 distinct chars: deterministic fallback to
                    # the text-string path for this doc
                    kw.pop("simple_encoding", None)
                    content = encode_pdf(pages, **kw)
                rows.append((doc_id, content))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    return src.mapInPandas(gen, schema=PDF_TABLE_SCHEMA)


def _parse_each(contents) -> Iterator[Tuple[Optional[list], Optional[str]]]:
    """The poison boundary of both PDF kernels: each PDF's bytes →
    ``(pages, None)``, or ``(None, reason)`` for a document the parser
    refused. Every exception is caught, so one bad document never fails
    the stage. ``ValueError`` is the parser's own poison signal and
    keeps its bare message (the q55 hash and the reason tests read it);
    any other class escaping the parser (e.g. ``RecursionError`` on
    deeply nested arrays) is named, as in the spans UDF's error
    channel."""
    from ..core.pdf import parse_pdf_spans

    for content in contents:
        try:
            pages, reason = parse_pdf_spans(bytes(content)), None
        except ValueError as e:
            pages, reason = None, str(e)
        except Exception as e:  # noqa: BLE001 — quarantine, never fail
            pages, reason = None, f"{type(e).__name__}: {e}"
        yield pages, reason


def extract_pdf_spans(pdf_df: DataFrame) -> DataFrame:
    """(doc_id, content) → interleaved spans in READING order, one row
    per span with its layout position (``page``, ``x``, ``y``,
    ``size``) — the layout view q55 checks.

    ``seq`` is the document-global reading-order index (page-major).
    Poison rows (encrypted with a non-empty user password or another
    security handler, unsupported filter, truncated, malformed syntax or
    cross-reference) become a single ``kind='error'`` row carrying the
    reason in ``text``; the stage never dies on one bad document.
    """

    def parse(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            parsed = _parse_each(pdf["content"])
            for doc_id, (pages, reason) in zip(pdf["doc_id"], parsed):
                if pages is None:
                    rows.append(
                        (doc_id, -1, -1, "error", reason, None, 0.0, 0.0, 0.0)
                    )
                    continue
                seq = 0
                for pg, spans in enumerate(pages):
                    for kind, x, y, size, payload in spans:
                        if kind == "media":
                            rows.append(
                                (doc_id, seq, pg, kind, None, payload, x, y, size)
                            )
                        else:
                            rows.append(
                                (doc_id, seq, pg, kind, payload, None, x, y, size)
                            )
                        seq += 1
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "seq",
                    "page",
                    "kind",
                    "text",
                    "media_ref",
                    "x",
                    "y",
                    "size",
                ],
            )

    return pdf_df.mapInPandas(parse, schema=PDF_SPANS_SCHEMA)


PDF_DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField(
            "extracted",
            ArrayType(
                StructType(
                    [
                        StructField("kind", StringType()),
                        StructField("text", StringType()),
                        StructField("media_ref", StringType()),
                        StructField("offset", IntegerType()),
                    ]
                )
            ),
        ),
        StructField("_error", StringType()),
    ]
)


def pdf_documents_from_table(pdf_df: DataFrame) -> DataFrame:
    """The PDF extraction operator: a table of REAL PDFs ``(doc_id,
    content binary [, passthrough cols])`` → one row per input row with
    the extracted interleaved span array and an ``_error`` column (null
    = parsed; non-null = the poison reason, see :func:`_parse_each`) —
    exactly ``plans.lineage.quarantine_split``'s input shape, so
    ``submit/run_extract.py --modality pdf`` routes bad documents to
    quarantine/ and never dies on one (S11). Passthrough columns (e.g.
    the resume path's ``_bucket``) ride through the kernel in their own
    row; the PDF bytes are dropped from the output. A streaming input
    (``spark.readStream``) gives the same rows per micro-batch.

    Plan shape: one map-only Arrow kernel (one ``MapInPandas``, no
    ``Exchange``) parses each document exactly once and emits the
    finished per-doc row, reading order and all; one output row per
    input row even when a ``doc_id`` repeats.
    """

    def parse_docs(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            extracted, errors = [], []
            for pages, reason in _parse_each(pdf["content"]):
                errors.append(reason)
                if pages is None:
                    extracted.append(None)
                    continue
                spans = []
                seq = 0
                for spanlist in pages:
                    for kind, _x, _y, _size, payload in spanlist:
                        if kind == "media":
                            spans.append(
                                {
                                    "kind": kind,
                                    "text": "",
                                    "media_ref": payload or "",
                                    "offset": seq,
                                }
                            )
                        else:
                            spans.append(
                                {
                                    "kind": kind,
                                    "text": payload or "",
                                    "media_ref": "",
                                    "offset": seq,
                                }
                            )
                        seq += 1
                extracted.append(spans)
            out = pdf.drop(columns="content")
            out["extracted"] = pd.Series(extracted, index=out.index, dtype=object)
            out["_error"] = pd.Series(errors, index=out.index, dtype=object)
            yield out

    extra = [c for c in pdf_df.columns if c not in ("doc_id", "content")]
    schema = StructType(
        PDF_DOCS_SCHEMA.fields[:1]
        + [pdf_df.schema[c] for c in extra]
        + PDF_DOCS_SCHEMA.fields[1:]
    )
    return pdf_df.select("doc_id", "content", *extra).mapInPandas(
        parse_docs, schema=schema
    )
