"""PDF subset codec + layout-parse operator tests.

Same discipline as test_png/test_jpeg/test_vp8: roundtrip across every
writer variant, hand-built streams for operators the writer doesn't
emit, poison-row contract for everything outside the documented subset,
hypothesis fuzz, and the Spark operator's span-sequence parity against
the fixture ground truth.
"""

import random
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from donut_spark.core.pdf import (
    PdfDocument,
    encode_pdf,
    extract_page_spans,
    parse_pdf_spans,
    reading_order,
)

PAGES = [
    [
        ("text", 72.0, 720.0, 12.0, "Hello (world) \\ check"),
        ("text", 312.0, 720.0, 10.0, "col two"),
        ("media", 72.0, 684.0, 0.0, "img_7_0"),
        ("text", 312.0, 684.0, 11.0, "Ünïcödé — ⅰ ⅱ ⅲ"),
        ("text", 72.0, 648.0, 13.0, "third line"),
    ],
    [
        ("text", 72.0, 720.0, 14.0, "page two line"),
        ("media", 312.0, 720.0, 0.0, "img_7_1"),
    ],
]


@pytest.mark.parametrize("variant", [0, 1, 2, 3])
@pytest.mark.parametrize("compress", [False, True])
@pytest.mark.parametrize("xref_stream", [False, True])
def test_roundtrip_all_variants(variant, compress, xref_stream):
    data = encode_pdf(
        PAGES,
        compress=compress,
        seed=31 * variant + 5,
        variant=variant,
        xref_stream=xref_stream,
    )
    assert parse_pdf_spans(data) == PAGES


@pytest.mark.parametrize("rotate", [90, 180, 270])
@pytest.mark.parametrize("variant", [0, 1, 2])
@pytest.mark.parametrize("seed", [4, 7])  # even: per-page attrs; odd: hoisted
def test_rotated_page_roundtrip(rotate, variant, seed):
    """/Rotate pages: content is pre-rotated in user space, so reading
    order is only recovered through the display-space transform — raw
    stream coordinates would order bottom-up (180) or sideways
    (90/270). Odd seeds hoist /Rotate + /MediaBox onto the /Pages node
    (the inheritable form, like /Resources)."""
    data = encode_pdf(PAGES, seed=seed, variant=variant, rotate=rotate)
    assert parse_pdf_spans(data) == PAGES
    # the rotation must actually be in play: parsing WITHOUT the
    # display transform must NOT give reading order
    doc = PdfDocument(data)
    page0 = doc.pages()[0]
    raw = reading_order(
        extract_page_spans(
            doc.page_content(page0), doc.page_xobjects(page0),
            doc.page_fonts(page0),
        )
    )
    assert raw != PAGES[0]
    rot, x0, y0, w, h = doc.page_geometry(page0)
    assert rot == rotate and (w, h) == (
        (612.0, 792.0) if rotate == 180 else (792.0, 612.0)
    )


def test_utf8_bom_text_strings_roundtrip():
    """PDF 2.0 text strings: the writer splits non-latin1 strings
    between BOM-marked UTF-16BE and BOM-marked UTF-8 (by crc parity),
    and the parser decodes both; pin one of each form."""
    texts = ["Ωmega", "Δelta", "λambda", "日本語テスト", "Ψi"]
    from donut_spark.core.pdf import _text_bytes

    forms = {_text_bytes(t)[:3] for t in texts}
    assert b"\xef\xbb\xbf" in forms  # UTF-8 BOM in play
    assert any(f.startswith(b"\xfe\xff") for f in forms)  # UTF-16 too
    pages = [
        [("text", 72.0, 720.0 - 36 * i, 10.0, t) for i, t in enumerate(texts)]
    ]
    data = encode_pdf(pages, seed=3, variant=0)
    assert parse_pdf_spans(data) == pages


def test_rotate_normalization_and_poison():
    """Negative /Rotate multiples normalize (-90 ≡ 270); a non-multiple
    of 90 is a poison document; /MediaBox defaults to US Letter when
    absent."""
    data = encode_pdf(PAGES, seed=4, variant=0, rotate=270)
    # same byte length, so xref offsets stay valid
    neg = data.replace(b"/Rotate 270", b"/Rotate -90")
    assert neg != data
    assert parse_pdf_spans(neg) == PAGES
    bad = data.replace(b"/Rotate 270", b"/Rotate 271")
    with pytest.raises(ValueError, match="multiple of 90"):
        parse_pdf_spans(bad)
    plain = encode_pdf(PAGES, seed=4, variant=0)
    doc = PdfDocument(plain)
    nobox = dict(doc.pages()[0])
    del nobox["MediaBox"]
    assert doc.page_geometry(nobox) == (0, 0.0, 0.0, 612.0, 792.0)
    nobox["MediaBox"] = [0, 0, 612]
    with pytest.raises(ValueError, match="MediaBox"):
        doc.page_geometry(nobox)
    with pytest.raises(ValueError, match="rotate"):
        encode_pdf(PAGES, rotate=45)


def test_emission_order_is_shuffled_but_reading_order_recovered():
    """The writer's stream order must NOT be reading order (otherwise
    the layout sort is decorative), yet parse_pdf_spans recovers it."""
    data = encode_pdf(PAGES, seed=12345, variant=0)
    doc = PdfDocument(data)
    page0 = doc.pages()[0]
    raw = extract_page_spans(doc.page_content(page0), doc.page_xobjects(page0))
    assert raw != PAGES[0], "seed 12345 should shuffle emission order"
    assert reading_order(raw) == PAGES[0]


def test_empty_page_and_no_text():
    assert parse_pdf_spans(encode_pdf([[]])) == [[]]


def _interp(content: bytes, xobjects=None):
    return extract_page_spans(content, xobjects)


def test_hand_built_operators_td_tstar_quote():
    content = (
        b"BT /F1 10 Tf 2 TL 72 700 Td (a) Tj T* (b) Tj "
        b"(c) ' 0 -8 TD (d) Tj ET"
    )
    spans = _interp(content)
    assert [s[4] for s in spans] == ["a", "b", "c", "d"]
    assert spans[0][1:3] == (72.0, 700.0)
    assert spans[1][1:3] == (72.0, 698.0)  # T* moved down by leading 2
    assert spans[2][1:3] == (72.0, 696.0)  # ' = T* then show
    assert spans[3][1:3] == (72.0, 688.0)  # TD sets leading and moves


def test_hand_built_octal_and_hex_and_tj():
    spans = _interp(b"BT /F1 9 Tf 10 10 Td [(\\101) <4243> (\\))] TJ ET")
    assert spans == [("text", 10.0, 10.0, 9.0, "ABC)")]


def test_cm_q_Q_transform_stack():
    content = (
        b"q 1 0 0 1 100 50 cm BT /F1 8 Tf 10 10 Td (in) Tj ET Q "
        b"BT /F1 8 Tf 10 10 Td (out) Tj ET"
    )
    spans = _interp(content)
    assert spans[0][:3] == ("text", 110.0, 60.0)
    assert spans[1][:3] == ("text", 10.0, 10.0)


def test_tm_scale_changes_effective_size():
    spans = _interp(b"BT /F1 10 Tf 2 0 0 2 50 60 Tm (big) Tj ET")
    assert spans == [("text", 50.0, 60.0, 20.0, "big")]


def test_utf16_tj_split_joins_before_decode():
    """TJ kern splits may land inside a UTF-16 code unit; pieces must be
    byte-joined before decoding (variant 2 exercises this end to end)."""
    text = "ⅰⅱⅲ€" * 3
    pages = [[("text", 72.0, 700.0, 10.0, text)]]
    data = encode_pdf(pages, variant=2, seed=1)
    assert parse_pdf_spans(data) == pages


def test_reading_order_line_tolerance_and_columns():
    spans = [
        ("text", 300.0, 700.5, 9.0, "b"),
        ("text", 72.0, 700.0, 9.0, "a"),
        ("text", 72.0, 650.0, 9.0, "c"),
    ]
    assert [s[4] for s in reading_order(spans)] == ["a", "b", "c"]


def test_columnar_reading_order():
    """A two-column page: line-major order interleaves the columns;
    column-major reads the left column fully first. Single-column
    input degrades to plain reading_order exactly."""
    from donut_spark.core.pdf import detect_columns, reading_order_columnar

    two_col = [
        ("text", 72.0, 700.0, 9.0, "L1"),
        ("text", 320.0, 700.0, 9.0, "R1"),
        ("text", 74.0, 664.0, 9.0, "L2"),   # +2 x-jitter, same column
        ("text", 322.0, 664.0, 9.0, "R2"),
        ("text", 72.0, 628.0, 9.0, "L3"),
    ]
    assert detect_columns(two_col) == [(74.0 + 320.0) / 2]
    assert [s[4] for s in reading_order(two_col)] == [
        "L1", "R1", "L2", "R2", "L3",
    ]
    assert [s[4] for s in reading_order_columnar(two_col)] == [
        "L1", "L2", "L3", "R1", "R2",
    ]
    one_col = [s for s in two_col if s[1] < 100]
    assert reading_order_columnar(one_col) == reading_order(one_col)
    assert detect_columns(one_col) == []
    assert reading_order_columnar([]) == []
    # three columns
    three = [
        ("text", 10.0, 700.0, 9.0, "A"),
        ("text", 210.0, 700.0, 9.0, "B"),
        ("text", 410.0, 700.0, 9.0, "C"),
        ("text", 10.0, 690.0, 9.0, "A2"),
    ]
    assert [s[4] for s in reading_order_columnar(three)] == [
        "A", "A2", "B", "C",
    ]


def test_incremental_update_prev_chain():
    """An appended xref section with /Prev must win for re-written
    objects (newest-first resolution)."""
    base = encode_pdf([[("text", 72.0, 700.0, 10.0, "old")]], variant=0)
    doc = PdfDocument(base)
    page = doc.pages()[0]
    # object 5 is the (only) content stream in the writer's layout
    assert doc.resolve(page["Contents"]).d is not None
    stream = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (new) Tj ET"
    body = (
        b"5 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (len(stream), stream)
    )
    old_start = base.rfind(b"startxref")
    old_xref_off = int(base[old_start:].split()[1])
    obj_off = len(base)
    xref_off = obj_off + len(body)
    update = body + (
        b"xref\n5 1\n%010d 00000 n \ntrailer\n"
        b"<< /Size 7 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (obj_off, old_xref_off, xref_off)
    )
    assert parse_pdf_spans(base + update) == [
        [("text", 72.0, 700.0, 10.0, "new")]
    ]


def _swap_nth(data: bytes, old: bytes, new: bytes, n: int) -> bytes:
    """Replace the n-th (0-based) occurrence of ``old`` only."""
    i = -1
    for _ in range(n + 1):
        i = data.find(old, i + 1)
        assert i >= 0
    return data[:i] + new + data[i + len(old) :]


@pytest.mark.parametrize(
    "mutate, msg",
    [
        (lambda d: b"nope" + d[4:], "bad header"),
        (lambda d: d[:-40], "no startxref"),
        # a dangling /Encrypt ref engages the (real) decryptor, which
        # poisons on the malformed dictionary — encrypted docs with an
        # empty user password now PARSE (see test_pdfcrypt.py)
        (
            lambda d: d.replace(b"/Root", b"/Encrypt 99 0 R /Root"),
            "Encrypt is not a dictionary",
        ),
        # occurrence 0 is the image XObject (never content-decoded);
        # occurrence 1 is the first page's content stream
        (
            lambda d: _swap_nth(d, b"/FlateDecode", b"/LZWDecodeXX", 1),
            "unsupported",
        ),
    ],
)
def test_poison_paths(mutate, msg):
    data = encode_pdf(PAGES, compress=True, variant=0)
    with pytest.raises(ValueError, match=msg):
        parse_pdf_spans(mutate(data))


def test_poison_bad_xref_target_and_bad_syntax():
    data = encode_pdf(PAGES, variant=0)
    # point startxref into the header comment: neither a classic table
    # nor a parseable xref-stream object header
    start = data.rfind(b"startxref")
    broken = data[:start] + b"startxref\n9\n%%EOF\n"
    with pytest.raises(ValueError):
        parse_pdf_spans(broken)
    with pytest.raises(ValueError, match="outside BT"):
        _interp(b"(loose) Tj")
    with pytest.raises(ValueError, match="undefined XObject"):
        _interp(b"q 1 0 0 1 5 5 cm /missing Do Q", xobjects={})
    # unsupported TIFF predictor (in-place on the parsed object —
    # splicing bytes would shift later xref offsets and trip the
    # offset check first)
    doc = PdfDocument(encode_pdf(PAGES, compress=True))
    s = doc.resolve(doc.pages()[0]["Contents"])
    s.d["DecodeParms"] = {"Predictor": 2}
    with pytest.raises(ValueError, match="predictor"):
        doc.stream_data(s)
    # a PNG predictor whose geometry doesn't divide the data into
    # whole rows is poison, not a partial parse
    s.d["DecodeParms"] = {"Predictor": 12, "Columns": 10**6}
    with pytest.raises(ValueError, match="whole rows|geometry"):
        doc.stream_data(s)


def test_xref_stream_decodeparms_predictor_roundtrip():
    """The 1.5 writer emits Predictor-12 (PNG Up) xref rows; decoding
    them exercises _apply_predictor end to end. Also pin the other PNG
    filter types against a hand-filtered fixture."""
    from donut_spark.core.pdf import _apply_predictor

    ident = lambda v: v  # noqa: E731
    rows = [bytes([10 * r + c for c in range(4)]) for r in range(3)]
    # Sub (1): delta vs previous byte in the row (bpp=1)
    enc = bytearray()
    for row in rows:
        enc += b"\x01" + bytes(
            (row[i] - (row[i - 1] if i else 0)) & 0xFF for i in range(4)
        )
    out = _apply_predictor(
        bytes(enc), {"Predictor": 12, "Columns": 4}, ident
    )
    assert out == b"".join(rows)
    # Paeth (4) with all-zero prediction context row 0 degrades to Sub
    enc2 = b"\x04" + bytes(
        (rows[0][i] - (rows[0][i - 1] if i else 0)) & 0xFF for i in range(4)
    )
    assert (
        _apply_predictor(enc2, {"Predictor": 12, "Columns": 4}, ident)
        == rows[0]
    )
    with pytest.raises(ValueError, match="filter type"):
        _apply_predictor(b"\x09AAAA", {"Predictor": 12, "Columns": 4}, ident)


def test_hybrid_xrefstm_takes_precedence():
    """A hybrid-reference file: classic table says object 5 is the old
    content stream, /XRefStm re-points it — the stream entry must win
    (ISO 32000-1 §7.5.8.4)."""
    base = encode_pdf([[("text", 72.0, 700.0, 10.0, "old")]], variant=0)
    stream = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (new) Tj ET"
    body = (
        b"5 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (len(stream), stream)
    )
    obj_off = len(base)
    xstm_off = obj_off + len(body)
    # xref stream object (no predictor, raw rows): one entry for obj 5
    rows = b"\x01" + obj_off.to_bytes(4, "big") + b"\x00\x00"
    xstm = (
        b"8 0 obj\n<< /Type /XRef /Size 9 /W [1 4 2] /Index [5 1] "
        b"/Root 1 0 R /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (len(rows), rows)
    )
    old_start = base.rfind(b"startxref")
    old_xref_off = int(base[old_start:].split()[1])
    table_off = xstm_off + len(xstm)
    # the classic section of the update re-points obj 5 at the OLD
    # object (stale) — only the XRefStm knows about the new one
    old_obj5_off = int(
        base[base.find(b"xref") :].split(b"\n")[2 + 5].split()[0]
    )
    update = body + xstm + (
        b"xref\n5 1\n%010d 00000 n \ntrailer\n"
        b"<< /Size 9 /Root 1 0 R /Prev %d /XRefStm %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (old_obj5_off, old_xref_off, xstm_off, table_off)
    )
    assert parse_pdf_spans(base + update) == [
        [("text", 72.0, 700.0, 10.0, "new")]
    ]


def test_incremental_update_over_xref_stream_base():
    """A classic update section whose /Prev points at a 1.5 xref STREAM:
    the chain walker must dispatch per-section by shape."""
    base = encode_pdf(
        [[("text", 72.0, 700.0, 10.0, "old")]], variant=0, xref_stream=True
    )
    doc = PdfDocument(base)
    ref = doc.pages()[0]["Contents"]
    cnum = ref.num
    stream = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (new) Tj ET"
    body = (
        b"%d 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (cnum, len(stream), stream)
    )
    old_start = base.rfind(b"startxref")
    old_xref_off = int(base[old_start:].split()[1])
    obj_off = len(base)
    xref_off = obj_off + len(body)
    update = body + (
        b"xref\n%d 1\n%010d 00000 n \ntrailer\n"
        b"<< /Size 20 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (cnum, obj_off, old_xref_off, xref_off)
    )
    assert parse_pdf_spans(base + update) == [
        [("text", 72.0, 700.0, 10.0, "new")]
    ]


def test_objstm_poison_guards():
    """Corrupt compressed-entry shapes are poison rows, not recursion
    or silent misreads."""
    doc = PdfDocument(encode_pdf(PAGES, xref_stream=True))
    from donut_spark.core.pdf import Ref

    a_compressed_num = next(iter(doc._compressed))
    stm_num = doc._compressed[a_compressed_num][0]
    # container pointing at another compressed entry → guarded recursion
    doc._compressed[9901] = (a_compressed_num, 0)
    with pytest.raises(ValueError, match="inside an object stream"):
        doc.obj(Ref(9901))
    # container that is a stream but not /Type /ObjStm (the image)
    doc._compressed[9902] = (4, 0)
    with pytest.raises(ValueError, match="not an object stream"):
        doc.obj(Ref(9902))
    # index out of range / number mismatch
    doc._compressed[9903] = (stm_num, 9999)
    with pytest.raises(ValueError, match="not at object-stream index"):
        doc.obj(Ref(9903))


@pytest.mark.parametrize(
    "mode", [None, "flate", "lzw", "rl", "a85flate", "a85rl", "ahxlzw"]
)
def test_stream_filter_chains_roundtrip(mode):
    """Every content-stream filter chain the writer rotates (incl. the
    two-element arrays, decoded in list order) parses back to the same
    spans."""
    data = encode_pdf(PAGES, seed=9, variant=2, stream_filter=mode)
    assert parse_pdf_spans(data) == PAGES


def test_filter_codecs_unit_and_poison():
    from donut_spark.core.pdf import (
        _ascii85_decode,
        _ascii85_encode,
        _asciihex_decode,
        _lzw_decode,
        _lzw_encode,
        _runlength_decode,
        _runlength_encode,
    )

    # classic LZW reference vector (the TIFF/PDF 9-bit example)
    assert _lzw_decode(_lzw_encode(b"AAAAAAAA")) == b"AAAAAAAA"
    # 12-bit growth + mid-stream clear survive the round trip
    big = bytes((i * i) % 251 for i in range(60_000))
    assert _lzw_decode(_lzw_encode(big)) == big
    # Adobe's spec example for ASCII85 z shorthand + partial group
    assert _ascii85_decode(b"z~>") == b"\x00\x00\x00\x00"
    assert _ascii85_decode(_ascii85_encode(b"sure.")) == b"sure."
    assert _asciihex_decode(b"48 65 6C 6C 6F>") == b"Hello"
    assert _asciihex_decode(b"486>") == b"H`"  # odd digit pads 0
    # RunLength: spec semantics by hand, then the encoder twin — a
    # >128 literal stretch, a >128 repeat run (must split), and mixes
    assert _runlength_decode(b"\x02abc\xfeX\x80") == b"abcXXX"
    for payload in [
        b"",
        b"abc",
        b"A" * 300,
        bytes(range(256)) * 2,
        b"ab" + b"Q" * 129 + b"cd",
    ]:
        assert _runlength_decode(_runlength_encode(payload)) == payload
    for fn, bad in [
        (_runlength_decode, b"\x05ab"),      # truncated literal run
        (_runlength_decode, b"\xfe"),        # truncated repeat run
        (_runlength_decode, b"\x00a"),       # missing EOD

        (_ascii85_decode, b"abc"),           # no terminator
        (_ascii85_decode, b"v~>"),           # char out of range
        (_ascii85_decode, b"!z~>"),          # z inside a group
        (_ascii85_decode, b"!~>"),           # lone trailing char
        (_ascii85_decode, b"uuuuu~>"),       # group > 2^32
        (_asciihex_decode, b"4g>"),          # bad hex char
        (_asciihex_decode, b"48"),           # missing '>'
        (_lzw_decode, b"\xff\xff\xff"),      # bad code, no EOD
        (_lzw_decode, b""),                  # missing EOD
    ]:
        with pytest.raises(ValueError):
            fn(bad)


def test_inline_images_consumed_not_content():
    """BI…ID…EI inline images: skipped by computed sample length (the
    samples here CONTAIN the bytes 'EI' — a scan-for-EI reader would
    mis-cut), never emitted as spans, and malformed ones are poison."""
    inline = b"BI /W 2 /H 1 /CS /RGB /BPC 8 ID \x45\x49EIEI\x00 EI\n"
    content = (
        b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (before) Tj ET\n"
        + inline
        + b"BT /F1 10 Tf 1 0 0 1 72 688 Tm (after) Tj ET"
    )
    spans = _interp(content)
    assert [s[4] for s in spans] == ["before", "after"]
    # abbreviated and full key names both parse
    full = b"BI /Width 1 /Height 1 /ColorSpace /DeviceGray /BitsPerComponent 8 ID \xaa EI"
    assert _interp(full) == []
    with pytest.raises(ValueError, match="truncated"):
        _interp(b"BI /W 9 /H 9 /CS /RGB /BPC 8 ID \x00\x01 EI")
    with pytest.raises(ValueError, match="filtered inline"):
        _interp(b"BI /W 1 /H 1 /F /Fl /BPC 8 ID x EI")
    with pytest.raises(ValueError, match="geometry"):
        _interp(b"BI /W 0 /H 1 /BPC 8 ID  EI")
    with pytest.raises(ValueError, match="missing EI"):
        _interp(b"BI /W 1 /H 1 /BPC 8 ID \x00 XX")


def test_writer_sprinkles_inline_decoys():
    """The synth writer's decoy inline images are really in the bytes
    (so the roundtrip above proves the reader skips them)."""
    found = False
    for seed in range(12):
        data = encode_pdf(PAGES, seed=seed, variant=0)
        if b" ID " in data or b"BI /W" in data:
            found = True
            break
    assert found, "no decoy inline image in 12 seeds"


@pytest.mark.parametrize("variant", [0, 1, 2, 3])
@pytest.mark.parametrize("xref_stream", [False, True])
def test_cid_font_tounicode_roundtrip(variant, xref_stream):
    """Type0/Identity-H + /ToUnicode: show strings are 2-byte glyph
    codes, recoverable ONLY through the CMap — including non-BMP chars
    (surrogate pairs kept whole in the destinations) and TJ kern splits
    landing mid-code."""
    pages = [
        [
            ("text", 72.0, 720.0, 12.0, "CID Hello ✓"),
            ("text", 312.0, 720.0, 10.0, "astral 🚀𝄞 mix"),
            ("media", 72.0, 684.0, 0.0, "img_c_0"),
        ]
    ]
    data = encode_pdf(
        pages,
        compress=(variant % 2 == 0),
        seed=variant + 77,
        variant=variant,
        xref_stream=xref_stream,
        cid_font=True,
    )
    assert parse_pdf_spans(data) == pages
    # and the bytes genuinely aren't latin-1/UTF-16 text: parsing the
    # same show strings WITHOUT the CMap must give different text
    doc = PdfDocument(data)
    page = doc.pages()[0]
    raw = extract_page_spans(
        doc.page_content(page), doc.page_xobjects(page), fonts=None
    )
    assert {s[4] for s in raw if s[0] == "text"} != {
        "CID Hello ✓",
        "astral 🚀𝄞 mix",
    }


def test_parse_tounicode_forms_and_poison():
    from donut_spark.core.pdf import parse_tounicode

    cl, m = parse_tounicode(
        b"/CIDInit /ProcSet findresource begin\nbegincmap\n"
        b"1 begincodespacerange <00> <FF> endcodespacerange\n"
        b"1 beginbfrange <41> <43> <0061> endbfrange\n"
        b"1 beginbfrange <50> <51> [<0058> <0059>] endbfrange\n"
        b"2 beginbfchar <01> <0041> <02> <D83DDE00> endbfchar\n"
        b"endcmap end"
    )
    assert cl == 1
    assert [m[c] for c in (0x41, 0x42, 0x43)] == ["a", "b", "c"]
    assert (m[0x50], m[0x51]) == ("X", "Y")
    assert m[0x01] == "A" and m[0x02] == "\U0001f600"
    # an odd hex-digit count zero-pads per spec, so <004> is a VALID
    # 2-byte destination (0x0040 = "@"), not poison
    _, m_pad = parse_tounicode(b"1 beginbfchar <01> <004> endbfchar")
    assert m_pad[1] == "@"
    for bad in [
        b"1 beginbfchar <01> endbfchar",                  # odd items
        b"1 beginbfrange <02> <01> <0061> endbfrange",    # hi < lo
        b"1 beginbfrange <01> <03> [<0061>] endbfrange",  # array len
        b"1 beginbfchar <01> <0041>",                     # unterminated
        b"1 beginbfchar <01> 5 endbfchar",                # dst not a string
    ]:
        with pytest.raises(ValueError):
            parse_tounicode(bad)
    # a lone UTF-16 surrogate half in a destination is poison, and it
    # must surface as a ValueError subclass (UnicodeDecodeError is one)
    with pytest.raises(ValueError):
        parse_tounicode(b"1 beginbfchar <01> <D83D> endbfchar")


@settings(max_examples=120, deadline=None)
@given(st.binary(min_size=0, max_size=300))
def test_fuzz_cmap_garbage_never_escapes(blob):
    """Arbitrary bytes as a /ToUnicode stream: parse or ValueError,
    never an uncaught IndexError/TypeError/KeyError (the CMap parse
    runs inside page_fonts, i.e. inside the operator's poison-row
    catch, which only converts ValueError)."""
    from donut_spark.core.pdf import parse_tounicode

    try:
        parse_tounicode(blob)
    except ValueError:
        pass


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_fuzz_cmap_block_garbage_never_escapes(blob):
    """Same, but with the bytes dropped INSIDE a bfchar/bfrange block
    where the structured parsing happens."""
    from donut_spark.core.pdf import parse_tounicode

    for wrapped in (
        b"1 beginbfchar " + blob + b" endbfchar",
        b"1 beginbfrange " + blob + b" endbfrange",
    ):
        try:
            parse_tounicode(wrapped)
        except ValueError:
            pass


def test_cid_ragged_show_string_is_poison():
    """A show string whose length doesn't divide by the font's code
    width is poison, not a silent truncation."""
    data = encode_pdf(
        [[("text", 72.0, 700.0, 10.0, "ab")]], cid_font=True
    )
    doc = PdfDocument(data)
    page = doc.pages()[0]
    fonts = doc.page_fonts(page)
    assert fonts["F1"] is not None and fonts["F1"][0] == 2
    with pytest.raises(ValueError, match="ragged"):
        extract_page_spans(
            b"BT /F1 10 Tf 1 0 0 1 72 700 Tm <000102> Tj ET", fonts=fonts
        )
    # unknown code → U+FFFD replacement, never a crash
    spans = extract_page_spans(
        b"BT /F1 10 Tf 1 0 0 1 72 700 Tm <9999> Tj ET", fonts=fonts
    )
    assert spans[0][4] == "�"


@pytest.mark.parametrize("variant", [0, 1, 2, 3])
def test_simple_font_differences_roundtrip(variant):
    """The LEGACY text path: /Encoding /Differences remaps every used
    byte code through uniXXXX / uXXXXX glyph names — show strings are
    1-byte codes only the encoding table can decode, incl. astral
    chars."""
    data = encode_pdf(
        PAGES,
        seed=variant + 3,
        variant=variant,
        simple_encoding="differences",
        stream_filter="flate" if variant % 2 else None,
    )
    assert parse_pdf_spans(data) == PAGES
    # without the table the 1-byte codes decode to different text
    doc = PdfDocument(data)
    page = doc.pages()[0]
    raw = extract_page_spans(
        doc.page_content(page), doc.page_xobjects(page), fonts=None
    )
    assert {s[4] for s in raw if s[0] == "text"} != {
        s[4] for s in PAGES[0] if s[0] == "text"
    }


def test_glyph_name_resolution_and_base_encodings():
    from donut_spark.core.pdf import (
        _codec_table,
        _glyph_to_unicode,
    )

    assert _glyph_to_unicode("uni0041") == "A"
    assert _glyph_to_unicode("uni00410042") == "AB"  # multi-unit form
    assert _glyph_to_unicode("u1F680") == "🚀"
    assert _glyph_to_unicode("uD800") == "�"  # surrogate cp is invalid
    assert _glyph_to_unicode("adieresis") == "�"  # outside ASCII subset
    assert _glyph_to_unicode("ampersand") == "&"
    assert _glyph_to_unicode("Q") == "Q"
    # WinAnsi: the cp1252 80-9F block differs from latin-1
    win = _codec_table("cp1252")
    assert win[0x93] == "“" and 0x81 not in win
    mac = _codec_table("mac_roman")
    assert mac[0x8A] == "ä"


def test_simple_font_base_encoding_name(tmp_path):
    """A bare /Encoding /WinAnsiEncoding name (no Differences): bytes
    decode through cp1252 — 0x93 is a curly quote, not latin-1 \\x93."""
    from donut_spark.core.pdf import Name, PdfDocument

    base = encode_pdf([[("text", 72.0, 700.0, 10.0, "x")]], variant=0)
    doc = PdfDocument(base)
    page = doc.pages()[0]
    font = doc.resolve(doc.resolve(page["Resources"])["Font"]["F1"])
    font["Encoding"] = Name("WinAnsiEncoding")
    fonts = doc.page_fonts(page)
    assert fonts["F1"] is not None
    spans = extract_page_spans(
        b"BT /F1 10 Tf 1 0 0 1 72 700 Tm <93> Tj ET", fonts=fonts
    )
    assert spans[0][4] == "“"
    # an un-tableable encoding (Identity-H w/o ToUnicode) falls back to
    # the text-string decode instead of poisoning the document
    font["Encoding"] = Name("Identity-H")
    assert doc.page_fonts(page)["F1"] is None


def test_resources_inherited_from_pages_node():
    """/Resources hoisted onto the /Pages node (an inheritable
    attribute real generators rely on) must still resolve the page's
    XObjects for /Do validation."""
    content = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (inh) Tj ET q /Im0 Do Q"
    img = (
        b"<< /Type /XObject /Subtype /Image /Width 2 /Height 2 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length 4 >>\n"
        b"stream\nABCD\nendstream"
    )
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (
            b"<< /Type /Pages /Count 1 /Kids [5 0 R] /Resources "
            b"<< /Font << /F1 3 0 R >> /XObject << /Im0 6 0 R >> >> >>"
        ),
        3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        4: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        # NOTE: no /Resources on the page itself
        5: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>",
        6: img,
    }
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_off = len(out)
    out += b"xref\n0 7\n0000000000 65535 f \n"
    for num in range(1, 7):
        out += b"%010d 00000 n \n" % offsets[num]
    out += (
        b"trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % xref_off
    )
    assert parse_pdf_spans(bytes(out)) == [
        [
            ("text", 72.0, 700.0, 10.0, "inh"),
            ("media", 0.0, 0.0, 0.0, "Im0"),
        ]
    ]


def test_length_reference_cycle_is_valueerror():
    """Two streams whose /Length fields reference each other: the load
    guard must surface ValueError (poison row), never RecursionError
    past the operator's catch."""
    head = b"%PDF-1.4\n"
    o1 = b"1 0 obj\n<< /Length 2 0 R >>\nstream\nAB\nendstream\nendobj\n"
    o2 = b"2 0 obj\n<< /Length 1 0 R >>\nstream\nCD\nendstream\nendobj\n"
    off1 = len(head)
    off2 = off1 + len(o1)
    xref_off = off2 + len(o2)
    data = head + o1 + o2 + (
        b"xref\n0 3\n0000000000 65535 f \n%010d 00000 n \n%010d 00000 n \n"
        b"trailer\n<< /Size 3 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (off1, off2, xref_off)
    )
    from donut_spark.core.pdf import Ref

    doc = PdfDocument(data)
    with pytest.raises(ValueError, match="cycle"):
        doc.obj(Ref(1))


def test_flate_bomb_and_truncation_guard():
    """A flate stream expanding past the cap (or cut short) takes the
    poison-row path instead of OOMing/partial-parsing (the png.py bomb
    discipline)."""
    doc = PdfDocument(encode_pdf(PAGES, compress=True))
    s = doc.resolve(doc.pages()[0]["Contents"])
    bomb = zlib.compress(b" " * (1 << 27))  # 128 MiB from a few KB
    s_bomb = type(s)(dict(s.d), bomb)
    with pytest.raises(ValueError, match="decompression cap"):
        doc.stream_data(s_bomb)
    s_trunc = type(s)(dict(s.d), s.raw[:-4])
    with pytest.raises(ValueError, match="flate"):
        doc.stream_data(s_trunc)


def test_truncated_stream_raises():
    data = encode_pdf(PAGES, compress=True, variant=0)
    # chop mid-file: either a truncated stream or a broken xref, never a
    # silent partial parse
    with pytest.raises(ValueError):
        parse_pdf_spans(data[: len(data) // 2])


@settings(max_examples=120, deadline=None)
@given(st.binary(min_size=0, max_size=300))
def test_fuzz_garbage_content_stream_never_escapes(blob):
    """Arbitrary bytes as a content stream: either parse or ValueError —
    never IndexError/TypeError (those would blow past the operator
    layer's poison-row catch and kill a corpus-scale stage)."""
    try:
        extract_page_spans(blob)
    except ValueError:
        pass


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=400), st.integers(0, 5000))
def test_fuzz_garbage_document_never_escapes(blob, off):
    """Arbitrary bytes as a whole file (with a plausible header and
    startxref so the parse gets past the first checks): ValueError or
    success, nothing else."""
    data = b"%PDF-1.4\n" + blob + b"\nstartxref\n%d\n%%%%EOF\n" % off
    try:
        parse_pdf_spans(data)
    except ValueError:
        pass


def test_malformed_operator_streams_raise_valueerror():
    """Operand underflow / wrong types / short matrices each take the
    ValueError path, not a bare IndexError/TypeError."""
    for bad in [
        b"BT Tj ET",                       # show with empty stack
        b"BT /F1 9 Tf 5 Tj ET",            # int operand to Tj
        b"BT /F1 9 Tf 1 2 3 Tm (x) Tj ET",  # short matrix
        b"BT (x) /nm Tj ET",               # name operand to Tj
        b"Tf",                              # Tf with nothing
    ]:
        with pytest.raises(ValueError):
            extract_page_spans(bad)


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_fuzz_roundtrip(data):
    rng_seed = data.draw(st.integers(0, 2**31))
    variant = data.draw(st.integers(0, 3))
    compress = data.draw(st.booleans())
    xref_stream = data.draw(st.booleans())
    cid_font = data.draw(st.booleans())
    stream_filter = data.draw(
        st.sampled_from(
            [None, "flate", "lzw", "rl", "a85flate", "a85rl", "ahxlzw"]
        )
    )
    # ≤192 distinct chars by construction, so "differences" always fits
    simple_encoding = data.draw(st.sampled_from([None, "differences"]))
    rotate = data.draw(st.sampled_from([0, 90, 180, 270]))
    texts = data.draw(
        st.lists(
            st.text(
                alphabet=st.characters(
                    blacklist_categories=("Cs",), min_codepoint=1
                ),
                min_size=0,
                max_size=24,
            ),
            min_size=1,
            max_size=8,
        )
    )
    rng = random.Random(rng_seed)
    page = []
    used = set()
    for i, t in enumerate(texts):
        # distinct grid positions so reading order is unambiguous
        while True:
            pos = (rng.randrange(6), rng.randrange(2))
            if pos not in used:
                used.add(pos)
                break
        y = 720.0 - 36 * pos[0]
        x = 72.0 + 240 * pos[1]
        if rng.random() < 0.2:
            page.append(("media", x, y, 0.0, f"img_f_{i}"))
        else:
            page.append(("text", x, y, float(rng.randint(6, 18)), t))
    page.sort(key=lambda s: (-s[2], s[1]))
    pages = [page]
    out = parse_pdf_spans(
        encode_pdf(
            pages,
            compress=compress,
            seed=rng_seed,
            variant=variant,
            xref_stream=xref_stream,
            cid_font=cid_font,
            stream_filter=stream_filter,
            simple_encoding=simple_encoding,
            rotate=rotate,
        )
    )
    assert out == pages


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------


def test_pdf_operator_span_sequence_parity(spark):
    """synth → real PDF bytes → parse: the recovered interleaved span
    sequence equals the fixture's expected (kind, text, media_ref,
    order) EXACTLY for every document — the north rule's per-row
    invariant, on the PDF modality."""
    from pyspark.sql import functions as F

    from donut_spark.operators.pdfparse import (
        extract_pdf_spans,
        synth_pdf_table,
    )
    from donut_spark.sources.fixtures import load_spans

    spans = load_spans(spark, "/root/testdata/sf0.001").filter(
        F.col("doc_id").cast("long") < 60
    )
    out = extract_pdf_spans(synth_pdf_table(spark, spans)).cache()
    try:
        assert out.filter(F.col("kind") == "error").count() == 0
        got = out.select(
            "doc_id",
            F.col("seq").alias("i"),
            "kind",
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("media_ref", F.lit("")).alias("media_ref"),
        )
        exp = (
            spans.select(
                "doc_id", F.posexplode("expected").alias("i", "s")
            ).select(
                "doc_id",
                "i",
                F.col("s.kind").alias("kind"),
                F.coalesce("s.text", F.lit("")).alias("text"),
                F.coalesce("s.media_ref", F.lit("")).alias("media_ref"),
            )
        )
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0
    finally:
        out.unpersist()


def test_pdf_operator_quarantines_poison_rows(spark):
    """One corrupt document yields one kind='error' row; every healthy
    document still parses — the stage never dies (S11 contract)."""
    from pyspark.sql import functions as F

    from donut_spark.operators.pdfparse import (
        extract_pdf_spans,
        synth_pdf_table,
    )
    from donut_spark.sources.fixtures import load_spans

    spans = load_spans(spark, "/root/testdata/sf0.001").filter(
        F.col("doc_id").cast("long") < 20
    )
    pdfs = synth_pdf_table(spark, spans).withColumn(
        "content",
        F.when(
            F.col("doc_id") == "7", F.lit(b"%PDF-1.4 truncated garbage")
        ).otherwise(F.col("content")),
    )
    out = extract_pdf_spans(pdfs).cache()
    try:
        errs = out.filter(F.col("kind") == "error")
        assert errs.count() == 1
        assert errs.first()["doc_id"] == "7"
        healthy = out.filter(F.col("kind") != "error")
        assert healthy.filter(F.col("doc_id") == "7").count() == 0
        assert healthy.select("doc_id").distinct().count() == 19
    finally:
        out.unpersist()


def test_pdf_modality_through_flagship_metrics(spark):
    """The PDF path plugs into the SAME evaluator as the HTML path:
    evaluate_extraction over pdf_documents_from_table joined back to the
    truth columns must give exact_match = 1, roundtrip_ok = 1 and
    nTED = 1.0 for every doc — the north rule's per-row invariant, end
    to end through real PDF bytes."""
    from pyspark.sql import functions as F

    from donut_spark.operators.extract import evaluate_extraction
    from donut_spark.operators.pdfparse import (
        pdf_documents_from_table,
        synth_pdf_table,
    )
    from donut_spark.sources.fixtures import load_spans

    spans = load_spans(spark, "/root/testdata/sf0.001").filter(
        F.col("doc_id").cast("long") < 40
    )
    docs = pdf_documents_from_table(synth_pdf_table(spark, spans))
    ev = evaluate_extraction(spans.join(docs, "doc_id", "left"))
    agg = ev.agg(
        F.count("*").alias("n"),
        F.sum("exact_match").alias("n_exact"),
        F.sum(F.col("roundtrip_ok").cast("int")).alias("n_rt"),
        F.min("nted").alias("min_nted"),
    ).first()
    assert agg["n"] == 40
    assert agg["n_exact"] == 40
    assert agg["n_rt"] == 40
    assert agg["min_nted"] == pytest.approx(1.0)


def test_pdf_documents_from_table_contract(spark):
    """The production-input path: real PDF bytes in, one row per doc
    with `extracted` + `_error` out — poison quarantined by reason,
    valid-but-empty PDFs yield an empty array (not null, not an
    error), healthy docs reassemble the full span sequence."""
    from pyspark.sql import functions as F

    from donut_spark.core.pdf import encode_pdf
    from donut_spark.operators.pdfparse import (
        PDF_TABLE_SCHEMA,
        pdf_documents_from_table,
        synth_pdf_table,
    )
    from donut_spark.sources.fixtures import load_spans

    # try_cast: the join below makes Catalyst propagate this predicate
    # to the output side, which carries non-numeric doc_ids (ANSI cast
    # would throw on 'bad_doc')
    spans = load_spans(spark, "/root/testdata/sf0.001").filter(
        F.expr("try_cast(doc_id AS bigint) < 15")
    )
    extra = spark.createDataFrame(
        [
            ("bad_doc", bytes(b"%PDF-1.4 garbage, no xref")),
            ("empty_doc", bytes(encode_pdf([[]]))),
        ],
        schema=PDF_TABLE_SCHEMA,
    )
    out = pdf_documents_from_table(
        synth_pdf_table(spark, spans).union(extra)
    ).cache()
    try:
        bad = out.filter(F.col("_error").isNotNull())
        assert [r["doc_id"] for r in bad.collect()] == ["bad_doc"]
        empty = out.filter(F.col("doc_id") == "empty_doc").first()
        assert empty["_error"] is None and empty["extracted"] == []
        # healthy docs: extracted == the fixture's expected, exactly
        healthy = out.join(spans.select("doc_id", "expected"), "doc_id")
        n_match = healthy.filter(
            F.col("extracted") == F.col("expected")
        ).count()
        assert n_match == 15
    finally:
        out.unpersist()


def _recursion_bomb_pdf() -> bytes:
    """A PDF with 3000 ``[`` inserted after its first ``obj``: under
    the default recursion limit (a Python worker's), the parser's
    nested-array recursion raises ``RecursionError``, not its own
    ``ValueError``."""
    from donut_spark.core.pdf import encode_pdf

    pdf = encode_pdf([[("text", 72.0, 720.0, 10.0, "hello world")]])
    cut = pdf.index(b"obj") + 3
    return pdf[:cut] + b"[" * 3000 + pdf[cut:]


def test_pdf_recursion_bomb_quarantined_by_both_operators(spark, tmp_path):
    """The PDF kernel boundary is total: a PDF the parser fails on with
    a non-``ValueError`` exception is quarantined by
    ``pdf_documents_from_table`` (through the sink) and becomes an
    ``error`` span row of ``extract_pdf_spans``, with the class named,
    while the ``ValueError`` reason text stays bare."""
    from pyspark.sql import functions as F

    from donut_spark.operators.pdfparse import (
        PDF_TABLE_SCHEMA,
        extract_pdf_spans,
        pdf_documents_from_table,
        synth_pdf_table,
    )
    from donut_spark.operators.sink import write_outputs
    from donut_spark.sources.fixtures import load_spans
    from tests.conftest import SF_SMALL

    spans = load_spans(spark, SF_SMALL).filter(
        F.expr("try_cast(doc_id AS bigint) < 5")
    )
    poison = spark.createDataFrame(
        [
            ("bomb", _recursion_bomb_pdf()),
            ("bad_doc", b"%PDF-1.4 garbage, no xref"),
        ],
        schema=PDF_TABLE_SCHEMA,
    )
    pdfs = synth_pdf_table(spark, spans).union(poison)

    out = str(tmp_path / "pdf_out")
    write_outputs(spark, pdf_documents_from_table(pdfs), out)
    bad = {
        r.doc_id: r._error
        for r in spark.read.parquet(f"{out}/quarantine").collect()
    }
    assert sorted(bad) == ["bad_doc", "bomb"]
    assert bad["bomb"].startswith("RecursionError: ")
    assert not bad["bad_doc"].startswith("ValueError")
    assert spark.read.parquet(f"{out}/data").count() == 5

    errs = {
        r.doc_id: r.text
        for r in extract_pdf_spans(pdfs).filter(F.col("kind") == "error").collect()
    }
    assert errs == bad


_STRAY_DELIMITERS = [b")", b"]", b"}", b"{", b">"]


def _stray_delimiter_pdf(delim: bytes) -> bytes:
    """A raw single-stream PDF whose content stream has ``delim`` in
    operator position between two text objects (the newline after the
    first ``ET`` is overwritten, so no offset or /Length moves)."""
    pdf = encode_pdf(PAGES[:1], seed=3, variant=0)
    cut = pdf.index(b"ET\n", pdf.index(b"stream")) + 2
    return pdf[:cut] + delim + pdf[cut + 1 :]


@pytest.mark.parametrize("delim", _STRAY_DELIMITERS)
def test_stray_delimiter_in_content_stream_is_poison(delim):
    """A delimiter no object starts with, in operator position, is a
    syntax error: the page must not end there with every later span
    silently dropped."""
    content = (
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (first) Tj ET\n"
        + delim
        + b" BT /F1 12 Tf 1 0 0 1 72 680 Tm (second) Tj ET"
    )
    with pytest.raises(ValueError, match=r"unexpected delimiter .* at 45$"):
        extract_page_spans(content)


def test_stray_delimiter_pdf_quarantined(spark):
    """The same poison inside real PDFs is quarantined by the operator."""
    from donut_spark.operators.pdfparse import (
        PDF_TABLE_SCHEMA,
        pdf_documents_from_table,
    )

    rows = [(d.decode(), _stray_delimiter_pdf(d)) for d in _STRAY_DELIMITERS]
    rows.append(("clean", _stray_delimiter_pdf(b"\n")))
    got = {
        r.doc_id: r._error
        for r in pdf_documents_from_table(
            spark.createDataFrame(rows, schema=PDF_TABLE_SCHEMA)
        ).collect()
    }
    assert got.pop("clean") is None
    assert sorted(got) == sorted(d.decode() for d in _STRAY_DELIMITERS)
    for d, err in got.items():
        assert (err or "").startswith(f"pdf: unexpected delimiter {d.encode()!r} at "), err


# every writer shape: the four content encodings over both
# cross-reference forms, compression, both font paths, each filter
# chain, each encryption mode and a rotated page
_FUZZ_SHAPES = (
    [
        dict(variant=v, xref_stream=x, compress=c)
        for v in range(4)
        for x, c in ((False, False), (True, True))
    ]
    + [dict(cid_font=True, variant=1), dict(simple_encoding="differences")]
    + [
        dict(stream_filter=f, variant=2)
        for f in ("lzw", "rl", "a85flate", "a85rl", "ahxlzw")
    ]
    + [dict(encrypt=e) for e in ("rc4-40", "rc4-128", "aesv2", "aes256")]
    + [dict(rotate=90, xref_stream=True)]
)
_FUZZ_INSERTS = [b"(", b"[", b"<<", b")", b"%"]


def _fuzz_controls() -> list:
    return [encode_pdf(PAGES, seed=k, **shape) for k, shape in enumerate(_FUZZ_SHAPES)]


def _mutated_pdfs(bases: list, n: int, seed: int) -> list:
    """``n`` seeded mutations of ``bases``: one to three byte flips,
    truncations or inserted ``(``, ``[``, ``<<``, ``)`` or ``%`` each."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        data = bytearray(rng.choice(bases))
        for _ in range(rng.randint(1, 3)):
            pos = rng.randrange(len(data))
            op = rng.random()
            if op < 0.4:
                data[pos] ^= 1 << rng.randrange(8)
            elif op < 0.5:
                del data[pos:]
            else:
                data[pos:pos] = rng.choice(_FUZZ_INSERTS)
            if not data:
                break
        out.append(bytes(data))
    return out


def test_seeded_pdf_fuzz_never_fails_the_operator(spark):
    """2000 seeded mutations of every writer shape through
    ``pdf_documents_from_table``: the job completes, every input comes
    back as exactly one row with exactly one of ``extracted`` /
    ``_error``, and the unmutated controls still parse to their spans.
    The parser runs only in the Spark workers (default recursion
    limit); see ``_recursion_bomb_pdf``."""
    from donut_spark.operators.pdfparse import (
        PDF_TABLE_SCHEMA,
        pdf_documents_from_table,
    )

    controls = _fuzz_controls()
    fuzz = _mutated_pdfs(controls, 2000, seed=20260)
    rows = [(f"f{k}", d) for k, d in enumerate(fuzz)]
    rows += [(f"c{k}", d) for k, d in enumerate(controls)]
    got = pdf_documents_from_table(
        spark.createDataFrame(rows, schema=PDF_TABLE_SCHEMA, verifySchema=False)
    ).collect()

    assert sorted(r.doc_id for r in got) == sorted(doc_id for doc_id, _ in rows)
    assert all((r.extracted is None) != (r._error is None) for r in got)
    want = [
        (kind, payload if kind == "text" else "", payload if kind == "media" else "", k)
        for k, (kind, _x, _y, _size, payload) in enumerate(
            s for page in PAGES for s in page
        )
    ]
    for r in got:
        if r.doc_id.startswith("c"):
            assert r._error is None, (r.doc_id, r._error)
            assert [tuple(s) for s in r.extracted] == want, r.doc_id
    n_err = sum(r._error is not None for r in got)
    assert 0 < n_err < len(fuzz)


def test_pdf_passthrough_columns_ride_the_kernel(spark, tmp_path):
    """Passthrough columns (resume mode's ``_bucket``) ride through the
    parse kernel: one scan, no join, and exactly one output row per
    input row even when a ``doc_id`` repeats. Without passthrough
    columns the output schema is the kernel's own."""
    from pyspark.sql import functions as F

    from donut_spark.operators.pdfparse import (
        PDF_DOCS_SCHEMA,
        pdf_documents_from_table,
        synth_pdf_table,
    )
    from donut_spark.sources.fixtures import load_spans
    from tests.conftest import SF_SMALL

    spans = load_spans(spark, SF_SMALL).filter(
        F.expr("try_cast(doc_id AS bigint) < 6")
    )
    pdfs = synth_pdf_table(spark, spans).withColumn(
        "_bucket", F.col("doc_id").cast("int") % 2
    )
    src = str(tmp_path / "pdf_in")
    duplicate = pdfs.filter(F.col("doc_id") == "3").withColumn("_bucket", F.lit(7))
    pdfs.union(duplicate).write.parquet(src)
    table = spark.read.parquet(src)

    out = pdf_documents_from_table(table)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("MapInPandas") == 1, plan
    assert "Join" not in plan and "Exchange" not in plan, plan
    assert out.columns == ["doc_id", "_bucket", "extracted", "_error"]
    rows = sorted((r.doc_id, r._bucket) for r in out.collect())
    assert rows == sorted((r.doc_id, r._bucket) for r in table.collect())
    assert len(rows) == 7
    docs = pdf_documents_from_table(table.drop("_bucket"))
    assert docs.schema == PDF_DOCS_SCHEMA


def test_materialize_pdf_table_writes_under_out_root(spark, tmp_path):
    """Both the PDF table and the spans table it is synthesized from land
    under ``out_root``, never under the default fixtures directory."""
    import os

    from donut_spark.sources.fixtures import materialize_pdf_table
    from tests.conftest import SF_SMALL

    path = materialize_pdf_table(spark, SF_SMALL, str(tmp_path))
    spans = tmp_path / f"spans_{os.path.basename(SF_SMALL)}"
    assert path == str(tmp_path / f"pdf_{os.path.basename(SF_SMALL)}")
    assert os.path.exists(spans / "_SUCCESS")
    assert spark.read.parquet(path).count() == spark.read.parquet(str(spans)).count()


def test_streaming_pdf_ingest_matches_batch(spark, tmp_path):
    """Stream ingest is the batch operator over a ``readStream`` frame:
    ``pdf_documents_from_table`` gives the batch rows exactly, and a
    poison PDF lands in ``_error`` without killing the query, so the
    streamed rows split through ``quarantine_split`` like a batch run's."""
    from pyspark.sql import functions as F

    from donut_spark.operators.pdfparse import (
        PDF_TABLE_SCHEMA,
        pdf_documents_from_table,
        synth_pdf_table,
    )
    from donut_spark.plans.lineage import quarantine_split
    from donut_spark.sources.fixtures import load_spans

    src = str(tmp_path / "pdf_stream_src")
    sink = str(tmp_path / "pdf_stream_sink")
    ckpt = str(tmp_path / "pdf_stream_ckpt")
    spans = load_spans(spark, "/root/testdata/sf0.001").filter(
        F.expr("try_cast(doc_id AS bigint) < 30")
    )
    poison = spark.createDataFrame(
        [("poison_doc", bytes(b"%PDF-1.4 but no xref"))],
        schema=PDF_TABLE_SCHEMA,
    )
    pdfs = synth_pdf_table(spark, spans).union(poison)
    pdfs.write.parquet(src)

    stream = (
        spark.readStream.schema(PDF_TABLE_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        pdf_documents_from_table(stream)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    want = pdf_documents_from_table(spark.read.parquet(src))
    assert got.count() == 31
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    good, bad = quarantine_split(got)
    want_good, want_bad = quarantine_split(want)
    bad_rows = bad.select("doc_id", "_error").collect()
    assert [r.doc_id for r in bad_rows] == ["poison_doc"]
    assert bad_rows[0]._error == want_bad.first()._error
    assert "startxref" in bad_rows[0]._error
    assert good.count() == 30
    assert good.exceptAll(want_good).count() == 0
    assert want_good.exceptAll(good).count() == 0


def test_layout_pages_arithmetic():
    from donut_spark.operators.pdfparse import doc_layout_pages, layout_slot

    expected = [("text", f"t{i}", "") for i in range(11)]
    # num=1 → K=4 rows/page → 8 slots/page
    pages = doc_layout_pages(1, expected)
    assert [len(p) for p in pages] == [8, 3]
    assert layout_slot(1, 0) == (0, 72.0, 720.0)
    assert layout_slot(1, 1) == (0, 312.0, 720.0)
    assert layout_slot(1, 8) == (1, 72.0, 720.0)
    # single-span doc still gets one page
    assert len(doc_layout_pages(0, [("text", "x", "")])) == 1


def test_q_Q_restores_font_state():
    """ADVICE r5: font name/size/leading are graphics state (ISO 32000-1
    Table 52) — a Tf inside q..Q must not decode show strings after the
    matching Q with the stale font map."""
    from donut_spark.core.pdf import _interpret_content

    fonts = {
        "F1": (1, {0x41: "a", 0x42: "b"}),
        "F2": (1, {0x41: "x", 0x42: "y"}),
    }
    content = (
        b"BT /F1 10 Tf 5 TL 0 0 Td q /F2 8 Tf (AB) Tj Q (AB) Tj ET"
    )
    spans = _interpret_content(content, None, fonts)
    assert [s[4] for s in spans] == ["xy", "ab"]
    assert spans[0][3] == 8.0 and spans[1][3] == 10.0  # size restored too


def test_ascii85_fast_path_matches_reference_loop():
    """Round-6: _ascii85_decode's stdlib fast path must be
    outcome-identical (bytes AND error messages) to the reference loop
    it guards — including the stdlib's silent lone-trailing-digit drop,
    which the precheck must exclude. The loop is forced by stubbing
    a85decode to raise."""
    import random

    import donut_spark.core.pdf as pdf_mod
    from donut_spark.core.pdf import _ascii85_decode, _ascii85_encode

    def slow(data):
        real = pdf_mod.a85decode

        def boom(*a, **k):
            raise ValueError("forced fallback")

        pdf_mod.a85decode = boom
        try:
            return _ascii85_decode(data)
        finally:
            pdf_mod.a85decode = real

    rng = random.Random(7)
    ws = b"\x00\t\n\x0c\r "

    def rand_stream(r):
        out = bytearray()
        for _ in range(r.randint(0, 40)):
            c = r.random()
            if c < 0.75:
                out.append(r.randint(0x21, 0x75))
            elif c < 0.83:
                out.append(0x7A)
            elif c < 0.90:
                out.append(r.choice(ws))
            elif c < 0.94:
                out.append(r.choice(b"\x0bvwxy\x7f\x80"))
            else:
                out += b"~>" if r.random() < 0.7 else b"~"
        if r.random() < 0.85:
            out += b"~>"
        return bytes(out)

    cases = [
        _ascii85_encode(bytes(rng.randint(0, 255) for _ in range(rng.randint(0, 50))))
        for _ in range(1000)
    ]
    cases += [rand_stream(rng) for _ in range(30000)]
    cases += [
        b"", b"~>", b"z~>", b"zz~>", b"!!!!!~>", b"s8W-!~>", b"u~>", b"uu~>",
        b"uuuuu~>", b"\x0b~>", b"!\x0b!~>", b"! ! ! ! !~>", b"zA~>", b"zAA~>",
        b"!!!!!A~>", b"A~>", b"d~>\x02\x03",
    ]
    for data in cases:
        try:
            a = ("ok", _ascii85_decode(data))
        except ValueError as e:
            a = ("err", str(e))
        try:
            b = ("ok", slow(data))
        except ValueError as e:
            b = ("err", str(e))
        assert a == b, data
