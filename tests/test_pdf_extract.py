"""PDF extractor tests: spec-shaped fixtures built deterministically in
pure Python (classic xref layout, Flate streams), committed under
tests/fixtures/pdf/, extracted through the pluggable parse slot."""

from __future__ import annotations

import os
import zlib

import pytest

from semtools_spark.operators import pdf_extract as PX

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "pdf")


def _mk_pdf(page_streams: list[bytes], compress: bool = True) -> bytes:
    """Minimal spec-correct PDF: catalog → pages → page+content objects,
    classic xref table, deterministic bytes (no dates, no ids)."""
    objects: list[bytes] = []  # bodies, object number = index+1
    n_pages = len(page_streams)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(
        f"<< /Type /Pages /Count {n_pages} /Kids [{kids}] >>".encode()
    )
    for i, content in enumerate(page_streams):
        content_num = 4 + 2 * i
        objects.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Contents {content_num} 0 R >>"
            ).encode()
        )
        data = zlib.compress(content, 9) if compress else content
        filt = b"/Filter /FlateDecode " if compress else b""
        objects.append(
            b"<< " + filt + f"/Length {len(data)} >>".encode()
            + b"\nstream\n" + data + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objects) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        b"trailer\n<< /Size " + str(len(objects) + 1).encode()
        + b" /Root 1 0 R >>\nstartxref\n" + str(xref_at).encode()
        + b"\n%%EOF\n"
    )
    return bytes(out)


def _mk_pdf_objstm(page_streams: list[bytes]) -> bytes:
    """PDF 1.5-style compact layout: the catalog/pages/page dictionaries
    live packed inside a Flate-compressed /Type /ObjStm container; only
    the content streams (and the container itself) are top-level objects
    — the layout modern writers emit."""
    n_pages = len(page_streams)
    kids = " ".join(f"{3 + i} 0 R" for i in range(n_pages))
    embedded: list[tuple[int, bytes]] = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, f"<< /Type /Pages /Count {n_pages} /Kids [{kids}] >>".encode()),
    ]
    content_base = 3 + n_pages
    for i in range(n_pages):
        embedded.append(
            (
                3 + i,
                (
                    f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                    f"/Contents {content_base + i} 0 R >>"
                ).encode(),
            )
        )
    header = bytearray()
    bodies = bytearray()
    for num, body in embedded:
        header += f"{num} {len(bodies)} ".encode()
        bodies += body + b" "
    payload = bytes(header) + bytes(bodies)
    first = len(header)
    packed = zlib.compress(payload, 9)

    out = bytearray(b"%PDF-1.5\n")
    objstm_num = content_base + n_pages
    for i, content in enumerate(page_streams):
        data = zlib.compress(content, 9)
        out += (
            f"{content_base + i} 0 obj\n<< /Filter /FlateDecode "
            f"/Length {len(data)} >>\nstream\n".encode()
            + data + b"\nendstream\nendobj\n"
        )
    out += (
        f"{objstm_num} 0 obj\n<< /Type /ObjStm /N {len(embedded)} "
        f"/First {first} /Filter /FlateDecode /Length {len(packed)} "
        f">>\nstream\n".encode()
        + packed + b"\nendstream\nendobj\n%%EOF\n"
    )
    return bytes(out)


def _assemble_classic(objects: list[bytes]) -> bytes:
    """Classic xref assembly shared by the font-carrying builders
    (object number = list index + 1, object 1 is the /Root)."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objects) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        b"trailer\n<< /Size " + str(len(objects) + 1).encode()
        + b" /Root 1 0 R >>\nstartxref\n" + str(xref_at).encode()
        + b"\n%%EOF\n"
    )
    return bytes(out)


def _mk_pdf_type0(
    content: bytes,
    cmap: bytes | None,
    *,
    resources_on_parent: bool = False,
    with_simple_font: bool = False,
) -> bytes:
    """One-page PDF whose /F1 is a Type0 (CID) font with Identity-H
    encoding and an optional /ToUnicode CMap — the layout LaTeX/Word
    emit, where show-strings are 2-byte glyph ids. Optionally also a
    simple /F2 (latin-1 path) to exercise mid-stream Tf switches, and
    /Resources hoisted to the parent Pages node to exercise attribute
    inheritance (ISO 32000-1 §7.7.3.4)."""
    fonts = "<< /F1 5 0 R" + (" /F2 7 0 R" if with_simple_font else "") + " >>"
    res = f"/Resources << /Font {fonts} >> "
    objects: list[bytes] = []
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(
        (
            "<< /Type /Pages /Count 1 /Kids [3 0 R] "
            + (res if resources_on_parent else "")
            + ">>"
        ).encode()
    )
    objects.append(
        (
            "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            + ("" if resources_on_parent else res)
            + "/Contents 4 0 R >>"
        ).encode()
    )
    data = zlib.compress(content, 9)
    objects.append(
        f"<< /Filter /FlateDecode /Length {len(data)} >>".encode()
        + b"\nstream\n" + data + b"\nendstream"
    )
    tu = " /ToUnicode 6 0 R" if cmap is not None else ""
    objects.append(
        (
            "<< /Type /Font /Subtype /Type0 /BaseFont /FakeCID "
            f"/Encoding /Identity-H{tu} >>"
        ).encode()
    )
    if cmap is not None:
        cdata = zlib.compress(cmap, 9)
        objects.append(
            f"<< /Filter /FlateDecode /Length {len(cdata)} >>".encode()
            + b"\nstream\n" + cdata + b"\nendstream"
        )
    if with_simple_font:
        if cmap is None:
            objects.append(b"<< >>")  # keep /F2 at object 7
        objects.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    return _assemble_classic(objects)


#: a /ToUnicode CMap exercising every section shape: codespace range,
#: bfchar singles (space + a non-latin1 char), an increment bfrange
#: (A–Z), and an array bfrange with multi-char ligatures and a
#: surrogate-pair destination
TYPE0_CMAP = (
    b"/CIDInit /ProcSet findresource begin\n"
    b"12 dict begin\nbegincmap\n"
    b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    b"2 beginbfchar\n<0003> <0020>\n<0065> <0439>\nendbfchar\n"
    b"2 beginbfrange\n"
    b"<0041> <005A> <0041>\n"
    b"<0100> <0102> [<00660066> <0066006C> <D835DC53>]\n"
    b"endbfrange\n"
    b"endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n"
)

TYPE0_PAGE = (
    b"BT /F1 12 Tf 72 720 Td "
    b"[<00480045004C004C004F> <0003> <0057004F0052004C0044>] TJ "
    b"0 -14 Td <010001010102> Tj "
    b"0 -14 Td <0065> Tj ET"
)

TYPE0_WANT = "HELLO WORLD\nfffl\U0001d453\nй"


PAGE1 = (
    b"BT /F1 12 Tf 72 720 Td (Spark-native analytics at web scale) Tj "
    b"0 -14 Td (Second line of the first page.) Tj ET"
)
PAGE2 = (
    b"BT /F1 12 Tf 72 720 Td "
    b"[(Ker) 20 (ned) -250 (words) -300 (split)] TJ ET"
)


def test_fixture_pdfs_are_committed_and_deterministic():
    """The committed fixture bytes ARE the builder's output — drift in
    either fails here, keeping the binary fixtures honest."""
    want = {
        "two_page_flate.pdf": _mk_pdf([PAGE1, PAGE2]),
        "one_page_raw.pdf": _mk_pdf([PAGE1], compress=False),
    }
    for name, data in want.items():
        with open(os.path.join(FIXTURE_DIR, name), "rb") as f:
            assert f.read() == data, name


def test_extracts_multipage_flate_text():
    data = _mk_pdf([PAGE1, PAGE2])
    got = PX.extract_pdf_text(data)
    assert got == (
        "Spark-native analytics at web scale\n"
        "Second line of the first page."
        "\n\n"
        "Kerned words split"
    )


def test_extracts_uncompressed_stream():
    assert PX.extract_pdf_text(_mk_pdf([PAGE1], compress=False)).startswith(
        "Spark-native analytics"
    )


def test_string_escapes_hex_strings_and_quote_ops():
    content = (
        b"BT (paren \\( pair \\) back\\\\slash oct \\101) Tj "
        b"<48657820737472696E67> ' "
        b"(tab\\there) \" ET"
    )
    got = PX.extract_pdf_text(_mk_pdf([content]))
    assert got == "paren ( pair ) back\\slash oct A\nHex string\ntab\there"


def test_extracts_objstm_compact_layout():
    """PDF 1.5+ object streams: catalog/pages/page dicts packed inside a
    Flate /ObjStm container — the layout modern writers emit — extract
    identically to the classic layout, preserving page-tree order."""
    got = PX.extract_pdf_text(_mk_pdf_objstm([PAGE1, PAGE2]))
    assert got == PX.extract_pdf_text(_mk_pdf([PAGE1, PAGE2]))
    assert got.startswith("Spark-native analytics")
    # committed fixture pinned to the builder, same honesty contract
    with open(os.path.join(FIXTURE_DIR, "two_page_objstm.pdf"), "rb") as f:
        assert f.read() == _mk_pdf_objstm([PAGE1, PAGE2])


def test_objstm_corrupt_container_degrades():
    data = _mk_pdf_objstm([PAGE1])
    # corrupt the ObjStm payload: the container is skipped, the content
    # stream objects survive, result degrades to empty — never a raise
    broken = data.replace(b"/Type /ObjStm", b"/Type /ObjStm /X")
    pos = broken.rfind(b"stream\n") + len(b"stream\n")
    broken = broken[:pos] + b"\xff\xfe" + broken[pos + 2 :]
    assert isinstance(PX.extract_pdf_text(broken), str)


def test_type0_tounicode_cmap_decodes_cids():
    """VERDICT r6 missing #1: Type0/CID fonts with a /ToUnicode CMap —
    the layout modern typesetters emit, where show-strings are 2-byte
    glyph ids — decode through the CMap: bfchar singles, increment
    bfranges, array destinations (ligatures), surrogate-pair and
    non-latin1 code points, TJ kerning splits, all of it."""
    data = _mk_pdf_type0(TYPE0_PAGE, TYPE0_CMAP)
    assert PX.extract_pdf_text(data) == TYPE0_WANT
    # committed fixture pinned to the builder, same honesty contract
    with open(os.path.join(FIXTURE_DIR, "type0_tounicode.pdf"), "rb") as f:
        assert f.read() == data


def test_type0_resources_inherited_from_pages_node():
    """/Resources is an inheritable page-tree attribute: a leaf page
    without its own must pick up the nearest ancestor's fonts."""
    data = _mk_pdf_type0(TYPE0_PAGE, TYPE0_CMAP, resources_on_parent=True)
    assert PX.extract_pdf_text(data) == TYPE0_WANT


def test_type0_without_tounicode_drops_instead_of_mojibake():
    """A Type0 font with NO /ToUnicode shows raw glyph ids — decoding
    them as latin-1 poisons dedup/embedding with garbage, so they are
    dropped (documented corpus-quality choice)."""
    assert PX.extract_pdf_text(_mk_pdf_type0(TYPE0_PAGE, None)) == ""


def test_tf_switches_between_cid_and_simple_fonts_mid_stream():
    content = (
        b"BT /F1 12 Tf <00480049> Tj "
        b"/F2 10 Tf ( plain latin) Tj "
        b"/F1 12 Tf <0003004F004B> Tj ET"
    )
    data = _mk_pdf_type0(content, TYPE0_CMAP, with_simple_font=True)
    assert PX.extract_pdf_text(data) == "HI plain latin OK"


def test_variable_width_codespace_ranges():
    """Mixed 1-byte/2-byte codespaces (Shift-JIS-shaped CMaps): the
    decoder steps the show-string by whichever range matches, and an
    in-codespace but unmapped CID stays dropped for Type0."""
    cmap = (
        b"begincmap\n"
        b"2 begincodespacerange\n<00> <80>\n<8140> <FFFF>\nendcodespacerange\n"
        b"1 beginbfchar\n<41> <0061>\nendbfchar\n"
        b"1 beginbfrange\n<8140> <8142> <30A2>\nendbfrange\n"
        b"endcmap\n"
    )
    content = b"BT /F1 12 Tf <418140428141> Tj ET"
    data = _mk_pdf_type0(content, cmap)
    assert PX.extract_pdf_text(data) == "aアィ"


def test_simple_font_with_tounicode_uses_cmap_over_latin1():
    """A non-Type0 font carrying /ToUnicode (subset Type1/TrueType with
    remapped codes) decodes through the CMap; codes the CMap misses fall
    back to latin-1 instead of being dropped."""
    cmap = (
        b"begincmap\n"
        b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
        b"1 beginbfchar\n<41> <0391>\nendbfchar\n"
        b"endcmap\n"
    )
    data = _mk_pdf_type0(b"BT /F1 12 Tf (AB) Tj ET", cmap)
    # force the font dict to a simple subtype, keeping the ToUnicode ref
    data = data.replace(b"/Subtype /Type0", b"/Subtype /TrueType")
    assert PX.extract_pdf_text(data) == "ΑB"


def test_corrupt_cmap_degrades_to_drop_never_raise():
    garbage = b"begincmap\n1 beginbfchar\n<zz> (\nendcmap"
    data = _mk_pdf_type0(TYPE0_PAGE, garbage)
    assert isinstance(PX.extract_pdf_text(data), str)


def test_page_order_follows_catalog_tree_not_file_order():
    # build normally, then swap the two content streams' object numbers
    # by editing Kids order: page tree order must win
    data = _mk_pdf([PAGE2, PAGE1])
    got = PX.extract_pdf_text(data)
    assert got.startswith("Kerned words split")
    assert got.endswith("Second line of the first page.")


def test_malformed_inputs_degrade_to_empty_never_raise():
    assert PX.extract_pdf_text(b"") == ""
    assert PX.extract_pdf_text(b"not a pdf at all") == ""
    whole = _mk_pdf([PAGE1])
    assert PX.extract_pdf_text(whole[: len(whole) // 3]) in ("", PX.extract_pdf_text(whole))
    # corrupt the Flate payload: that stream is skipped, no raise
    broken = whole.replace(b"stream\n", b"stream\n\xff\xfe", 1)
    assert isinstance(PX.extract_pdf_text(broken), str)


def test_extract_any_dispatches_on_magic():
    pdf = _mk_pdf([PAGE1])
    assert "web scale" in PX.extract_any(pdf)
    html = (
        b"<html><body><nav><a href='/'>Home</a></nav>"
        b"<p>" + b"Real paragraph content long enough to keep. " * 3 + b"</p>"
        b"</body></html>"
    )
    got = PX.extract_any(html)
    assert "Real paragraph content" in got and "Home" not in got


def test_pdf_through_parse_pages_slot(spark):
    """The Spark contract: PDF bytes in the html column flow through
    parse_pages(extractor=extract_any) — the needs-parse branch runs the
    extractor, the passthrough branch stays a raw decode, and the
    default pinned extractor is untouched."""
    import datetime as dt

    from semtools_spark.operators.parse import parse_pages

    pdf = _mk_pdf([PAGE1, PAGE2])
    ts = dt.datetime(2026, 1, 1)
    rows = [
        ("https://ex.com/whitepaper.pdf", ts, pdf, "en"),
        ("https://ex.com/readme.txt", ts, b"plain passthrough text", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, lang string"
    )
    got = {r.url: r.text for r in parse_pages(pages, extractor=PX.extract_any).collect()}
    assert got["https://ex.com/whitepaper.pdf"] == (
        "Spark-native analytics at web scale\nSecond line of the first page."
        "\n\nKerned words split"
    )
    assert got["https://ex.com/readme.txt"] == "plain passthrough text"


def test_pdf_corpus_pipeline_fingerprint_resume(spark, tmp_path):
    """fingerprint/resume contract with the PDF extractor plugged in:
    the extractor's qualified name is part of the stage fingerprint, a
    re-run skips parse, and switching extractors re-parses."""
    import datetime as dt

    from semtools_spark.pipeline import run_webkg_pipeline

    ts = dt.datetime(2026, 1, 1)
    corpus = [
        (
            f"https://ex.com/doc{i}.pdf",
            ts,
            _mk_pdf([b"BT (alice works with bob) Tj ET"]),
            "en",
        )
        for i in range(6)
    ]
    src = str(tmp_path / "pdf_pages.parquet")
    spark.createDataFrame(
        corpus, "url string, warc_ts timestamp, html binary, lang string"
    ).write.parquet(src)

    out = str(tmp_path / "kg_pdf")
    r1 = run_webkg_pipeline(spark, src, out, extractor=PX.extract_any)
    assert not r1["stages"]["parse"]["skipped"]
    parsed = spark.read.parquet(r1["paths"]["parse"])
    assert parsed.filter("text = 'alice works with bob'").count() == 6

    r2 = run_webkg_pipeline(spark, src, out, extractor=PX.extract_any)
    assert r2["stages"]["parse"]["skipped"]

    # a different extractor invalidates the fingerprint → re-parse
    # (extract_pdf_text vs extract_any: different qualified name; the
    # pinned JVM default is HTML-only by design — its strict utf-8
    # decode is not meant for binary PDF bytes)
    r3 = run_webkg_pipeline(spark, src, out, extractor=PX.extract_pdf_text)
    assert not r3["stages"]["parse"]["skipped"]


def test_incremental_update_supersedes_stream_object():
    """r8 review: _scan_objects' stream-extent pass iterated every
    pending (num, val, start) including SUPERSEDED revisions, so an
    incremental update that redefined an object without a stream was
    overwritten by the earlier stream-bearing body — stale content
    resurrected. Last revision in file order must win outright."""
    data = (
        b"1 0 obj << /Length 5 >> stream\nhello\nendstream endobj\n"
        b"1 0 obj << /Replaced true >> endobj\n"
    )
    objects = PX._scan_objects(data)
    val, stream = objects[1]
    assert val == {"Replaced": True}
    assert stream is None
    # and when BOTH revisions carry streams, the newest stream wins
    data2 = (
        b"2 0 obj << /Length 3 >> stream\nold\nendstream endobj\n"
        b"2 0 obj << /Length 3 >> stream\nnew\nendstream endobj\n"
    )
    assert PX._scan_objects(data2)[2][1] == b"new"

