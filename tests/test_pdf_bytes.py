"""Real-PDF byte ingestion: the pure-Python parser vs the reference's own
golden fixtures (``/root/reference/tests/pipes/extractors/
blocks_ground_truth.py`` + ``tests/resources/*.pdf``), plus the
deterministic PDF generator round-trip.

The reference asserts coords with ``nested_approx(..., abs=5e-2)`` and
exact text (``tests/pipes/extractors/test_pdfminer.py:8-13``); the style
test asserts the exact (text-slice, style) pair set
(``tests/pipes/aggregators/test_simple.py:64-116``). Both are replicated
here from actual PDF bytes — no synthesized payloads.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

from edspdf_spark.kernel.payload import extract_doc
from edspdf_spark.kernel.pdf import PdfParseError, is_pdf, parse_pdf
from edspdf_spark.sources.pdfgen import make_pdf, paginate, split_lines

RESOURCES = Path("/root/reference/tests/resources")
GROUND_TRUTH = Path("/root/reference/tests/pipes/extractors/blocks_ground_truth.py")

# Only the tests that read the reference fixtures skip without them; the
# self-contained ones (generator round-trips, hand-built raw PDFs) always run.
needs_reference = pytest.mark.skipif(
    not RESOURCES.exists(), reason="reference fixtures not available"
)

_TEXTBOX_RE = re.compile(
    r"TextBox\(page_num=(\d+), x0=([\d.e-]+), x1=([\d.e-]+), "
    r"y0=([\d.e-]+), y1=([\d.e-]+), text=('.*?')\)",
    re.S,
)


def _golden(var: str):
    """Parse golden TextBox literals out of blocks_ground_truth.py without
    importing the reference package (edspdf is not installed here)."""
    src = GROUND_TRUTH.read_text()
    start = src.index(f"{var} = [")
    end = src.index("]", start)
    while src[start:end].count("(") != src[start:end].count(")"):
        end = src.index("]", end + 1)
    out = []
    for m in _TEXTBOX_RE.finditer(src[start:end]):
        out.append(
            (
                int(m.group(1)),
                float(m.group(2)),
                float(m.group(4)),
                float(m.group(3)),
                float(m.group(5)),
                ast.literal_eval(m.group(6)),
            )
        )
    return out  # (page_num, x0, y0, x1, y1, text)


def _extract(name: str):
    blocs, pages, error = extract_doc((RESOURCES / name).read_bytes())
    return blocs, pages, error


@needs_reference
@pytest.mark.parametrize(
    "name,var,n",
    [("test.pdf", "pdf_blocks", 41), ("styles.pdf", "styles_blocks", 2)],
)
def test_golden_blocks_from_real_bytes(name, var, n):
    golden = _golden(var)
    assert len(golden) == n
    blocs, _pages, error = _extract(name)
    assert not error
    assert len(blocs) == len(golden)
    for got, want in zip(blocs, golden):
        page, x0, y0, x1, y1, text = want
        assert got["page_num"] == page
        assert got["text"] == text
        for k, v in (("x0", x0), ("y0", y0), ("x1", x1), ("y1", y1)):
            assert abs(got[k] - v) < 5e-2, (k, got[k], v)


@needs_reference
def test_blank_pdf():
    blocs, pages, error = _extract("blank.pdf")
    assert not error
    assert len(pages) == 1
    assert blocs == []


@needs_reference
def test_error_pdf_sets_error_flag():
    blocs, pages, error = _extract("error.pdf")
    assert error and blocs == [] and pages == []
    with pytest.raises(PdfParseError):
        parse_pdf((RESOURCES / "error.pdf").read_bytes())


@needs_reference
def test_letter_pdf_extracts_text():
    blocs, pages, error = _extract("letter.pdf")
    assert not error
    assert len(pages) == 1 and abs(pages[0][1] - 595.32) < 0.01
    texts = [b["text"] for b in blocs]
    assert "Groupe Hospitalier Henri Mondor" in texts
    assert any("CRETEIL" in t for t in texts)


@needs_reference
def test_styles_pdf_style_pairs():
    """Exact (text-slice, style) set of the reference style test, derived
    from real styles.pdf bytes (test_simple.py:64-116)."""
    blocs, _pages, error = _extract("styles.pdf")
    assert not error
    pairs = set()
    for b in blocs:
        for p in b["props"]:
            style = " ".join(
                filter(
                    bool,
                    (
                        "italic" if p["italic"] else "",
                        "bold" if p["bold"] else "",
                    ),
                )
            )
            pairs.add((b["text"][p["begin"] : p["end"]], style))
    assert pairs == {
        ("This is a", ""),
        ("test", "bold"),
        ("to check EDS-PDF’s", ""),
        ("ability", "italic"),
        ("to detect changing styles.", ""),
        ("Let’s up the stakes, with", ""),
        ("intra", "italic"),
        ("-word change. Or better yet,", ""),
        ("this mi", "bold"),
        ("ght be hard.", ""),
    }


def test_generated_pdf_roundtrip():
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    lines = split_lines(text, 4)
    pdf = make_pdf(paginate(lines, 2))
    assert is_pdf(pdf)
    blocs, pages, error = extract_doc(pdf)
    assert not error
    assert [p[0] for p in pages] == [0, 1]
    assert [b["text"] for b in blocs] == lines
    assert [(b["page_num"], b["bloc_ord"]) for b in blocs] == [
        (0, 0),
        (0, 1),
        (1, 0),
    ]


def test_generated_pdf_aggregate_separators(spark):
    """6pt dy on a 5pt font → dy/median_height = 1.2 → '\\n' joins inside a
    page, page break → '\\n\\n' (reference simple.py:156-164)."""
    from edspdf_spark.operators import aggregate_simple, classify_dummy, extract_blocs
    from edspdf_spark.sources.pdfgen import documents_to_pdfs

    docs = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12")], ["doc_id", "text"]
    )
    pdfs = documents_to_pdfs(docs, words_per_line=2, lines_per_page=3)
    agg = (
        aggregate_simple(classify_dummy(extract_blocs(pdfs), "body"))
        .select("text")
        .collect()
    )
    assert agg[0]["text"] == "w1 w2\nw3 w4\nw5 w6\n\nw7 w8\nw9 w10\nw11 w12"


def test_fused_path_matches_composed_on_pdf_bytes(spark):
    from edspdf_spark.operators import (
        aggregate_simple,
        classify_mask,
        extract_blocs,
        run_pipeline_fused,
    )
    from edspdf_spark.sources.pdfgen import documents_to_pdfs

    docs = spark.createDataFrame(
        [(i, f"word{i} second third fourth fifth sixth seventh eighth ninth")
         for i in range(8)],
        ["doc_id", "text"],
    )
    pdfs = documents_to_pdfs(docs).cache()
    masks = [("body", 0.0, 0.0, 1.0, 1.0)]
    composed = (
        aggregate_simple(classify_mask(extract_blocs(pdfs), masks, threshold=0.1))
        .select("url", "label", "text")
        .collect()
    )
    fused = (
        run_pipeline_fused(pdfs, masks, threshold=0.1)
        .select("url", "label", "text")
        .collect()
    )
    assert sorted(map(tuple, composed)) == sorted(map(tuple, fused))
    pdfs.unpersist()


@needs_reference
def test_markdown_e2e_from_styles_pdf_bytes():
    """The reference's full-recipe E2E (tests/recipes/
    test_markdown_aggregator.py:39-61): real styles.pdf bytes → extract →
    mask-classify (x 0.1-0.9 / y 0.1-0.9, threshold 1.0) → markdown
    aggregate → EXACT output string. Line 1 clips the mask's top edge
    (y0≈0.093 < 0.1) so only line 2 is body — byte-identical to the
    reference assertion."""
    import numpy as np

    from edspdf_spark.kernel.aggregate import aggregate_doc
    from edspdf_spark.kernel.overlap import align_labels_kernel
    from edspdf_spark.operators.aggregate import to_markdown

    blocs, _pages, error = _extract("styles.pdf")
    assert not error and len(blocs) == 2

    src = np.array([[0.1, 0.9, 0.1, 0.9]])  # [x0, x1, y0, y1]
    dst = np.array([[b["x0"], b["x1"], b["y0"], b["y1"]] for b in blocs])
    idx = align_labels_kernel(src, dst, threshold=1.0)
    lines = [
        (
            b["page_num"], b["x0"], b["y0"], b["x1"], b["y1"], b["text"],
            [(p["italic"], p["bold"], p["begin"], p["end"], p["fontname"])
             for p in b["props"]],
            "body" if i == 0 else "pollution",
        )
        for b, i in zip(blocs, idx)
    ]
    agg = aggregate_doc(lines)
    text, props = agg["body"]
    md = to_markdown(
        text,
        [
            {"italic": it, "bold": bo, "begin": bg, "end": en}
            for (it, bo, bg, en, _fn) in props
        ],
    )
    assert md == (
        "Let’s up the stakes, with _intra_-word change. Or better yet, "
        "**this mi**ght be hard."
    )


@needs_reference
def test_render_pages_reference_image_shapes():
    """Deterministic rasterizer must reproduce the reference's pypdfium2
    image geometry (tests/pipes/extractors/test_pdfminer.py:16-22):
    test.pdf (2339, 1654, 3), styles.pdf (2200, 1700, 3), blank.pdf
    (2339, 1654, 3) at 200 dpi."""
    from edspdf_spark.operators.visualize import render_pages

    for name, shape in (
        ("test.pdf", (2339, 1654, 3)),
        ("styles.pdf", (2200, 1700, 3)),
        ("blank.pdf", (2339, 1654, 3)),
    ):
        imgs = render_pages((RESOURCES / name).read_bytes(), dpi=200)
        assert imgs, name
        assert imgs[0].shape == shape, (name, imgs[0].shape)
    # content sanity: text boxes darken pixels, blank page stays white
    imgs = render_pages((RESOURCES / "test.pdf").read_bytes(), dpi=200)
    assert (imgs[0] == 64).any()
    blank = render_pages((RESOURCES / "blank.pdf").read_bytes(), dpi=200)
    assert (blank[0] == 255).all()


def test_render_pages_overlay_outline():
    from edspdf_spark.operators.visualize import render_pages

    pdf = make_pdf([["hello world"]])
    rows = [
        {
            "page_num": 0,
            "color": "#1f77b4",
            "rect_x0": 100.0,
            "rect_y0": 100.0,
            "rect_x1": 300.0,
            "rect_y1": 200.0,
        }
    ]
    imgs = render_pages(pdf, overlay_rows=rows, dpi=72)
    img = imgs[0]
    assert tuple(img[100, 150]) == (0x1F, 0x77, 0xB4)  # top edge
    assert tuple(img[150, 100]) == (0x1F, 0x77, 0xB4)  # left edge
    assert tuple(img[150, 150]) == (255, 255, 255)  # interior untouched


class TestPdfRoundtripFuzz:
    """Property-based: arbitrary (sanitized) text → make_pdf → parse_pdf →
    extract must reproduce the generator's line layout exactly."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        st.lists(
            st.text(
                alphabet=st.characters(
                    whitelist_categories=("Lu", "Ll", "Nd", "Pc", "Pd"),
                    max_codepoint=0x2FF,
                ),
                min_size=1,
                max_size=12,
            ),
            min_size=1,
            max_size=40,
        ),
        st.integers(min_value=1, max_value=6),
        st.integers(min_value=1, max_value=5),
    )
    @settings(max_examples=60, deadline=None)
    def test_roundtrip(self, words, wpl, lpp):
        text = " ".join(words)
        lines = split_lines(text, wpl)
        blocs, pages, error = extract_doc(make_pdf(paginate(lines, lpp)))
        assert not error
        assert [b["text"] for b in blocs] == lines
        # page/ord layout must match the generator contract
        for i, b in enumerate(blocs):
            assert b["page_num"] == i // lpp
            assert b["bloc_ord"] == i % lpp


def _mutation_sweep(base: bytes, seed: int, trials: int) -> None:
    """Bit-flip / truncate / delete / splice ``base`` ``trials`` times: each
    mutant must come back as error=True (or parse), NEVER as a raw
    exception escaping into a Spark task."""
    import random

    rng = random.Random(seed)
    for _ in range(trials):
        b = bytearray(base)
        op = rng.randrange(4)
        if op == 0:
            for _ in range(rng.randrange(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
        elif op == 1:
            b = b[: rng.randrange(1, len(b))]
        elif op == 2:
            i = rng.randrange(len(b))
            j = min(len(b), i + rng.randrange(1, 400))
            del b[i:j]
        else:
            i = rng.randrange(len(b))
            j = min(len(b), i + rng.randrange(1, 200))
            b[i:i] = b[i:j]
        blocs, pages, error = extract_doc(bytes(b))  # must not raise
        assert isinstance(error, bool)


def test_mutated_pdf_bytes_never_escape_error_contract():
    """Poison-pill boundary on generated PDF bytes (8000-mutation sweep
    ran clean; this is the deterministic CI slice)."""
    base = make_pdf(paginate(split_lines("alpha beta gamma delta epsilon", 2), 2))
    _mutation_sweep(base, 1234, 150)


@needs_reference
def test_mutated_reference_pdf_bytes_never_escape_error_contract():
    """Same poison-pill sweep on the reference's styles.pdf bytes."""
    _mutation_sweep((RESOURCES / "styles.pdf").read_bytes(), 4321, 150)


@needs_reference
def test_letter_pdf_snapshot():
    """Regression pin for the parser on the most complex reference fixture
    (Word-produced: 9 fonts incl. Wingdings/Symbol Type0s; 48 non-empty
    grouped lines — re-pinned after Q began restoring the full text
    state like pdfminer, which merges the 'de l'APHP,' fragment into its
    visual header line)."""
    blocs, pages, error = _extract("letter.pdf")
    assert not error
    texts = [b["text"] for b in blocs]
    assert len(texts) == 48
    assert "Données de Santé de l’APHP, et du Docteur DEF," in texts
    assert texts.count("Pr ABC") == 7
    assert sum("a.bc@aphp.fr" in t for t in texts) == 7
    joined = " ".join(texts)
    for frag in (
        "Groupe Hospitalier Henri Mondor",
        "94010 CRETEIL Cedex",
        "SANTÉ PUBLIQUE",
        "51, Avenue du Mal de Lattre de",
    ):
        assert frag in joined, frag


def test_rotated_page_geometry():
    """/Rotate 90: page dims swap to landscape and the CTM maps content
    coords (x, y) → (y, W - x); rotated glyphs are non-upright and stack
    vertically (pdfminer detect_vertical=False groups them as separate
    one-char lines — replicated)."""
    import zlib

    from edspdf_spark.kernel.pdf import parse_pdf

    content = b"BT /F1 10 Tf 1 0 0 1 100 700 Tm <00480069> Tj ET"
    comp = zlib.compress(content)
    tou = zlib.compress(b"1 beginbfrange <0000> <FFFF> <0000> endbfrange")
    objs = [
        b"<</Filter/FlateDecode/Length %d>>\nstream\n%s\nendstream" % (len(comp), comp),
        b"<</Type/FontDescriptor/FontName/F/Flags 4/FontBBox[0 -200 500 800]"
        b"/ItalicAngle 0/Ascent 800/Descent -200/StemV 80>>",
        b"<</Type/Font/Subtype/CIDFontType2/BaseFont/F"
        b"/CIDSystemInfo<</Registry(Adobe)/Ordering(Identity)/Supplement 0>>"
        b"/FontDescriptor 2 0 R/DW 500/CIDToGIDMap/Identity>>",
        b"<</Filter/FlateDecode/Length %d>>\nstream\n%s\nendstream" % (len(tou), tou),
        b"<</Type/Font/Subtype/Type0/BaseFont/F/Encoding/Identity-H"
        b"/DescendantFonts[3 0 R]/ToUnicode 4 0 R>>",
        b"<</Type/Page/Parent 7 0 R/MediaBox[0 0 612 792]/Rotate 90"
        b"/Resources<</Font<</F1 5 0 R>>>>/Contents 1 0 R>>",
        b"<</Type/Pages/Kids[6 0 R]/Count 1>>",
        b"<</Type/Catalog/Pages 7 0 R>>",
    ]
    out = bytearray(b"%PDF-1.5\n")
    offsets = [0]
    for i, b in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + b + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<</Size %d/Root 8 0 R>>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref,
    )

    pages, lines = parse_pdf(bytes(out))
    assert pages == [(0, 792.0, 612.0)]  # landscape swap
    assert [l[5][0][2] for l in lines] == ["H", "i"]
    (hx0, hy0, hx1, hy1) = lines[0][1:5]
    assert abs(hx0 - 698.0) < 1e-6 and abs(hy1 - 512.0) < 1e-6  # (y, W - x)
    assert lines[0][5][0][1] is False  # rotated glyph → not upright


def test_unsupported_cmap_is_poison_pill_not_empty_doc():
    """PdfParseError raised mid-content-stream (e.g. Tf resolving a
    non-Identity CMap) must propagate as the documented error=True
    sentinel — the op loop's (TypeError, ValueError) tolerance used to
    eat it (PdfParseError IS a ValueError) and emit the doc as silently
    EMPTY with error=False."""
    pdf = make_pdf([["hello world"]])
    bad = pdf.replace(b"/Encoding/Identity-H", b"/Encoding/Identity-Q")
    assert bad != pdf
    with pytest.raises(PdfParseError):
        parse_pdf(bad)
    blocs, pages, error = __import__(
        "edspdf_spark.kernel.payload", fromlist=["extract_doc_raw"]
    ).extract_doc_raw(bad)
    assert error is True and blocs == []


def _raw_pdf(content: bytes, rotate: int = 0) -> bytes:
    """Minimal raw Type0/Identity-H one-page PDF around ``content``."""
    import zlib

    comp = zlib.compress(content)
    tou = zlib.compress(b"1 beginbfrange <0000> <FFFF> <0000> endbfrange")
    objs = [
        b"<</Filter/FlateDecode/Length %d>>\nstream\n%s\nendstream" % (len(comp), comp),
        b"<</Type/FontDescriptor/FontName/F/Flags 4/FontBBox[0 -200 500 800]"
        b"/ItalicAngle 0/Ascent 800/Descent -200/StemV 80>>",
        b"<</Type/Font/Subtype/CIDFontType2/BaseFont/F"
        b"/CIDSystemInfo<</Registry(Adobe)/Ordering(Identity)/Supplement 0>>"
        b"/FontDescriptor 2 0 R/DW 500/CIDToGIDMap/Identity>>",
        b"<</Filter/FlateDecode/Length %d>>\nstream\n%s\nendstream" % (len(tou), tou),
        b"<</Type/Font/Subtype/Type0/BaseFont/F/Encoding/Identity-H"
        b"/DescendantFonts[3 0 R]/ToUnicode 4 0 R>>",
        b"<</Type/Page/Parent 7 0 R/MediaBox[0 0 612 792]/Rotate %d"
        b"/Resources<</Font<</F1 5 0 R>>>>/Contents 1 0 R>>" % rotate,
        b"<</Type/Pages/Kids[6 0 R]/Count 1>>",
        b"<</Type/Catalog/Pages 7 0 R>>",
    ]
    out = bytearray(b"%PDF-1.5\n")
    offsets = [0]
    for i, b in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + b + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<</Size %d/Root 8 0 R>>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref,
    )
    return bytes(out)


def test_q_restores_text_state():
    """Q restores the full text state (font/size/charspace), matching
    pdfminer's get_current_state — a Tf/Tc inside q…Q must not leak past
    the restore and shift glyph sizes/advances."""
    from edspdf_spark.kernel.pdf import parse_pdf

    base = _raw_pdf(b"BT /F1 10 Tf 1 0 0 1 100 700 Tm <00480069> Tj ET")
    wrapped = _raw_pdf(
        b"q BT /F1 10 Tf 1 0 0 1 100 700 Tm q /F1 99 Tf 7 Tc 2 Tw Q"
        b" <00480069> Tj ET Q"
    )
    a = parse_pdf(base)
    b = parse_pdf(wrapped)
    assert a[1] and a == b


# --- encrypted / inline-image corpus-resilience fixtures ---------------------
# Independent test-side RC4 + key-schedule implementation (PDF 32000-1
# §7.6.3, public spec) so the fixtures don't certify the kernel with its
# own code.

_TPAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _t_rc4(key, data):
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for c in data:
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out.append(c ^ s[(s[i] + s[j]) & 0xFF])
    return bytes(out)


def _encrypted_pdf(content: bytes, r: int = 3, user_pw: bytes = b"") -> bytes:
    """The `_raw_pdf` document, RC4-encrypted per the standard security
    handler (revision ``r`` ∈ {2, 3}) with owner-restriction-only
    permissions: user password ``user_pw`` (empty = openable by anyone)."""
    import hashlib
    import struct
    import zlib

    file_id = bytes(range(16))
    o_entry = bytes(range(32, 64))  # arbitrary: owner pw never validated
    p = -44
    n = 5 if r == 2 else 16
    length = 40 if r == 2 else 128

    padded = (user_pw + _TPAD)[:32]
    key = hashlib.md5(
        padded + o_entry + struct.pack("<i", p) + file_id
    ).digest()[:n]
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()[:n]
    if r == 2:
        u_entry = _t_rc4(key, _TPAD)
    else:
        x = _t_rc4(key, hashlib.md5(_TPAD + file_id).digest())
        for i in range(1, 20):
            x = _t_rc4(bytes(b ^ i for b in key), x)
        u_entry = x + b"\x00" * 16

    def objkey(num):
        return hashlib.md5(
            key + num.to_bytes(3, "little") + b"\x00\x00"
        ).digest()[: min(n + 5, 16)]

    comp = _t_rc4(objkey(1), zlib.compress(content))
    tou = _t_rc4(
        objkey(4),
        zlib.compress(b"1 beginbfrange <0000> <FFFF> <0000> endbfrange"),
    )
    hx = lambda b: b"<" + b.hex().encode() + b">"
    objs = [
        b"<</Filter/FlateDecode/Length %d>>\nstream\n%s\nendstream" % (len(comp), comp),
        b"<</Type/FontDescriptor/FontName/F/Flags 4/FontBBox[0 -200 500 800]"
        b"/ItalicAngle 0/Ascent 800/Descent -200/StemV 80>>",
        b"<</Type/Font/Subtype/CIDFontType2/BaseFont/F"
        b"/CIDSystemInfo<</Registry(Adobe)/Ordering(Identity)/Supplement 0>>"
        b"/FontDescriptor 2 0 R/DW 500/CIDToGIDMap/Identity>>",
        b"<</Filter/FlateDecode/Length %d>>\nstream\n%s\nendstream" % (len(tou), tou),
        b"<</Type/Font/Subtype/Type0/BaseFont/F/Encoding/Identity-H"
        b"/DescendantFonts[3 0 R]/ToUnicode 4 0 R>>",
        b"<</Type/Page/Parent 7 0 R/MediaBox[0 0 612 792]"
        b"/Resources<</Font<</F1 5 0 R>>>>/Contents 1 0 R>>",
        b"<</Type/Pages/Kids[6 0 R]/Count 1>>",
        b"<</Type/Catalog/Pages 7 0 R>>",
        b"<</Filter/Standard/V %d/R %d/Length %d/P %d/O %s/U %s>>"
        % (1 if r == 2 else 2, r, length, p, hx(o_entry), hx(u_entry)),
    ]
    out = bytearray(b"%PDF-1.5\n")
    offsets = [0]
    for i, b in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + b + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<</Size %d/Root 8 0 R/Encrypt 9 0 R/ID[%s %s]>>\n"
        b"startxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, hx(file_id), hx(file_id), xref)
    )
    return bytes(out)


_ENC_CONTENT = b"BT /F1 10 Tf 1 0 0 1 100 700 Tm <00480069> Tj ET"


@pytest.mark.parametrize("r", [2, 3])
def test_rc4_empty_password_pdf_extracts_text(r):
    """An RC4-encrypted viewer-restriction PDF (empty user password, the
    common crawl case) must extract the SAME text as its unencrypted
    twin instead of dying to error=True."""
    from edspdf_spark.kernel.pdf import parse_pdf

    plain = parse_pdf(_raw_pdf(_ENC_CONTENT))
    enc = parse_pdf(_encrypted_pdf(_ENC_CONTENT, r=r))
    assert enc == plain
    assert "".join(t for ln in enc[1] for _, _, t in ln[5]) == "Hi"


def test_rc4_real_password_pdf_stays_declared_gap():
    """A REAL user password can't be opened — must raise PdfParseError
    (→ error=True downstream), never emit garbage text."""
    from edspdf_spark.kernel.pdf import PdfParseError, parse_pdf

    with pytest.raises(PdfParseError, match="password"):
        parse_pdf(_encrypted_pdf(_ENC_CONTENT, r=3, user_pw=b"secret"))


def test_aes_encrypted_pdf_stays_declared_gap():
    """AES (/V 4 /R 4) stays a declared gap: raise, don't garble."""
    from edspdf_spark.kernel.pdf import PdfParseError, parse_pdf

    data = _encrypted_pdf(_ENC_CONTENT, r=3).replace(
        b"/V 2/R 3", b"/V 4/R 4"
    )
    with pytest.raises(PdfParseError, match="unsupported encryption"):
        parse_pdf(data)


def test_inline_image_content_keeps_surrounding_text():
    """A BI…ID…EI inline image (with a false-positive 'EI' inside the
    binary pixel data) must be skipped without losing the text operators
    on either side of it."""
    from edspdf_spark.kernel.pdf import parse_pdf

    content = (
        b"BT /F1 10 Tf 1 0 0 1 100 700 Tm <00480069> Tj ET "
        b"q BI /W 2 /H 2 /CS /RGB /BPC 8 ID \x00\x11\x22EI\x99\xfe\x01 EI Q "
        b"BT /F1 10 Tf 1 0 0 1 100 650 Tm <004f006b> Tj ET"
    )
    pages, lines = parse_pdf(_raw_pdf(content))
    texts = ["".join(t for _, _, t in ln[5]) for ln in lines]
    assert texts == ["Hi", "Ok"]


def test_rc4_encrypt_dict_in_xref_stream_trailer():
    """Hybrid/xref-stream files carry /Encrypt in the XRef stream dict
    instead of a classic trailer — the fallback scan must find it (and
    never try to RC4 the XRef stream itself)."""
    import re
    import struct as _struct

    from edspdf_spark.kernel.pdf import parse_pdf

    data = _encrypted_pdf(_ENC_CONTENT, r=3)
    # strip /Encrypt + /ID from the classic trailer...
    stripped = re.sub(
        rb"trailer\n<</Size (\d+)/Root 8 0 R/Encrypt 9 0 R/ID\[[^\]]*\]>>",
        rb"trailer\n<</Size \1/Root 8 0 R>>",
        data,
    )
    assert stripped != data
    # ...and graft an XRef-typed stream object carrying them instead
    file_id = bytes(range(16))
    xref_obj = (
        b"10 0 obj\n<</Type/XRef/Encrypt 9 0 R/ID[<" + file_id.hex().encode()
        + b"> <" + file_id.hex().encode() + b">]/Length 1>>\n"
        b"stream\nx\nendstream\nendobj\n"
    )
    patched = stripped.replace(b"trailer\n", xref_obj + b"trailer\n")
    plain = parse_pdf(_raw_pdf(_ENC_CONTENT))
    assert parse_pdf(patched) == plain
