"""Bit-exactness pins for the PDF glyph pipeline (:mod:`edspdf_spark.kernel.pdf`).

Two independent checks:

* a committed snapshot (``tests/data/pdf_parse_snapshot.json``) of
  ``parse_pdf`` and ``extract_doc_raw`` over a self-contained corpus:
  generated documents, the raw fixtures of ``test_pdf_bytes`` and
  hand-written content streams covering what the generator never emits
  (TJ kerning, ``Tc``/``Tw``/``Tz``/``Ts``, ``Td``/``TD``/``T*``/``'``/``"``
  chains, a simple WinAnsi font with ``/Widths``, odd-length Identity-H
  strings, a shearing ``cm``, numerals large enough to make inf/NaN
  geometry). Every float is stored as ``float.hex``; equality is exact.
* a Hypothesis property test against a scalar, per-glyph replica of the
  pdfminer ``render_string`` / ``group_objects`` / word-margin semantics
  written here, independently of the kernel's column pass.

Regenerate the snapshot (only from a tree whose interpreter is trusted)::

    PYTHONPATH=. python tests/test_pdf_glyph_exact.py --write
"""

from __future__ import annotations

import json
import random
import sys
import zlib
from pathlib import Path

from hypothesis import given, settings
from hypothesis import strategies as st

from edspdf_spark.kernel.payload import extract_doc_raw
from edspdf_spark.kernel.pdf import PdfParseError, parse_pdf
from edspdf_spark.kernel.style import fold_runs
from edspdf_spark.sources.pdfgen import make_pdf, paginate, split_lines

sys.path.insert(0, str(Path(__file__).parent))
from test_pdf_bytes import _ENC_CONTENT, _encrypted_pdf, _raw_pdf  # noqa: E402

SNAPSHOT = Path(__file__).parent / "data" / "pdf_parse_snapshot.json"

# A decimal numeral past float64's range: float() turns it into inf.
BIG = b"9" * 330 + b".5"
# An integer operand too large for a float: int * float raises.
HUGE_INT = b"1" + b"0" * 400


# --------------------------------------------------------------------------
# fixture documents

_IDENTITY_TOU = b"1 beginbfrange <0000> <FFFF> <0000> endbfrange"
_F3_TOU = (
    b"3 beginbfchar <0066> <00660069> <0067> <00660066006C> <0021> <> endbfchar\n"
    b"3 beginbfrange <0041> <0043> [<0391> <0392>] "
    b"<0100> <01FF> <D835DC00> <0200> <0201> <D835FFFF> endbfrange\n"
    b"1 beginbfrange <0000> <00FF> <0000> endbfrange"
)
_F2_WIDTHS = b" ".join(
    b"%d" % (250 + (c * 37) % 500) for c in range(32, 127)
)


def _stream(body: bytes) -> bytes:
    comp = zlib.compress(body)
    return b"<</Filter/FlateDecode/Length %d>>\nstream\n%s\nendstream" % (
        len(comp), comp,
    )


def _fixture_pdf(pages, rotate: int = 0, mediabox: bytes = b"0 0 612 792") -> bytes:
    """One- or multi-page PDF whose pages share four fonts:

    * ``/F1`` Type0 Identity-H, ``/DW 500``, identity ToUnicode;
    * ``/F2`` simple TrueType (WinAnsi, ``/FirstChar 32`` ``/Widths``,
      ``/MissingWidth 250``) named ``Helvetica-Bold``;
    * ``/F3`` Type0 Identity-H named ``Times-Italic`` with a ``/W`` array
      (one entry past float range) and a ToUnicode with multi-char,
      empty, array and surrogate-prefix mappings;
    * ``/F4`` Type1 with a MacRoman ``/Differences`` encoding and one
      infinite width.
    """
    objs = [
        b"<</Type/FontDescriptor/FontName/F/Flags 4/Descent -200>>",  # 1
        b"<</Type/Font/Subtype/CIDFontType2/BaseFont/F/FontDescriptor 1 0 R"
        b"/DW 500>>",  # 2
        _stream(_IDENTITY_TOU),  # 3
        b"<</Type/Font/Subtype/Type0/BaseFont/F/Encoding/Identity-H"
        b"/DescendantFonts[2 0 R]/ToUnicode 3 0 R>>",  # 4
        b"<</Type/FontDescriptor/FontName/Helvetica-Bold/Descent -210"
        b"/MissingWidth 250>>",  # 5
        b"<</Type/Font/Subtype/TrueType/BaseFont/Helvetica-Bold/FirstChar 32"
        b"/LastChar 126/Widths[%s]/FontDescriptor 5 0 R"
        b"/Encoding/WinAnsiEncoding>>" % _F2_WIDTHS,  # 6
        b"<</Type/Font/Subtype/CIDFontType2/BaseFont/Times-Italic"
        b"/FontDescriptor<</Descent -300>>/DW 700"
        b"/W[65[600 650.25 %s] 100 120 333 32[275]]>>" % BIG,  # 7
        _stream(_F3_TOU),  # 8
        b"<</Type/Font/Subtype/Type0/BaseFont/Times-Italic/Encoding/Identity-H"
        b"/DescendantFonts[7 0 R]/ToUnicode 8 0 R>>",  # 9
        b"<</Type/Font/Subtype/Type1/BaseFont/Courier-Oblique/FirstChar 97"
        b"/Widths[600 %s 600 0 -600]/FontDescriptor<</Descent -150>>"
        b"/Encoding<</BaseEncoding/MacRomanEncoding"
        b"/Differences[97/fi/fl 128/Euro]>>>>" % BIG,  # 10
    ]
    resources = b"<</Font<</F1 4 0 R/F2 6 0 R/F3 9 0 R/F4 10 0 R>>>>"
    n_fixed = len(objs)
    pages_num = n_fixed + 2 * len(pages) + 1
    kids = []
    for i, content in enumerate(pages):
        objs.append(_stream(content))
        objs.append(
            b"<</Type/Page/Parent %d 0 R/MediaBox[%s]/Rotate %d"
            b"/Resources%s/Contents %d 0 R>>"
            % (pages_num, mediabox, rotate, resources, n_fixed + 2 * i + 1)
        )
        kids.append(b"%d 0 R" % (n_fixed + 2 * i + 2))
    objs.append(b"<</Type/Pages/Kids[%s]/Count %d>>" % (b" ".join(kids), len(pages)))
    objs.append(b"<</Type/Catalog/Pages %d 0 R>>" % pages_num)
    out = bytearray(b"%PDF-1.5\n")
    offsets = []
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<</Size %d/Root %d 0 R>>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, len(objs), xref,
    )
    return bytes(out)


def _words(rng: random.Random, n: int) -> str:
    alphabet = "abcdefghijklmnopqrstuvwxyzÀÉîõüßçøΩЖ-_0123456789"
    return " ".join(
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 9)))
        for _ in range(n)
    )


_HAND_STREAMS = {
    "kerning_tj": [
        b"BT /F1 10 Tf 100 700 Td [<00480065> -250 <006c006c> 120.5 <006f>] TJ"
        b" [-300 <0041> 200] TJ <0042> Tj [<0043> 1200 <0044>] TJ ET"
        b" BT /F2 12 Tf 100 600 Td [(Ke) -80 (rn) 40 (ed) -1000 (far)] TJ ET"
    ],
    "text_state": [
        b"BT /F2 12 Tf 2 Tc 3 Tw 80 Tz 4 Ts 72 650 Td (Hello world, a b) Tj"
        b" -1.5 Tc 0 Tw 120 Tz -2 Ts (Next one) Tj ET"
        b" BT /F1 9 Tf 0.5 Tc 7 Tw 50 Tz 72 600 Td <0041002000420020> Tj ET"
    ],
    "td_chains": [
        b"BT /F2 11 Tf 14 TL 72 700 Td (First ) Tj (chained) Tj 0 -14 Td"
        b" (second) Tj T* (third) Tj (fourth) ' 5 1 (fifth) \" 20 -30 TD"
        b" (sixth) Tj T* (seventh) Tj (eighth) Tj ET"
    ],
    "winansi_tw": [
        b"BT /F2 10 Tf 6 Tw 50 500 Td (a b  c   d) Tj ET"
        b" BT /F2 10 Tf -4 Tw 50 480 Td (w x y z \\251\\200\\237 ~) Tj ET"
        b" BT /F4 10 Tf 50 460 Td (abcdea) Tj ET"
    ],
    "odd_identity": [
        b"BT /F1 10 Tf 100 600 Td <004800> Tj <00480069 00> Tj <41> Tj <> Tj"
        b" () Tj ET BT /F3 10 Tf 100 580 Td <0041004200430044 0066006700> Tj"
        b" <0100 01ff 0021 0061> Tj ET"
    ],
    "shear_cm": [
        b"q 1 0.3 0.2 1 10 20 cm BT /F1 10 Tf 100 700 Td"
        b" <00480065006c006c006f> Tj ET Q q 0.8 -0.1 0.4 1.1 -5 7 cm"
        b" BT /F2 9 Tf 80 300 Td (sheared text here) Tj ET Q"
        b" q 2 0 0 0.5 0 0 cm BT /F3 8 Tf 40 900 Td <0065006600670068> Tj ET Q"
    ],
    "inf_nan": [
        b"BT /F1 10 Tf 1 0 0 1 " + BIG + b" 700 Tm <0041> Tj ET"
        b" BT /F1 10 Tf 1 0 0 1 -" + BIG + b" 690 Tm <0041> Tj ET"
        b" BT /F1 10 Tf " + BIG + b" Tc 100 600 Td [<0041> 1 <0042>] TJ ET"
        b" BT /F1 10 Tf 100 550 Td [<0041> " + BIG + b" <0042> -" + BIG
        + b" <0043>] TJ ET"
        b" BT /F1 10 Tf " + BIG + b" 0 0 1 0 0 Tm <00410042> Tj ET"
        b" BT /F4 10 Tf 100 400 Td (abcab) Tj ET"
        b" BT /F3 10 Tf 100 380 Td <0041004200430044> Tj ET"
        b" BT /F2 10 Tf " + BIG + b" Tz 100 360 Td (x y) Tj ET"
        b" BT /F2 10 Tf " + BIG + b" Ts 100 340 Td (rise) Tj ET"
        b" BT /F2 10 Tf 1 " + BIG + b" 0 1 100 320 Tm (skew) Tj ET"
    ],
    "q_in_text": [
        b"BT /F1 10 Tf 100 700 Td <0041> Tj q <0042> Tj Q <0043> Tj"
        b" q /F2 20 Tf 3 Tc Q <0044> Tj ET"
        b" BT /F1 10 Tf 100 650 Td <0045> Tj q 0 -10 Td <0046> Tj Q <0047> Tj"
        b" q q <0048> Tj Q <0049> Tj Q <004a> Tj ET"
    ],
    "mixed_fonts_line": [
        b"BT /F1 10 Tf 100 700 Td <00480069> Tj /F2 10 Tf ( there) Tj"
        b" /F3 10 Tf <00660041> Tj /F1 10 Tf <0021> Tj ET"
        b" BT /F2 10 Tf 100 680 Td (left) Tj 30 0 Td (gap) Tj /F1 10 Tf"
        b" 40 0 Td <0041> Tj /F3 10 Tf 5 0 Td <0042> Tj ET"
    ],
    "rotated_text": [
        b"BT /F1 10 Tf 0 1 -1 0 300 300 Tm <00480069> Tj ET"
        b" BT /F2 10 Tf -1 0 0 -1 400 400 Tm (upside) Tj ET"
        b" BT /F2 10 Tf 1 0 0 -1 100 100 Tm (mirror) Tj ET"
        b" BT /F2 10 Tf 0 -1 1 0 500 500 Tm (down) Tj ET"
    ],
    "zeros": [
        b"BT /F1 10 Tf 0 0 Td <0041> Tj ET"
        b" BT /F1 10 Tf -1 0 0 1 -0.0 0 Tm <0042> Tj ET"
        b" BT /F1 0 Tf 1 0 0 1 50 50 Tm <0043> Tj ET"
        b" BT /F1 10 Tf 1 0 0 1 -0.0 -0.0 Tm [-0.0 <0044>] TJ ET"
        b" BT /F2 -10 Tf 1 0 0 1 80 80 Tm (neg size) Tj ET"
        b" BT /F1 10 Tf 5 Ts -1 0 -0.0 -1 -0.0 -0.0 Tm <0045> Tj ET"
    ],
    # one line holding a glyph whose right edge is +0.0 and one whose right
    # edge is -0.0: the line's x1 is the FIRST zero (Python max), either order
    "signed_zero_line": [
        b"BT /F1 10 Tf 5 Ts 1 0 0 1 -5 -116 Tm <0041> Tj"
        b" -1 0 -0.0 -1 -0.0 -100 Tm <0042> Tj ET"
        b" BT /F1 10 Tf 5 Ts -1 0 -0.0 -1 -0.0 -300 Tm <0043> Tj"
        b" 1 0 0 1 -5 -316 Tm <0044> Tj ET"
    ],
    "junk_operands": [
        b"BT /F1 10 Tf 100 700 Td [(ab) /N <0041> [1] true 5 null <0042>] TJ"
        b" 7 Tj /Nope 10 Tf <0041> Tj /F1 10 Tf (x) Tj 3 ' /N Tc (y) Tj"
        b" 1 /N (z) \" (after) Tj ET"
    ],
    "huge_int_kern": [
        b"BT /F1 10 Tf 100 700 Td [<0041> " + HUGE_INT + b" <0042>] TJ ET"
    ],
    "surrogate_overflow": [
        b"BT /F3 10 Tf 100 700 Td <01000101> Tj <0200> Tj <0201> Tj ET"
    ],
    "multipage": [
        b"BT /F1 10 Tf 14 TL 72 720 Td <0041> Tj T* <0042> Tj ET",
        b"BT /F2 10 Tf 72 720 Td (Page two) Tj 0 -12 Td (line) Tj ET",
        b"",
    ],
}


def snapshot_corpus():
    """(name, pdf bytes) pairs — every document is built from code here."""
    out = []
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        lines = split_lines(_words(rng, 40 * seed), rng.randint(2, 6))
        out.append((f"make_pdf_seed{seed}", make_pdf(paginate(lines, 4 + seed))))
    rot = (
        b"BT /F1 10 Tf 1 0 0 1 100 700 Tm <00480069> Tj"
        b" 1 0 0 1 100 680 Tm <00410042> Tj ET"
    )
    for r in (90, 180, 270):
        out.append((f"rotate{r}", _raw_pdf(rot, rotate=r)))
    out.append(
        (
            "q_restores",
            _raw_pdf(
                b"q BT /F1 10 Tf 1 0 0 1 100 700 Tm q /F1 99 Tf 7 Tc 2 Tw Q"
                b" <00480069> Tj ET Q"
            ),
        )
    )
    for r in (2, 3):
        out.append((f"rc4_r{r}", _encrypted_pdf(_ENC_CONTENT, r=r)))
    out.append(
        (
            "inline_image",
            _raw_pdf(
                b"BT /F1 10 Tf 1 0 0 1 100 700 Tm <00480069> Tj ET "
                b"q BI /W 2 /H 2 /CS /RGB /BPC 8 ID \x00\x11\x22EI\x99\xfe\x01 EI Q "
                b"BT /F1 10 Tf 1 0 0 1 100 650 Tm <004f006b> Tj ET"
            ),
        )
    )
    for name, pages in _HAND_STREAMS.items():
        out.append((name, _fixture_pdf(pages)))
    out.append(("td_chains_rot90", _fixture_pdf(_HAND_STREAMS["td_chains"], rotate=90)))
    out.append(
        (
            "mixed_offset_mediabox",
            _fixture_pdf(_HAND_STREAMS["mixed_fonts_line"], mediabox=b"-20 10 600 800"),
        )
    )
    return out


def _hex(v: float) -> str:
    return float(v).hex()


def describe(data: bytes) -> dict:
    """JSON-ready, float-exact image of parse_pdf + extract_doc_raw."""
    try:
        pages, lines = parse_pdf(data)
        parsed = {
            "pages": [[p, _hex(w), _hex(h)] for p, w, h in pages],
            "lines": [
                [pn, [_hex(x0), _hex(y0), _hex(x1), _hex(y1)], list(fold_runs(runs))]
                for pn, x0, y0, x1, y1, runs in lines
            ],
        }
    except PdfParseError:
        parsed = "error"
    blocs, pages, error = extract_doc_raw(data)
    raw = {
        "error": error,
        "pages": [[p, _hex(w), _hex(h)] for p, w, h in pages],
        "blocs": [
            [pn, ordinal, _hex(x0), _hex(y0), _hex(x1), _hex(y1), text, props]
            for pn, ordinal, x0, y0, x1, y1, text, props in blocs
        ],
    }
    return json.loads(json.dumps({"parse_pdf": parsed, "extract_doc_raw": raw}))


def test_parse_matches_committed_snapshot():
    want = json.loads(SNAPSHOT.read_text())
    corpus = snapshot_corpus()
    assert [name for name, _ in corpus] == list(want)
    for name, data in corpus:
        assert describe(data) == want[name], name


def test_snapshot_holds_when_every_page_flushes_the_log(monkeypatch):
    """Giant documents flush the glyph log at page boundaries; output must
    not depend on where the batches break."""
    from edspdf_spark.kernel import pdf

    monkeypatch.setattr(pdf, "_LOG_FLUSH_ELEMENTS", 0)
    want = json.loads(SNAPSHOT.read_text())
    for name, data in snapshot_corpus():
        assert describe(data) == want[name], name


def test_snapshot_corpus_reaches_the_edge_cases():
    """Guard the snapshot's coverage: it must contain poison pills, NaN
    and infinite geometry, signed zeros and multi-run lines."""
    want = json.loads(SNAPSHOT.read_text())
    assert want["huge_int_kern"]["parse_pdf"] == "error"
    assert want["surrogate_overflow"]["parse_pdf"] == "error"
    coords = [
        c
        for case in want.values()
        if case["parse_pdf"] != "error"
        for line in case["parse_pdf"]["lines"]
        for c in line[1]
    ]
    for needle in ("nan", "inf", "-inf", "0x0.0p+0", "-0x0.0p+0"):
        assert needle in coords, needle
    assert any(
        len(line[2][1]) > 1
        for case in want.values()
        if case["parse_pdf"] != "error"
        for line in case["parse_pdf"]["lines"]
    )


# --------------------------------------------------------------------------
# scalar replica: one glyph at a time, exactly the pdfminer-derived loop


def _mult(m1, m0):
    a1, b1, c1, d1, e1, f1 = m1
    a0, b0, c0, d0, e0, f0 = m0
    return (
        a1 * a0 + b1 * c0,
        a1 * b0 + b1 * d0,
        c1 * a0 + d1 * c0,
        c1 * b0 + d1 * d0,
        e1 * a0 + f1 * c0 + e0,
        e1 * b0 + f1 * d0 + f0,
    )


def _replica_page_chars(doc, page, ctm):
    from edspdf_spark.kernel.pdf import _tokenize_content

    fonts_res = doc.get(doc.get(page, "Resources") or {}, "Font") or {}
    st_ = dict(font=None, size=0.0, tc=0.0, tw=0.0, tz=100.0, tl=0.0, ts=0.0,
               tm=(1.0, 0.0, 0.0, 1.0, 0.0, 0.0), x=0.0)
    stack, args, chars = [], [], []

    def show(seq):
        font = st_["font"]
        if font is None:
            return
        a, b, c, d, e, f = _mult(st_["tm"], ctm)
        size = st_["size"]
        scaling = st_["tz"] * 0.01
        charspace = st_["tc"] * scaling
        wordspace = 0.0 if font.multibyte else st_["tw"] * scaling
        dxscale = 0.001 * size * scaling
        descent = font.descent * size
        upright = (0 < a * d * scaling) and (b * c <= 0)
        x, y = st_["x"], 0.0
        need = False
        for obj in seq:
            if isinstance(obj, (int, float)):
                x -= obj * dxscale
                need = True
                continue
            if not isinstance(obj, bytes):
                continue
            if font.multibyte:
                cids = [
                    (obj[i] << 8) | (obj[i + 1] if i + 1 < len(obj) else 0)
                    for i in range(0, len(obj), 2)
                ]
            else:
                cids = list(obj)
            for cid in cids:
                if need:
                    x += charspace
                adv = font.widths.get(cid, font.default_width) * 0.001 * size * scaling
                # LTChar: bbox (0, descent+rise)-(adv, descent+rise+size)
                # through translate(matrix, (x, y)) — same association order
                tx, ty = x * a + y * c + e, x * b + y * d + f
                p0 = (a * 0.0 + c * (descent + st_["ts"]) + tx,
                      b * 0.0 + d * (descent + st_["ts"]) + ty)
                p1 = (a * adv + c * (descent + st_["ts"] + size) + tx,
                      b * adv + d * (descent + st_["ts"] + size) + ty)
                x0, x1 = (p0[0], p1[0]) if p0[0] <= p1[0] else (p1[0], p0[0])
                y0, y1 = (p0[1], p1[1]) if p0[1] <= p1[1] else (p1[1], p0[1])
                text = font.char_text(cid)
                chars.append((x0, y0, x1, y1, text, font.fontname, upright))
                x += adv
                if cid == 32 and wordspace:
                    x += wordspace
                need = True
        st_["x"] = x

    def newline(tx, ty):
        st_["tm"] = _mult((1, 0, 0, 1, tx, ty), st_["tm"])
        st_["x"] = 0.0

    for kind, val in _tokenize_content(doc.content_bytes(page)):
        if kind == "operand":
            args.append(val)
            continue
        try:
            if val == "q":
                stack.append((ctm, dict(st_)))
            elif val == "Q":
                if stack:
                    ctm, st_ = stack.pop()
            elif val == "cm" and len(args) >= 6:
                ctm = _mult(tuple(float(v) for v in args[-6:]), ctm)
            elif val == "BT":
                st_["tm"] = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
                st_["x"] = 0.0
            elif val == "Tf" and len(args) >= 2:
                st_["size"] = float(args[-1])
                ref = fonts_res.get(args[-2]) if isinstance(fonts_res, dict) else None
                st_["font"] = doc.font(ref) if ref is not None else None
            elif val == "Td" and len(args) >= 2:
                newline(float(args[-2]), float(args[-1]))
            elif val == "TD" and len(args) >= 2:
                st_["tl"] = -float(args[-1])
                newline(float(args[-2]), float(args[-1]))
            elif val == "Tm" and len(args) >= 6:
                st_["tm"] = tuple(float(v) for v in args[-6:])
                st_["x"] = 0.0
            elif val == "T*":
                newline(0.0, -st_["tl"])
            elif val in ("TL", "Tc", "Tw", "Tz", "Ts") and args:
                st_[val.lower()] = float(args[-1])
            elif val == "Tj" and args:
                show([args[-1]])
            elif val == "TJ" and args and isinstance(args[-1], list):
                show(args[-1])
            elif val == "'" and args:
                newline(0.0, -st_["tl"])
                show([args[-1]])
            elif val == '"' and len(args) >= 3:
                st_["tw"] = float(args[-3])
                st_["tc"] = float(args[-2])
                newline(0.0, -st_["tl"])
                show([args[-1]])
        except PdfParseError:
            raise
        except (TypeError, ValueError):
            pass
        args = []
    return chars


def _replica_lines(chars):
    """group_objects (line_overlap 0.5, char_margin 2.05) + word-margin 0.1
    space insertion, one char pair at a time."""
    groups, line, prev = [], None, None
    for cur in chars:
        if prev is not None:
            h0, h1 = prev[3] - prev[1], cur[3] - cur[1]
            w0, w1 = prev[2] - prev[0], cur[2] - cur[0]
            if cur[1] <= prev[3] and prev[1] <= cur[3]:
                vo = min(abs(prev[1] - cur[3]), abs(prev[3] - cur[1]))
            else:
                vo = 0.0
            ok = vo > 0.5 * min(h0, h1)
            if ok:
                if cur[0] <= prev[2] and prev[0] <= cur[2]:
                    hd = 0.0
                else:
                    hd = min(abs(prev[0] - cur[2]), abs(prev[2] - cur[0]))
                ok = hd < 2.05 * max(w0, w1)
            if ok and line is not None:
                line.append(cur)
            elif line is not None:
                groups.append(line)
                line = None
            elif ok:
                line = [prev, cur]
            else:
                groups.append([prev])
        prev = cur
    if line is None:
        line = [prev] if prev is not None else []
    if line:
        groups.append(line)
    out = []
    for g in groups:
        runs, prev_x1 = [], None
        for c in g:
            if prev_x1 is not None:
                margin = 0.1 * max(c[2] - c[0], c[3] - c[1])
                if prev_x1 < c[0] - margin:
                    runs.append(("", True, " "))
            prev_x1 = c[2]
            runs.append((c[5], c[6], c[4]))
        bbox = (
            min(c[0] for c in g), min(c[1] for c in g),
            max(c[2] for c in g), max(c[3] for c in g),
        )
        out.append((bbox, runs))
    return out


def replica_parse(data: bytes):
    """Scalar replica of ``parse_pdf`` → ``(pages, [(page, bbox, fold)])``."""
    from edspdf_spark.kernel.pdf import PdfDocument

    try:
        doc = PdfDocument(data)
        page_dicts = doc.pages()
        pages, lines = [], []
        for page_num, page in enumerate(page_dicts):
            mb = [float(doc.resolve(v)) for v in doc.get(page, "MediaBox")]
            mx0, my0 = min(mb[0], mb[2]), min(mb[1], mb[3])
            mx1, my1 = max(mb[0], mb[2]), max(mb[1], mb[3])
            width, height = mx1 - mx0, my1 - my0
            rotate = int(doc.get(page, "Rotate", 0) or 0) % 360
            ctm = {
                90: (0.0, -1.0, 1.0, 0.0, -my0, mx1),
                180: (-1.0, 0.0, 0.0, -1.0, mx1, my1),
                270: (0.0, 1.0, -1.0, 0.0, my1, -mx0),
            }.get(rotate, (1.0, 0.0, 0.0, 1.0, -mx0, -my0))
            if rotate in (90, 270):
                width, height = height, width
            pages.append((page_num, width, height))
            for bbox, runs in _replica_lines(_replica_page_chars(doc, page, ctm)):
                lines.append((page_num, tuple(map(_hex, bbox)), fold_runs(runs)))
    except Exception:  # the kernel's poison-pill boundary
        return "error"
    return pages, lines


def kernel_parse(data: bytes):
    try:
        pages, lines = parse_pdf(data)
    except PdfParseError:
        return "error"
    return pages, [
        (pn, tuple(map(_hex, (x0, y0, x1, y1))), fold_runs(runs))
        for pn, x0, y0, x1, y1, runs in lines
    ]


def test_replica_agrees_on_snapshot_corpus():
    for name, data in snapshot_corpus():
        assert kernel_parse(data) == replica_parse(data), name


# --- random content streams ------------------------------------------------

def _num_token(kind: int, v: float, digits: int) -> bytes:
    if kind == 0:
        return b"%.3f" % v
    if kind == 1:
        return b"%d" % int(v)
    if kind == 2:  # past float range → inf
        return (b"-" if v < 0 else b"") + b"9" * (300 + digits) + b".5"
    return b"%.1f" % (v * 1e6)


_nums = st.builds(
    _num_token,
    st.sampled_from([0, 0, 0, 0, 1, 1, 2, 3]),
    st.floats(-50, 50, allow_nan=False),
    st.integers(0, 20),
)


def _hexstr(cids, odd):
    s = "".join("%04x" % c for c in cids)
    return ("<" + (s[:-2] if odd and s else s) + ">").encode()


_cid = st.one_of(
    st.integers(0x41, 0x5A), st.just(0x20), st.integers(0x61, 0x67),
    st.integers(0x100, 0x1FF), st.integers(0, 0xFFFF),
)
_string = st.one_of(
    st.builds(_hexstr, st.lists(_cid, max_size=6), st.booleans()),
    st.builds(
        lambda s: b"(" + s.replace(b"\\", b"").replace(b"(", b"").replace(b")", b"")
        + b")",
        st.binary(max_size=6),
    ),
)
_kern = st.one_of(_nums, st.just(b"0"), st.just(b"-0.0"))
_tj = st.builds(
    lambda items: b"[" + b" ".join(items) + b"] TJ",
    st.lists(st.one_of(_string, _kern), max_size=6),
)
_op = st.one_of(
    st.builds(lambda f, s: b"/F%d %s Tf" % (f, s), st.integers(1, 5), _nums),
    st.builds(
        lambda op, v: v + b" " + op,
        st.sampled_from([b"Tc", b"Tw", b"Tz", b"Ts", b"TL"]),
        _nums,
    ),
    st.builds(lambda x, y: x + b" " + y + b" Td", _nums, _nums),
    st.builds(lambda x, y: x + b" " + y + b" TD", _nums, _nums),
    st.builds(lambda m: b" ".join(m) + b" Tm", st.lists(_nums, min_size=6, max_size=6)),
    st.builds(lambda m: b" ".join(m) + b" cm", st.lists(_nums, min_size=6, max_size=6)),
    st.sampled_from([b"T*", b"BT", b"ET", b"q", b"Q"]),
    st.builds(lambda s: s + b" Tj", _string),
    st.builds(lambda s: s + b" '", _string),
    st.builds(lambda a, b, s: a + b" " + b + b" " + s + b' "', _nums, _nums, _string),
    _tj,
    _tj,
    st.builds(lambda s: s + b" Tj", _kern),
)


@given(
    st.lists(st.lists(_op, max_size=40), min_size=1, max_size=2),
    st.sampled_from([0, 90, 180, 270]),
)
@settings(max_examples=200, deadline=None)
def test_parse_matches_scalar_replica(pages, rotate):
    contents = [b"BT /F1 10 Tf 100 700 Td " + b"\n".join(ops) for ops in pages]
    data = _fixture_pdf(contents, rotate=rotate)
    assert kernel_parse(data) == replica_parse(data)


if __name__ == "__main__":  # pragma: no cover - snapshot regeneration
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: PYTHONPATH=. python tests/test_pdf_glyph_exact.py --write")
    SNAPSHOT.parent.mkdir(parents=True, exist_ok=True)
    snap = {name: describe(data) for name, data in snapshot_corpus()}
    SNAPSHOT.write_text(json.dumps(snap, indent=0, ensure_ascii=False) + "\n")
    print(f"wrote {len(snap)} cases to {SNAPSHOT}")
