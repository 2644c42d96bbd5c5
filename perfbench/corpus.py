"""Seeded inputs and closed-form expected outputs for every workload.

Each generator draws from one ``random.Random`` seeded by ``(seed,
workload)`` and walks the documents in order, so the same seed gives the
same bytes. Alongside every document it writes down what the pipeline must
return for that url — the ``(label, text)`` rows of the aggregate table —
computed from the generator's own choices, never from the engine:

* layout payloads: every in-bounds line is labelled ``body`` by the
  full-page mask; lines are 10 pt tall and their tops are 12 pt or 25 pt
  apart, so ``dy / height`` is 1.2 (``"\\n"``) or at least 2.4
  (``"\\n\\n"``), far from the aggregator's 0.2 and 1.5 thresholds, and a
  page change is always ``"\\n\\n"``;
* PDFs (``sources.pdfgen.make_pdf``): 5 pt glyphs on a 6 pt leading give
  ``"\\n"`` inside a page and ``"\\n\\n"`` across pages;
* HTML: chrome blocks (nav, link-dense ad, aside, footer) are
  ``boilerplate`` and article blocks are ``body``; the extractor's
  pseudo-geometry puts same-label neighbours at least two heights apart,
  so every separator is ``"\\n\\n"``.

Documents the generator corrupts on purpose expect no aggregate row.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from typing import Dict, List, Optional, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

# Per-workload corpus size: one pass of the production path takes about a
# second on a 4-core box, so a timed run of several seconds holds several
# passes (docs_per_s is their median).
SIZES = {
    "payload_skewed": 2000,
    "pdf_bytes": 300,
    "html_composed": 3000,
    "snapshot_job": 1000,
}

FILES = 8  # parquet files per corpus: two tasks per core at k = 4
GIANT_EVERY = 97  # every 97th payload doc is a giant:
GIANT_PAGES = 125  # 50x the mean page count, fixed so that every seed
# gives each file the same giant load and the slowest task the same work
CORRUPT_EVERY = 501  # every 501st payload / HTML doc is corrupt

_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim minim veniam "
    "quis nostrud exercitation ullamco laboris nisi aliquip ex ea commodo "
    "river stone market ledger harbor signal copper lantern meadow orbit "
    "quartz ribbon saddle timber velvet walnut yonder zephyr anchor beacon "
    "cinder dune ember fable garnet hollow island jasper kernel lumen"
).split()
_FONTS = ["Helvetica", "Helvetica-Bold", "Times-Italic", "Times-BoldItalic", "Courier"]

PAGE_W, PAGE_H = 612, 792
LINE_H = 10  # payload line height, pt
PITCH_NEWLINE = 12  # top-to-top distance giving dy/height = 1.2 -> "\n"
PITCH_PARAGRAPH = 25  # dy/height = 2.5 -> "\n\n"

# Expected rows of one url: sorted (label, text) pairs; empty = no row.
Expected = List[Tuple[str, str]]


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choices(_WORDS, k=rng.randint(lo, hi)))


def _run(font: str, upright: bool, text: str) -> str:
    # words are [a-z] only, so the space is the one character to escape
    return f"{font},{1 if upright else 0},{text.replace(' ', '%20')}"


def _payload_runs(rng: random.Random, text: str) -> str:
    """One run, or (20%) two runs in different fonts cut inside a word, so
    neither run has an edge space and the folded text is the plain
    concatenation."""
    cuts = None
    if rng.random() < 0.2:
        cuts = [c for c in range(1, len(text)) if text[c - 1] != " " != text[c]]
    if cuts:
        c = rng.choice(cuts)
        return "|".join(
            (
                _run(rng.choice(_FONTS), rng.random() > 0.1, text[:c]),
                _run(rng.choice(_FONTS), True, text[c:]),
            )
        )
    return _run(rng.choice(_FONTS), True, text)


def _payload_doc(rng: random.Random, i: int) -> Tuple[bytes, Expected]:
    if i % CORRUPT_EVERY == CORRUPT_EVERY - 1:
        return b"CORRUPT\n", []
    n_pages = rng.randint(1, 4)
    if i % GIANT_EVERY == GIANT_EVERY - 1:
        n_pages = GIANT_PAGES
    out: List[str] = []
    parts: List[str] = []  # expected text pieces, separators included
    for page in range(n_pages):
        out.append(f"PAGE {page} {PAGE_W} {PAGE_H}")
        rows = []
        top = 760
        prev_kept: Optional[int] = None  # top of the page's last kept line
        for _ in range(rng.randint(5, 40)):
            if top - LINE_H < 30:
                break
            text = _words(rng, 2, 9)
            x0 = rng.randint(30, 90)
            x1 = x0 + rng.randint(150, PAGE_W - x0 - 20)
            if rng.random() < 0.10:  # out of bounds: the extractor drops it
                x1 = PAGE_W + rng.randint(1, 50)
            else:
                if prev_kept is not None:
                    ratio = (prev_kept - top) / LINE_H
                    parts.append("\n\n" if ratio > 1.5 else "\n")
                elif parts:  # first kept line after an earlier page
                    parts.append("\n\n")
                parts.append(text)
                prev_kept = top
            rows.append(f"LINE {x0} {top - LINE_H} {x1} {top} {_payload_runs(rng, text)}")
            top -= PITCH_NEWLINE if rng.random() < 0.8 else PITCH_PARAGRAPH
        rng.shuffle(rows)  # the reading-order sort must restore top-down
        out.extend(rows)
    doc = ("\n".join(out) + "\n").encode("utf-8")
    return doc, ([("body", "".join(parts))] if parts else [])


def _pdf_doc(rng: random.Random, i: int) -> Tuple[bytes, Expected]:
    from edspdf_spark.sources.pdfgen import make_pdf

    pages = [
        [_words(rng, 3, 10) for _ in range(rng.randint(10, 20))]
        for _ in range(rng.randint(2, 5))
    ]
    text = "\n\n".join("\n".join(lines) for lines in pages)
    return make_pdf(pages), [("body", text)]


def _html_doc(rng: random.Random, i: int) -> Tuple[bytes, Expected]:
    if i % CORRUPT_EVERY == CORRUPT_EVERY - 1:
        return b"\x00\x01 binary blob without markup \xff\xfe", []
    body: List[str] = []
    chrome: List[str] = []
    html: List[str] = [f"<html><head><title>page {i}</title></head><body>"]

    nav = rng.choices(_WORDS, k=rng.randint(3, 6))
    html.append("<nav>" + " ".join(f"<a href='/{w}'>{w}</a>" for w in nav) + "</nav>")
    chrome.append(" ".join(nav))
    ads = rng.choices(_WORDS, k=rng.randint(4, 8))
    html.append(
        "<div class='ad'>" + " ".join(f"<a href='/ad/{w}'>{w}</a>" for w in ads) + "</div>"
    )
    chrome.append(" ".join(ads))  # link density 1.0 -> boilerplate

    # article: 3-6 word headings are jusText "neargood" next to a good
    # paragraph (>= 10 words) -> body; a 2-word connective sits between two
    # good paragraphs -> body.
    title = _words(rng, 3, 6)
    html.append(f"<article><h1>{title}</h1>")
    body.append(title)
    for s in range(rng.randint(2, 7)):
        heading = _words(rng, 3, 6)
        html.append(f"<h2>{heading}</h2>")
        body.append(heading)
        for p in range(rng.randint(1, 3)):
            if p:
                link = " ".join(rng.choices(_WORDS, k=2))
                html.append(f"<p>{link}</p>")
                body.append(link)
            words = _words(rng, 15, 60).split()
            if rng.random() < 0.3:  # one inline link, density < 0.2
                k = rng.randrange(len(words))
                shown = " ".join(words)
                words[k] = f"<a href='/w/{k}'>{words[k]}</a>"
                html.append("<p>" + " ".join(words) + "</p>")
                body.append(shown)
            else:
                text = " ".join(words)
                html.append(f"<p>{text}</p>")
                body.append(text)
    items = [_words(rng, 3, 7) for _ in range(rng.randint(0, 4))]
    if items:
        html.append("<ul>" + "".join(f"<li>{t}</li>" for t in items) + "</ul>")
        body.extend(items)
    html.append("</article>")

    aside = rng.choices(_WORDS, k=rng.randint(2, 5))
    html.append("<aside>" + " ".join(f"<a href='/r/{w}'>{w}</a>" for w in aside) + "</aside>")
    chrome.append(" ".join(aside))
    foot = _words(rng, 2, 5)
    html.append(f"<footer>{foot} <a href='/privacy'>privacy</a></footer>")
    chrome.append(f"{foot} privacy")
    html.append("</body></html>")
    expected = [("body", "\n\n".join(body)), ("boilerplate", "\n\n".join(chrome))]
    return "".join(html).encode("utf-8"), expected


_GENERATORS = {
    "payload_skewed": _payload_doc,
    "pdf_bytes": _pdf_doc,
    "html_composed": _html_doc,
    "snapshot_job": _payload_doc,
}


class Corpus:
    """One generated input set: the pages table on disk and the expected
    aggregate rows per url."""

    def __init__(self, path: str, expected: Dict[str, Expected], meta: dict):
        self.path = path  # parquet directory of (url, html)
        self.expected = expected
        self.meta = meta

    @property
    def n_docs(self) -> int:
        return len(self.expected)

    @property
    def n_corrupt(self) -> int:
        return sum(1 for rows in self.expected.values() if not rows)


def generate(workload: str, seed: int, n_docs: int):
    """(urls, blobs, expected) of one workload, deterministic in ``seed``."""
    rng = random.Random(f"{workload}:{seed}")
    make = _GENERATORS[workload]
    urls: List[str] = []
    blobs: List[bytes] = []
    expected: Dict[str, Expected] = {}
    for i in range(n_docs):
        url = f"bench://{workload}/{seed}/{i:07d}"
        blob, rows = make(rng, i)
        urls.append(url)
        blobs.append(blob)
        expected[url] = sorted(rows)
    return urls, blobs, expected


def digest(blobs: List[bytes]) -> str:
    h = hashlib.sha256()
    for b in blobs:
        h.update(len(b).to_bytes(8, "little"))
        h.update(b)
    return h.hexdigest()


def source_digest() -> str:
    """Hash of the code that generates the bytes: this module and the
    engine's PDF writer."""
    from edspdf_spark.sources import pdfgen

    h = hashlib.sha256()
    for path in (__file__, pdfgen.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def load_or_build(cache_dir: str, workload: str, seed: int, n_docs: int) -> Corpus:
    """Generate the corpus once per (workload, seed, size, generator
    source) and keep it on disk; later runs with the same key reuse the
    files, and a change to the generating code gives a new key."""
    d = os.path.join(cache_dir, f"{workload}-s{seed}-n{n_docs}-{source_digest()}")
    meta_path = os.path.join(d, "meta.json")
    pages = os.path.join(d, "pages")
    exp_path = os.path.join(d, "expected.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        with open(exp_path) as f:
            expected = {u: [tuple(r) for r in rows] for u, rows in json.load(f).items()}
        meta["cached"] = True
        return Corpus(pages, expected, meta)

    urls, blobs, expected = generate(workload, seed, n_docs)
    total = sum(len(b) for b in blobs)
    os.makedirs(pages, exist_ok=True)
    # the pages table as FILES contiguous shards, like a crawl's output: the
    # scan opens each file as its own task (a file costs the 4 MB open cost
    # of the split planner, so small corpora still spread over every core)
    step = -(-n_docs // FILES)
    for f, lo in enumerate(range(0, n_docs, step)):
        table = pa.table(
            {
                "url": pa.array(urls[lo : lo + step], pa.string()),
                "html": pa.array(blobs[lo : lo + step], pa.binary()),
            }
        )
        pq.write_table(table, os.path.join(pages, f"part-{f:03d}.parquet"))
    with open(exp_path, "w") as f:
        json.dump(expected, f)
    meta = {
        "workload": workload,
        "seed": seed,
        "n_docs": n_docs,
        "bytes": total,
        "sha256": digest(blobs),
    }
    with open(meta_path, "w") as f:  # written last: marks the entry complete
        json.dump(meta, f)
    meta["cached"] = False
    return Corpus(pages, expected, meta)
