"""Tests of the benchmark itself: seeded generation, the output check and
the span tracing. Run with ``python -m pytest perfbench/tests -q``."""

from __future__ import annotations

import os

import numpy as np
import pytest

from perfbench import corpus, spans
from perfbench.workloads import check

WORKLOADS = ("payload_skewed", "pdf_bytes", "html_composed", "snapshot_job")


@pytest.mark.parametrize("workload", WORKLOADS)
def test_generator_is_deterministic(workload):
    urls, blobs, expected = corpus.generate(workload, 5, 40)
    urls2, blobs2, expected2 = corpus.generate(workload, 5, 40)
    assert (urls, expected) == (urls2, expected2)
    assert corpus.digest(blobs) == corpus.digest(blobs2)
    _, other, _ = corpus.generate(workload, 6, 40)
    assert corpus.digest(other) != corpus.digest(blobs)


def test_generator_plants_giants_and_corrupt_docs():
    _, blobs, expected = corpus.generate("payload_skewed", 1, corpus.CORRUPT_EVERY)
    sizes = [len(b) for b in blobs]
    giant = corpus.GIANT_EVERY - 1
    assert sizes[giant] > 10 * np.median(sizes)
    assert blobs[corpus.CORRUPT_EVERY - 1] == b"CORRUPT\n"
    assert expected[sorted(expected)[corpus.CORRUPT_EVERY - 1]] == []


def test_cache_returns_the_same_corpus(tmp_path):
    first = corpus.load_or_build(str(tmp_path), "html_composed", 3, 30)
    again = corpus.load_or_build(str(tmp_path), "html_composed", 3, 30)
    assert not first.meta["cached"] and again.meta["cached"]
    assert again.meta["sha256"] == first.meta["sha256"]
    assert again.expected == first.expected
    assert len(os.listdir(first.path)) == corpus.FILES


def test_cache_key_follows_the_generating_code(tmp_path, monkeypatch):
    first = corpus.load_or_build(str(tmp_path), "payload_skewed", 3, 30)
    monkeypatch.setattr(corpus, "source_digest", lambda: "changed")
    rebuilt = corpus.load_or_build(str(tmp_path), "payload_skewed", 3, 30)
    assert not rebuilt.meta["cached"] and rebuilt.path != first.path


def _rows(expected):
    return [(url, label, text) for url, rows in expected.items() for label, text in rows]


def test_one_mutated_text_fails_the_run():
    _, _, expected = corpus.generate("payload_skewed", 2, 60)
    rows = _rows(expected)
    assert check(expected, rows)["failed"] == 0

    url, label, text = rows[7]
    rows[7] = (url, label, text + " ")
    verdict = check(expected, rows)
    assert verdict["failed"] == 1
    assert verdict["failed_share"] > 0
    assert verdict["examples"] == [url]


def test_missing_and_stray_rows_fail():
    _, _, expected = corpus.generate("html_composed", 2, 20)
    rows = _rows(expected)
    assert check(expected, rows[1:])["failed"] == 1
    assert check(expected, rows + [("bench://elsewhere", "body", "x")])["failed"] == 1


def test_self_time_subtracts_direct_children():
    # task [0, 100] > extract [10, 60] > parse [20, 30], fold [35, 45]
    tid = spans.NAME_ID
    block = np.array(
        [
            [1, 3, 2, tid["kernel.payload.parse"], 20, 30, 4, 9],
            [1, 4, 2, tid["kernel.style.fold"], 35, 45, 0, 9],
            [1, 2, 1, tid["kernel.payload.extract"], 10, 60, 0, 9],
            [1, 1, 0, tid[spans.TASK], 0, 100, 0, 9],
        ],
        dtype=np.int64,
    )
    self_s, calls, counts = spans.self_times([block])
    assert self_s["kernel.payload.extract"] == pytest.approx(30e-9)
    assert self_s[spans.TASK] == pytest.approx(50e-9)
    assert counts["kernel.payload.parse"] == 4 and calls["kernel.style.fold"] == 1
    assert spans.nesting_errors(block) == 0
    block[0, 5] = 70  # parse now ends after its parent
    assert spans.nesting_errors(block) == 1


def test_traced_tiny_corpus_nests(tmp_path):
    """A traced pass over a tiny corpus: every document is seen by the
    kernel spans, self-times are non-negative and every span lies inside
    its parent."""
    from perfbench import run
    from perfbench.workloads import Pass

    small = corpus.load_or_build(str(tmp_path / "corpus"), "payload_skewed", 4, 120)
    trace_dir = str(tmp_path / "trace")
    os.makedirs(trace_dir)
    spark, _ = run.set_up(2, run._session_env(True, trace_dir))
    try:
        p = Pass(spark, "payload_skewed", small, str(tmp_path / "out"))
        p.run()  # untraced: writes no spans
        with open(os.path.join(trace_dir, "active"), "w") as f:
            f.write("1")
        p.run()
        os.unlink(os.path.join(trace_dir, "active"))
    finally:
        run.shut_down(spark)

    assert sorted(os.listdir(trace_dir)) == ["1"]
    blocks = spans.load(os.path.join(trace_dir, "1"))
    assert blocks
    for block in blocks:
        assert (spans.block_self_ns(block) >= 0).all()
        assert spans.nesting_errors(block) == 0
        assert (block[:, 0] == 1).all()
    self_s, calls, counts = spans.self_times(blocks)
    assert calls["kernel.payload.extract"] == small.n_docs
    assert calls["kernel.aggregate.aggregate"] == small.n_docs - small.n_corrupt
    assert counts["kernel.payload.parse"] > 0 and self_s["kernel.style.fold"] > 0
