"""In-memory span recording around the engine's public kernel functions.

The wrappers are installed from outside the engine:
:meth:`Installation.install` replaces every reference to a target function
held by a loaded ``edspdf_spark`` module (the defining module and each
``from … import`` binding), which is where the engine and an unpickled UDF
look the function up; :meth:`Installation.uninstall` puts the originals
back.

A span is one row ``(run, sid, parent, name, t0_ns, t1_ns, count, pid)``;
``count`` is the work the call returned (lines parsed, blocks found).
Spans stay in a list until :meth:`Recorder.flush` writes them as one
``.npy`` file, at the end of each Spark task in a worker. A layer's self
time is its duration minus the time its direct children cover.
"""

from __future__ import annotations

import os
import sys
import time
from typing import Callable, Dict, List, Optional, Sequence, Tuple

import numpy as np

TASK = "python.task"
# (span name, defining module, function, count of the call's result)
TARGETS: Sequence[Tuple[str, str, str, Optional[Callable]]] = (
    ("kernel.payload.extract", "edspdf_spark.kernel.payload", "extract_doc_raw", None),
    ("kernel.payload.parse", "edspdf_spark.kernel.payload", "parse_payload", lambda r: len(r[1])),
    ("kernel.pdf.parse", "edspdf_spark.kernel.pdf", "parse_pdf", lambda r: len(r[1])),
    ("kernel.style.fold", "edspdf_spark.kernel.style", "fold_runs", None),
    ("kernel.reading_order.sort", "edspdf_spark.kernel.reading_order", "sort_reading_order", None),
    ("kernel.overlap.align", "edspdf_spark.kernel.overlap", "align_labels_kernel", None),
    ("kernel.aggregate.aggregate", "edspdf_spark.kernel.aggregate", "aggregate_doc", None),
    (
        "operators.extract_html.blocks",
        "edspdf_spark.operators.extract_html",
        "extract_html_blocks",
        lambda r: len(r[0]),
    ),
    ("operators.extract_html.context", "edspdf_spark.operators.extract_html", "context_classify", None),
)
SNAPSHOT_APPEND = "sources.snapshots.append"
NAMES: List[str] = [TASK] + [t[0] for t in TARGETS] + [SNAPSHOT_APPEND]
NAME_ID: Dict[str, int] = {n: i for i, n in enumerate(NAMES)}


class Recorder:
    """Spans of one process, kept in memory until :meth:`flush`."""

    def __init__(self) -> None:
        self.run = 0
        self.rows: List[tuple] = []
        self.stack: List[int] = [0]  # sid 0 is the (virtual) root
        self.next_sid = 1

    def begin(self) -> int:
        sid = self.next_sid
        self.next_sid += 1
        self.stack.append(sid)
        return sid

    def end(self, sid: int, name_id: int, t0: int, count: int = 0) -> None:
        t1 = time.perf_counter_ns()
        self.stack.pop()
        self.rows.append((self.run, sid, self.stack[-1], name_id, t0, t1, count, os.getpid()))

    def wrap(self, name: str, fn: Callable, counter: Optional[Callable] = None) -> Callable:
        name_id = NAME_ID[name]

        def traced(*args, **kwargs):
            sid = self.begin()
            t0 = time.perf_counter_ns()
            count = 0
            try:
                out = fn(*args, **kwargs)
                if counter is not None:
                    count = counter(out)
                return out
            finally:
                self.end(sid, name_id, t0, count)

        traced.__wrapped__ = fn
        return traced

    def flush(self, directory: str, tag: str) -> Optional[str]:
        """Write the recorded spans to ``directory`` and start afresh."""
        if not self.rows:
            return None
        path = os.path.join(directory, f"spans-{os.getpid()}-{tag}.npy")
        np.save(path, np.asarray(self.rows, dtype=np.int64))
        self.rows = []
        self.stack = [0]
        self.next_sid = 1
        return path


def _bindings(fn: Callable) -> List[Tuple[object, str]]:
    """Every (module, attribute) of a loaded engine module bound to ``fn``."""
    out = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("edspdf_spark"):
            continue
        for attr, value in list(vars(mod).items()):
            if value is fn:
                out.append((mod, attr))
    return out


class Installation:
    """The wrappers currently swapped into the engine's modules."""

    def __init__(self, recorder: Recorder):
        import importlib

        self.swaps: List[Tuple[object, str, Callable, Callable]] = []
        for name, module, attr, counter in TARGETS:
            mod = importlib.import_module(module)
            fn = getattr(mod, attr)
            wrapped = recorder.wrap(name, fn, counter)
            for owner, key in _bindings(fn):
                self.swaps.append((owner, key, fn, wrapped))

    def install(self) -> None:
        for owner, key, _fn, wrapped in self.swaps:
            setattr(owner, key, wrapped)

    def uninstall(self) -> None:
        for owner, key, fn, _wrapped in self.swaps:
            setattr(owner, key, fn)


def load(directory: str) -> List[np.ndarray]:
    """The span blocks written under ``directory``, one per flush; sids are
    unique within a block."""
    blocks = [
        np.load(os.path.join(directory, f))
        for f in sorted(os.listdir(directory))
        if f.startswith("spans-") and f.endswith(".npy")
    ]
    return [b for b in blocks if len(b)]


def self_times(
    blocks: Sequence[np.ndarray],
) -> Tuple[Dict[str, float], Dict[str, int], Dict[str, int]]:
    """(self seconds, calls, summed result counts) per span name."""
    self_s: Dict[str, float] = {n: 0.0 for n in NAMES}
    calls: Dict[str, int] = {n: 0 for n in NAMES}
    counts: Dict[str, int] = {n: 0 for n in NAMES}
    for block in blocks:
        own = block_self_ns(block)
        names = block[:, 3]
        for nid in np.unique(names):
            sel = names == nid
            key = NAMES[int(nid)]
            self_s[key] += float(own[sel].sum()) / 1e9
            calls[key] += int(sel.sum())
            counts[key] += int(block[sel, 6].sum())
    return self_s, calls, counts


def block_self_ns(block: np.ndarray) -> np.ndarray:
    """Self nanoseconds of each span of one block: duration minus the
    durations of its direct children."""
    sid = block[:, 1]
    dur = block[:, 5] - block[:, 4]
    child = np.bincount(block[:, 2], weights=dur, minlength=int(sid.max()) + 1)
    return dur - child[sid]


def nesting_errors(block: np.ndarray) -> int:
    """Spans of one block that do not lie inside their parent's interval."""
    index = {int(s): i for i, s in enumerate(block[:, 1])}
    bad = 0
    for row in block:
        parent = int(row[2])
        if parent == 0:
            continue
        p = index.get(parent)
        if p is None or row[4] < block[p, 4] or row[5] > block[p, 5]:
            bad += 1
    return bad
