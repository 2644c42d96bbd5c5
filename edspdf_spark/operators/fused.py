"""Fused extract → mask-classify → aggregate in ONE Arrow stage.

The composable operators (`extract.py`, `classify.py`, `aggregate.py`)
mirror the reference's pipeline stages 1:1, but for the standard
literal-mask pipeline they ship every text line through a groupBy-url
shuffle only to regroup lines under the url that the extract task already
held in one piece. Measured at 120k docs / local[32], that blocs shuffle
(~9.6M nested-struct rows) is the single largest cost of the composed
plan; at the north-star 10^12-document scale it would move petabytes for
nothing. This operator is the Catalyst-style answer — fuse the whole
per-document pipeline into the extract stage:

    pages.select(url, html)                  (scan pruned to 2 columns)
      → mapInArrow(extract → NumPy overlap-argmax align → aggregate)
      → aggregates(url, label, text, properties)

(``mapInArrow`` rather than ``mapInPandas``: the kernel consumes the
RecordBatch and emits pyarrow arrays directly — no pandas block manager
on either side of the worker; measured ~8% end-to-end at 240k docs /
local[32], identical bytes.)

Zero shuffles (the optional skew repartition upstream is the only
exchange). On input with one row per url, semantics are byte-identical
to the composed path — all three per-document kernels are the same code
(`kernel.payload.extract_doc`, `kernel.overlap.align_labels_kernel`,
`kernel.aggregate.aggregate_doc`), and tests assert fused == composed on
the synthetic corpus, while the driver oracle checks the fused output
against DuckDB SQL.

``run_pipeline_fused_with_metrics`` is the same stage that also yields one
``METRICS_SCHEMA`` row per partition (`metrics.py`); `job.py` runs it.

Limitations vs the composed path: masks must be a literal page-agnostic
list (the standard case — reference ``simple_mask_classifier_factory``,
``pipes/classifiers/mask.py:69-82``); a DataFrame of masks raises
``TypeError``. The input has one row per url: a url repeated across rows
(WARC recrawls) yields one set of ``(url, label)`` rows per row, where the
composed groupBy-url merges them (``dedup.keep_latest_revision`` first).
For DataFrame masks, per-page masks or the forest classifier, compose the
stage operators instead.
"""

from __future__ import annotations

from typing import Dict, Iterator, List, Optional, Sequence, Tuple, Union

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from edspdf_spark.kernel.aggregate import aggregate_doc
from edspdf_spark.kernel.overlap import align_labels_kernel
from edspdf_spark.kernel.payload import extract_doc_raw
from edspdf_spark.metrics import UNION_SCHEMA, PartitionCounts, split_union
from edspdf_spark.operators.aggregate import to_markdown
from edspdf_spark.operators.classify import MASK_INF
from edspdf_spark.schemas import AGG_SCHEMA

_AGG_COLS = [f.name for f in AGG_SCHEMA.fields]

Masks = Sequence[Tuple[Optional[str], float, float, float, float]]


def literal_masks(masks: Masks) -> list:
    """The fused stage's masks as a list; a DataFrame is rejected."""
    if isinstance(masks, DataFrame):
        raise TypeError("fused masks are a literal (label, x0, y0, x1, y1) list, not a DataFrame")
    return list(masks)


def _doc_pipeline(
    masks: Masks,
    threshold: float,
    markdown: bool = False,
    extract_style: bool = True,
    sort: bool = False,
    new_line_threshold: float = 0.2,
    new_paragraph_threshold: float = 1.5,
    label_map: Optional[Dict[str, Union[str, List[str]]]] = None,
):
    """Per-document kernel closure shared by both fused faces: (url, html)
    pairs in, AGG_SCHEMA column lists out, each document counted in the
    partition's :class:`PartitionCounts`. Options mean what they mean to
    ``aggregate_simple`` / ``aggregate_markdown``."""
    masks = literal_masks(masks)
    # classify_mask's stack: user masks + the ±1e4 pollution catch-all; the
    # align kernel appends its own ±1e5 None-label catch-all last.
    src = np.array(
        [[m[1], m[3], m[2], m[4]] for m in masks]  # (x0, x1, y0, y1)
        + [[-MASK_INF, MASK_INF, -MASK_INF, MASK_INF]],
        dtype=np.float64,
    )
    src_labels: List[Optional[str]] = [m[0] for m in masks] + ["pollution"]

    def run_docs(pairs, counts: PartitionCounts) -> Dict[str, list]:
        out: Dict[str, list] = {c: [] for c in _AGG_COLS}
        for url, html in pairs:
            # tuple-native extract — the dict view exists for the
            # composed operator's schema; materializing it here just to
            # unpack it again cost ~15% of the kernel
            blocs, _pages, error = extract_doc_raw(html)
            counts.add(html, len(blocs), error)
            if error or not blocs:
                continue
            dst = np.array(
                [[b[2], b[4], b[3], b[5]] for b in blocs],
                dtype=np.float64,
            )
            idx = align_labels_kernel(src, dst, threshold)
            lines = [
                (
                    b[0],
                    b[2],
                    b[3],
                    b[4],
                    b[5],
                    b[6],
                    b[7] if extract_style else [],
                    src_labels[i] if i < len(src_labels) else None,
                )
                for b, i in zip(blocs, idx)
            ]
            agg = aggregate_doc(
                lines,
                sort=sort,
                new_line_threshold=new_line_threshold,
                new_paragraph_threshold=new_paragraph_threshold,
                label_map=label_map,
            )
            for label, (text, styles) in agg.items():
                props = [
                    {
                        "italic": s[0],
                        "bold": s[1],
                        "begin": s[2],
                        "end": s[3],
                        "fontname": s[4],
                    }
                    for s in styles
                ]
                out["url"].append(url)
                out["label"].append(label)
                out["text"].append(to_markdown(text, props) if markdown else text)
                out["properties"].append(props)
        return out

    return run_docs


def _record_batch(cols: Dict[str, list], n: int, schema: pa.Schema) -> pa.RecordBatch:
    """Columns of ``schema`` from ``cols``. A column ``cols`` lacks (the
    other side of a union row) is null, or ``""`` / ``0`` where the schema
    declares it non-null."""
    return pa.RecordBatch.from_arrays(
        [
            pa.array(cols[f.name], type=f.type)
            if f.name in cols
            else pa.nulls(n, f.type)
            if f.nullable
            else pa.repeat(pa.scalar("" if pa.types.is_string(f.type) else 0, f.type), n)
            for f in schema
        ],
        schema=schema,
    )


def _fused_stage(
    pages: DataFrame, run_id: Optional[str], masks: Masks, threshold: float, options
) -> DataFrame:
    """The one ``mapInArrow`` over ``pages.select(url, html)``; with a
    ``run_id`` it also yields each partition's metrics row, in the union
    schema of `metrics.py`."""
    run_docs = _doc_pipeline(masks, threshold, **options)
    spark_schema = AGG_SCHEMA if run_id is None else UNION_SCHEMA
    schema = to_arrow_schema(spark_schema)

    def work(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        counts = PartitionCounts()
        for batch in batches:
            urls, htmls = batch.column("url").to_pylist(), batch.column("html").to_pylist()
            out = run_docs(zip(urls, htmls), counts)
            n = len(out["url"])
            if run_id is not None:
                out["_kind"] = ["data"] * n
            yield _record_batch(out, n, schema)
        if run_id is not None:
            yield _record_batch(counts.row(run_id), 1, schema)

    return pages.select("url", "html").mapInArrow(work, schema=spark_schema)


def run_pipeline_fused(
    pages: DataFrame, masks: Masks, threshold: float = 1.0, **options
) -> DataFrame:
    """pages(url, html, …) → aggregates, one fused ``mapInArrow`` stage.
    ``options``: ``markdown``, ``extract_style``, ``sort``,
    ``new_line_threshold``, ``new_paragraph_threshold``, ``label_map``."""
    return _fused_stage(pages, None, masks, threshold, options)


def run_pipeline_fused_with_metrics(
    pages: DataFrame, run_id: str, masks: Masks, threshold: float = 1.0
) -> Tuple[DataFrame, DataFrame, DataFrame]:
    """pages(url, html, …) → (aggregates, metrics, cached_union) from ONE
    ``mapInArrow`` pass: :func:`run_pipeline_fused`'s rows (default
    options) plus one ``METRICS_SCHEMA`` row per input partition tagged
    ``run_id`` (a zero row for an empty partition). Callers materialize
    both faces, then ``cached_union.unpersist()``."""
    return split_union(_fused_stage(pages, run_id, masks, threshold, {}))
