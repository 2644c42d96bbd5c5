"""Per-partition lineage & metrics (custom — the reference has none,
SURVEY.md §4 "Lineage/metrics").

The in-band metrics contract: a stage that reports metrics emits, next to
its ``AGG_SCHEMA`` rows, one ``METRICS_SCHEMA`` row per input partition
(doc/bloc/error counts, input bytes and wall time, tagged with the run id
and the partition's length bucket) — an empty partition included, as a zero row.
Both kinds travel IN-BAND (single pass over the data — no second job, no
accumulator loss on retry) in one union-typed frame tagged by ``_kind``,
which :func:`split_union` splits into the two faces; ``persist()`` on the
union keeps it one pass when both sides are consumed.

The per-document loop that does the counting is the fused stage's
(`operators/fused.py`, ``run_pipeline_fused_with_metrics``).
"""

from __future__ import annotations

import time
from typing import Dict, Tuple

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from edspdf_spark.schemas import AGG_SCHEMA, METRICS_SCHEMA

_AGG_COLS = [f.name for f in AGG_SCHEMA.fields]
_METRIC_COLS = [f.name for f in METRICS_SCHEMA.fields]


class PartitionCounts:
    """Running counts of one partition, fed once per document; the clock
    starts when the partition's first batch is pulled."""

    __slots__ = ("t0", "n_docs", "n_blocs", "n_errors", "bytes_in", "bucket")

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.n_docs = self.n_blocs = self.n_errors = self.bytes_in = self.bucket = 0

    def add(self, html, n_blocs: int, error: bool) -> None:
        nbytes = len(html) if html is not None else 0
        self.n_docs += 1
        self.n_blocs += n_blocs
        self.n_errors += bool(error)
        self.bytes_in += nbytes
        self.bucket = max(self.bucket, nbytes.bit_length())

    def row(self, run_id: str) -> Dict[str, list]:
        """The partition's metrics row as one-element columns, ``_kind``
        included."""
        ctx = TaskContext.get()
        row = {c: getattr(self, c) for c in self.__slots__[1:]}
        row.update(
            _kind="metric",
            run_id=run_id,
            partition_id=ctx.partitionId() if ctx else -1,
            wall_ms=int((time.perf_counter() - self.t0) * 1000),
        )
        return {k: [v] for k, v in row.items()}


# AGG + ``_kind`` + metrics columns at their declared nullability: a row
# zero-fills (``""`` / ``0``) the other side's non-null columns.
UNION_SCHEMA = T.StructType(
    list(AGG_SCHEMA.fields)
    + [T.StructField("_kind", T.StringType(), False)]
    + list(METRICS_SCHEMA.fields)
)


def split_union(union: DataFrame) -> Tuple[DataFrame, DataFrame, DataFrame]:
    """union → (aggregate rows, metrics rows, persisted union). Callers
    materialize both faces then ``unpersist()`` the union — otherwise each
    batch of a job leaves its output pinned in the CacheManager for the
    session lifetime."""
    union = union.persist()
    rows = union.filter(F.col("_kind") == "data").select(*_AGG_COLS)
    metrics = union.filter(F.col("_kind") == "metric").select(*_METRIC_COLS)
    return rows, metrics, union
