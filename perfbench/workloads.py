"""The four workloads: one production-path pass each, and the check of its
output against the generator's expectation.

A pass drives the engine only through its public entry points and ends at
the sink: ``noop`` for the DataFrame workloads, committed snapshot tables
for ``snapshot_job``.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Dict, Iterable, List, Tuple

from perfbench.corpus import Corpus

MASKS = [("body", 0.0, 0.0, 1.0, 1.0)]
THRESHOLD = 0.1
SNAPSHOT_BATCHES = 2
SNAPSHOT_CRASH_AFTER = SNAPSHOT_BATCHES // 2


def warm_worker(batches):
    """mapInArrow body of the set-up warm-up: import the engine in the
    worker and hold the task long enough that every core forks its own."""
    import edspdf_spark.metrics  # noqa: F401
    import edspdf_spark.operators  # noqa: F401

    time.sleep(0.2)
    yield from batches


def warm_up(spark, k: int) -> None:
    spark.range(k, numPartitions=k).mapInArrow(warm_worker, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def read_pages(spark, corpus: Corpus):
    from edspdf_spark.skew import apply_scan_partitioning, local_parquet_bytes
    from edspdf_spark.sources.readers import read_pages_parquet

    k = spark.sparkContext.defaultParallelism
    apply_scan_partitioning(spark, local_parquet_bytes(corpus.path), k)
    return read_pages_parquet(spark, corpus.path, columns=["url", "html"])


def pipeline(workload: str, pages):
    """The aggregate DataFrame a DataFrame workload computes."""
    if workload in ("payload_skewed", "pdf_bytes"):
        from edspdf_spark.operators import run_pipeline_fused

        return run_pipeline_fused(pages, MASKS, threshold=THRESHOLD)
    if workload == "html_composed":
        from edspdf_spark.operators import aggregate_simple, extract_blocs_html

        return aggregate_simple(extract_blocs_html(pages, context_sensitive=True))
    raise ValueError(workload)


class Pass:
    """One timed pass over a corpus; ``run`` returns its wall seconds."""

    def __init__(self, spark, workload: str, corpus: Corpus, work_dir: str):
        self.spark = spark
        self.workload = workload
        self.corpus = corpus
        self.work_dir = work_dir
        self.n = 0
        self.last_base = None
        self.resume: Tuple[int, int] = (0, 0)  # (re-run, uncommitted at crash)

    def run(self) -> float:
        if self.workload == "snapshot_job":
            return self._run_job()
        df = pipeline(self.workload, read_pages(self.spark, self.corpus))
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def _run_job(self) -> float:
        from edspdf_spark.job import run_snapshot_job

        if self.last_base:
            shutil.rmtree(self.last_base, ignore_errors=True)
        self.n += 1
        base = os.path.join(self.work_dir, f"snapshots-{self.n}")
        pages = read_pages(self.spark, self.corpus)
        t0 = time.perf_counter()
        first = run_snapshot_job(
            self.spark,
            pages,
            base,
            masks=MASKS,
            threshold=THRESHOLD,
            n_batches=SNAPSHOT_BATCHES,
            limit_batches=SNAPSHOT_CRASH_AFTER,
        )
        second = run_snapshot_job(
            self.spark, pages, base, masks=MASKS, threshold=THRESHOLD, n_batches=SNAPSHOT_BATCHES
        )
        wall = time.perf_counter() - t0
        committed = sum(1 for _bid, ran in first if ran)
        self.resume = (sum(1 for _bid, ran in second if ran), SNAPSHOT_BATCHES - committed)
        self.last_base = base
        return wall

    def scan(self) -> float:
        """Scan-only pass over the same input: ``(url, html)`` → noop."""
        t0 = time.perf_counter()
        read_pages(self.spark, self.corpus).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def output_rows(self) -> Tuple[List[tuple], List[str]]:
        """(url, label, text) rows of one untimed pass, plus the problems
        found by checks beyond the rows themselves. Also warms the pass up."""
        if self.workload != "snapshot_job":
            df = pipeline(self.workload, read_pages(self.spark, self.corpus))
            return [tuple(r) for r in df.select("url", "label", "text").collect()], []
        from pyspark.sql import functions as F

        from edspdf_spark.job import job_tables

        self.run()
        agg, met = job_tables(self.spark, self.last_base)
        rows = [tuple(r) for r in agg.read().select("url", "label", "text").collect()]
        totals = met.read().agg(F.sum("n_docs"), F.sum("n_errors")).first()
        problems = []
        if (totals[0], totals[1]) != (self.corpus.n_docs, self.corpus.n_corrupt):
            problems.append(
                f"metrics table counts docs={totals[0]} errors={totals[1]}, "
                f"expected {self.corpus.n_docs} and {self.corpus.n_corrupt}"
            )
        if sorted(agg.committed_batches()) != [
            f"batch-{b:05d}" for b in range(SNAPSHOT_BATCHES)
        ]:
            problems.append(f"committed batches {sorted(agg.committed_batches())}")
        return rows, problems


def check(expected: Dict[str, list], rows: Iterable[tuple]) -> Dict[str, object]:
    """Compare output rows with the expectation, per document.

    A document fails when its rows differ from the expected ones: missing,
    wrong text or label, or rows for a document that should have none.
    Documents corrupted on purpose expect no row, so dropping them counts
    as success. Rows for urls outside the corpus count as failures too.
    """
    got: Dict[str, list] = {}
    for url, label, text in rows:
        got.setdefault(url, []).append((label, text))
    failed = sorted(u for u, exp in expected.items() if sorted(got.get(u, [])) != exp)
    stray = sorted(set(got) - set(expected))
    attempted = len(expected)
    n_failed = len(failed) + len(stray)
    return {
        "attempted": attempted,
        "failed": n_failed,
        "failed_share": n_failed / max(1, attempted),
        "docs_out": sum(1 for u in expected if got.get(u)),
        "examples": (failed + stray)[:3],
    }
