"""PySpark daemon that records kernel spans in its Python workers.

Passed as ``spark.python.daemon.module`` in traced runs only. It imports
the engine before forking workers, prepares the wrappers of
:mod:`perfbench.spans`, and wraps each task: when the file
``$PERFBENCH_TRACE_DIR/active`` names a run, the task runs with the
wrappers installed under a ``python.task`` span and its spans are written
to ``$PERFBENCH_TRACE_DIR/<run>/`` when it ends; otherwise the originals
are restored and the task runs untouched.
"""

from __future__ import annotations

import os
import time

import pyspark.daemon as daemon

from perfbench import spans


def active_run(trace_dir: str):
    try:
        with open(os.path.join(trace_dir, "active")) as f:
            return int(f.read())
    except FileNotFoundError:
        return None


def main() -> None:
    import edspdf_spark.metrics  # noqa: F401  (binds kernel functions)
    import edspdf_spark.operators  # noqa: F401

    trace_dir = os.environ["PERFBENCH_TRACE_DIR"]
    recorder = spans.Recorder()
    installation = spans.Installation(recorder)
    run_task = daemon.worker_main
    tasks = 0

    def worker_main(infile, outfile):
        nonlocal tasks
        # a reused worker enters here as soon as its previous task ends and
        # then blocks for the next one: the task starts when its bytes arrive
        infile.peek(1)
        run = active_run(trace_dir)
        if run is None:
            installation.uninstall()
            return run_task(infile, outfile)
        installation.install()
        recorder.run = run
        sid = recorder.begin()
        t0 = time.perf_counter_ns()
        try:
            return run_task(infile, outfile)
        finally:
            recorder.end(sid, spans.NAME_ID[spans.TASK], t0)
            tasks += 1
            out = os.path.join(trace_dir, str(run))
            os.makedirs(out, exist_ok=True)
            recorder.flush(out, str(tasks))

    daemon.worker_main = worker_main
    daemon.manager()


if __name__ == "__main__":
    main()
