"""Production-path benchmark of the edspdf_spark engine.

    python3 perfbench/run.py --workload pdf_bytes --seed 1 --seconds 6 --trace 0

Generates the workload's corpus from ``--seed`` (cached by seed, size and
generator source under ``.perfbench_work/``), sets up a ``local[k]``
session from a cold JVM, checks one pass's output against the generator's
expectation, warms up, then runs the production pass repeatedly for
``--seconds``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs with the span-recording daemon and reports the per-layer split of one
traced pass. The last line of standard output is
the JSON result; the lines before it name every figure with its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("payload_skewed", "pdf_bytes", "html_composed", "snapshot_job")
# untimed passes, counted from the start of the check pass, before the
# timed ones: pass walls keep falling for the first seconds after the JVM
# starts (JIT), which would otherwise spread the median with the run length.
# html_composed's walls fall for about three passes after the check pass;
# snapshot_job's check pass alone takes about 12 s, and the pass after it
# is still up to 30% slower than the next, so it gets one more.
WARM_SECONDS = {"payload_skewed": 8, "pdf_bytes": 6, "html_composed": 14, "snapshot_job": 16}
MAX_CORES = 4


def _session_env(traced: bool, trace_dir: str) -> dict:
    """Spark confs that keep every file the run writes inside the checkout;
    the traced session also swaps in the span-recording daemon."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = tmp
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.environ["PERFBENCH_TRACE_DIR"] = trace_dir
        conf["spark.ui.enabled"] = "true"
        conf["spark.python.daemon.module"] = "perfbench.trace_daemon"
    return conf


def set_up(k: int, conf: dict):
    """SparkSession start plus the warm-up that brings a Python worker up
    on every core; returns (session, seconds)."""
    from edspdf_spark import get_spark
    from perfbench.workloads import warm_up

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{k}]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, k)
    return spark, time.perf_counter() - t0


def shut_down(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_loop(p, seconds: float):
    """Repeat the pass until ``seconds`` have elapsed; the walls of each."""
    walls = []
    end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < end:
        walls.append(p.run())
    return walls


def warm(p, until: float) -> None:
    """Untimed passes until ``time.perf_counter()`` reaches ``until``."""
    while time.perf_counter() < until:
        p.run()


def layer_split(p, corpus, k: int, trace_dir: str, untraced_wall: float) -> dict:
    """Per-layer metrics of one traced pass plus a scan-only pass."""
    from edspdf_spark.sources.snapshots import SnapshotTable
    from perfbench import probes, spans

    stages = probes.StageMetrics(p.spark)
    run_dir = os.path.join(trace_dir, "1")
    driver = spans.Recorder()  # driver-side spans: snapshot appends
    driver.run = 1
    real_append = SnapshotTable.append
    SnapshotTable.append = driver.wrap(
        spans.SNAPSHOT_APPEND, real_append, lambda committed: int(bool(committed))
    )
    floor = stages.floor()
    with open(os.path.join(trace_dir, "active"), "w") as f:
        f.write("1")
    try:
        wall = p.run()
    finally:
        os.unlink(os.path.join(trace_dir, "active"))
        SnapshotTable.append = real_append
    os.makedirs(run_dir, exist_ok=True)
    driver.flush(run_dir, "driver")
    spark_m = stages.collect(floor)

    floor = stages.floor()
    p.scan()
    scan_m = stages.collect(floor)

    self_s, _calls, counts = spans.self_times(spans.load(run_dir))
    worker_s = sum(v for name, v in self_s.items() if name != spans.SNAPSHOT_APPEND)
    capacity = k * wall
    idle = 1.0 - spark_m["executor_run_s"] / capacity
    reran, uncommitted = p.resume
    m = {
        "sources.scan_s": (scan_m["executor_run_s"], "s"),
        "sources.bytes_in_mb": (corpus.meta["bytes"] / 1e6, "MB"),
        "kernel.payload.parse_s": (self_s["kernel.payload.parse"], "s"),
        "kernel.style.fold_s": (self_s["kernel.style.fold"], "s"),
        "kernel.reading_order.sort_s": (self_s["kernel.reading_order.sort"], "s"),
        "kernel.payload.extract_self_s": (self_s["kernel.payload.extract"], "s"),
        "kernel.overlap.align_s": (self_s["kernel.overlap.align"], "s"),
        "kernel.aggregate.aggregate_s": (self_s["kernel.aggregate.aggregate"], "s"),
        "kernel.pdf.parse_s": (self_s["kernel.pdf.parse"], "s"),
        "operators.extract_html.blocks_s": (self_s["operators.extract_html.blocks"], "s"),
        "operators.extract_html.context_s": (self_s["operators.extract_html.context"], "s"),
        "operators.fused.boundary_s": (self_s[spans.TASK], "s"),
        "spark.executor_run_s": (spark_m["executor_run_s"], "s"),
        "spark.executor_cpu_s": (spark_m["executor_cpu_s"], "s"),
        "spark.python_wait_s": (spark_m["executor_run_s"] - spark_m["executor_cpu_s"], "s"),
        "spark.gc_s": (spark_m["gc_s"], "s"),
        "spark.shuffle_write_mb": (spark_m["shuffle_write_mb"], "MB"),
        "spark.shuffle_read_mb": (spark_m["shuffle_read_mb"], "MB"),
        "spark.task_p50_s": (spark_m["task_p50_s"], "s"),
        "spark.task_max_s": (spark_m["task_max_s"], "s"),
        "spark.skew_ratio": (
            spark_m["task_max_s"] / spark_m["task_p50_s"] if spark_m["task_p50_s"] else 0.0,
            "ratio",
        ),
        "spark.idle_share": (idle, "share"),
        "sources.snapshots.append_s": (self_s[spans.SNAPSHOT_APPEND], "s"),
        "sources.snapshots.commits": (counts[spans.SNAPSHOT_APPEND], "count"),
        "sources.snapshots.resume_rerun_ratio": (
            reran / uncommitted if uncommitted else 0.0,
            "ratio",
        ),
        "lines_parsed": (
            counts["kernel.payload.parse"]
            + counts["kernel.pdf.parse"]
            + counts["operators.extract_html.blocks"],
            "count",
        ),
        # Σ layer self-times + idle = k × wall; what is left is reported
        "unattributed_share": (
            1.0 - idle - (worker_s + scan_m["executor_run_s"]) / capacity,
            "share",
        ),
        "trace.overhead_ratio": (wall / untraced_wall, "ratio"),
    }
    shutil.rmtree(run_dir, ignore_errors=True)
    return {"metrics": m, "traced_wall_s": wall, "stages": spark_m, "scan_stages": scan_m}


def run(args):
    """Run one workload; returns (report, result)."""
    from perfbench import corpus as corpus_mod
    from perfbench import probes
    from perfbench.workloads import Pass, check

    k = min(MAX_CORES, len(os.sched_getaffinity(0)))
    traced = bool(args.trace)
    report = {"workload": args.workload, "seed": args.seed, "k": k, **probes.versions()}
    report["calibration"] = probes.calibrate()

    t0 = time.perf_counter()
    corpus = corpus_mod.load_or_build(
        os.path.join(WORK, "corpus"), args.workload, args.seed, corpus_mod.SIZES[args.workload]
    )
    report["corpus"] = {**corpus.meta, "generate_s": time.perf_counter() - t0}

    trace_dir = os.path.join(WORK, f"trace-{os.getpid()}")
    pass_dir = os.path.join(WORK, f"out-{os.getpid()}")
    os.makedirs(trace_dir, exist_ok=True)
    os.makedirs(pass_dir, exist_ok=True)
    conf = _session_env(traced, trace_dir)

    spark = None
    try:
        spark, setup_s = set_up(k, conf)
        report["setup_s"] = setup_s

        p = Pass(spark, args.workload, corpus, pass_dir)
        warm_until = time.perf_counter() + WARM_SECONDS[args.workload]
        rows, problems = p.output_rows()
        warm(p, warm_until)
        with probes.RssSampler() as rss:
            walls = timed_loop(p, args.seconds)
        verdict = check(corpus.expected, rows)
        report["walls_s"] = walls
        report["peak_rss_mb"] = {
            "sum": rss.peak / 1e6,
            "jvm": rss.peak_jvm / 1e6,
            "workers": rss.peak_workers / 1e6,
        }
        report["check"] = {**verdict, "problems": problems}
        docs_per_s = corpus.n_docs / statistics.median(walls)
        result = {
            "correct": verdict["failed"] == 0 and not problems,
            "attempted": verdict["attempted"],
            "failed": verdict["failed"] + (1 if problems else 0),
        }
        if traced:
            split = layer_split(p, corpus, k, trace_dir, statistics.median(walls))
            metrics = split.pop("metrics")
            metrics["docs_in"] = (corpus.n_docs, "count")
            metrics["docs_out"] = (verdict["docs_out"], "count")
            metrics["docs_error_expected"] = (corpus.n_corrupt, "count")
            report["trace"] = split
        else:
            metrics = {
                "docs_per_s": (docs_per_s, "1/s"),
                "setup_s": (setup_s, "s"),
                "peak_worker_rss_mb": (rss.peak_workers / 1e6, "MB"),
            }
        report["failed_share"] = verdict["failed_share"]
    finally:
        if spark is not None:
            shut_down(spark)
        shutil.rmtree(pass_dir, ignore_errors=True)
        shutil.rmtree(trace_dir, ignore_errors=True)

    result["metrics"] = {
        name: {"value": float(value), "unit": unit} for name, (value, unit) in metrics.items()
    }
    report["metrics"] = result["metrics"]
    return report, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import edspdf_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    report, result = run(args)
    for name, m in report["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    rss = report["peak_rss_mb"]
    print(
        f"{args.workload} peak_rss_mb = {rss['sum']:.6g} MB "
        f"(JVM {rss['jvm']:.6g} + workers {rss['workers']:.6g})"
    )
    print(
        f"{args.workload} failed_share = {report['failed_share']:.6g} share "
        f"({result['failed']} of {result['attempted']} docs)"
    )
    print("report " + json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
