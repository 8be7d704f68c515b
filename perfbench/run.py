"""Benchmark entry point.

    python3 perfbench/run.py --workload {crawl,query} --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The process re-executes itself under
``taskset`` pinned to CORES cores, starts a ``local[CORES]`` Spark session
with a fixed driver heap, sets up the workload (warm-up and input build,
timed as ``setup_s``), runs its closed loop, checks every output against
an oracle, and prints a detail line followed by one JSON result line.

With ``--trace 1`` the run also enables a Spark event log, wraps the
program's eager public calls in spans, replays its lazy builders on
captured inputs, and prints the per-layer metrics instead. Spans and the
per-layer report are written to ``.perfbench_out/``; all scratch data
lives in ``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a heap this 15 GB, 4-core box can hold next to the Python workers
DRIVER_MEM = "3g"
PINNED_ENV = "PERFBENCH_PINNED"

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "peak_rss_mb": "MB",
}


def _args(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _pin(cores: int) -> None:
    """Re-execute under taskset so the JVM and every Python worker it forks
    share the same ``cores`` cores (a fresh process per run)."""
    if os.environ.get(PINNED_ENV) or shutil.which("taskset") is None:
        return
    n = min(cores, os.cpu_count() or cores)
    os.environ[PINNED_ENV] = str(T_START)
    os.execvp(
        "taskset",
        ["taskset", "-c", f"0-{n - 1}", sys.executable, os.path.abspath(__file__)]
        + sys.argv[1:],
    )


def _session(work: str, trace: bool):
    from goprowl_spark.session import get_spark

    from workloads import CORES

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
        # A fixed, pre-touched heap. Without it the JVM faults its heap in
        # during the timed ops, and how far it grows the heap differs from
        # run to run: the measured spread of query latency and of
        # peak_rss_mb rose to 0.18 and 0.24. So peak_rss_mb cannot see the
        # program's heap use below the cap; the traced run's
        # spark.exec_memory_peak_mb reports Spark's share of it instead.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
    }
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + logs,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                # per-task memory peaks, for spark.exec_memory_peak_mb
                "spark.executor.metrics.pollingInterval": "100ms",
            }
        )
    return get_spark("perfbench", cores=CORES, shuffle_partitions=CORES, extra_conf=conf)


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    import tracing as tr

    from pyspark import SparkContext

    tree = [p for p in tr.process_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
        time.sleep(0.1)


def _metric(value: float, unit: str) -> dict:
    import stats

    return {"value": value, "unit": stats.check_unit(unit)}


def main(argv) -> int:
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "goprowl_spark")):
        print(f"no goprowl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    _pin(workloads.CORES)
    t_start = float(os.environ.get(PINNED_ENV) or T_START)

    os.chdir(ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # no hsperfdata files in /tmp: every write stays inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    import stats
    import tracing as tr

    tracer = tr.Tracer() if a.trace else None
    spark = None
    missing: dict[str, str] = {}
    try:
        with tr.ProcSampler() as rss:
            t0 = time.time()
            spark = _session(work, bool(a.trace))
            run = workloads.Run(spark, work, a.seed, a.seconds, tracer)
            run.setup["session.start_ms"] = (time.time() - t0) * 1e3
            workloads.WORKLOADS[a.workload](run)
        _stop(spark)
        spark = None
        if tracer is not None:
            missing = workloads.finish_trace(run, os.path.join(work, "eventlog"))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    # process start → first timed op: interpreter and imports, the session,
    # the input build and the warm-up
    setup_s = (t0 - t_start) + sum(run.setup.values()) / 1e3
    lat_ms = [x * 1e3 for x in run.lat]
    # a wrong warm-up round or seen set fails the crawl's measured rounds
    # too, but no more ops can fail than were attempted
    failed = min(len(run.failures), run.attempted)
    detail = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "metrics": {
            "setup_s": {"value": setup_s, "unit": "s", "samples": run.setup_samples},
            "throughput_per_s": {
                "value": run.units / sum(run.lat), "unit": "1/s", "samples": run.units,
            },
            "latency_p50_ms": {
                "value": stats.percentile(lat_ms, 50), "unit": "ms", "samples": len(lat_ms),
            },
            "latency_p90_ms": {
                "value": stats.percentile(lat_ms, 90),
                "unit": "ms",
                "samples": len(lat_ms),
                "supported": stats.supports(len(lat_ms), 90),
            },
            "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB", "samples": rss.samples},
            "error_rate": {
                "value": stats.error_rate(failed, run.attempted),
                "unit": "ratio",
                "samples": run.attempted,
            },
        },
        "setup": run.setup,
        "failures": run.failures,
    }
    if tracer is not None:
        units = workloads.per_layer_units()
        layer = {k: run.layer[k] for k in units}
        detail["per_layer"] = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
        detail["per_layer_unavailable"] = missing
        stem = os.path.join(out_dir, f"{a.workload}-seed{a.seed}")
        tracer.dump(stem + "-spans.json")
        with open(stem + "-layers.json", "w") as f:
            json.dump(detail, f, indent=1)
        metrics = {k: _metric(v, units[k]) for k, v in layer.items()}
    else:
        metrics = {k: _metric(detail["metrics"][k]["value"], u) for k, u in END_TO_END.items()}
    for name in metrics:
        stats.check_name(name)
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": run.attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:
        traceback.print_exc()
        sys.exit(1)
