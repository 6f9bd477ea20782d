#!/usr/bin/env python3
"""The repository benchmark: one workload, one fresh Spark session, one
client calling the package's public entry points one at a time.

    python3 perfbench/run.py --workload validate_resume --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see workloads.py):
``validate_resume`` and ``parse_and_query``.

A run sets up (session start, seeded input generation and registration),
then runs timed passes until ``--seconds`` have elapsed; a pass is never
cut, so at least one whole pass runs. The metrics describe the first pass:
a fresh session's pass, which is what one invocation of the package's
command-line tools pays. Every output is then checked against an
independent expectation (the pandas golden engine, the generator's planted
templates and lines, DuckDB oracles); a mismatch or an exception is a failed
operation. Golden and oracle results are computed once, outside the timed
section, and cached under ``.bench_work/cache``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps public
package functions in spans, tags the Spark jobs they launch, and prints the
per-layer metrics read from Spark's status store; ``trace.wall_s`` minus an
untraced run's ``wall_s`` is the tracing overhead. ``--smoke`` runs the same
code on tiny inputs.

Output: a ``{"run_record": ...}`` line (host, versions, load, sizes, step
walls), then, as the last line, ``{"correct", "attempted", "failed",
"metrics"}``. Everything a run writes stays under ``.bench_work/`` in the
repository root; the run's own files are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from types import SimpleNamespace

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DRIVER_MEMORY = "2g"


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _prepare_env(work: str, nproc: int) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark inside
    ``work`` and size the session to this host, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    env["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # no hsperfdata files under /tmp, JVM temp files under the work dir
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (env.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}") if o
    )


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait for every child process."""
    from pyspark import SparkContext

    from log_anomaly_detector_spark.session import quiesce
    from tracing import descendants

    quiesce(spark)
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        os.kill(pid, signal.SIGKILL)


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, same code path")
    args = ap.parse_args(argv)

    sys.path[:0] = [BENCH_DIR, ROOT]
    try:
        import log_anomaly_detector_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    _prepare_env(work, nproc)
    try:
        return _run(args, t_start, nproc, work, work_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, t_start: float, nproc: int, work: str, work_root: str) -> int:
    import duckdb
    import pyspark
    from tracing import RssSampler, Spans, Tracer
    from workloads import END_TO_END, PER_LAYER, WORKLOADS, Workload

    from log_anomaly_detector_spark.session import get_spark

    spans = Spans()
    sampler = RssSampler().start()
    with spans.span("session.start"):
        spark = get_spark(
            f"perfbench-{args.workload}", master=f"local[{nproc}]",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
    try:
        tracer = Tracer(spark, spans) if args.trace else None
        ctx = SimpleNamespace(
            spark=spark, spans=spans, seed=args.seed, smoke=args.smoke, work=work,
            cache=os.path.join(work_root, "cache"), bench_dir=BENCH_DIR,
            # a span that, in traced runs, also tags the Spark jobs inside it
            tag=tracer.tagged if tracer else (lambda name, tag=None: spans.span(name)),
            # after each timed call, traced runs read its jobs from the status store
            after_call=tracer.collect if tracer else (lambda: None),
        )
        wl = Workload(WORKLOADS[args.workload], ctx)
        wl.setup()
        if tracer:
            tracer.collect()        # set-up jobs are not part of any layer
            tracer.jobs.clear()
            wl.install(tracer)
        setup_s = time.perf_counter() - t_start

        load_before = _load1()
        t0 = time.perf_counter()
        while True:
            wl.run_pass()
            if tracer and len(wl.passes) == 1:   # per-layer numbers describe pass 1
                tracer.unwrap()
                layers = wl.layers(tracer)
            if time.perf_counter() - t0 >= args.seconds:
                break
        timed_s = time.perf_counter() - t0
        load_after = _load1()
        peak_rss_mb = sampler.stop()

        wl.check()
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "smoke": args.smoke, "nproc": nproc,
            "load1_before": load_before, "load1_after": load_after,
            "spark": spark.version, "pyspark": pyspark.__version__,
            "python": sys.version.split()[0], "duckdb": duckdb.__version__,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "sizes": wl.sizes(), "timed_s": timed_s, "passes": wl.passes,
            "problems": wl.problems,
        }
    finally:
        sampler.stop()
        _stop(spark)

    first = wl.passes[0]
    wall = sum(first.values())
    if tracer:
        values = dict.fromkeys(PER_LAYER, 0.0)
        values.update(layers)
        values.update({
            "session.start_s": spans.total("session.start"),
            "datagen.write_s": spans.total("datagen.write"),
            "storage.register_s": spans.total("storage.register"),
            "trace.wall_s": wall,
            "trace.self_s": tracer.self_s,
        })
        units = PER_LAYER
    else:
        phase1, phase2 = wl.phase_walls(first)
        values = {
            "setup_s": setup_s,
            "wall_s": wall,
            "phase1_s": phase1,
            "phase2_s": phase2,
            "step_geomean_s": math.exp(statistics.fmean(math.log(v) for v in first.values())),
            "peak_rss_mb": peak_rss_mb,
        }
        units = END_TO_END

    spans_dir = os.path.join(work_root, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(spans_dir, name), "w") as f:
        json.dump({"record": record, "spans": spans.records, "self_s": spans.self_times(),
                   "jobs": tracer.jobs if tracer else []}, f)
    print(json.dumps({"run_record": record}))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
