"""Seeded benchmark of the link-graph engine: one workload per run.

    python3 perfbench/run.py --workload edge_stream --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  The run starts ``get_spark(cores=4)``,
builds its inputs from ``--seed`` (set-up, timed), computes reference
results without Spark (untimed), then repeats closed-loop passes over the
workload's operations until ``--seconds`` have passed (at least one pass),
checking every output after its pass.  It prints one ``name value unit``
line per metric, then, as its last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  A traced run also writes its spans to
``.perfbench_work/trace-<workload>-seed<seed>.json``.  Everything the run
writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

T0 = time.perf_counter()
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
DRIVER_MEMORY = "3g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the benchmark's own tests")
    return p.parse_args(argv)


def start_spark(workdir: str, traced: bool):
    """``get_spark(cores=4)`` with every file it writes kept in ``workdir``."""
    from sbm_communitydetection_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # Python workers and iteration snapshots
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides spark.local.dir if set
    tempfile.tempdir = tmp
    conf = {
        "spark.local.dir": local,
        # get_spark's own option first; the rest keep the JVM's files in
        # the work directory
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
    }
    if traced:
        # the probe reads per-stage counters after every span; one 18-batch
        # stream-CC fold runs several hundred stages, near the default 1000
        # the status store keeps.  Untraced runs keep the program's default.
        conf["spark.ui.retainedStages"] = "10000"
        conf["spark.ui.retainedJobs"] = "10000"
    return get_spark(
        app_name="perfbench", cores=CORES, driver_memory=DRIVER_MEMORY, extra_conf=conf
    )


def measure(spark, session_s: float, workload: str, seed: int, seconds: float,
            traced: bool, scale: str, workdir: str, trace_path: str | None = None) -> dict:
    """Set up, check and time one workload on a started session (which took
    ``session_s`` to start); returns the result object."""
    from perfbench import metrics
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    tracer = Tracer(spark, enabled=traced)
    wl = WORKLOADS[workload](spark, seed, workdir, scale)
    with tracer.span("sources", f"{workload}-s{seed}-setup") as setup:
        rows = wl.setup()
    print(f"perfbench: session started in {session_s:.2f}s, inputs generated in "
          f"{setup.duration:.2f}s; set up at {time.perf_counter() - T0:.1f}s", file=sys.stderr)
    wl.oracle()
    tracer.skip()  # the oracle's Spark jobs belong to no span
    print(f"perfbench: oracle done at {time.perf_counter() - T0:.1f}s", file=sys.stderr)

    passes, attempted, failed = [], 0, 0
    deadline = time.perf_counter() + seconds
    while True:
        run_id = f"{workload}-s{seed}-p{len(passes)}"
        mark = len(tracer.spans)
        with tracer.span("pass", run_id) as span:
            res = wl.run_pass(tracer, run_id)
        bad = wl.check(res)
        tracer.skip()  # nor do the check's
        for op, why in bad.items():
            print(f"FAILED {run_id} {op}: {why}", file=sys.stderr)
        attempted += len(wl.ops)
        failed += len(bad)
        passes.append(metrics.pass_metrics(wl, res, bad, span, tracer.spans[mark:], CORES))
        wl.release(res)
        if time.perf_counter() >= deadline:
            break

    print(f"perfbench: passes done at {time.perf_counter() - T0:.1f}s", file=sys.stderr)
    result = metrics.summarize(passes, session_s, setup, rows, traced, spark, CORES)
    if traced and trace_path:
        tracer.write(trace_path, {
            "workload": workload, "seed": seed, "passes": len(passes),
            "metrics": {k: v["value"] for k, v in result.items()},
        })
    wl.release_inputs()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": result,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import sbm_communitydetection_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.probes import stop_spark
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    workdir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(workdir)
    trace_path = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json")
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(workdir, bool(args.trace))
        session_s = time.perf_counter() - t0
        out = measure(spark, session_s, args.workload, args.seed, args.seconds,
                      bool(args.trace), args.scale, workdir, trace_path)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    print(f"perfbench: stopped at {time.perf_counter() - T0:.1f}s", file=sys.stderr)
    for name, m in out["metrics"].items():
        print(f"{name} {m['value']!r} {m['unit']}")
    print(f"error_rate {out['failed'] / out['attempted']!r} ratio "
          f"({out['failed']} of {out['attempted']} operations failed)")
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
