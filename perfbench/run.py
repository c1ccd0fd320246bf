"""synspark benchmark: one seeded workload, measured end to end.

    python3 perfbench/run.py --workload {ingest,query} \
        --seed N --seconds S --trace {0,1} [--scale small] [--corrupt]

Run from the repository root. One driver process with one client thread
issues every call (closed loop: the next call goes out when the previous
one returns) against a ``local[<cpus>]`` Spark session. The run sets up
its inputs several times (``setup_s`` is the median plus the Spark start),
warms up untimed, runs the workload's round a fixed number of times, then
checks the outputs against the in-repo oracles. The amount of work does
not depend on the clock, so runs of a faster and a slower engine measure
the same work. ``--seconds`` is accepted but does not change the work,
which takes about 13-16 s on a 4 vCPU box.

With ``--trace 0`` the last stdout line is a JSON object holding the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics of
a traced run (spans, Spark job counts, the layer probe and the tracing
overhead). The lines before it print every metric by name and unit.
``--corrupt`` falsifies one checked output, to show the check catches it.
The exit code is 0 only when every operation succeeded and every check
passed. Scratch files live in ``.perfbench_work/`` and span files in
``.perfbench_out/``, both under the current directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent
SETUP_REPS = 3
DRIVER_MEMORY = "3g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest", "query"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["default", "small"],
                   default="default")
    p.add_argument("--corrupt", action="store_true")
    return p.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def spark_settings() -> dict:
    n = cpus()
    return {"master": f"local[{n}]", "spark.sql.shuffle.partitions": n,
            "spark.driver.memory": DRIVER_MEMORY}


def confine(work: Path) -> None:
    """Keep every file the run writes (temp files, Spark scratch, the
    shipped package zip) under ``work``; let the Python workers import
    the engine from the checkout."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # no JVM perf-data files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get(
            "PYTHONPATH", "").split(os.pathsep) if p])


def start_spark(work: Path):
    from synspark.session import get_spark
    s = spark_settings()
    spark = get_spark(
        app="synspark-perfbench", master=s["master"],
        shuffle_partitions=s["spark.sql.shuffle.partitions"],
        extra={"spark.driver.memory": s["spark.driver.memory"],
               "spark.local.dir": str(work / "spark-local"),
               "spark.sql.warehouse.dir": str(work / "warehouse"),
               "spark.driver.extraJavaOptions":
                   f"-Djava.io.tmpdir={work / 'tmp'} "
                   f"-Dderby.system.home={work / 'tmp'}",
               "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def metric(value, unit) -> dict:
    return {"value": float(value), "unit": unit}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import pyspark  # noqa: F401
        import synspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    shutil.rmtree(work, ignore_errors=True)
    confine(work)
    import warnings
    warnings.filterwarnings("ignore")

    from tracing import Outcomes, Tracer
    from workloads import WORKLOADS, median, tail

    t0 = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, args.workload, enabled=False)
        outcomes = Outcomes()
        w = WORKLOADS[args.workload](spark, args.seed, args.scale, tracer,
                                     outcomes, work)
        w.corrupt = args.corrupt
        reps = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            w.setup()
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        w.warmup()
        phases = {"warmup": time.perf_counter() - t}

        tracer.enabled = bool(args.trace)
        t_loop = time.perf_counter()
        items = w.start()
        lats = []
        for _ in range(w.rounds):
            tracer.next_op()
            with tracer.span(f"{args.workload}.round"):
                lat, n = w.round()
            lats.append(lat)
            items += n
        loop_s = time.perf_counter() - t_loop
        t = time.perf_counter()
        w.check()
        phases["check"] = time.perf_counter() - t

        layers = {}
        if args.trace:
            from layers import probe
            tracer.next_op()
            t = time.perf_counter()
            layers = probe(w, tracer, args.scale)
            phases["probe"] = time.perf_counter() - t
            layers["session.start_s"] = session_s
            layers["spark.failed_tasks"] = tracer.failed_tasks
            layers["trace.loop_p50_s"] = median(lats)
            layers["trace.overhead_s"] = tracer.overhead_per_call()
        sizes = w.sizes()
        report = w.report()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()

    e2e = {
        "setup_s": metric(session_s + statistics.median(reps), "s"),
        "p50_s": metric(median(lats), "s"),
        "items_per_s": metric(items / loop_s, "1/s"),
    }
    print(f"workload {args.workload} seed {args.seed} scale {args.scale} "
          f"spark {json.dumps(spark_settings())}")
    print(f"sizes {json.dumps(sizes)}")
    print(f"rounds {len(lats)} in {loop_s:.2f} s "
          f"{[round(x, 3) for x in lats]}; {items} {w.item_unit}; "
          f"setup reps {[round(x, 3) for x in reps]}; "
          f"spark start {session_s:.3f} s; " + "; ".join(
              f"{k} {v:.2f} s" for k, v in phases.items())
          + f"; wall {time.perf_counter() - t0:.2f} s")
    tl = tail(lats)
    if tl is not None:
        report.append((f"round_p{tl[0]:.0f}_s", tl[1], "s", len(lats)))
    report.append(("failed_frac", outcomes.failed / max(outcomes.attempted, 1),
                   "failed/attempted", outcomes.attempted))
    for name, v in e2e.items():
        print(f"metric {name} = {v['value']:.6g} {v['unit']}")
    for name, v, unit, n in report:
        print(f"metric {name} = {v:.6g} {unit} (n={n})")
    if args.trace:
        out_dir.mkdir(exist_ok=True)
        span_file = out_dir / f"trace-{args.workload}-seed{args.seed}.jsonl"
        tracer.write(span_file)
        print(f"spans {len(tracer.spans)} written to {span_file}")
        for name, v in sorted(tracer.self_times().items()):
            print(f"self {name} = {v:.4f} s")
        from layers import UNITS
        for name, unit in UNITS.items():
            print(f"layer {name} = {layers[name]:.6g} {unit}")
    for what in outcomes.mismatches + outcomes.errors:
        print(f"FAILED {what}", file=sys.stderr)

    metrics = ({k: metric(layers[k], u) for k, u in UNITS.items()}
               if args.trace else e2e)
    correct = outcomes.failed == 0
    print(json.dumps({"correct": correct, "attempted": outcomes.attempted,
                      "failed": outcomes.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
