"""The repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 7 --trace 0

Run from the root of a checkout. It starts Spark on local[<cores>]
with the program's own session defaults (nothing but the core count is
set) and generates the workload's inputs from --seed. It then sets the
workload up SETUPS times in that session (input materialization,
planner sizing; the session's cache is cleared before each), and
reports setup_s = session start + the median set-up. Then it repeats
the workload's operation, one at a time, until --seconds have passed
(at least once); timings are medians over those operations. Outputs
are checked after Spark has stopped, outside the timed region. The
last line of standard output is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics (tracing off). --trace 1
runs one operation instead of the loop, with spans around the calls
into each layer, and reports the per-layer metrics. `trace.wall_s` is
that operation's wall time: minus `wall_s` of an untraced run with the
same seed it is the tracing overhead. `trace.overhead_s` is the time
spent in the tracer's own bookkeeping. Spans go to .perfbench/spans/.

Every file the run writes stays under .perfbench/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
WORKLOADS = ("crawl_bulk", "monitor_compare", "curate_sf01")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Point every scratch location (Python, Spark, JVM) inside `work`
    and make the checkout importable by Spark's Python workers."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "jvm-tmp")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={dirs['jvm-tmp']} -XX:-UsePerfData"
    )
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def make_workload(name: str, work: str, seed: int, tracer):
    if name == "crawl_bulk":
        from perfbench.wl_crawl import CrawlBulk as W
    elif name == "monitor_compare":
        from perfbench.wl_monitor import MonitorCompare as W
    else:
        from perfbench.wl_curate import CurateSf01 as W
    return W(work, seed, tracer)


def session():
    from web_crawler_spark.session import get_spark

    from perfbench.harness import cores

    spark = get_spark("perfbench", master=f"local[{cores()}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def measured_op(wl, spark, i: int) -> dict:
    from perfbench.harness import SparkCounter

    counter = SparkCounter(spark)
    counter.start()
    r = wl.op(i)
    counter.stop()
    rounds = r["layer"].get("crawl.rounds", 0)
    r["layer"].update(
        {
            "spark.jobs": counter.jobs,
            "spark.stages": counter.stages,
            "spark.tasks": counter.tasks,
            "spark.tasks_per_round": counter.tasks / rounds if rounds else 0.0,
        }
    )
    return r


def run(args: argparse.Namespace, work: str) -> tuple[dict, int, int]:
    from perfbench import metrics
    from perfbench.harness import RssSampler, Tracer, cpu_ticks, median, stop_spark

    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", enabled=False)
    wl = make_workload(args.workload, work, args.seed, tracer)
    layer = {k: 0.0 for k in metrics.PER_LAYER}
    marks = [("start", time.perf_counter())]  # phase boundaries, for the report
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = session()
        try:
            launch_s = time.perf_counter() - t0
            marks.append(("launch", time.perf_counter()))
            if hasattr(wl, "prepare"):
                wl.prepare(spark)
            setups = []
            for _ in range(SETUPS):
                spark.catalog.clearCache()  # each set-up materializes anew
                t0 = time.perf_counter()
                wl.setup(spark)
                setups.append(time.perf_counter() - t0)
            marks.append(("setup", time.perf_counter()))
            wl.warmup()
            marks.append(("warmup", time.perf_counter()))
            ticks0 = cpu_ticks()
            ops = []
            if args.trace:
                ops.append(traced_op(wl, spark, tracer, layer))
                layer["spark.launch_s"] = launch_s
            else:
                t_start = time.perf_counter()
                while not ops or time.perf_counter() - t_start < args.seconds:
                    ops.append(measured_op(wl, spark, len(ops)))
            ticks1 = cpu_ticks()
            marks.append(("ops", time.perf_counter()))
        finally:
            stop_spark(spark)
    marks.append(("stop", time.perf_counter()))
    # the check is the benchmark's own work: outside the timed region
    # and the memory sampling
    attempted, failed = wl.check()
    marks.append(("check", time.perf_counter()))

    steps = [s for o in ops for s in o["steps_ms"]]
    e2e = {
        "setup_s": launch_s + median(setups),
        "wall_s": median([o["wall_s"] for o in ops]),
        "items_per_s": median([o["items"] / o["wall_s"] for o in ops]),
        "step_ms_p50": median(steps),
    }
    layer["mem.peak_rss_mb"] = rss.peak_mb
    samples = {"setups": len(setups), "ops": len(ops), "steps": len(steps),
               "peak_rss_mb": round(rss.peak_mb)}
    total, stolen = (b - a for a, b in zip(ticks0, ticks1))
    samples["cpu_steal"] = round(stolen / max(total, 1), 4)
    samples["phases_s"] = {
        name: round(t - marks[i][1], 1) for i, (name, t) in enumerate(marks[1:])
    }
    if args.trace:
        spans = os.path.join(ROOT, ".perfbench", "spans", f"{tracer.run_id}.jsonl")
        tracer.write(spans)
        report_spans(tracer, spans)
    report(args, e2e, layer if args.trace else None, samples, attempted, failed)
    chosen = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    values = layer if args.trace else e2e
    out = {k: {"value": float(values[k]), "unit": u} for k, u in chosen.items()}
    return out, attempted, failed


def traced_op(wl, spark, tracer, layer: dict) -> dict:
    """One operation, in the position of a timed run's first operation,
    with spans around the layer calls; fills `layer`."""
    tracer.enabled = True
    restore = wl.hooks() if hasattr(wl, "hooks") else None
    try:
        op = measured_op(wl, spark, 0)
    finally:
        if restore:
            restore()
    layer.update(op["layer"])
    layer["trace.wall_s"] = op["wall_s"]
    layer["trace.overhead_s"] = tracer.own_s
    if hasattr(wl, "extra"):
        layer.update(wl.extra())
    layer["trace.spans"] = len(tracer.spans)
    for name, t in tracer.totals().items():
        if name.endswith(".plan"):
            layer[f"{name}_ms"] = t["total_ms"]
    return op


def report_spans(tracer, path: str) -> None:
    print(f"spans: {len(tracer.spans)} written to {os.path.relpath(path, ROOT)}")
    print(f"{'span':40s} {'count':>6s} {'total_ms':>10s} {'self_ms':>10s}")
    for name, t in sorted(tracer.totals().items()):
        print(f"{name:40s} {t['count']:6d} {t['total_ms']:10.1f} {t['self_ms']:10.1f}")


def report(args, e2e, layer, samples, attempted, failed) -> None:
    from perfbench import metrics

    print(f"workload {args.workload} seed {args.seed} samples {samples}")
    for k, u in metrics.END_TO_END.items():
        print(f"  {k:24s} {e2e[k]:14.4f} {u}")
    print(f"  {'failed_frac':24s} {failed / max(attempted, 1):14.4f} ratio"
          f" ({failed} of {attempted})")
    if layer is not None:
        for k, u in metrics.PER_LAYER.items():
            print(f"  {k:40s} {layer[k]:14.4f} {u}")


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "web_crawler_spark", "__init__.py")):
        print("perfbench: no web_crawler_spark package beside perfbench/",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    prepare_env(work)
    try:
        out, attempted, failed = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
