"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 20 --trace 0

Run from the repository root (or any checkout of it). Prints, as the
last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (name -> value and unit):
the ``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``. Inputs are cached under
``.perfbench/cache``; per-run scratch lives in ``.perfbench/run-<pid>``
and is removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_extract", "curate_staged")


def _process_age_s() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _prune_cache(cache: str, keep: int = 6) -> None:
    """Keep the ``keep`` most recently built input sets."""
    if not os.path.isdir(cache):
        return
    dirs = sorted(
        (os.path.join(cache, d) for d in os.listdir(cache)),
        key=os.path.getmtime,
    )
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def _environment(work: str, cores: int) -> None:
    """Everything Spark and its workers write goes under ``work``; the
    Python workers find the package through PYTHONPATH wherever the
    run starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def _start_spark(work: str, cores: int, eventlog: str | None):
    from win64_local_ocr_tool_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the heap is committed whole at start, as a deployment pins it,
        # so peak memory does not hang on when the collector grows it
        "spark.driver.extraJavaOptions": "-Xms" + os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }
    if eventlog:
        os.makedirs(eventlog)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{eventlog}"
        # one plain JSON-lines file, readable with the standard library
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes)
    and wait until every process it started has ended."""
    from pyspark import SparkContext

    from perfbench.measure import tree_pids

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = tree_pids()[1:]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", choices=("full", "toy"), default="full",
        help="toy: tiny inputs for the benchmark's self-test",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_process = time.monotonic() - _process_age_s()
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "win64_local_ocr_tool_spark")):
        print(f"no win64_local_ocr_tool_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = spec["per_layer" if args.trace else "end_to_end"]

    sys.path.insert(0, ROOT)
    from perfbench import inputs, measure, workloads

    size = workloads.SIZES[args.size]
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    cache, work = os.path.join(base, "cache"), os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work, cores)
    tracer = measure.Tracer(bool(args.trace))
    crawl_wl = args.workload == "crawl_extract"
    try:
        t_gen = time.monotonic()
        if crawl_wl or args.trace:
            pages, pmeta = inputs.crawl_pages(cache, size.crawl_docs, args.seed, cores)
        if not crawl_wl or args.trace:
            cdir, cmeta = inputs.curation_docs(cache, size.curate_docs, args.seed, 2 * cores)
        if args.trace:
            sdir, smeta = inputs.stream_increments(
                cache, size.stream_docs, size.increments, args.seed
            )
        gen_s = time.monotonic() - t_gen
        with measure.PeakRss() as rss:
            eventlog = os.path.join(work, "eventlog") if args.trace else None
            with tracer.span("session.start"):
                spark = _start_spark(work, cores, eventlog)
            try:
                run = workloads.Run(spark, work, size, args.seconds, tracer)
                if crawl_wl:
                    own = workloads.Crawl(run, pages, pmeta)
                else:
                    own = workloads.Curate(run, cdir, cmeta)
                with tracer.span("session.warmup"):
                    own.warm_up()
                run.put("setup_s", time.monotonic() - t_process - gen_s, "s")
                if not args.trace:
                    own.timed()
                else:
                    windows = _sweep(run, own, crawl_wl, pages, pmeta, cdir, cmeta, sdir, smeta)
            finally:
                _stop_spark(spark)
        if not args.trace:
            run.put("peak_rss_mb", rss.peak_mb, "MB")
        else:
            run.put("session.start_s", tracer.total("session.start"), "s")
            run.put("session.warmup_s", tracer.total("session.warmup"), "s")
            for name, (v, unit) in measure.spark_engine_metrics(eventlog, windows).items():
                run.put(name, v, unit)
            tracer.write(os.path.join(base, f"trace-{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        _prune_cache(cache)

    missing = [m["name"] for m in want if m["name"] not in run.metrics]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 1
    units = {m["name"]: m["unit"] for m in want}
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    name: {"value": run.metrics[name][0], "unit": unit}
                    for name, unit in units.items()
                },
            }
        )
    )
    return 0


def _sweep(run, own, crawl_wl, pages, pmeta, cdir, cmeta, sdir, smeta):
    """The traced run: every layer's numbers, the owning workload's layers
    warm, the other workload's layers once. Puts the tracing overhead:
    the owning workload's traced jobs against one job with spans off.
    Returns the wall-clock windows of the traced jobs, for the engine
    metrics."""
    from perfbench import workloads

    def untraced(name, job) -> float:
        run.tracer.enabled = False
        try:
            return run.op(name, job)[1]
        finally:
            run.tracer.enabled = True
            shutil.rmtree(run.path("plain"), ignore_errors=True)

    workloads.kernel_layers(run, pages)
    if crawl_wl:
        name = "pipeline.run_extraction"
        windows = workloads.extraction_layers(own, reps=1)
        plain = untraced(name, lambda: own.job(run.path("plain", "out"), run.path("plain", "lin")))
        workloads.curation_layers(workloads.Curate(run, cdir, cmeta), reps=1)
    else:
        name = "pipeline.run_curation_staged"
        windows = workloads.curation_layers(own, reps=1)
        plain = untraced(name, lambda: own.job(run.path("plain")))
        workloads.extraction_layers(workloads.Crawl(run, pages, pmeta), reps=1)
    workloads.stream_layers(run, sdir, smeta)
    traced = statistics.median(run.tracer.self_times()[name][: len(windows)])
    run.put("trace.overhead_pct", (traced - plain) / plain * 100, "%")
    return windows


if __name__ == "__main__":
    sys.exit(main())
