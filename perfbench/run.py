"""newsflow benchmark: one workload, one fresh process.

    python3 perfbench/run.py --workload {news_ingest,dashboard} --seed N \
        --seconds S --trace {0,1} [--cores C]

Run from the repository root. The run pins its environment (cores,
driver memory, scratch and temp directories inside the checkout, and
PYTHONPATH for the Python workers), builds or reuses its seeded inputs,
starts a Spark session, runs the workload, checks every output outside
the timed region, stops every process it started, and prints as its
last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (no tracing is
active); with ``--trace 1`` they are the per-layer ones every workload
has. A traced run also prints the per-layer table (self time per layer)
and the metrics of the layers only its workload enters on a "layers:"
line, and writes spans, jobs and both tables to ``perfbench/.traces/``.
``--cores`` overrides ``local[nproc]``, e.g. ``--cores 1`` for a
single-core trace.

End-to-end metrics (every workload):
  setup_s      process start until the session is ready and the inputs
               are registered; excludes building the cached inputs,
               which is reported on its own line
  cold_cpu_s   CPU seconds the process tree, less the JVM's JIT
               compiler threads, spends on the workload's job
               the first time in the process: news_ingest = pages in
               until every mart is committed; dashboard = the first
               round over the query mix (plan builds, construction-time
               jobs, first executions)
  warm_cpu_s   median CPU seconds of the workload's repeated warm job:
               news_ingest = the Sentiment_Batch DAG re-run over the
               committed articles mart; dashboard = a round over the mix
               with the plan cache warm
  peak_rss_mb  peak resident memory of the JVM plus the Python driver

CPU seconds stand in for wall seconds because on a shared host the
walls of these one-shot jobs swing with CPU steal, and JIT compiling is
left out because it swings from run to run (see procs.py); the walls
are printed on the "detail:" line (cold_s, warm_s, ingest_s, query_*_s).
"""

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from statistics import median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "canadiannewsdatapipeline_spark"
DRIVER_MEMORY = "2g"

E2E = [("setup_s", "s"), ("cold_cpu_s", "s"), ("warm_cpu_s", "s"), ("peak_rss_mb", "MB")]


# Per-layer metrics every workload measures, so none of them reads a
# constant zero on a workload that never enters the layer. The metrics
# of layers only one workload enters (plans.*, enrich.*, queries.*,
# streaming.*, per-operator ones) are in the trace file and on the
# traced run's "layers:" line.
PER_LAYER = [
    ("session.start_s", "s"), ("sources.load_table_s", "s"),
    ("sources.scan_bytes", "bytes"), ("sources.write_bytes", "bytes"),
    ("operators.call_time_jobs", "count"), ("operators.call_time_s", "s"),
    ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.tasks", "count"), ("exec.failed_tasks", "count"),
    ("trace.self_s", "s"), ("trace.cold_s", "s"), ("trace.cold_cpu_s", "s"),
    ("trace.warm_s", "s"), ("trace.warm_cpu_s", "s"),
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    return ap.parse_args(argv)


def pin_environment(work: str, cores: int) -> None:
    """Settings both sides of an A/B comparison run under. Everything
    the run writes stays under ``work``, inside the checkout."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE_DIR": os.path.join(work, "spark-warehouse"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                             "-XX:-UseDynamicNumberOfCompilerThreads",
        "PYTHONPATH": ROOT,
        # the driver heap starts at its full size, so peak RSS follows the
        # pages the run touches, not when the JVM chose to grow the heap
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Xms{DRIVER_MEMORY} pyspark-shell",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_GRAFT_MAX_PARTITION_BYTES", None)


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def common_layers(ctx, workload, session_s: float) -> dict[str, float]:
    tr = ctx.tracer
    tot = tr.totals(tr.jobs())
    calls = workload.call_time_spans(tr)
    return {
        "session.start_s": session_s,
        "sources.load_table_s": sum(sp.seconds for sp in tr.named("sources.load_table")),
        "sources.scan_bytes": tot.input_bytes,
        "sources.write_bytes": tot.output_bytes,
        "operators.call_time_jobs": len(tr.jobs(calls)),
        "operators.call_time_s": sum(sp.seconds for sp in calls),
        "exec.run_s": tot.run_s, "exec.cpu_s": tot.cpu_s, "exec.gc_s": tot.gc_s,
        "exec.shuffle_read_bytes": tot.shuffle_read_bytes,
        "exec.shuffle_write_bytes": tot.shuffle_write_bytes,
        "exec.spill_bytes": tot.spill_bytes, "exec.tasks": tot.tasks,
        "exec.failed_tasks": tot.failed_tasks,
        "trace.self_s": tr.overhead_s,
        "trace.cold_s": ctx.cold_s, "trace.cold_cpu_s": ctx.cold_cpu_s,
        "trace.warm_s": median(ctx.warm_s), "trace.warm_cpu_s": median(ctx.warm_cpu_s),
    }


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work")
    pin_environment(work, args.cores)
    sys.path[0] = ROOT  # import perfbench as a package, not its modules

    from perfbench import procs
    from perfbench.stats import result_line
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]()

    t = time.perf_counter()
    workload.prepare(os.path.join(HERE, ".cache"), args.seed)
    datagen_s = time.perf_counter() - t
    print(f"inputs: {args.workload} seed={args.seed} prepared in {datagen_s:.3f} s "
          "(cached per seed; not part of setup_s)")

    from canadiannewsdatapipeline_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t
    try:
        run_id = f"pb-{args.workload}-s{args.seed}-{os.getpid()}"
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        ctx = Ctx(spark, Tracer(spark, run_id, bool(args.trace)), args.seconds, work,
                  jvm_pid)
        try:
            workload.register(ctx)
            setup_s = time.perf_counter() - _T0 - datagen_s
            workload.run(ctx)
        except Exception:
            traceback.print_exc()
            print(f"FAILED: {args.workload} raised before finishing; no result")
            return 1
        workload.check(ctx)
        rss = procs.peak_rss_mb(jvm_pid)
        if args.trace:
            ctx.tracer.collect()
            own = dict(workload.layers(ctx), **{"queries.cached_bytes": cached_bytes(spark)})
            layers = common_layers(ctx, workload, session_s)
    finally:
        stop_spark(spark)

    failed = len(ctx.failures)
    detail = dict(ctx.detail, cold_s=ctx.cold_s, warm_s=median(ctx.warm_s),
                  failed_frac=failed / ctx.attempted, failures=ctx.failures,
                  cores=args.cores, driver_memory=DRIVER_MEMORY)
    print("detail: " + json.dumps(detail))
    if args.trace:
        traces = os.path.join(HERE, ".traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-s{args.seed}-c{args.cores}.json")
        ctx.tracer.write(path, {"workload": args.workload, "seed": args.seed,
                                "cores": args.cores, "metrics": layers,
                                "workload_layers": own})
        print(f"trace: {path}")
        for layer, row in sorted(ctx.tracer.layer_table().items()):
            print(f"layer {layer:<10} spans {row['spans']:>4}  self {row['self_s']:8.3f} s"
                  f"  jobs {row['jobs']:>4}  exec {row['exec']['run_s']:8.3f} s")
        print("layers: " + json.dumps(own))
        metrics = {n: (layers[n], u) for n, u in PER_LAYER}
        names = [n for n, _ in PER_LAYER]
    else:
        metrics = {"setup_s": (setup_s, "s"), "cold_cpu_s": (ctx.cold_cpu_s, "s"),
                   "warm_cpu_s": (median(ctx.warm_cpu_s), "s"), "peak_rss_mb": (rss, "MB")}
        names = [n for n, _ in E2E]
    print(result_line(failed == 0, ctx.attempted, failed, metrics, names))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
