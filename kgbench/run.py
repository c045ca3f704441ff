"""Shipped-path benchmark of the surfactant_spark knowledge-graph engine.

Run from the repository root:

    python3 kgbench/run.py --workload batch_build --seed 1 --seconds 20 --trace 0

Workloads: ``batch_build`` and ``graph_analytics`` (see ``workloads.py``).
The session shape is pinned below (``CORES``, ``DRIVER_MEMORY``,
``TIMEZONE``).  The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the metrics are the end-to-end metrics, with ``--trace 1``
the per-layer metrics of a separate traced run (spans around each
layer's public functions joined to Spark's event log, see ``trace.py``).

Everything the run writes stays under ``.kgbench/`` in the repository
root; generated inputs are cached there per (seed, size).
"""

import time

T_PROCESS = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".kgbench"
CACHE_KEEP = 6  # input cache entries kept (newest first)

# session shape: local[4] is this host's nproc; a 3 GB driver heap fits a
# 15 GB host (the program's 16 GB default gets the JVM OOM-killed there)
CORES = 4
DRIVER_MEMORY = "3g"
TIMEZONE = "UTC"

# end-to-end metrics (untraced runs), every workload
E2E = [
    ("setup_s", "s"),
    ("op_s", "s"),
]

# per-layer metrics (traced runs), every workload; 0 where a layer does
# not run in that workload
PER_LAYER = [
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("dictionary.compile_s", "s"),
    ("dictionary.patterns", "count"),
    ("operators.extract.wall_s", "s"),
    ("operators.extract.task_s", "s"),
    ("operators.extract.rows_out", "count"),
    ("operators.extract.python_bytes_sent", "bytes"),
    ("operators.extract.core_busy", "ratio"),
    ("operators.mentions.wall_s", "s"),
    ("operators.mentions.task_s", "s"),
    ("operators.mentions.rows_in", "count"),
    ("operators.mentions.rows_out", "count"),
    ("operators.mentions.python_bytes_sent", "bytes"),
    ("operators.mentions.hits_per_doc", "ratio"),
    ("stats.column_stats_s", "s"),
    ("stats.resume_column_stats_s", "s"),
    ("operators.canonicalize.wall_s", "s"),
    ("operators.canonicalize.jobs", "count"),
    ("operators.canonicalize.core_busy", "ratio"),
    ("operators.canonicalize.cc_s", "s"),
    *[
        (f"operators.linking.{part}.{m}", unit)
        for part in ("nodes", "edges")
        for m, unit in (
            ("wall_s", "s"),
            ("task_s", "s"),
            ("shuffle_write_bytes", "bytes"),
            ("spill_bytes", "bytes"),
            ("task_skew", "ratio"),
        )
    ],
    ("plans.lineage.records", "count"),
    ("plans.lineage.write_s", "s"),
    ("plans.lineage.python_bytes_sent", "bytes"),
    ("plans.catalog.bytes_written", "bytes"),
    ("plans.catalog.files_written", "count"),
    ("plans.catalog.commits", "count"),
    ("plans.catalog.read_s", "s"),
    ("plans.catalog.resume_read_s", "s"),
    ("plans.catalog.stored_bytes_ratio", "ratio"),
    ("plans.pipeline.driver_s", "s"),
    ("plans.pipeline.resume_s", "s"),
    ("plans.pipeline.resume_driver_s", "s"),
    ("sources.sinks.export_s", "s"),
    ("sources.sinks.bytes_written", "bytes"),
    *[
        (f"operators.graphquery.{algo}.{m}", unit)
        for algo in ("pagerank", "kcore", "label_prop", "scc")
        for m, unit in (("s", "s"), ("jobs", "count"), ("shuffle_write_bytes", "bytes"))
    ],
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.core_busy", "ratio"),
    ("spark.gc_s", "s"),
    ("spark.spill_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.peak_rss_mb", "MB"),
    ("trace.op_s", "s"),
    ("trace.untraced_op_s", "s"),
    ("trace.overhead_s", "s"),
]


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["batch_build", "graph_analytics"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test knobs: a tiny input scale, and one dropped output row
    p.add_argument("--scale", choices=["full", "tiny"], default="full", help=argparse.SUPPRESS)
    p.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def _pin_environment(run_dir: Path) -> None:
    """The session shape, set before the JVM starts."""
    tmp, local = run_dir / "tmp", run_dir / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    env["SPARK_LOCAL_DIRS"] = str(local)
    # Python workers import the package from the checkout root
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["PYTHONHASHSEED"] = "0"  # same string hashing in every Python worker
    env["TZ"] = TIMEZONE
    time.tzset()
    env["TMPDIR"] = str(tmp)
    # JVM scratch files (and its perf-data file) stay inside the checkout
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for name in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_BYPASS_MERGE_THRESHOLD", "SPARK_CONF_DIR"):
        env.pop(name, None)


def _identity(batches):
    yield from batches


def _start_session(run_dir: Path, trace: bool):
    from surfactant_spark.session import get_spark

    extra = {"spark.sql.warehouse.dir": str(run_dir / "warehouse")}
    if trace:
        evdir = run_dir / "eventlog"
        evdir.mkdir(parents=True, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="kgbench", cores=CORES, extra_conf=extra)
    t_started = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    # first job, then every Python worker slot
    spark.range(0, 1024, numPartitions=CORES).selectExpr("sum(id)").collect()
    spark.range(0, 4096, numPartitions=CORES).mapInPandas(_identity, "id long").count()
    return spark, t_started - T_PROCESS, time.perf_counter() - t_started


def _prune_cache(cache: Path) -> None:
    entries = sorted(cache.iterdir(), key=lambda p: p.stat().st_mtime, reverse=True)
    for old in entries[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _e2e(records, primary: str, setup_s: float) -> dict:
    ops = [r for r in records if r.role == "measured" and r.kind == primary and r.ok]
    return {"setup_s": setup_s, "op_s": _median([r.seconds for r in ops])}


def _per_layer(ctx, primary: str, input_bytes: int, run_dir: Path,
               start_s: float, warm_s: float) -> dict:
    from kgbench import trace

    logs = [p for p in (run_dir / "eventlog").iterdir() if not p.name.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log, found {[p.name for p in logs]}")
    jobs, tasks = trace.parse_eventlog(str(logs[0]))
    views = trace.op_views(ctx.tracer.spans, jobs, tasks)
    measured = [r for r in ctx.records if r.role == "measured" and r.traced and r.ok]
    per_op = [
        {**trace.op_metrics(views[r.op], CORES, ctx.post_counts.get(r.op, {})),
         "plans.catalog.stored_bytes_ratio": r.stored_bytes / input_bytes}
        for r in measured if r.kind == primary
    ]
    per_resume = [
        {"plans.pipeline.resume_s": r.seconds, **trace.resume_metrics(views[r.op])}
        for r in measured if r.kind == "resume"
    ]
    # traced measured ops and probes on both sides of the untraced probe
    timed = [r for r in ctx.records
             if r.role in ("measured", "probe") and r.ok and r.kind == primary]
    out = dict.fromkeys((name for name, _unit in PER_LAYER), 0.0)  # layers that did not run
    for rows in (per_op, per_resume):
        for name in (rows[0] if rows else {}):
            out[name] = _median([row[name] for row in rows])
    with_trace = _median([r.seconds for r in timed if r.traced])
    without = _median([r.seconds for r in timed if not r.traced])
    out.update({
        "session.start_s": start_s,
        "session.warmup_s": warm_s,
        "trace.op_s": with_trace,
        "trace.untraced_op_s": without,
        "trace.overhead_s": with_trace - without,
    })
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "surfactant_spark" / "__init__.py").is_file():
        print(f"kgbench: no surfactant_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    runs = STATE / "runs"
    if runs.is_dir():  # left behind by killed runs
        for old in runs.iterdir():
            if not Path(f"/proc/{old.name.rsplit('-', 1)[-1]}").exists():
                shutil.rmtree(old, ignore_errors=True)
    run_dir = runs / f"{args.workload}-{os.getpid()}"
    _pin_environment(run_dir)
    sys.path.insert(0, str(ROOT))

    from kgbench import procs

    cache = STATE / "cache"
    cache.mkdir(parents=True, exist_ok=True)
    # memory is sampled in traced runs only: reading the JVM's smaps every
    # 0.25 s would perturb the timed regions of an untraced run
    rss = procs.PeakRss() if args.trace else contextlib.nullcontext()
    try:
        with rss:
            try:
                spark, start_s, warm_s = _start_session(run_dir, bool(args.trace))
                setup_s = time.perf_counter() - T_PROCESS
                ctx, wl = _measure(args, spark, run_dir, cache)
            finally:
                t0 = time.perf_counter()
                procs.stop_spark_processes()
                print(f"shutdown {time.perf_counter() - t0:.1f} s", flush=True)
        if args.trace:
            metrics = _per_layer(ctx, wl.primary, wl.corpus.parquet_bytes, run_dir,
                                 start_s, warm_s)
            metrics["spark.peak_rss_mb"] = rss.peak / 2**20
            print(f"peak memory {rss.peak / 2**20:.0f} MB: " + ", ".join(
                f"{comm} {b / 2**20:.0f} MB" for comm, b in sorted(rss.at_peak.items())))
            units = PER_LAYER
        else:
            metrics = _e2e(ctx.records, wl.primary, setup_s)
            units = E2E
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    _prune_cache(cache)

    failed = [r for r in ctx.records if not r.ok]
    for r in failed:
        print(f"FAILED op {r.op} ({r.kind}):\n{r.error}", file=sys.stderr)
    for r in ctx.records:
        print(f"op {r.op:3d} {r.kind:9s} {r.seconds:8.3f} s {'ok' if r.ok else 'FAILED':6s} "
              f"{r.role}{' traced' if r.traced else ''}")
    for role in ("warm-up", "measured", "probe"):
        ops = [r for r in ctx.records if r.ok and r.role == role and r.kind == wl.primary]
        if ops:
            med = _median([r.seconds for r in ops])
            print(f"{role} {wl.primary} ops: {len(ops)}, median {med:.3f} s, "
                  f"{ops[0].items / med:.1f} {wl.unit}/s")
    for name, unit in units:
        print(f"{name:40s} {metrics[name]:14.4f} {unit}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ctx.records),
        "failed": len(failed),
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units},
    }))
    return 0


def _measure(args, spark, run_dir: Path, cache: Path):
    """Fixtures, one warm-up iteration on the workload's small warm-up
    input (the first op in the process: it pays JIT compilation, class
    loading and code generation), then measured iterations on the full
    input until ``--seconds`` have passed (at least one), timed as
    ``op_s``.

    A traced run traces its measured iterations, so its per-layer figures
    describe the op the untraced run times, and follows its first op with
    resume ops for the resume figures.  It then adds two probe iterations,
    untraced then traced.  The tracing overhead is the median of the
    traced ops minus the untraced one; traced ops on both sides of the
    untraced one cancel a linear warm-up trend."""
    from kgbench import trace, workloads

    tracer = trace.Tracer(spark.sparkContext)
    ctx = workloads.Context(
        spark=spark, tracer=tracer, work=run_dir / "work", cache=cache,
        seed=args.seed, corrupt=args.corrupt,
    )
    ctx.work.mkdir(parents=True, exist_ok=True)
    t0 = time.perf_counter()
    make = workloads.WORKLOADS[args.workload]
    sizes = workloads.SIZES[args.workload][args.scale]
    warmup = make(ctx, sizes["warmup"])
    wl = make(ctx, sizes["measured"])
    print(f"fixtures {time.perf_counter() - t0:.1f} s (not timed)", flush=True)

    ctx.role = "warm-up"
    warmup.iteration(ctx, 0, resumes=False)
    ctx.role = "measured"
    saved = trace.install(tracer) if args.trace else None
    tracer.enabled = bool(args.trace)
    t_end = time.perf_counter() + args.seconds
    i = 1
    while True:
        # a traced run follows its first measured op with the resume ops
        wl.iteration(ctx, i, resumes=bool(args.trace) and i == 1)
        i += 1
        if time.perf_counter() >= t_end:
            break
    if args.trace:
        trace.uninstall(saved)
        ctx.role = "probe"
        for traced in (False, True):
            tracer.enabled = traced
            saved = trace.install(tracer) if traced else None
            wl.iteration(ctx, i, resumes=False)
            i += 1
            if saved is not None:
                trace.uninstall(saved)
        tracer.enabled = False
    return ctx, wl


if __name__ == "__main__":
    sys.exit(main())
