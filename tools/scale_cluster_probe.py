"""One MULTI-JVM scaling-probe run: the production KG job on Spark's
standalone-in-a-box ``local-cluster[n_exec, cores_per_exec, mem_mb]``
master.

Invoked as a subprocess (a JVM can't change master mid-run):
    python tools/scale_cluster_probe.py <n_exec> <cores_per_exec> \
        <n_pages> <pages_dir>
Prints one JSON line
    {"executors": N, "cores_per_exec": C, "cores": N*C, "n_pages": P,
     "sec": s, "docs_per_sec": d, "runs_sec": [...]}

Why this exists (r5 VERDICT item 5): ``local[8]`` → ``local[32]``
widens ONE JVM — GC, shuffle-IO threads and 32 Python workers all
contend inside a single heap, which is NOT what "N → 4N executors"
means on a real cluster.  ``local-cluster[2,4,m]`` → ``local-cluster
[8,4,m]`` adds *separate executor JVMs* with a fixed core count each —
the faithful emulation of adding executors — with real task
serialization, off-heap shuffle transfers between processes, and one
Python-worker pool per executor.

The job is the production shape shared with tools/scale_probe.py:
read pages parquet → extract (Arrow UDF) → mention detection →
edge resolution → noop sink.  Generation, dictionary broadcast and
table-stats probes are untimed scaffolding (ANALYZE TABLE amortizes
across runs in production).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_exec = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    cores_per = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    n_pages = int(sys.argv[3]) if len(sys.argv) > 3 else 600000
    pages_dir = (
        sys.argv[4]
        if len(sys.argv) > 4
        else f"/tmp/spark_graft_pages_{n_pages}_s8"
    )
    body_scale = int(os.environ.get("SPARK_GRAFT_BODY_SCALE", "8"))
    mem_mb = int(os.environ.get("SPARK_GRAFT_LC_MEM_MB", "6144"))
    cores = n_exec * cores_per

    # local-cluster launches Worker JVMs via the Spark launcher, which
    # needs SPARK_HOME; the pip install's package dir IS a valid home
    import pyspark

    os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))

    from pyspark.sql import SparkSession

    from surfactant_spark.dictionary import alias_edges, compile_dictionary
    from surfactant_spark.operators.canonicalize import entity_canonical_map
    from surfactant_spark.operators.extract import extract_pages
    from surfactant_spark.operators.linking import build_edges
    from surfactant_spark.operators.mentions import (
        CONTENT_DEDUP_THRESHOLD,
        detect_mentions,
        unique_content,
    )
    from surfactant_spark.session import _DEFAULTS, driver_memory
    from surfactant_spark.sources.pages import synth_pages
    from surfactant_spark.stats import column_stats, dup_rate

    # executor JVMs spawn their OWN Python workers, which do not inherit
    # the driver's sys.path — ship the package exactly the way a real
    # spark-submit job would: --py-files zip (tools/make_pyfiles.py)
    from tools.make_pyfiles import build as build_pyfiles

    pyzip = build_pyfiles()
    builder = (
        SparkSession.builder.appName(f"scale_lc_{n_exec}x{cores_per}")
        .master(f"local-cluster[{n_exec},{cores_per},{mem_mb}]")
        .config("spark.executor.memory", f"{mem_mb}m")
        .config("spark.submit.pyFiles", pyzip)
    )
    conf = {**_DEFAULTS, "spark.driver.memory": driver_memory()}
    conf["spark.sql.shuffle.partitions"] = str(max(2 * cores, 8))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.addPyFile(pyzip)

    if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
        synth_pages(spark, n_pages, partitions=64, body_scale=body_scale).write.mode(
            "overwrite"
        ).parquet(pages_dir)

    # warm executor JVMs, per-executor Python workers, and page cache
    spark.range(1000).selectExpr("sum(id)").collect()
    pages = spark.read.parquet(pages_dir)
    extract_pages(pages.limit(64 * cores)).write.format("noop").mode(
        "overwrite"
    ).save()
    pages.write.format("noop").mode("overwrite").save()

    compiled = compile_dictionary()
    emap = entity_canonical_map(
        spark, sorted({p.entity_key for p in compiled.patterns}), alias_edges()
    ).cache()
    emap.count()

    from pyspark.sql import functions as F

    from surfactant_spark.operators.skew import find_hot_keys

    ext0 = extract_pages(pages).cache()
    dedup_first = (
        dup_rate(column_stats(ext0, "content_sha256")) >= CONTENT_DEDUP_THRESHOLD
    )
    links_flat = ext0.select(F.explode("links").alias("url"))
    hot_keys = find_hot_keys(links_flat, "url")
    ext0.unpersist()

    def one_run() -> float:
        t0 = time.monotonic()
        ext = extract_pages(pages).cache()
        ext.count()
        content = unique_content(ext) if dedup_first else ext.select(
            "content_sha256", "lang", "text"
        )
        mentions = detect_mentions(content, compiled)
        edges = build_edges(
            ext, mentions, emap, hot_link_keys=hot_keys,
            mentions_unique=dedup_first,
        )
        edges.write.format("noop").mode("overwrite").save()
        sec = time.monotonic() - t0
        ext.unpersist()
        return sec

    # JIT steady state: ≥3 runs, stop after TWO consecutive
    # non-improving runs (one is not enough on this host — a steal-storm
    # window mid-ramp reads as a false plateau; each executor JVM JITs
    # independently and sees 1/n_exec of the tasks, so the ramp takes
    # more wall-runs than single-JVM), ~7 min budget
    times: list[float] = []
    flat = 0
    while len(times) < 10 and sum(times) < 420:
        t = one_run()
        times.append(t)
        if len(times) >= 3:
            flat = flat + 1 if t >= min(times[:-1]) * 0.95 else 0
            if flat >= 2:
                break
    sec = min(times)

    print(json.dumps({
        "executors": n_exec,
        "cores_per_exec": cores_per,
        "cores": cores,
        "n_pages": n_pages,
        "sec": round(sec, 3),
        "docs_per_sec": round(n_pages / sec, 1),
        "runs_sec": [round(t, 3) for t in times],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
