#!/usr/bin/env python
"""Optimization-round instrumentation (guide §1): per-query isolation with
the noop sink, plan capture, webkg per-stage walls, link_lsh phase walls.

Does NOT replace bench.py (frozen). Usage:

  python bench_extra.py plans [query ...]    # .explain("formatted") -> plans/
  python bench_extra.py suite [n_repeats]    # noop-sink timings per query
  python bench_extra.py webkg                # pipeline per-stage breakdown
  python bench_extra.py lsh                  # link_lsh plan + count/noop walls
  python bench_extra.py cc                   # kg_components wall + job count
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import BENCH_QUERIES  # noqa: E402

PLANS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans")


def _spark():
    from semtools_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return get_spark("bench_extra", cpus=cpus)


def _sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def cmd_plans(*names: str):
    """plans/<query>.txt for each named bench query (default: all)."""
    import __spark_entry__ as entry

    spark = _spark()
    qs = entry.queries()
    for name in names or BENCH_QUERIES:
        df = qs[name](spark, _sf_dir())
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(PLANS_DIR, f"{name}.txt"), "w") as f:
            f.write(plan)
        print(name, "->", f"plans/{name}.txt")
    spark.stop()


def cmd_suite(repeats: int = 3):
    import __spark_entry__ as entry

    spark = _spark()
    qs = entry.queries()
    spark.range(1000).selectExpr("sum(id)").collect()
    out: dict[str, list] = {}
    for name in BENCH_QUERIES:
        walls = []
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"noop:{name}")
            t0 = time.time()
            df = qs[name](spark, _sf_dir())
            df.write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - t0, 3))
        out[name] = walls
        print(name, walls, flush=True)
    print(json.dumps(out))
    spark.stop()


def cmd_webkg():
    import shutil

    from semtools_spark.pipeline import run_webkg_pipeline
    from semtools_spark.sources.web_pages import write_web_pages

    spark = _spark()
    n_pages = 20000
    work = "/dev/shm/semtools_bench"
    os.makedirs(work, exist_ok=True)
    corpus = os.path.join(work, f"web_pages_n{n_pages}.parquet")
    if not os.path.isdir(corpus):
        write_web_pages(spark, corpus, n_pages, 42)
    out = os.path.join(work, "bench_extra_kg_out")
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    report = run_webkg_pipeline(spark, corpus, out)
    wall = time.time() - t0
    print(json.dumps({"wall": round(wall, 3), "stages": report["stages"]}, indent=2))
    shutil.rmtree(out, ignore_errors=True)
    spark.stop()


def cmd_lsh():
    """The link_lsh_150k leaf: its explain("formatted") written to
    plans/link_lsh_150k.txt, then its count()-timed and noop-sink walls."""
    from bench import _bench_lsh_link, _lsh_link_inputs

    spark = _spark()
    linked = _lsh_link_inputs(spark)[0]()
    plan = linked._sc._jvm.PythonSQLUtils.explainString(
        linked._jdf.queryExecution(), "formatted"
    )
    with open(os.path.join(PLANS_DIR, "link_lsh_150k.txt"), "w") as f:
        f.write(plan)
    for b in linked._semtools_broadcasts:
        b.unpersist()
    wall, noop_wall, stats = _bench_lsh_link(spark)
    print(json.dumps({"count_s": round(wall, 3), "noop_s": round(noop_wall, 3), **stats}))
    spark.stop()


def cmd_cc():
    """The kg_components leaf's distributed CC call: its wall, the Spark
    jobs it ran (counted from its job group) and the result's rows."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from semtools_spark.operators import kg

    spark = _spark()
    emb = spark.read.parquet(f"{_sf_dir()}/embeddings.parquet").select("vec_id", "label")
    w = Window.partitionBy("label").orderBy("vec_id")
    edges = (
        emb.withColumn("prev", F.lag("vec_id").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.col("prev").alias("src"), F.col("vec_id").alias("dst"))
    )
    sc = spark.sparkContext
    sc.setJobGroup("bench_extra-cc", "kg_components connected_components")
    t_all = time.time()
    comp = kg.connected_components(edges, small_graph_threshold=0)
    n = comp.count()
    wall = round(time.time() - t_all, 3)
    jobs = len(sc.statusTracker().getJobIdsForGroup("bench_extra-cc"))
    print(json.dumps({"total_s": wall, "jobs": jobs, "rows": n}))
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "suite"
    if cmd == "plans":
        cmd_plans(*sys.argv[2:])
    elif cmd == "suite":
        cmd_suite(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
    elif cmd == "webkg":
        cmd_webkg()
    elif cmd == "lsh":
        cmd_lsh()
    elif cmd == "cc":
        cmd_cc()
    else:
        raise SystemExit(f"unknown command {cmd}")
