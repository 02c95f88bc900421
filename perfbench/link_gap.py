#!/usr/bin/env python3
"""How much of the LSH entity link an aggregate-only timing skips.

    python3 perfbench/link_gap.py --catalog 20000 --sources 30000

Times ``kg.link_entities`` on the LSH tier three ways in one warm session:
consumed by ``count`` + ``sum(rescued)`` (the form ``bench.py``'s
``link_lsh_150k`` leaf uses), by Spark's ``noop`` sink, and by a parquet
write. The aggregate lets the optimizer prune the cosine scoring and the
``min_by`` top-1; the other two run them. Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--catalog", type=int, default=20_000)
    ap.add_argument("--sources", type=int, default=30_000)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from perfbench import harness
    from perfbench.checks import Embedder
    from perfbench.workloads import DIM, EMB_SEED, EntityResolve
    from semtools_spark.operators import kg

    work = harness.fresh_dir(os.path.join(harness.WORK_BASE, f"link_gap-{os.getpid()}"))
    harness.prepare_env(work)
    spark = harness.start_spark(work, "perfbench-link-gap")
    try:
        rng = np.random.default_rng(args.seed)
        words = EntityResolve.WORDS
        names = [
            f"entity {i} {words[a]} {words[b]}"
            for i, (a, b) in enumerate(rng.integers(0, len(words), (args.catalog, 2)))
        ]
        cat = os.path.join(work, "catalog.parquet")
        pq.write_table(pa.table({
            "entity_id": pa.array(np.arange(args.catalog), pa.int64()),
            "name": names,
            "embedding": pa.array(list(Embedder(DIM, EMB_SEED).embed(names)), pa.list_(pa.float32())),
        }), cat)
        ids = rng.integers(0, args.catalog, args.sources)
        src = os.path.join(work, "sources.parquet")
        pq.write_table(pa.table({
            "mention": [names[i] + (" ltd" if k % 10 == 0 else "") for k, i in enumerate(ids)],
        }), src)

        def link():
            return kg.link_entities(
                spark.read.parquet(src), spark.read.parquet(cat), dim=DIM, seed=EMB_SEED,
                use_lsh_above=args.catalog // 2, catalog_size=args.catalog,
            )

        sinks = {
            "count_agg": lambda df: df.agg(F.count("*"), F.sum(F.col("rescued").cast("long"))).first(),
            "noop_sink": lambda df: df.write.format("noop").mode("overwrite").save(),
            "parquet_write": lambda df: df.write.parquet(os.path.join(work, f"out-{time.time_ns()}")),
        }
        walls = {}
        for name, sink in sinks.items():
            for _ in range(2):  # the first call warms this plan; the second is timed
                t0 = time.perf_counter()
                df = link()
                sink(df)
                walls[name] = round(time.perf_counter() - t0, 2)
                for b in df._semtools_broadcasts:
                    b.unpersist()
        print(json.dumps({"catalog": args.catalog, "sources": args.sources, "wall_s": walls}))
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
