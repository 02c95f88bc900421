#!/usr/bin/env python
"""spark-submit entrypoint for the web-KG construction pipeline.

The north-rule deployment story:

    spark-submit --py-files semtools_spark.zip jobs/run_kg.py \
        --pages s3://bucket/web_pages --out s3://bucket/kg

On a cluster the session comes from spark-submit's conf (master, executor
count/memory, shuffle partitions); this script only creates a session when
launched outside spark-submit (local smoke runs). Re-running with the same
--out resumes from the checkpoint manifest (committed stages whose inputs
and on-disk lineage still match are skipped).

Build the --py-files zip with:  python -c "from semtools_spark.session \
import _package_zip; print(_package_zip())"
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True,
                    help="input web_pages table (url, warc_ts, html, text, lang)")
    ap.add_argument("--pages-format", choices=("parquet", "warc"),
                    default="parquet",
                    help="parquet (default): the input_hint table. warc: "
                         "real Web ARChive files (plain or .warc.gz; glob "
                         "ok, e.g. 'crawl/*.warc.gz') scanned into the "
                         "same shape — pair with --extractor extract_any "
                         "for mixed HTML/PDF/Office crawls. Applies to "
                         "batch AND ingest modes (ingest streams newly "
                         "landed archives)")
    ap.add_argument("--out", required=True, help="output/checkpoint directory")
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--max-link-distance", type=float, default=None)
    ap.add_argument("--link-lsh-above", type=int, default=None,
                    help="route entity linking through the LSH-bucketed "
                         "path when the catalog exceeds this many rows "
                         "(default: always broadcast)")
    ap.add_argument("--dedup-pages", action="store_true",
                    help="insert an exact content-dedup stage between "
                         "parse and triples (min-url survivor per "
                         "byte-identical extracted text)")
    ap.add_argument("--dedup-near", action="store_true",
                    help="insert a MinHash-LSH near-dup stage (banded "
                         "candidates -> CC clusters -> min-url survivor) "
                         "after parse/exact-dedup")
    ap.add_argument("--extractor", default=None, metavar="MODULE:FUNCTION",
                    help="custom html extractor — a deterministic pure "
                         "bytes->str function, imported by qualified name "
                         "(the module must be importable on executors: "
                         "ship it via --py-files). For real crawl HTML use "
                         "the shipped text-density extractor: "
                         "semtools_spark.operators.html_extract:"
                         "extract_main_text; for mixed PDF/HTML crawls "
                         "use semtools_spark.operators.pdf_extract:"
                         "extract_any (PDF magic -> pure-python PDF text "
                         "extractor, else the HTML one). Default: the "
                         "pinned JVM-regex extractor")
    ap.add_argument("--force", action="store_true",
                    help="recompute every stage, ignoring committed manifests")
    ap.add_argument("--mode", choices=("batch", "ingest", "refresh"),
                    default="batch",
                    help="batch (default): the full 5-stage pipeline with "
                         "manifest resume. ingest: drain newly landed page "
                         "files via Structured Streaming (parse->triples "
                         "per micro-batch, exactly-once partitions; "
                         "--stream-checkpoint required) — the continuous-"
                         "crawl shape. refresh: recompute the global "
                         "link->canon->graph stages over everything "
                         "ingested so far")
    ap.add_argument("--stream-checkpoint", default=None,
                    help="streaming offset checkpoint dir (ingest mode)")
    args = ap.parse_args(argv)

    from pyspark import SparkConf
    from pyspark.sql import SparkSession

    # Under spark-submit PySpark never auto-creates a session for the
    # submitted script (getActiveSession() is None), but the submitted conf
    # carries spark.master — build from it so --master yarn/k8s is honored.
    # Only fall back to the local-mode builder when launched as a plain
    # python script with no submitted master.
    if SparkConf().contains("spark.master"):
        spark = SparkSession.builder.getOrCreate()
    else:
        from semtools_spark.session import get_spark

        spark = get_spark("run_kg")

    extractor = None
    if args.extractor:
        import importlib

        mod_name, _, fn_name = args.extractor.partition(":")
        extractor = getattr(importlib.import_module(mod_name), fn_name)

    if args.pages_format != "parquet" and args.mode == "refresh":
        ap.error("--mode refresh reads the accumulated triples, not pages; "
                 "--pages-format does not apply")
    if args.mode == "ingest":
        if not args.stream_checkpoint:
            ap.error("--mode ingest requires --stream-checkpoint")
        from semtools_spark.streaming.kg_ingest import ingest_available

        batches = ingest_available(
            spark, args.pages, args.out,
            checkpoint_dir=args.stream_checkpoint, extractor=extractor,
            pages_format=args.pages_format,
        )
        print(json.dumps({"mode": "ingest", "batches": batches}))
        return 0
    if args.mode == "refresh":
        from semtools_spark.streaming.kg_ingest import refresh_graph

        rep = refresh_graph(
            spark, args.out, dim=args.dim, seed=args.seed,
            max_link_distance=args.max_link_distance,
            link_lsh_above=args.link_lsh_above,
        )
        print(json.dumps({"mode": "refresh", **rep}))
        return 0

    from semtools_spark import pipeline as P

    report = P.run_webkg_pipeline(
        spark,
        args.pages,
        args.out,
        dim=args.dim,
        seed=args.seed,
        max_link_distance=args.max_link_distance,
        link_lsh_above=args.link_lsh_above,
        dedup_pages=args.dedup_pages,
        dedup_near=args.dedup_near,
        extractor=extractor,
        force=args.force,
        pages_format=args.pages_format,
    )
    print(json.dumps(report["stages"], sort_keys=True))
    print(json.dumps({"paths": report["paths"], "manifest": report["manifest"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
