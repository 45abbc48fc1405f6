"""spark-submit entry point for the KG-construction pipeline.

The north rule runs the job via ``spark-submit --py-files`` on a multi-
executor cluster. This is that entry point: it assumes the package arrives
through ``--py-files graphrag_mrkr_2_spark.zip`` (no repo checkout on the
executors) and takes only data paths + knobs:

    zip -qr /tmp/graphrag_mrkr_2_spark.zip graphrag_mrkr_2_spark
    spark-submit \
        --master <cluster-master> \
        [--conf spark.checkpoint.dir=<dir every executor can reach>] \
        --py-files /tmp/graphrag_mrkr_2_spark.zip \
        scripts/submit_job.py \
        --pages  <pages parquet/warc dir> | --demo-pages N \
        --out    <snapshot catalog dir> \
        [--format parquet|warc|jsonl|csv|binary] [--partitions 64] \
        [--strategy html_heading] [--fingerprint <input lineage id>]

--pages is read with ``--format`` (non-parquet inputs go through
sources/loaders.py); --demo-pages N generates N deterministic synthetic
crawl pages (sources/pages.py) instead.

The build is run_kg_pipeline with ``snapshot_root=--out``: every stage
(extracted, entities_doc, rels_doc, nodes, edges, triples) is committed as a
catalog snapshot (sources/catalog.py), so a re-run over the same input
resumes from the committed stages instead of recomputing them. The input is
identified by --fingerprint, by default ``demo-N`` or ``<format>:<path>``;
pass a new one when the data at a path changes.

``--conf spark.checkpoint.dir=…`` makes every stage pin the package makes
outside the catalog (``session.pin``: entity resolution, communities, the
dedup and query operators) a reliable checkpoint; see ``pin``'s docstring.

``scripts/run_spark_submit.sh`` packages the zip and submits this script
to ``$MASTER`` (default ``local[4]``) from a scratch cwd, passing its
arguments through, so the driver imports the package from the zip, not
from the working tree.

Prints one JSON line to stdout for the calling orchestrator: the node, edge
and triple counts (the committed snapshots' manifest row counts) and the
wall time.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

TABLES = ("nodes", "edges", "triples")


def main() -> int:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="input pages path, read with --format")
    src.add_argument(
        "--demo-pages",
        type=int,
        help="demo mode: N deterministic synthetic crawl pages (sources/pages.py)",
    )
    ap.add_argument("--out", required=True, help="snapshot catalog root")
    ap.add_argument(
        "--format", default="parquet", choices=["parquet", "warc", "jsonl", "csv", "binary"]
    )
    ap.add_argument(
        "--partitions", type=int, default=None, help="url-hash repartition width"
    )
    ap.add_argument("--strategy", default="html_heading")
    ap.add_argument("--fingerprint", default=None, help="input lineage fingerprint")
    args = ap.parse_args()

    # imports AFTER argparse so --help works without the zip on sys.path
    from pyspark.sql import SparkSession

    # not get_spark: its master would override spark-submit's --master.
    # JVM case mapping as in get_spark (graphrag_mrkr_2_spark/session.py)
    spark = (
        SparkSession.builder.appName("kg-construct")
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
    from graphrag_mrkr_2_spark.sources import loaders

    t0 = time.time()
    if args.pages:
        reader = {
            "parquet": lambda s, p: s.read.parquet(p),
            "warc": loaders.read_warc_pages,
            "jsonl": loaders.read_jsonl_pages,
            "csv": loaders.read_csv_pages,
            # structure_hybrid re-parses the raw payload (run_kg_pipeline)
            "binary": lambda s, p: loaders.read_binary_documents(
                s, p, keep_binary=args.strategy == "structure_hybrid"
            ),
        }[args.format]
        pages = reader(spark, args.pages)
        fingerprint = args.fingerprint or f"{args.format}:{args.pages}"
    else:
        from graphrag_mrkr_2_spark.sources.pages import generate_pages

        pages = generate_pages(spark, args.demo_pages)
        fingerprint = args.fingerprint or f"demo-{args.demo_pages}"

    result = run_kg_pipeline(
        pages,
        num_partitions=args.partitions,
        strategy=args.strategy,
        snapshot_root=args.out,
        input_fingerprint=fingerprint,
    )
    for table in TABLES:
        getattr(result, table)  # commits the table (or resumes its snapshot)
    summary = {f"n_{t}": result.catalog.current_snapshot(t)["row_count"] for t in TABLES}
    summary["wall_sec"] = round(time.time() - t0, 2)
    summary["package_source"] = __import__("graphrag_mrkr_2_spark").__file__
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
