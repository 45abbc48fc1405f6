"""Quiet re-show of the mega-entity skew probe (VERDICT r6 'Next round' #3).

bench.py's in-suite reading of mega_entity_ratio was 1.192 in r6 (r4/r5
~0.82) with a 29.7 core-s steal blip in the same bench window.  This
standalone runs ONLY that probe, A/B-alternated (unskewed, skewed,
unskewed, ...) so slow host drift hits both arms equally, with an idle
gate up front and /proc/stat busy+steal disclosed per trial.  Protocol
from the r5 watch closure (SCALE.md).

Usage: python scripts/mega_entity_probe.py [trials-per-arm=3]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from graphrag_mrkr_2_spark.session import get_spark, pin


def _proc_stat():
    f = open("/proc/stat").readline().split()
    u, n, s, idle, io, irq, sirq, steal = map(int, f[1:9])
    return u + n + s + irq + sirq, steal


def idle_gate(window_s: float = 3.0) -> tuple[float, float]:
    b0, s0 = _proc_stat()
    time.sleep(window_s)
    b1, s1 = _proc_stat()
    return (b1 - b0) / 100 / window_s, (s1 - s0) / 100 / window_s


def main() -> None:
    trials = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    busy, steal = idle_gate()
    print(f"idle gate: busy {busy:.2f} cores, steal {steal:.2f} cores")
    if busy > 2.0 or steal > 0.5:
        print("BOX NOT IDLE — numbers below are not a valid re-show")

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_pages = int(os.environ.get("MEGA_PROBE_PAGES", "10000"))
    spark = get_spark(app_name="mega_entity_probe",
                      master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from graphrag_mrkr_2_spark.operators.triples import (
        build_edges,
        build_nodes,
        build_triples,
        canonicalize,
    )
    from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
    from graphrag_mrkr_2_spark.sources.pages import generate_pages

    pages_dir = os.path.join("/tmp", f"bench_pages_{n_pages}")
    if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
        generate_pages(spark, n_pages, partitions=cpus * 2).write.mode(
            "overwrite").parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)

    res = run_kg_pipeline(pages, num_partitions=cpus * 6)
    mentions_base = pin(res.mentions)
    planted = res.chunks.select(
        F.lit("entity").alias("kind"),
        F.col("chunk_id"),
        F.col("document_id").cast("string").alias("document_id"),
        F.lit("OMNIPRESENT ENTITY").alias("name"),
        F.lit("CONCEPT").alias("type"),
        F.lit(None).cast("string").alias("target"),
        F.lit("planted mega-entity skew probe").alias("description"),
        F.lit(0.9).alias("importance"),
        F.lit(None).cast("double").alias("strength"),
        F.array(F.col("chunk_id")).alias("source_chunks"),
    )
    mentions_skewed = pin(mentions_base.unionByName(planted))
    # control arm: the SAME number of planted rows but each with a
    # DISTINCT name — separates "more input rows" from "hot key".  The
    # honest skew overhead is skewed vs control, not skewed vs base.
    planted_ctl = planted.withColumn(
        "name", F.concat(F.lit("PLANTED "), F.col("chunk_id")))
    mentions_control = pin(mentions_base.unionByName(planted_ctl))
    print(f"rows: base {mentions_base.count()}, "
          f"control {mentions_control.count()}, "
          f"skewed {mentions_skewed.count()}")

    def downstream(mentions_df):
        e_doc, r_doc = canonicalize(mentions_df)
        build_nodes(e_doc).count()
        build_triples(build_edges(r_doc)).count()

    # warm all arms once (JIT + Arrow worker reuse), then alternate
    downstream(mentions_base)
    downstream(mentions_control)
    downstream(mentions_skewed)

    results = {"unskewed": [], "control": [], "skewed": []}
    for t in range(trials):
        for name, df in (("unskewed", mentions_base),
                         ("control", mentions_control),
                         ("skewed", mentions_skewed)):
            b0, s0 = _proc_stat()
            t0 = time.time()
            downstream(df)
            dt = time.time() - t0
            b1, s1 = _proc_stat()
            results[name].append(dt)
            print(f"trial {t + 1} {name}: {dt:.3f}s "
                  f"(busy {(b1 - b0) / 100:.1f} core-s, "
                  f"steal {(s1 - s0) / 100:.1f} core-s)")

    u, c, s = (min(results["unskewed"]), min(results["control"]),
               min(results["skewed"]))
    print(f"best unskewed {u:.3f}s  control {c:.3f}s  skewed {s:.3f}s")
    print(f"ratio vs base {s / u:.3f}  ratio vs row-matched control "
          f"{s / c:.3f}  (row-count effect alone: {c / u:.3f})")
    spark.stop()


if __name__ == "__main__":
    main()
