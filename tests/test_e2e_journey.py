"""The complete user journey in one test: crawl + binary sources → URL
curation → KG construction → hygiene/dedup → communities → snapshot
catalog. Each stage is covered in depth elsewhere; this pins that they
COMPOSE — the 'a reference user could switch and run everything' claim."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _build_warc(pages: list[tuple[str, bytes]]) -> bytes:
    out = bytearray()
    for url, body in pages:
        payload = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
        out += (
            "WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode() + payload + b"\r\n\r\n"
    return bytes(out)


def test_full_journey(spark, tmp_path):
    from graphrag_mrkr_2_spark.functions.docformats import encode_docx
    from graphrag_mrkr_2_spark.operators.communities import (
        detect_communities,
        normalize_edge_weights,
        project_edges,
    )
    from graphrag_mrkr_2_spark.operators.dedup import exact_duplicates
    from graphrag_mrkr_2_spark.operators.textclean import redact_pii
    from graphrag_mrkr_2_spark.operators.urlops import with_normalized_urls
    from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
    from graphrag_mrkr_2_spark.sources.catalog import SnapshotCatalog
    from graphrag_mrkr_2_spark.sources.loaders import (
        read_binary_documents,
        read_warc_pages,
    )
    from graphrag_mrkr_2_spark.sources.pages import make_page

    # -- sources: a WARC crawl file (with a tracking-param duplicate) plus a
    # binary DOCX upload
    crawl = [(p["url"], p["html"]) for p in (make_page(i) for i in range(5))]
    crawl.append((crawl[0][0] + "?utm_source=feed#frag", crawl[0][1]))  # dup
    (tmp_path / "crawl.warc").write_bytes(_build_warc(crawl))
    (tmp_path / "docs").mkdir()
    (tmp_path / "docs" / "upload.docx").write_bytes(
        encode_docx(["Uploaded doc mentions mail bob@corp.example now."])
    )

    pages = read_warc_pages(spark, str(tmp_path / "crawl.warc")).unionByName(
        read_binary_documents(spark, str(tmp_path / "docs"))
    )
    assert pages.count() == 7  # 6 crawl records + 1 decoded upload

    # -- hygiene on the extracted text side
    texted = pages.withColumn(
        "text",
        F.coalesce(
            "text", F.regexp_replace(F.decode("html", "utf-8"), "<[^>]+>", " ")
        ),
    ).select(F.col("url").alias("doc_id"), "text")
    clean = redact_pii(texted)
    assert clean.where(F.col("n_email") > 0).count() >= 1
    assert "[EMAIL]" in clean.where(F.col("n_email") > 0).collect()[0]["clean_text"]
    assert exact_duplicates(texted).count() >= 1

    # -- KG construction with URL curation (the utm dup must vanish)
    w = Window.partitionBy("norm_url").orderBy("url")
    curated = with_normalized_urls(pages).withColumn("__rn", F.row_number().over(w))
    res = run_kg_pipeline(curated.where(F.col("__rn") == 1).drop("__rn"))
    n_docs = res.mentions.select("document_id").distinct().count()
    assert n_docs == 5  # 5 distinct crawl pages; dup curated away; docx page
    # has no extractable mock-tuple content but decoded fine above
    triples = res.triples.collect()
    assert len(triples) > 0

    # -- communities over the produced edges
    edges = normalize_edge_weights(
        res.edges.select(
            F.col("source_id").alias("src"),
            F.col("target_id").alias("dst"),
            F.col("edge_type"),
            F.col("strength"),
        )
    )
    mem = detect_communities(project_edges(edges))
    assert mem.count() > 0

    # -- catalog: snapshot, read back, time travel
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    m1 = cat.write("triples", res.triples, metrics={"n": len(triples)})
    assert m1["row_count"] == len(triples)
    assert cat.read("triples").count() == len(triples)
    cat.write("triples", res.triples.limit(1))
    assert cat.read("triples").count() == 1
    assert cat.read("triples", snapshot=0).count() == len(triples)
