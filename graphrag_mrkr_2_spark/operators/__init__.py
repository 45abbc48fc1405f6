"""Spark DataFrame operators for the KG-construction pipeline.

Modules:
  extract      S1/S2/S3 — html→text, chunking, content filtering, quality
  triples      S4/S5/S6/S8 — extraction UDF, consolidation, canonicalization
  similarity   S9 — embeddings, chunk/entity SIMILAR_TO edges, top-k
  resolution   S7 — minhash-LSH blocking + connected components ER
  communities  S10 — weight normalization, Leiden-style clustering
  dedup        training-data dedup suite (exact, minhash, simhash, ...)
  textstats    language-ID, quality scoring, token counts, fingerprints
  ann          similarity search (brute-force, k-NN join, IVF)
  incremental  content-hash diff / resume (J5)
"""
