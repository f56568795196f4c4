"""sequential_query_expansion_spark — a PySpark-native full-text engine.

A from-scratch rebuild of the *capabilities* of
teanalab/sequential-query-expansion (an Indri-based query-expansion research
pipeline) as an idiomatic PySpark DataFrame engine:

- inverted-index build over Common-Crawl-style web pages
  (docID-delta varint block compression, block-max metadata)
- BM25 top-k retrieval (scoring join + block-max WAND kernel)
- sequential pseudo-relevance-feedback query expansion (RM1/RM3) and
  concept-graph sequential expansion (the reference's 14-feature selector)
- TREC-style evaluation (MAP / P@k / NDCG) as DataFrame aggregations
- training-data pipeline operators: dedup (exact / MinHash-LSH / SimHash),
  similarity search, text analysis

Everything derives from public knowledge: the Apache Spark API and the
reference repo's observable behavior (cited by file:line in docstrings).
No code is copied from the reference — it is a C++/Python-notebook system;
this is a Spark-first reimplementation of what it computes.
"""

__version__ = "0.1.0"
