"""librecatastro_spark — a from-scratch PySpark-native full-text index +
BM25 top-k query engine with the query/data-processing capabilities of
josejuanmartinez/libreCatastro (reference at /root/reference, read-only).

The reference delegates all indexing/querying to Elasticsearch 6.3.2
(reference: src/utils/elasticsearch_utils.py:20-83). This package rebuilds
that capability natively on Spark:

- ``analyzer``      — ES-standard-analyzer-like tokenization: one
                      ``Analyzer``, rendered in Python, Catalyst and Arrow
- ``corpus``        — deterministic synthetic source-code corpus
                      (input_hint schema) + parallelism-independent doc_id
- ``stats``         — doc/term statistics (N, avgdl, dl, df, cf) in one
                      shuffle pass, broadcastable
- ``index``         — compressed posting lists (docID-delta + varbyte,
                      block-max scores), salted skew handling, partitioned
                      write, resumable manifest
- ``engine``        — exact DataFrame BM25 scorer (oracle path) and
                      block-max WAND traversal (mapInPandas)
- ``ops``           — dedup (exact/minhash/simhash/jaccard), similarity
                      search, text quality/langid, geo, address extraction,
                      multimodal plumbing
- ``streaming``     — incremental index maintenance via Structured Streaming
"""

__version__ = "0.1.0"
