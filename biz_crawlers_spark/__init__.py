"""biz_crawlers_spark — a PySpark-native distributed crawl/analytics engine.

A from-scratch re-expression of the query and data-processing capabilities of
the reference ``kiang/biz_crawlers`` (sequential PHP crawler suite for Taiwan
business registries) as an idiomatic Spark engine:

- ``frontier``   — URL frontier table + canonicalization (xxhash64 keys)
- ``filters``    — sharded Bloom filter for URL-seen dedup (+ exact anti-join)
- ``politeness`` — per-host token buckets, robots.txt cache
- ``fetch``      — mapInPandas fetch stage (retry/backoff as data, not control flow)
- ``extract``    — vectorized Arrow UDF extraction (pages → image+caption pairs,
                   registry-record parsing)
- ``codecs``     — pure-numpy image codecs (PNG/PPM/quantized-lossy) + phash
- ``tables``     — snapshot/manifest table layer over Parquet with Iceberg-shaped
                   semantics (append/MERGE/snapshots/time-travel)
- ``engine``     — the epoch scheduler: anti-join seen → salted repartition →
                   fetch → extract → MERGE → lineage → snapshot commit
- ``simulator``  — pure-Python reimplementation of the reference control flow,
                   used as the parity oracle for crawl ordering / seen-set
- ``ml``         — training-data pipeline ops: dedup (exact/MinHash-LSH/SimHash/
                   ngram-Jaccard/embedding-cosine), ANN similarity search,
                   text quality stats, multimodal binary-column plumbing

Everything here derives from public knowledge only: the Apache Spark / PySpark
API and the reference repo's observable behavior (cited as file:line in
docstrings throughout).
"""

__version__ = "0.1.0"
