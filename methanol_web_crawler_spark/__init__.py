"""methanol_web_crawler_spark — a from-scratch PySpark-native crawl engine.

Re-expresses the crawl semantics of Methanol/libmetha 1.7.0
(reference at /root/reference, cited per-module as file:line) as an
idiomatic Spark DataFrame pipeline:

- URL frontier as a snapshot/append ("Iceberg-style") table with
  depth + filetype-chain priority,
- URL-seen dedup via partitioned bloom prefilter + exact anti-join,
  keyed by the canonicalized host-onward URL hash,
- per-host politeness token buckets via salted windows,
- robots.txt gating, ftindex classification, UMEX predicates and the
  html/text/css link extractors as vectorized pandas/Arrow UDFs,
- per-round per-file lineage + metrics; resumable from any
  snapshot.

Nothing here is a port of the reference's C code: the reference
defines WHAT to compute, Spark defines HOW.
"""

__version__ = "0.1.0"
