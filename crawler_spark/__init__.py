"""crawler_spark — a PySpark-native URL-frontier + fetch-scheduler engine.

A from-scratch re-expression of the semantics of iKoulee/crawler
(reference snapshot at /root/reference, cited as file:line throughout)
as idiomatic Spark DataFrame dataflow over tables of image+caption
pairs:

- partitioned URL-seen set (exact anti-join + broadcast per-host-bucket
  bloom prefilter) replacing the SQLite ``url UNIQUE`` index
  (reference: src/harvester.py:133-166),
- per-host politeness tokens as a window-ranked priority queue
  replacing the wall-clock sleep loop (src/harvester.py:420-434),
- vectorized Arrow/pandas UDFs for URL canonicalization, payload
  decode + perceptual hash, and keyword regex matching replacing the
  per-row BeautifulSoup/regex Python (src/advert.py, src/keyword_manager.py),
- snapshot-committed state tables (Iceberg-shaped API; parquet
  snapshot emulation in environments without the Iceberg runtime)
  for resumable rounds replacing per-ad SQLite commits
  (src/harvester.py:315-326).
"""

__version__ = "0.1.0"
