"""cefspark — a PySpark-native CEF (ArcSight Common Event Format) analytics engine.

A from-scratch re-expression of the capabilities of the reference codec
``logstash-plugins/logstash-codec-cef`` (read-only at /root/reference) as a
Spark-first parse -> enrich -> route -> aggregate pipeline:

* ``cefspark.mappings``   — the CEF field dictionary (broadcast lookup tables)
* ``cefspark.parser``     — vectorized pandas-native decode (bytes -> events)
* ``cefspark.timestamps`` — CEF timestamp normalization (epoch / CEF format / year inference)
* ``cefspark.encoder``    — event -> CEF line encoding
* ``cefspark.udfs``       — Arrow-batched pandas UDF wrappers (no per-row Python)
* ``cefspark.pipeline``   — enrich (broadcast join), route (salted), windowed aggregation
* ``cefspark.storage``    — snapshot/manifest storage adapter (Iceberg-shaped on Parquet)
* ``cefspark.fixtures``   — deterministic transcript-table synthesis for tests/bench
* ``cefspark.textops``    — training-data text analysis (lang-id, quality, tokens, fingerprints)
* ``cefspark.dedup``      — exact / MinHash-LSH / SimHash / n-gram-Jaccard deduplication
* ``cefspark.asof``       — as-of (temporal) join: state-at-event-time enrichment
* ``cefspark.sketches``   — mergeable HLL distinct-count cubes (rollups without rescan)
* ``cefspark.similarity`` — embedding cosine top-k + LSH/IVF ANN (persisted
  partition-pruned index)
* ``cefspark.multimodal`` — multimodal binary columns + real pure-stdlib
  codecs (WAV incl. float, BMP incl. RLE8, PNG all depths, GIF+LZW)
* ``cefspark.sampling``   — deterministic splits + engine-exact sampling
* ``cefspark.langid``     — Cavnar-Trenkle trigram language identification
* ``cefspark.redact``     — PII redaction (email/card/IP/phone regexp chains)
* ``cefspark.grok``       — grok-style %{PATTERN:field} parsing + pattern library
* ``cefspark.streaming``  — Structured Streaming mode (windows, state, dedup,
  SCD-2/as-of enrich, spike alerts)
* ``cefspark.sources``    — raw-stream framing, binary UTF-8 ingest, JSONL/CSV/ORC readers
* ``cefspark.multiline``  — logstash multiline-codec event assembly as window arithmetic
* ``cefspark.mutate``     — logstash mutate verb chains + translate + prune/de_dot as Catalyst projections
* ``cefspark.syslog_pri`` — syslog <PRI> facility/severity decomposition
* ``cefspark.structured`` — logstash csv/xml field-parsing filters (from_csv/from_xml)
* ``cefspark.dlq``        — dead-letter queue: quarantine / fix-and-replay / drain
* ``cefspark.config``     — declarative filter-chain compiler (logstash-config shape)

Importing the package on Python < 3.13 makes ``zipimport.zipimporter.
invalidate_caches`` re-read an archive's directory only when the archive's
stat changed: PySpark's worker set-up calls ``importlib.invalidate_caches()``
on every Python UDF evaluation, and before 3.13 that re-reads pyspark.zip once
per cached zipimporter. The decode and encode UDFs import this package in
every worker, so worker reuse keeps the guard for all later tasks.

Everything here derives only from public knowledge: the Apache Spark / PySpark
API and the behavior of the public reference repo.
"""

import sys

__version__ = "0.1.0"

if sys.version_info < (3, 13):
    # Before 3.13 (which only drops the cache), zipimporter.invalidate_caches
    # re-reads the whole archive directory in pure Python: ~10 ms per
    # importer for pyspark.zip, times 16 importers, on every UDF evaluation.
    # Keep the stdlib behaviour whenever the archive's stat differs from what
    # this importer last read (or cannot be taken); skip the read otherwise.
    import os as _os
    import zipimport as _zipimport

    _stdlib_invalidate = _zipimport.zipimporter.invalidate_caches

    def _invalidate_if_changed(self):
        try:
            st = _os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            _stdlib_invalidate(self)
            self._read_stamp = stamp

    _zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
