"""logmetrics_spark — a PySpark-native log/telemetry analytics engine.

A from-scratch reimplementation of the query & data-processing
capabilities of the reference single-host Go daemon ``mathpl/logmetrics``
(parse -> enrich -> aggregate -> route), re-expressed as an idiomatic
Spark DataFrame pipeline over Parquet/Iceberg tables of Common-Crawl
style web pages (each page row is treated as one log record).

Layout
------
- :mod:`logmetrics_spark.config`      — TOML pipeline config ("the query language")
- :mod:`logmetrics_spark.regexc`      — verbose-regex cleaner + Go-layout date conversion
- :mod:`logmetrics_spark.timemetrics` — event-time Counter/Meter/Histogram math
  (pure Python; used both inside the Spark crunch UDF and by the oracle)
- :mod:`logmetrics_spark.sources`     — synthetic pages generator + TableIO seam
- :mod:`logmetrics_spark.operators`   — parse / transform / datapoints / aggregate / route stages
- :mod:`logmetrics_spark.functions`   — dedup, similarity search, text analysis ops
- :mod:`logmetrics_spark.plans`       — end-to-end pipeline assembly
- :mod:`logmetrics_spark.streaming`   — Structured Streaming variant
- :mod:`logmetrics_spark.oracle`      — sequential pure-Python oracle for golden tests
- :mod:`logmetrics_spark.worker_guard` — skips a reused PySpark worker's per-task
  zip-archive re-reads (installed by the daemon, and on import in workers only)
- :mod:`logmetrics_spark.daemon`      — the Python daemon of local sessions: imports
  once, then forks warm workers
"""

from .worker_guard import install as _install_worker_guard

__version__ = "0.1.0"

_install_worker_guard()
