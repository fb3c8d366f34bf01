"""PySpark-native analytics engine with the query and data-processing
capabilities of the ``Narahari2364/stock-market-etl-pipeline`` reference.

Layout (see SURVEY.md §7):

- ``session``    — tuned SparkSession builder (AQE, shuffle partitions, Arrow)
- ``schema``     — explicit StructTypes for the core tables
- ``sources``    — parquet/JSON/synthetic readers; the lineitem→OHLCV ticks view
- ``functions``  — pure Column-expression builders (zero Python UDFs for parity scope)
- ``operators``  — clean / enrich / dedup / similarity operators
- ``plans``      — composite analytics pipelines (predictions, signals, summaries, quality)
- ``streaming``  — Structured Streaming maintainers; the pipeline stream's
  watermarked dedup keeps the first copy of each (symbol, date)
"""

__version__ = "0.1.0"
