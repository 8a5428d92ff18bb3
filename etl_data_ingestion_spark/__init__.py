"""etl_data_ingestion_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference ETL pipeline (Abishek257/ETL_Data_Ingestion, surveyed in
SURVEY.md): delimited-file ingestion with schema mapping, validation,
type coercion and quarantine (reference main.py:267-511), object-store
lifecycle and batched warehouse loading (main.py:222-264, 448-468),
plus the analytics layer the reference delegates to BigQuery —
expressed as Catalyst-optimizable DataFrame plans — and the
LLM-training-data operators (dedup, similarity search, text analysis,
multimodal columns) designed for 100 TB scale.

Layout:
  config.py    SCRATCH, the checkout's scratch root (default warehouse,
               scratch tables, bucketed fact copies)
  session.py   SparkSession builder (AQE, UTC, Arrow on)
  schema.py    CTB schema constants (alias map + types)
  ingest/      normalize -> validate -> coerce -> (valid, quarantine);
               lifecycle.py is the landing zone; runner.py (batch) and
               stream_runner.py drain it into sinks.py
  operators/   relational analytics: joins, aggs, windows, set ops, top-k
  functions/   scalar/vector/text function library (JVM-side first)
  sources/     connectors: mailbox extract and data source, live Gmail
  plans/       query registry (name -> builder + DuckDB oracle SQL)
  streaming/   structured-streaming windows, watermarks, dedup
"""

__version__ = "0.1.0"
