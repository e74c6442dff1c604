"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference repo Djak75/tp-airflow-gtfs-snowflake
(GTFS transit-delay pipeline: bronze ingest -> silver normalize -> KPI
analytics), re-expressed Spark-first per SURVEY.md.

Layout:
  session    - SparkSession factory (local[usable cores]) + oracle
               parity; concurrent submission of independent actions
  schemas    - explicit StructTypes for every bronze/silver table
  catalog    - parquet warehouse (bronze/silver namespaces), insert_date
  sources/   - CSV-with-options scan, GTFS static zip, GTFS-RT flatten,
               idempotent file loader
  silver     - the seven incremental bronze->silver transforms
  functions/ - GTFS >24h time parse, epoch/tz utils, text, vectors
  operators/ - dedup (exact/minhash/simhash), incremental watermark
               loader, latest-per-key / as-of, similarity search,
               multimodal binary columns
  plans/     - KPI queries (SURVEY 2.3 B1-B13) + driver-table query
               registry backing __spark_entry__.py
  streaming/ - Structured Streaming RT path (watermarks, foreachBatch)
"""

__version__ = "0.1.0"
