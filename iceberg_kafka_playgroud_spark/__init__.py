"""iceberg_kafka_playgroud_spark — a PySpark-native analytics engine.

A brand-new, idiomatic PySpark (DataFrame / SQL / Catalyst / Structured
Streaming) engine with the query and data-processing capability surface of
the reference playground ``alexandrvl/iceberg-kafka-playgroud``
(Kafka → {Iceberg, partitioned Parquet} ingest + arbitrary analytical SQL
over the lake), extended with LLM-data-pipeline operators (dedup,
similarity search, multimodal columns, text analysis) designed for
100 TB scale.

Layout
------
- ``session``    : SparkSession factory (UTC, AQE, Arrow, scale-aware shuffle)
- ``schema``     : canonical schemas + fixture-table loaders
- ``catalog``    : namespace/table metadata operators (SURVEY §2.4)
- ``sources/``   : parquet lake scans, synthetic event fabric, Kafka+Avro
- ``operators/`` : relational query inventory + dedup/similarity/text/multimodal
- ``functions/`` : scalar expression helpers (SURVEY §2.7)
- ``plans/``     : plan-inspection utility (formatted physical plan string)
- ``streaming/`` : structured-streaming ingest (SURVEY §2.8)
"""

__version__ = "0.1.0"
