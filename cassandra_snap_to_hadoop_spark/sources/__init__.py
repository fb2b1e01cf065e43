"""Sources & sinks: Cassandra snapshot ingestion (the reference's surface,
re-expressed as a Spark scan) and the Hadoop-side parquet sink."""
