"""Sources and sinks: parquet catalog, schema'd CSV readers, table writer."""

from data_ingestion_pipeline_spark.sources.catalog import TABLES, load_table

__all__ = ["TABLES", "load_table"]
