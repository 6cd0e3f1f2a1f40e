from parquet_export_spark.export.pipeline import export_lake  # noqa: F401
