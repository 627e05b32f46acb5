"""Study-run benchmark of the c3dc_etl_spark engine; see README.md."""
