"""Parquet-to-parquet benchmark of the apollon_spark engine."""
