"""Benchmark of record for aeuc_vector_db_spark; see README.md."""
