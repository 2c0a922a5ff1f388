"""Layer-attributed benchmark for lingo_db_spark (see README.md)."""
