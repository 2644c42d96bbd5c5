"""Production-path benchmark of the edspdf_spark engine (see README.md)."""
