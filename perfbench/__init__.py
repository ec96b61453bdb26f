"""goprowl_spark benchmark of record; see README.md in this directory."""
