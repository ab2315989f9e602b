"""Sink writers (SURVEY §2.2): CSV (truncate/append, single-file
compat), JDBC/parquet via connections; every file sink a task reaches
commits through ``sinks.commit``."""
