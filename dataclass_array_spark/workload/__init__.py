"""Query workload catalog: every implemented operator exposed as a named
query with (Spark callable, DuckDB oracle SQL) pairs kept side by side so
they cannot drift apart.  ``__spark_entry__`` re-exports this."""

from dataclass_array_spark.workload.catalog import QUERIES, load_tables

__all__ = ["QUERIES", "load_tables"]
