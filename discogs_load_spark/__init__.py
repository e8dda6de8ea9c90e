"""discogs_load_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of DylanBartels/discogs-load.

The reference (/root/reference, Rust) is a streaming XML->Postgres ETL whose
query surface is delegated to Postgres. This package re-expresses the whole
surface Spark-first:

- ``sources``   : XML/parquet/CSV/JSON readers (reference main.rs:42-102)
- ``operators`` : shred/dedup/join/agg/text/similarity operators (SURVEY §2)
- ``sinks``     : JDBC/Postgres-COPY/parquet writers (reference db.rs)
- ``queries``   : the declared, oracle-checked query surface, batch and
  structured-streaming

Everything is built on the DataFrame API so Catalyst/AQE pick physical plans;
Python UDFs appear only where built-ins genuinely cannot express semantics.
"""

__version__ = "0.1.0"
