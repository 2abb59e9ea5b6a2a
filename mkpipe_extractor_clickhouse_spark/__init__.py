"""mkpipe_extractor_clickhouse_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of the reference plugin
``mkpipe-etl/mkpipe-extractor-clickhouse`` (studied at /root/reference/,
behavior only): the extractor's own replication/watermark/predicate
semantics (reference ``mkpipe_extractor_clickhouse/__init__.py:56-134``)
plus the full relational SQL surface the reference passes through to
ClickHouse via ``custom_query`` (reference ``README.md:57-66``), executed
natively on Spark — DataFrame/SQL API, Catalyst optimizer, Structured
Streaming — instead of being delegated to a remote engine.

Layout:
  session.py    — SparkSession builder: local-mode defaults (heap sized
                  from host RAM), Python workers started from _pydaemon
  _pydaemon.py  — Python worker daemon that drops Spark's archives from
                  sys.path where site-packages holds the same versions
  catalog.py    — fixture tables: explicit schemas, loaders, temp views
  registry.py   — QuerySpec registry: every operator's Spark builder +
                  its DuckDB oracle SQL, consumed by __spark_entry__.py
  sources/      — extractor-parity core: filter specs, parquet/JDBC
                  sources, watermark state store, incremental runner
  operators/    — relational + LLM-pipeline operator catalog
  functions/    — scalar/vector function coverage
  streaming/    — Structured Streaming operators + batch-parity harness
  plans/        — plan inspection/tuning helpers (explain assertions)
"""

__version__ = "0.1.0"
