"""kinesis_datastore_app_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference stream app (``Obenkenobi-New-Relic-Test-Apps/kinesis-datastore-app``,
a Kinesis producer/consumer test loop), re-expressed Spark-first:

* the reference's stream semantics (keyed ordered JSON event stream, seeded
  generator source, partitioned sink, offset scan with limit, lenient
  serialize/deserialize) on Structured Streaming — see ``trades/`` and
  ``streaming/``;
* a generalized DataFrame/SQL query surface (scans, filters, joins,
  aggregations, windows, set ops, scalar function families) — ``operators/``
  and ``functions/``;
* LLM-data-pipeline operators (dedup, similarity search, text analysis,
  multimodal binary columns) designed for 100 TB scale — ``llm/``.

Everything is the PySpark DataFrame/SQL API: the logical plan is declared
declaratively and Catalyst/Tungsten/AQE pick the physical strategy. Python
UDFs appear only where built-ins cannot express the semantics, and then only
as Arrow-vectorized pandas UDFs.
"""

# installs lazy zipimport invalidation in every process that imports the
# package, Python workers included (see _pyworker's docstring)
from kinesis_datastore_app_spark import _pyworker  # noqa: F401
from kinesis_datastore_app_spark.session import get_spark

__all__ = ["get_spark"]
