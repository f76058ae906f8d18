"""dbt_decodable_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of decodableco/dbt-decodable.

The reference (`/root/reference/`) is a dbt adapter that ships Flink SQL to a
managed service; this package re-expresses those capabilities Spark-first:

- streams as tables (``catalog``), pipelines as Spark SQL transformations
  (``plans``), connections as Spark readers/writers (``sources``),
- a Flink-type-string <-> Spark type converter (``ftypes``) mirroring
  ``decodable/client/types.py`` semantics,
- the stream schema model (``schema``) mirroring
  ``decodable/client/schema.py``,
- a Flink->Spark SQL dialect shim + function registry (``dialect``,
  ``functions``), including ``grok``,
- streaming semantics — watermarks, change-stream folding, bounded previews
  (``streaming``),
- the one filesystem commit protocol every durable write goes through
  (``commit``),
- LLM-data-pipeline extensions: dedup, similarity search, text analysis,
  multimodal columns (``operators``).
"""

from dbt_decodable_spark.session import get_spark

__version__ = "0.1.0"

__all__ = ["get_spark", "__version__"]
