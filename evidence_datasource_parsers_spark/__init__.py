"""evidence_datasource_parsers_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of ``opentargets/evidence_datasource_parsers`` (reference surveyed
in SURVEY.md at the checkout root), extended with the operators a large-scale
training-data pipeline needs (dedup, similarity search, text analysis,
multimodal column plumbing).

Design principles:
  * DataFrame/SQL only — declarative plans, Catalyst optimizes.
  * Built-in ``pyspark.sql.functions`` in the hot path; Pandas UDFs only where
    built-ins genuinely cannot express the semantics.
  * Every operator designed for a 1000-executor cluster: broadcast small dims,
    shuffle on explicit keys, no driver-side loops over data.
"""

__version__ = "0.4.0"

from evidence_datasource_parsers_spark.session import get_spark  # noqa: F401
