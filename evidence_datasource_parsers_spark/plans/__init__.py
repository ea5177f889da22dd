from evidence_datasource_parsers_spark.plans.catalog import (  # noqa: F401
    CATALOG,
)

# registration side-effects: text/dedup/similarity + extended analytics
import evidence_datasource_parsers_spark.plans.catalog_text  # noqa: E402,F401
import evidence_datasource_parsers_spark.plans.catalog_ext  # noqa: E402,F401
