from execute_sync_spark.landing.schema import LANDING_SCHEMA, LANDING_COLUMNS  # noqa: F401
from execute_sync_spark.landing.ingest import land_ndjson_lines  # noqa: F401
