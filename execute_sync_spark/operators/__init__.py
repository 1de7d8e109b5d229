from execute_sync_spark.operators.dedup import (  # noqa: F401
    latest_all_versions,
    latest,
    superseded_rows,
    prune_parquet,
)
from execute_sync_spark.operators.views import create_views  # noqa: F401
from execute_sync_spark.operators.rollup import HourlyRollup  # noqa: F401
