from execute_sync_spark.schema.model import (  # noqa: F401
    FieldMetadata,
    RootSchema,
    filter_inactive,
    load_root_schema,
    parse_root_schema,
)
from execute_sync_spark.schema.compiler import (  # noqa: F401
    SCALAR_TYPE_MAP,
    doc_type_struct,
)
