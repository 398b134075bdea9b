from odibel_spark.lake.table import BucketSpec, LakeTable, CommitConflict  # noqa: F401
from odibel_spark.lake.merge import (  # noqa: F401
    cdc_table_schema,
    compact_buckets,
    create_cdc_table,
    merge_upsert,
)
