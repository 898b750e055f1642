from kafka_mongo_watcher_spark.operators.dedup import lww_dedup  # noqa: F401
from kafka_mongo_watcher_spark.operators.envelope import (  # noqa: F401
    build_insert_envelope,
    debug_payload,
    keep_last_n,
    op_type_filter,
    text_search_filter,
    transform_events,
)
