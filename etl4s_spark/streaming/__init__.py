from etl4s_spark.streaming.core import (  # noqa: F401
    file_stream,
    foreach_batch_collect,
    replay,
    session_window_agg,
    sliding_window_agg,
    stateful_dedup,
    stateful_running_agg,
    tumbling_window_agg,
    with_watermark,
)
