from pyspark_recs.streaming.ops import (
    read_event_stream,
    stream_to_kv_sink,
    streaming_dedup,
    streaming_hopping_agg,
    streaming_sessionize,
    streaming_stream_join,
)
