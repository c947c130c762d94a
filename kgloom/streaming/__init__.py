"""Structured Streaming realization of the streaming targets the
reference only names (IOType::Kafka/Websocket exist as enum values
only — operator/src/lib.rs:362-370).  Streams of transcript turns run
through the same term-construction expressions as the batch pipeline.
"""

from .fusion import (  # noqa: F401
    compact_fused,
    fold_alias_map,
    fuse_batch,
    read_alias_map,
    read_fused,
    read_triple_stream,
    stream_fused_triples,
)
from .pipeline import (  # noqa: F401
    TRANSCRIPT_SCHEMA,
    read_transcript_stream,
    stream_mention_window_counts,
    stream_session_state,
    stream_session_windows,
    stream_tool_attribution,
    stream_turn_triples,
)
