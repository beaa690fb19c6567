"""Structured Streaming support (north star - the reference is batch-only
MR, README.md:31-32; SURVEY.md section 1.2 maps the events fixture to
readStream + watermarks + windowed aggregations)."""

from bee_proof_spark.streaming.replay import (
    replay_events_stream,
    run_to_memory_sink,
    streaming_state_partitions,
)

__all__ = [
    "replay_events_stream",
    "run_to_memory_sink",
    "streaming_state_partitions",
]
