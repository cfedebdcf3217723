"""Structured Streaming layer.

The reference has no true streaming — its stream-like semantics are
micro-batch incremental/CDC application (SURVEY.md §2.8).  This
package provides the natural Spark upgrades:

- file-stream ingestion (`readers.stream_source`)
- watermarked tumbling/sliding window aggregation (`windows`)
- micro-batch CDC merge via ``foreachBatch`` reusing the exact batch
  merge operators (`merge_stream`)
- custom stateful sessionization via ``applyInPandasWithState``
  (`sessionize`)
- one availableNow runner for every query above (`run_available_now`)
"""

from .jobs import (  # noqa: F401
    foreach_batch_upsert,
    run_available_now,
    sessionize,
    stream_source,
    windowed_counts,
)
