"""Structured Streaming variants of the engine's pipelines (SURVEY §7 step 7):

- ``ingest``      — JSON→partitioned-Parquet converting sink (S5 replacement)
- ``pipeline``    — the batch statistic engine and scrape under a watermark
  (A1/W1/W5 streaming), and the scrape → SLA alarm composition
- ``alarm_state`` — stateful alarm state machine via applyInPandasWithState (W4)
- ``dedup``       — exact streaming dedup (dropDuplicatesWithinWatermark)
- ``cdc``         — changelog stream → maintained latest-version snapshot
- ``ann_ingest``  — persisted ANN index maintenance sink (marker +
  replay-dedupe exactly-once, periodic compaction)

The streaming variants share the batch modules' Column expressions; batch mode is the
reference implementation and tests diff streaming output against it.
"""

from .ann_ingest import ingest_batch_into_index, start_ann_index_ingest
from .alarm_state import evaluate_slots, streaming_alarm_states
from .cdc import read_live, read_snapshot, start_snapshot_maintenance
from .ingest import open_stream_channel, read_json_lines_stream, start_ingest
from .pipeline import streaming_metric_windows, streaming_scrape, streaming_sla_pipeline

__all__ = [
    "ingest_batch_into_index",
    "start_ann_index_ingest",
    "evaluate_slots",
    "read_live",
    "read_snapshot",
    "start_snapshot_maintenance",
    "streaming_alarm_states",
    "open_stream_channel",
    "read_json_lines_stream",
    "start_ingest",
    "streaming_metric_windows",
    "streaming_scrape",
    "streaming_sla_pipeline",
]
