from .doc_ingest import stream_ingest_documents
from .file_stream import (
    dedup_within_watermark,
    session_window_agg,
    stream_stream_join,
    windowed_obs_resample,
)
from .quality_monitor import (
    stream_gauge_qc,
    stream_lm_gate,
    stream_quality_monitor,
)
from .stateful import running_gauge_totals

__all__ = [
    "dedup_within_watermark",
    "running_gauge_totals",
    "session_window_agg",
    "stream_gauge_qc",
    "stream_ingest_documents",
    "stream_lm_gate",
    "stream_quality_monitor",
    "stream_stream_join",
    "windowed_obs_resample",
]
