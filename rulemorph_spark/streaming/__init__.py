"""Structured-Streaming execution of compiled rules and event-time
session windows."""

from .stream import transform_stream, transform_stream_files
from .windows import event_time, session_window_agg

__all__ = ["transform_stream", "transform_stream_files", "event_time",
           "session_window_agg"]
