from .events_stream import sessionized_events, windowed_event_stats

__all__ = [
    "windowed_event_stats",
    "sessionized_events",
]
