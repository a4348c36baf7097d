from .labels import encode_event_type

__all__ = ["encode_event_type"]
