from .binary_ops import MEDIA_SCHEMA, attach_fake_media, extract_byte_features

__all__ = [
    "MEDIA_SCHEMA",
    "attach_fake_media",
    "extract_byte_features",
]
