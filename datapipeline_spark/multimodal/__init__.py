from datapipeline_spark.multimodal.blobs import (
    MEDIA_SCHEMA,
    attach_media_metadata,
    decode_media,
    extract_features,
    fake_media_table,
)

__all__ = [
    "MEDIA_SCHEMA",
    "attach_media_metadata",
    "decode_media",
    "extract_features",
    "fake_media_table",
]
