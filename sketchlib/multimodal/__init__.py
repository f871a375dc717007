"""Multimodal column plumbing: binary payload + typed metadata, batch decode
/ feature-extract scaffolding over mapInArrow.  Real pure-numpy decoders
for the uncompressed public formats (P6 PPM, 24-bit BMP, PCM-16 WAV);
compressed codecs stubbed (environment-blocked)."""

from .media import (  # noqa: F401
    MEDIA_META_SCHEMA,
    decode_bmp,
    decode_image,
    decode_image_stub,
    decode_ppm,
    decode_wav,
    encode_bmp,
    encode_ppm,
    encode_wav,
    extract_audio_features,
    extract_media_features,
    frame_sample_plan,
    media_meta_col,
)
