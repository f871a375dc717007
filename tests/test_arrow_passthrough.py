"""Passthrough columns leave every Python stage as the input's own Arrow
arrays: an int64 column holding values above 2^53 next to a NULL comes
back exactly (a pandas batch would turn it into float64 and round it)."""

import numpy as np
import pytest

from sketchlib.multimodal.media import (encode_ppm, encode_wav,
                                        extract_audio_features,
                                        extract_media_features,
                                        pack_fake_video, sample_frames)
from sketchlib.text.boilerplate import strip_boilerplate
from sketchlib.text.classifier import fit_quality_classifier, quality_scores
from sketchlib.text.dsir import dsir_scores, fit_dsir
from sketchlib.text.lmscore import score_docs, train_unigram_lm

BIG = [(1 << 60) + 1, None, (1 << 60) + 3]
TEXTS = ["the cat sat\nmenu", "a dog\nmenu", "the end"]


def _docs(spark):
    rows = [(b, t, i % 2 == 0) for i, (b, t) in enumerate(zip(BIG, TEXTS))]
    return spark.createDataFrame(
        rows, "big long, text string, label boolean").coalesce(1)


def _media(spark, payloads):
    return spark.createDataFrame(list(zip(BIG, payloads)),
                                 "media_id long, payload binary").coalesce(1)


def _run(op, spark):
    """(output frame, passthrough column, expected values) of ``op``."""
    if op in ("score_docs", "dsir_scores", "quality_scores",
              "strip_boilerplate"):
        df = _docs(spark)
        if op == "score_docs":
            out = score_docs(df, train_unigram_lm(df, vocab_size=4))
        elif op == "dsir_scores":
            out = dsir_scores(df, fit_dsir(df, df, buckets=16))
        elif op == "quality_scores":
            model = fit_quality_classifier(df, "label", buckets=16)
            out = quality_scores(df, model, engine="arrow")
        else:
            out = strip_boilerplate(df, np.array([], dtype=np.int64))
        return out, "big", BIG
    if op == "extract_media_features":
        img = encode_ppm(np.full((4, 4, 3), 9, dtype=np.uint8))
        out = extract_media_features(_media(spark, [img] * 3))
    elif op == "extract_audio_features":
        wav = encode_wav(np.arange(16, dtype=np.int16), 8000)
        out = extract_audio_features(_media(spark, [wav] * 3))
    else:
        video = pack_fake_video(4, 4, 1000, seed=1)
        out = sample_frames(_media(spark, [video] * 3), every_ms=1000)
        return out, "media_id", [b for b in BIG for _ in range(2)]  # 2 frames
    return out, "media_id", BIG


@pytest.mark.parametrize("op", [
    "score_docs", "dsir_scores", "quality_scores", "strip_boilerplate",
    "extract_media_features", "extract_audio_features", "sample_frames"])
def test_int64_passthrough_survives(spark, op):
    out, col, want = _run(op, spark)
    assert [r[col] for r in out.collect()] == want
