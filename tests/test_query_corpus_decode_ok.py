"""Every decode_ok-filtering multimodal query decodes its WHOLE corpus.

The r10 multimodal queries filter ``decode_ok`` Spark-side while their
DuckDB oracles enumerate every embedding unconditionally — correct
today because the synthetic corpora are lossless round-trips, but a
future codec regression would surface only as an opaque oracle hash
mismatch.  This battery pins the invariant directly: for each
query-corpus x decoder pair, decode_ok is ALL-true and error is null,
so a codec break fails here with the per-asset error message instead
of an oracle diff (r10 ADVICE #4).

It also pins the error-row contract of every public extractor (one
valid asset, one garbage blob, one NULL media each), and that the
module keeps ONE Arrow harness: every codec stage is a kernel passed to
``_per_asset`` / ``_encode_each``, never another mapInPandas loop.
"""

from __future__ import annotations

import ast
import inspect

import pytest

from pyspark.sql import functions as F

from ingest_pipeline_spark.operators import multimodal
from ingest_pipeline_spark.operators.multimodal import (
    audio_autocorr_features,
    audio_silence_features,
    audio_zero_crossing_features,
    avi_mjpeg_encode,
    decode_audio_features,
    decode_image_features,
    embeddings_to_jpeg,
    embeddings_to_png,
    embeddings_to_tiff,
    embeddings_to_wav,
    embeddings_to_y4m,
    h264_ipcm_encode,
    image_dhash_features,
    image_downsample_area,
    image_otsu_features,
    image_sobel_features,
    png_encode,
    tile_pixel_stats,
    video_frame_stats,
    video_h264_frame_stats,
    video_keyframes,
    video_mjpeg_frame_stats,
    video_shot_cuts,
    wav_encode,
    y4m_encode,
)
from ingest_pipeline_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def _assert_all_ok(feats, label):
    bad = (
        feats.filter(~F.col("decode_ok"))
        .select("asset_id", "error")
        .limit(5)
        .collect()
    )
    assert not bad, f"{label}: decode failures {[(r[0], r[1]) for r in bad]}"


# every (corpus builder, decoder) pair a registered query filters on —
# keep in sync with queries.py's multimodal registrations
CASES = [
    ("png+features", lambda e: decode_image_features(
        embeddings_to_png(e, width=8))),
    ("tiff+features", lambda e: decode_image_features(
        embeddings_to_tiff(e, width=8))),
    ("jpeg+features", lambda e: decode_image_features(
        embeddings_to_jpeg(e, tiles_per_row=8))),
    ("wav+features", lambda e: decode_audio_features(
        embeddings_to_wav(e, rate=16000))),
    ("tiff+downsample", lambda e: image_downsample_area(
        embeddings_to_tiff(e, width=8), factor=2)),
    ("png+sobel", lambda e: image_sobel_features(
        embeddings_to_png(e, width=8), edge_threshold=4000)),
    ("png+dhash", lambda e: image_dhash_features(
        embeddings_to_png(e, width=8))),
    ("tiff+tilestats", lambda e: tile_pixel_stats(
        embeddings_to_tiff(e, width=8), tile=4)),
    ("wav+silence", lambda e: audio_silence_features(
        embeddings_to_wav(e), window=8, threshold=60_000_000)),
    ("wav+zerocross", lambda e: audio_zero_crossing_features(
        embeddings_to_wav(e))),
    ("y4m+framestats", lambda e: video_frame_stats(
        embeddings_to_y4m(e, width=4, height=4), every_n=2)),
    ("y4m+shotcuts", lambda e: video_shot_cuts(
        embeddings_to_y4m(e, width=4, height=4), threshold=320)),
    ("y4m+keyframes", lambda e: video_keyframes(
        embeddings_to_y4m(e, width=4, height=4))),
]


@pytest.mark.parametrize("label,build", CASES, ids=[c[0] for c in CASES])
def test_query_corpus_decodes_clean(emb, label, build):
    _assert_all_ok(build(emb), label)


def test_otsu_corpus_constant_rows_are_the_only_failures(emb):
    # otsu legitimately degrades constant images to error rows; assert
    # failures (if any) are exactly the no-cut case, never a codec error
    feats = image_otsu_features(embeddings_to_tiff(emb, width=8))
    bad = feats.filter(~F.col("decode_ok")).select("error").distinct().collect()
    allowed = {"constant image has no otsu cut"}
    got = {r[0] for r in bad}
    assert got <= allowed, f"unexpected otsu failures: {got - allowed}"


# one VALID asset per codec family; every extractor also gets a garbage
# blob and a NULL media (see _contract_assets)
_FRAME = bytes(range(0, 256))  # one 16x16 gray frame, 256 distinct px
_VALID = {
    "png": png_encode(8, 8, 1, bytes(range(0, 256, 4))),
    "wav": wav_encode([(-1) ** i * 40 * i for i in range(64)]),
    "y4m": y4m_encode(4, 4, [bytes(range(k, k + 16)) for k in (0, 0, 200)]),
    "avi": avi_mjpeg_encode(16, 16, [_FRAME, _FRAME[::-1]]),
    "h264": h264_ipcm_encode(16, 16, [_FRAME, _FRAME[::-1]]),
}

# (extractor, valid media, declared feature columns)
EXTRACTORS = [
    (decode_image_features, "png", ["width", "height", "channels",
     "bit_depth", "px_sum", "px_min", "px_max"]),
    (decode_audio_features, "wav", ["channels", "sample_rate", "bit_depth",
     "n_samples", "duration_ms", "amp_sum", "amp_sumsq", "amp_min",
     "amp_max"]),
    (audio_autocorr_features, "wav", ["n_samples", "energy", "ac1", "ac2",
     "ac4"]),
    (audio_zero_crossing_features, "wav", ["n_samples", "n_zero_crossings",
     "longest_run"]),
    (audio_silence_features, "wav", ["n_windows", "n_silent",
     "longest_silent_run", "energy_sum"]),
    (tile_pixel_stats, "png", ["tile_x", "tile_y", "n_px", "px_sum",
     "px_min", "px_max"]),
    (image_dhash_features, "png", ["width", "height", "n_bits", "dhash"]),
    (image_downsample_area, "png", ["out_w", "out_h", "pixels"]),
    (image_sobel_features, "png", ["n_interior", "grad_energy", "max_grad2",
     "n_edge_px"]),
    (image_otsu_features, "png", ["otsu_t", "bg_count", "fg_count", "num2",
     "den"]),
    (video_shot_cuts, "y4m", ["n_frames", "max_sad", "n_cuts", "first_cut"]),
    (video_frame_stats, "y4m", ["frame_idx", "n_px", "luma_sum", "luma_min",
     "luma_max"]),
    (video_keyframes, "y4m", ["shot_id", "start_frame", "n_frames",
     "keyframe_idx", "key_vnum"]),
    (video_mjpeg_frame_stats, "avi", ["frame_idx", "width", "height",
     "px_sum", "px_min", "px_max"]),
    (video_h264_frame_stats, "h264", ["frame_idx", "width", "height",
     "px_sum", "px_min", "px_max"]),
]


def _contract_assets(spark, media):
    return spark.createDataFrame(
        [(1, bytearray(_VALID[media])), (2, bytearray(b"garbage!" * 4)),
         (3, None)],
        "asset_id long, media binary",
    )


@pytest.mark.parametrize(
    "extract,media,features", EXTRACTORS,
    ids=[e[0].__name__ for e in EXTRACTORS],
)
def test_extractor_error_row_contract(spark, extract, media, features):
    df = extract(_contract_assets(spark, media))
    assert df.columns == ["asset_id", *features, "decode_ok", "error"]
    rows = df.collect()
    valid = [r for r in rows if r["asset_id"] == 1]
    assert valid and all(r["decode_ok"] and r["error"] is None for r in valid)
    for aid in (2, 3):
        bad = [r for r in rows if r["asset_id"] == aid]
        assert len(bad) == 1, (aid, bad)
        (r,) = bad
        assert r["decode_ok"] is False
        assert r["error"] is not None and 0 < len(r["error"]) <= 200
        assert all(r[c] is None for c in features), r


def test_multimodal_has_one_arrow_harness():
    # a new codec feature is a kernel passed to _per_asset (decode) or
    # _encode_each (encode) — never a new hand-copied mapInPandas loop
    src = inspect.getsource(multimodal)
    owners = [
        node.name
        for node in ast.parse(src).body
        if isinstance(node, ast.FunctionDef)
        for call in ast.walk(node)
        if isinstance(call, ast.Call)
        and isinstance(call.func, ast.Attribute)
        and call.func.attr == "mapInPandas"
    ]
    assert sorted(owners) == ["_encode_each", "_per_asset"]
    assert src.count("mapInPandas(") == 2
