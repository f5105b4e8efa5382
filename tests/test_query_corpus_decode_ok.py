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
valid asset, one garbage blob, one NULL media each) and of every
binaryFile reader (one corrupt file each), and that the package keeps
ONE Arrow harness: every per-file stage is a kernel passed to
``_per_asset`` / ``_encode_each``, never another mapInPandas loop.
"""

from __future__ import annotations

import ast
import json
import pathlib

import pytest

from pyspark.sql import functions as F

import ingest_pipeline_spark
from ingest_pipeline_spark.operators.extractors import extract_format_metadata
from ingest_pipeline_spark.operators.fastq_scrub import scrub_fastq_files
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
from ingest_pipeline_spark.sources.readers import (
    read_excel_sidecars,
    read_parquet_footer_stats,
    read_yaml_sidecars,
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


def _binary_files(spark, d):
    return spark.read.format("binaryFile").load(d)


# (reader over a directory, corrupt file, its bytes, key column,
# feature columns): each migrated binaryFile parser
CORRUPT_FILES = [
    (lambda s, d: read_yaml_sidecars(s, f"{d}/*"), "rslt.yml",
     b"\xff\xfe{{ not yaml ][", "path", ["doc_json"]),
    (lambda s, d: read_excel_sidecars(s, f"{d}/*"), "survey.xlsx",
     b"corrupt bytes", "path", ["sheet", "row_idx", "row_json"]),
    (lambda s, d: read_parquet_footer_stats(s, f"{d}/*"), "bad.parquet",
     b"PAR1 this is not parquet", "file",
     ["row_group", "column_name", "n_rows", "num_values", "null_count",
      "compressed_bytes", "uncompressed_bytes", "has_minmax_stats"]),
    (lambda s, d: scrub_fastq_files(_binary_files(s, d)), "bad.fastq.gz",
     b"\x1f\x8b\x00junk", "path",
     ["n_records", "n_retained", "sha_clean", "clean"]),
]


@pytest.mark.parametrize(
    "read,name,blob,key,features", CORRUPT_FILES,
    ids=["yaml", "excel", "parquet_footer", "fastq"],
)
def test_reader_corrupt_file_is_one_error_row(
    spark, tmp_path, read, name, blob, key, features
):
    (tmp_path / name).write_bytes(blob)
    df = read(spark, str(tmp_path))
    assert df.columns == [key, *features, "decode_ok", "error"]
    (r,) = df.collect()
    assert r[key].endswith(name) and r["decode_ok"] is False
    assert r["error"] is not None and 0 < len(r["error"]) <= 200
    assert all(r[c] is None for c in features), r


def test_extract_format_metadata_keeps_errors_in_meta_json(spark, tmp_path):
    # the fifth migrated parser: extract_one already turns a parse error
    # into metadata, so the harness columns are projected away
    (tmp_path / "scan.czi").write_bytes(b"ZISRAWFILE" + b"\x00" * 8)
    df = extract_format_metadata(_binary_files(spark, str(tmp_path)))
    assert df.columns == ["file_name", "category", "width", "height",
                          "n_items", "meta_json"]
    (r,) = df.collect()
    assert (r.file_name, r.category) == ("scan.czi", "CZI")
    assert (r.width, r.height, r.n_items) == (None, None, None)
    assert "truncated" in json.loads(r.meta_json)["error"]


# every mapInPandas owner: the two harnesses, and two per-batch
# aggregations that emit partial counts rather than rows per input
_HARNESSES = {
    "operators/multimodal.py": {"_per_asset", "_encode_each"},
    "operators/similarity.py": {"gram_partials"},
    "validate/jsonschema.py": {"json_docs_violation_counts"},
}


def test_multimodal_has_one_arrow_harness():
    # a new codec feature or binaryFile parser is a kernel passed to
    # _per_asset (decode) or _encode_each (encode) — never a new
    # hand-copied mapInPandas loop, anywhere in the package
    root = pathlib.Path(ingest_pipeline_spark.__file__).parent
    owners, n_calls = {}, 0
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        n_calls += src.count("mapInPandas(")
        for node in ast.parse(src).body:
            if isinstance(node, ast.FunctionDef) and any(
                isinstance(call, ast.Call)
                and isinstance(call.func, ast.Attribute)
                and call.func.attr == "mapInPandas"
                for call in ast.walk(node)
            ):
                rel = path.relative_to(root).as_posix()
                owners.setdefault(rel, set()).add(node.name)
    assert owners == _HARNESSES
    assert n_calls == 4
