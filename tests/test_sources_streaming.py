"""Unit tests: sources (TSV/JSON/listing), sinks, real Structured Streaming."""

import datetime
import os

from pyspark.sql import functions as F

from ingest_pipeline_spark.operators.multimodal import frame_sample_plan, sniff_mime
from ingest_pipeline_spark.sources.readers import listing, read_json_docs, read_tsv
from ingest_pipeline_spark.sources.sinks import write_tsv
from ingest_pipeline_spark.streaming.events import (
    dedup_stream,
    run_stream_once,
    windowed_event_counts,
)


def test_tsv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1), ("b\tc", 2)], "name string, n int"
    )
    out = str(tmp_path / "t.tsv")
    write_tsv(df, out, single_file=True)
    back = read_tsv(spark, out)
    rows = {(r.name, int(r.n)) for r in back.collect()}
    assert rows == {("a", 1), ("b\tc", 2)}


def test_tsv_delimiter_report(spark, tmp_path):
    from ingest_pipeline_spark.sources.readers import tsv_delimiter_report

    good = tmp_path / "good.tsv"
    good.write_text("a\tb\n1\t2\n3\t4\n")
    rep = tsv_delimiter_report(read_tsv(spark, str(good)))
    assert rep == {
        "bad_header_cols": [],
        "suspected_delimiter": None,
        "n_all_null_rows": 0,
        "n_rows": 2,
    }

    # comma-separated file read as TSV → one unsplit column whose
    # header still contains the real delimiter
    bad = tmp_path / "bad.tsv"
    bad.write_text("a,b\n1,2\n,\n")
    rep2 = tsv_delimiter_report(read_tsv(spark, str(bad)))
    assert rep2["suspected_delimiter"] == ","
    assert rep2["n_rows"] == 2


def test_yaml_docs(spark, tmp_path):
    from ingest_pipeline_spark.sources.readers import read_yaml_docs

    p = tmp_path / "rslt.yml"
    p.write_text("collectiontype: codex\nassay_type: CODEX\nchannels:\n  - DAPI\n  - CD4\n")
    df = read_yaml_docs(spark, [str(p)])
    row = df.first()
    assert row.collectiontype == "codex"
    assert list(row.channels) == ["DAPI", "CD4"]


def test_yaml_sidecars_distributed(spark, tmp_path):
    """Many-file YAML ingest: N sidecars → one DataFrame through a
    distributed binaryFile scan + mapInPandas parse — no driver loop."""
    import json

    from pyspark.sql import functions as F

    from ingest_pipeline_spark.sources.readers import read_yaml_sidecars

    for i in range(12):
        d = tmp_path / f"ds{i}"
        d.mkdir()
        (d / "rslt.yml").write_text(
            f"dataset: ds{i}\nassay_type: CODEX\nn_channels: {i}\n"
        )
    # one corrupt sidecar must degrade to an error row, not kill the scan
    bad = tmp_path / "ds_bad"
    bad.mkdir()
    (bad / "rslt.yml").write_bytes(b"\xff\xfe{{ not yaml ][")
    df = read_yaml_sidecars(spark, str(tmp_path / "*" / "rslt.yml"))
    rows = df.collect()
    assert len(rows) == 13
    errs = [r for r in rows if r.error is not None]
    assert len(errs) == 1 and errs[0].doc_json is None
    rows = [r for r in rows if r.error is None]
    assert len(rows) == 12
    docs = {json.loads(r.doc_json)["dataset"]: json.loads(r.doc_json) for r in rows}
    assert docs["ds7"] == {"dataset": "ds7", "assay_type": "CODEX", "n_channels": 7}
    # structured access downstream via get_json_object stays JVM-side
    n7 = df.filter(
        F.get_json_object("doc_json", "$.dataset") == "ds7"
    ).select(F.get_json_object("doc_json", "$.n_channels").cast("int"))
    assert n7.first()[0] == 7
    # the scan is the distributed binaryFile source, parse is Arrow-batched
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "binaryFile" in plan and "MapInPandas" in plan
    assert "Scan ExistingRDD" not in plan  # i.e. not driver-parallelized


def test_json_docs(spark, tmp_path):
    p = tmp_path / "doc.json"
    p.write_text('{"metadata": {"assay": "codex"}, "files": [{"rel_path": "x"}]}')
    df = read_json_docs(spark, str(p))
    row = df.first()
    assert row.metadata.assay == "codex"
    assert row.files[0].rel_path == "x"


def test_listing_walk(spark, tmp_path):
    (tmp_path / "ds1").mkdir()
    (tmp_path / "ds1" / "a.txt").write_text("aaa")
    (tmp_path / "ds1" / "sub").mkdir()
    (tmp_path / "ds1" / "sub" / "b.bin").write_bytes(b"\x00" * 10)
    files = listing(spark, str(tmp_path))
    got = {r.rel_path: r.size for r in files.collect()}
    assert got == {"ds1/a.txt": 3, os.path.join("ds1", "sub", "b.bin"): 10}
    # a dangling symlink inside a subtree is skipped, not a failed task
    os.symlink(str(tmp_path / "gone"), str(tmp_path / "ds1" / "sub" / "dangling"))
    got = {r.rel_path: r.size for r in listing(spark, str(tmp_path)).collect()}
    assert got == {"ds1/a.txt": 3, os.path.join("ds1", "sub", "b.bin"): 10}


def test_streaming_windowed_counts_matches_batch(spark, sf_dir):
    """The streaming plan over the same parquet == the batch plan."""
    from ingest_pipeline_spark.session import pin_session_conf

    from ingest_pipeline_spark.tables import normalize_event_ts

    pin_session_conf(spark)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = normalize_event_ts(raw)
    schema = raw.schema  # stream with the on-disk schema, normalize in-plan

    def transform(src):
        src = normalize_event_ts(src)
        return windowed_event_counts(src, window_len="1 hour", watermark="100 days")

    got = run_stream_once(
        spark, f"{sf_dir}/events.parquet", schema, transform, "wc_test"
    )
    expected = windowed_event_counts(batch, window_len="1 hour")
    g = {tuple(r) for r in got.collect()}
    e = {tuple(r) for r in expected.collect()}
    assert g == e


def test_stateful_user_counts_stream(spark, sf_dir):
    """applyInPandasWithState running totals == batch groupBy totals."""
    from ingest_pipeline_spark.session import pin_session_conf
    from ingest_pipeline_spark.streaming.events import stateful_user_counts

    from ingest_pipeline_spark.tables import normalize_event_ts

    pin_session_conf(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def transform(src):
        src = normalize_event_ts(src)
        return stateful_user_counts(src)

    got = run_stream_once(
        spark, f"{sf_dir}/events.parquet", schema, transform, "state_test"
    )
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    expected = {
        (r.user_id): (r.n_events, round(r.sum_value, 6))
        for r in stateful_user_counts(batch).collect()
    }
    # one emission per key per batch; single batch → direct compare
    actual = {
        (r.user_id): (r.n_events, round(r.sum_value, 6)) for r in got.collect()
    }
    assert set(actual) == set(expected)
    assert all(actual[k][0] == expected[k][0] for k in expected)


def test_read_excel_gated(spark, tmp_path):
    import pytest as _pytest

    from ingest_pipeline_spark.sources.readers import read_excel

    p = tmp_path / "x.xlsx"
    p.write_bytes(b"not really excel")
    with _pytest.raises((NotImplementedError, ValueError, Exception)):
        read_excel(spark, str(p))


def test_dedup_stream_batch_mode(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "event_id long, payload string"
    )
    assert dedup_stream(df, id_col="event_id", ts_col="payload").count() == 2


def test_multimodal_assets_and_sniff(spark):
    magic = spark.createDataFrame(
        [(bytearray(b"\x89PNG\r\n"),), (bytearray(b"RIFF1234"),), (bytearray(b"zzzz"),)],
        "media binary",
    )
    mimes = [r.m for r in magic.select(sniff_mime(F.col("media")).alias("m")).collect()]
    assert mimes == ["image/png", "audio/wav", "application/octet-stream"]


def test_frame_sample_plan(spark):
    assets = spark.createDataFrame(
        [(1, "video", bytearray(b""), ("video/webm", None, None, None, None, 25)),
         (2, "video", bytearray(b""), ("video/webm", None, None, None, None, 0)),
         (3, "image", bytearray(b""), ("image/png", None, None, None, None, None))],
        "asset_id long, modality string, media binary, "
        "meta struct<mime string, width int, height int, sample_rate int, "
        "duration_s double, n_frames int>",
    )
    rows = frame_sample_plan(assets, every_n=10).collect()
    got = {(r.asset_id, r.frame_idx) for r in rows}
    assert got == {(1, 0), (1, 10), (1, 20)}


def test_intake_to_terminal_watch_e2e(spark, tmp_path):
    """T1/T3/T4 wired: requests stream -> routed jobs + dispatch ->
    status progression -> terminal-state watch sees each entity once."""
    from ingest_pipeline_spark.streaming.watch import (
        start_intake,
        terminal_status_stream,
        watch_terminal_once,
    )

    req_dir = str(tmp_path / "requests")
    jobs_dir = str(tmp_path / "jobs")
    status_dir = str(tmp_path / "status")
    req_schema = "provider string, submission_id string, process string, ts long"
    reqs = spark.createDataFrame(
        [
            ("lab_a", "u1", "mock.codex", 1),
            ("lab_b", "u2", "salmon.rnaseq", 2),
            ("lab_a", "u1", "mock.codex", 1),  # redelivery -> deduped
        ],
        req_schema,
    )
    reqs.write.mode("overwrite").parquet(req_dir)

    dispatched = []
    q = start_intake(spark, req_dir, req_schema, jobs_dir, dispatch_fn=dispatched.append)
    q.awaitTermination(60)
    jobs = spark.read.parquet(jobs_dir)
    got = {r.submission_id: r.dag_id for r in jobs.collect()}
    assert got == {"u1": "mock_ingest", "u2": "salmon_rnaseq"}  # deduped + routed
    assert sum(len(b) for b in dispatched) == 2  # fan-out saw each job once

    # downstream pipeline progresses entity status; only terminal states
    # must surface, one per entity, event-driven (no polling loop)
    status_schema = "uuid string, status string, ts timestamp"
    spark.createDataFrame(
        [
            ("u1", "processing", datetime.datetime(2024, 1, 1, 10)),
            ("u1", "qa", datetime.datetime(2024, 1, 1, 11)),
            ("u1", "published", datetime.datetime(2024, 1, 1, 12)),
            ("u2", "processing", datetime.datetime(2024, 1, 1, 10)),
            ("u2", "error", datetime.datetime(2024, 1, 1, 11)),
            ("u2", "error", datetime.datetime(2024, 1, 1, 12)),  # repeat
        ],
        status_schema,
    ).write.mode("overwrite").parquet(status_dir)

    watched = watch_terminal_once(spark, status_dir, status_schema)
    got = {r.uuid: r.status for r in watched.collect()}
    assert got == {"u1": "published", "u2": "error"}

    # batch fallback of the same operator gives the same contract
    batch = terminal_status_stream(spark.read.parquet(status_dir))
    got_b = {r.uuid: r.status for r in batch.collect()}
    assert got_b == got


def test_intake_dispatch_spills_oversized_batch(spark, tmp_path):
    """A micro-batch larger than max_inline_jobs never materializes on
    the driver: the dispatcher gets ONE spill manifest and the rows
    land in the overflow directory (the reference's MAX_IN_LINE_FILES
    inline-vs-spill policy, dags/utils.py:67-69)."""
    from ingest_pipeline_spark.streaming.watch import start_intake

    req_dir = str(tmp_path / "requests")
    jobs_dir = str(tmp_path / "jobs")
    req_schema = "provider string, submission_id string, process string, ts long"
    n = 50
    spark.createDataFrame(
        [("lab", f"u{i}", "mock.codex", i) for i in range(n)], req_schema
    ).write.mode("overwrite").parquet(req_dir)

    dispatched = []
    q = start_intake(
        spark, req_dir, req_schema, jobs_dir,
        dispatch_fn=dispatched.append, max_inline_jobs=8,
    )
    q.awaitTermination(60)
    # exactly one manifest, no inline job dicts on the driver
    assert len(dispatched) == 1 and len(dispatched[0]) == 1
    manifest = dispatched[0][0]
    assert manifest["spilled"] is True and manifest["n_jobs"] == n
    spilled = spark.read.parquet(manifest["path"])
    assert spilled.count() == n
    # the durable jobs table still has every row regardless of spill
    assert spark.read.parquet(jobs_dir).count() == n


def test_streaming_session_window_matches_batch(spark, sf_dir):
    """Native session_window: the watermarked streaming aggregation
    produces exactly the batch sessions (T5/A9 streaming counterpart)."""
    from ingest_pipeline_spark.session import pin_session_conf
    from ingest_pipeline_spark.tables import normalize_event_ts

    pin_session_conf(spark)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")

    def sessions(df):
        return (
            df.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
            )
        )

    expected = {tuple(r) for r in sessions(normalize_event_ts(raw)).collect()}

    def transform(src):
        s = normalize_event_ts(src).withWatermark("ts", "100 days")
        return sessions(s)

    got = run_stream_once(
        spark, f"{sf_dir}/events.parquet", raw.schema, transform, "sess_test"
    )
    assert {tuple(r) for r in got.collect()} == expected
    assert len(expected) > 0


def test_tile_plan_grid_covers_image(spark):
    from ingest_pipeline_spark.operators.multimodal import tile_plan

    assets = spark.createDataFrame(
        [(1, "image", bytearray(b""), ("image/png", 600, 300, None, None, None)),
         (2, "image", bytearray(b""), ("image/png", 100, 100, None, None, None)),
         (3, "video", bytearray(b""), ("video/webm", 600, 300, None, None, 10)),
         (4, "image", bytearray(b""), ("image/png", None, None, None, None, None))],
        "asset_id long, modality string, media binary, "
        "meta struct<mime string, width int, height int, sample_rate int, "
        "duration_s double, n_frames int>",
    )
    rows = tile_plan(assets, tile=256, overlap=32).collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r.asset_id, []).append(r)
    # only images with known dims are tiled
    assert set(by_asset) == {1, 2}
    # small image → single clamped tile
    assert [(r.x0, r.y0, r.tile_w, r.tile_h) for r in by_asset[2]] == [(0, 0, 100, 100)]
    # 600x300 with stride 224: x starts 0,224,448; y starts 0,224 → 6 tiles
    g = {(r.x0, r.y0) for r in by_asset[1]}
    assert g == {(x, y) for x in (0, 224, 448) for y in (0, 224)}
    # coverage: every pixel falls in some tile; edge tiles clamped
    for r in by_asset[1]:
        assert r.x0 + r.tile_w <= 600 and r.y0 + r.tile_h <= 300
    assert max(r.x0 + r.tile_w for r in by_asset[1]) == 600
    assert max(r.y0 + r.tile_h for r in by_asset[1]) == 300


def test_chunking_covers_every_token(spark, sf_dir):
    """Chunking invariants: concatenating chunk starts covers the whole
    doc, consecutive chunks overlap by exactly size-stride tokens, and
    the tail is never dropped."""
    from ingest_pipeline_spark.queries import queries

    rows = queries()["text_chunk_documents"](spark, sf_dir).collect()
    docs = {
        r.doc_id: int(r.n_tokens)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id < 400")
        .selectExpr(
            "doc_id",
            "size(filter(split(trim(text), '\\\\s+'), x -> x != '')) AS n_tokens",
        )
        .collect()
    }
    size, stride = 64, 48
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        n = docs[doc_id]
        # indexes are dense from 0
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        # coverage: last chunk reaches the final token
        last = chunks[-1]
        assert last.chunk_idx * stride + last.n_tokens == n
        # all but the last chunk are full-size
        assert all(c.n_tokens == size for c in chunks[:-1])
    assert set(by_doc) == {d for d, n in docs.items() if n > 0}


def test_stateful_user_counts_across_micro_batches(spark, sf_dir, tmp_path):
    """Running totals must survive into a SECOND micro-batch (the
    state.get-property path only executes once state exists)."""
    import glob
    import os
    import shutil
    import time

    from ingest_pipeline_spark.streaming.events import stateful_user_counts
    from ingest_pipeline_spark.tables import load_table, normalize_event_ts

    ev = load_table(spark, sf_dir, "events").filter("user_id < 20")
    half_a = ev.filter("event_id % 2 = 0")
    half_b = ev.filter("event_id % 2 = 1")
    src = str(tmp_path / "ev")
    os.makedirs(src, exist_ok=True)
    half_a.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "a"))
    half_b.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b"))
    shutil.copy(glob.glob(str(tmp_path / "a" / "part-*.parquet"))[0],
                os.path.join(src, "0-a.parquet"))
    time.sleep(1.1)
    shutil.copy(glob.glob(str(tmp_path / "b" / "part-*.parquet"))[0],
                os.path.join(src, "1-b.parquet"))

    raw = spark.read.parquet(src)
    stream = spark.readStream.schema(raw.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = (
        stateful_user_counts(normalize_event_ts(stream))
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("state_two_batches")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # memory sink in update mode appends each emission: keep the LAST
    # per user (the final running total)
    rows = spark.sql(
        "SELECT user_id, n_events, sum_value FROM state_two_batches"
    ).collect()
    final = {}
    for r in rows:
        final[r.user_id] = (r.n_events, round(r.sum_value, 6))
    expected = {
        r.user_id: (r.n_events, round(r.sum_value, 6))
        for r in stateful_user_counts(raw).collect()
    }
    # the totals after the second batch must equal the batch aggregate
    got_final = {
        u: max(
            ((r.n_events, round(r.sum_value, 6)) for r in rows if r.user_id == u),
            key=lambda t: t[0],
        )
        for u in {r.user_id for r in rows}
    }
    assert got_final == expected


def test_streaming_hopping_windows_matches_batch(spark, sf_dir):
    """Hopping (sliding) windows: the watermarked streaming aggregation
    emits exactly the batch result for the same parquet."""
    from ingest_pipeline_spark.session import pin_session_conf
    from ingest_pipeline_spark.tables import normalize_event_ts

    pin_session_conf(spark)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = normalize_event_ts(raw)

    def transform(src):
        src = normalize_event_ts(src)
        return windowed_event_counts(
            src, window_len="6 hours", watermark="100 days", slide="3 hours"
        )

    got = run_stream_once(
        spark, f"{sf_dir}/events.parquet", raw.schema, transform, "hop_test"
    )
    expected = windowed_event_counts(batch, window_len="6 hours", slide="3 hours")
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in expected.collect()
    }


def test_streaming_cms_counters_match_batch(spark, sf_dir):
    """The count-min grid is a pure streaming aggregation (counters
    merge by addition), so the streamed grid must equal the batch grid
    bit-for-bit."""
    from ingest_pipeline_spark.operators.sketches import cms_counters
    from ingest_pipeline_spark.streaming.events import run_stream_once

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = run_stream_once(
        spark,
        f"{sf_dir}/events.parquet",
        raw.schema,
        lambda src: cms_counters(src, "user_id", d=4, w=64),
        "cms_stream_test",
    )
    expected = cms_counters(raw, "user_id", d=4, w=64)
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in expected.collect()
    }


def test_idempotent_parquet_sink_exactly_once(spark, sf_dir, tmp_path):
    """Replaying a micro-batch (same batch_id) must overwrite, not
    append: total row count equals the source count after a simulated
    duplicate delivery, and a fresh run over the same checkpoint adds
    nothing."""
    import glob as globmod

    from ingest_pipeline_spark.streaming.events import idempotent_parquet_sink

    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet").limit(200)
    raw.write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    n_src = spark.read.parquet(src_dir).count()

    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = idempotent_parquet_sink(stream.select("event_id", "event_type"), out_dir, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.read.parquet(out_dir).count() == n_src

    # simulate the failure-replay: rerun batch 0's write directly —
    # the dynamic partition overwrite must keep the count stable
    batch_df = spark.read.parquet(src_dir).select("event_id", "event_type")
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            batch_df.withColumn("batch_id", F.lit(0))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    assert spark.read.parquet(out_dir).count() == n_src

    # restarting the stream over the SAME checkpoint replays nothing
    stream2 = spark.readStream.schema(schema).parquet(src_dir)
    q2 = idempotent_parquet_sink(stream2.select("event_id", "event_type"), out_dir, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert spark.read.parquet(out_dir).count() == n_src


def test_streaming_cdc_upsert_sink(spark, tmp_path):
    """foreachBatch CDC merge over plain parquet: two micro-batches of
    changes applied sequentially must land on the same state as one
    batch cdc_apply of the whole stream, and replaying a batch must be
    a no-op (latest-change-wins idempotence)."""
    import time

    from ingest_pipeline_spark.operators.merge import cdc_apply
    from ingest_pipeline_spark.streaming.events import cdc_upsert_sink

    base_path = str(tmp_path / "state")
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "key long, v double"
    ).write.parquet(base_path)

    ch_dir = tmp_path / "changes"
    ch_dir.mkdir()
    schema = "key long, v double, seq long, op string"
    b1 = spark.createDataFrame([(1, 11.0, 1, "U"), (2, 0.0, 2, "D")], schema)
    b2 = spark.createDataFrame([(2, 22.0, 3, "U"), (4, 40.0, 4, "U")], schema)
    b1.coalesce(1).write.parquet(str(ch_dir / "b1"))
    time.sleep(0.05)
    b2.coalesce(1).write.parquet(str(ch_dir / "b2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(ch_dir / "*"))
    )
    q = cdc_upsert_sink(
        stream, base_path, str(tmp_path / "ckpt"), ["key"], ["seq"]
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r.key: r.v for r in spark.read.parquet(base_path).collect()}
    # one-shot apply of the full change stream over the ORIGINAL base
    want = {
        r.key: r.v
        for r in cdc_apply(
            spark.createDataFrame(
                [(1, 10.0), (2, 20.0), (3, 30.0)], "key long, v double"
            ),
            b1.unionByName(b2),
            ["key"],
            ["seq"],
        ).collect()
    }
    assert got == want == {1: 11.0, 2: 22.0, 3: 30.0, 4: 40.0}

    # replaying the last batch against the post-batch state is a no-op
    from ingest_pipeline_spark.operators.merge import cdc_apply as replay
    re_applied = {
        r.key: r.v
        for r in replay(
            spark.read.parquet(base_path), b2, ["key"], ["seq"]
        ).collect()
    }
    assert re_applied == got

    # versioned-pointer hygiene: base_path is now the atomic pointer
    # (symlink) at the latest version; no staged-dir leak, at most the
    # current snapshot remains on disk
    import glob as _glob
    import os

    assert os.path.islink(base_path)
    assert not _glob.glob(base_path + "__staged_batch_*")
    versions = _glob.glob(base_path + "__v*")
    assert len(versions) == 1
    assert os.path.realpath(base_path) == os.path.realpath(versions[0])


def test_streaming_cdc_sink_pointer_recovery(spark, tmp_path):
    """Crash recovery: a missing pointer (crash between the adopt
    rename and the swap) is re-pointed at the newest intact version on
    the next sink start, and legacy staged dirs are swept."""
    import os

    from ingest_pipeline_spark.streaming.events import cdc_upsert_sink

    base_path = str(tmp_path / "state")
    # simulate post-crash disk: versions exist, pointer is gone,
    # plus a leftover legacy staged dir
    spark.createDataFrame([(1, 1.0)], "key long, v double").write.parquet(
        base_path + "__v0"
    )
    spark.createDataFrame([(1, 2.0), (2, 9.0)], "key long, v double").write.parquet(
        base_path + "__v3"
    )
    os.makedirs(base_path + "__staged_batch_7")

    ch_dir = tmp_path / "changes"
    ch_dir.mkdir()
    schema = "key long, v double, seq long, op string"
    spark.createDataFrame([(2, 22.0, 5, "U")], schema).coalesce(1).write.parquet(
        str(ch_dir / "b1")
    )
    stream = spark.readStream.schema(schema).parquet(str(ch_dir / "*"))
    q = cdc_upsert_sink(
        stream, base_path, str(tmp_path / "ckpt"), ["key"], ["seq"]
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # recovered from __v3 (newest), then applied the batch on top
    got = {r.key: r.v for r in spark.read.parquet(base_path).collect()}
    assert got == {1: 2.0, 2: 22.0}
    assert not os.path.exists(base_path + "__staged_batch_7")


def test_audio_window_plan(spark):
    from ingest_pipeline_spark.operators.multimodal import audio_window_plan

    assets = spark.createDataFrame(
        [(1, "audio", bytearray(b""), ("audio/wav", None, None, 16000, 2.2, None)),
         (2, "audio", bytearray(b""), ("audio/wav", None, None, 16000, 0.4, None)),
         (3, "audio", bytearray(b""), ("audio/wav", None, None, 16000, None, None)),
         (4, "image", bytearray(b""), ("image/png", 10, 10, None, 5.0, None))],
        "asset_id long, modality string, media binary, "
        "meta struct<mime string, width int, height int, sample_rate int, "
        "duration_s double, n_frames int>",
    )
    rows = audio_window_plan(assets, window_ms=1000, hop_ms=500).collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r.asset_id, []).append((r.t0_ms, r.win_ms))
    # only audio with known duration; image/unknown excluded
    assert set(by_asset) == {1, 2}
    # 2200 ms, window 1000, hop 500 → starts 0,500,1000,1500(clamped 700)
    assert sorted(by_asset[1]) == [(0, 1000), (500, 1000), (1000, 1000), (1500, 700)]
    # short clip → one clamped window
    assert by_asset[2] == [(0, 400)]
    # coverage: windows reach the clip end
    assert max(t + w for t, w in by_asset[1]) == 2200

    # hop > window (sparse sampling): grid start landing exactly at the
    # clip end must be dropped, never emitted as a zero-length window
    sparse = audio_window_plan(assets, window_ms=500, hop_ms=1000).collect()
    s1 = sorted((r.t0_ms, r.win_ms) for r in sparse if r.asset_id == 1)
    assert s1 == [(0, 500), (1000, 500), (2000, 200)]
    assert all(r.win_ms > 0 for r in sparse)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        audio_window_plan(assets, window_ms=0, hop_ms=10)


def test_fixed_width_reader(spark, tmp_path):
    from ingest_pipeline_spark.sources.readers import read_fixed_width

    (tmp_path / "a.txt").write_text(
        "ID   NAME      QTY\n"
        "001  widget    007\n"
        "002  gadget    042\n"
        "003  x\n"            # truncated tail: QTY starts past line end
    )
    (tmp_path / "b.txt").write_text(
        "ID   NAME      QTY\n"
        "004  doohickey 100\n"
    )
    specs = [("id", 0, 5), ("name", 5, 10), ("qty", 15, 3)]
    df = read_fixed_width(
        spark, str(tmp_path / "*.txt"), specs, skip_header=True
    )
    rows = {r.id: (r.name, r.qty) for r in df.collect()}
    assert rows == {
        "001": ("widget", "007"),
        "002": ("gadget", "042"),
        "003": ("x", None),        # column past EOL -> NULL, not error
        "004": ("doohickey", "100"),
    }
    # the projection is pure JVM: no Python evaluation in the plan
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "EvalPython" not in plan


def test_fixed_width_header_multisplit_and_collision(spark, tmp_path):
    """skip_header must drop exactly ONE header line per file even when
    (a) a file spans multiple scan splits (no split-ordering
    assumptions) and (b) a DATA line is byte-identical to the header
    (content-equality drop must be one-per-file, not all-matching)."""
    from ingest_pipeline_spark.sources.readers import read_fixed_width

    body = "".join(f"{i:05d}row-payload-{i % 7}\n" for i in range(4000))
    (tmp_path / "big.txt").write_text("IDNUMHEADER-LINE\n" + body)
    # collision file: line 3 repeats the header verbatim as data
    (tmp_path / "coll.txt").write_text(
        "IDNUMHEADER-LINE\n90001aaa\nIDNUMHEADER-LINE\n90002bbb\n"
    )
    specs = [("id", 0, 5), ("rest", 5, 30)]
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    try:
        # the SCAN must really be multi-split under this conf (the final
        # df's rdd reflects the post-window shuffle, not the scan)
        nsplits = spark.read.text(
            str(tmp_path / "*.txt")
        ).rdd.getNumPartitions()
        assert nsplits > 4, nsplits
        df = read_fixed_width(
            spark, str(tmp_path / "*.txt"), specs, skip_header=True
        )
        rows = df.collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    ids = sorted(r.id for r in rows)
    # 4000 data rows from big.txt + 3 from coll.txt (ONE header dropped,
    # the data line equal to the header survives)
    assert len(ids) == 4003
    assert ids.count("IDNUM") == 1
    assert ids[0] == "00000" and "90001" in ids and "90002" in ids
