"""Tests: batched REST sink, provenance capture, check registry."""

import re
import subprocess

from pyspark.sql import functions as F

from ingest_pipeline_spark.provenance import (
    git_provenance,
    run_manifest,
    with_provenance,
)
from ingest_pipeline_spark.sources.sinks import rest_batch_sink
from ingest_pipeline_spark.validate.checks import Check, CheckRegistry


def test_rest_batch_sink_batches(spark, tmp_path):
    """Batch sizes respect the block size; every record delivered once."""
    out = tmp_path / "posts"
    out.mkdir()

    # executor-side recorder: one file per POST (local[Nthreads] shares fs)
    def post_fn(batch):
        import json
        import os
        import uuid

        p = out / f"{uuid.uuid4().hex}.json"
        with open(p, "w") as f:
            json.dump(batch, f)
        assert len(batch) <= 3

    df = spark.range(10).select(F.col("id").cast("long").alias("rec_id"))
    rest_batch_sink(df, post_fn, batch_size=3, num_partitions=2)

    import json

    seen = []
    for p in out.iterdir():
        seen.extend(r["rec_id"] for r in json.loads(p.read_text()))
    assert sorted(seen) == list(range(10))


def test_run_manifest_and_stamp(spark, tmp_path):
    # git_provenance reads a real commit: build a one-commit repo here so
    # the check holds in any copy of the engine tree, with or without .git
    git = ["git", "-c", "user.name=t", "-c", "user.email=t@example.com",
           "-c", "commit.gpgsign=false"]
    subprocess.run(git + ["init", "-q", str(tmp_path)], check=True)
    (tmp_path / "f.txt").write_text("x\n")
    subprocess.run(git + ["add", "f.txt"], cwd=tmp_path, check=True)
    subprocess.run(git + ["commit", "-q", "-m", "c"], cwd=tmp_path, check=True)
    assert re.fullmatch(r"[0-9a-f]{40}", git_provenance(str(tmp_path))["commit"])

    m = run_manifest(spark, "run42", ["/data/a.parquet"]).first()
    assert m.run_id == "run42"
    assert m.commit == git_provenance()["commit"]
    stamped = with_provenance(spark.range(2), "run42").collect()
    assert all(r.run_id == "run42" for r in stamped)


def test_pipe_partitions_external_process(spark):
    """F6: rows stream through an external command per partition."""
    from ingest_pipeline_spark.sources.sinks import pipe_partitions

    df = spark.range(100).repartition(4)
    out = pipe_partitions(df, ["wc", "-l"]).collect()
    # one count line per partition, totals to the row count
    assert sum(int(x.strip()) for x in out) == 100
    # transform-style command: upper-case each line
    names = spark.createDataFrame([("a",), ("b",)], "name string").coalesce(1)
    up = sorted(pipe_partitions(names, ["tr", "a-z", "A-Z"]).collect())
    assert up == ["A", "B"]


def test_check_registry_battery(spark):
    reg = CheckRegistry()

    @reg.register("ids")
    def id_checks(df):
        return [Check("neg_id", F.col("id") < 0)]

    @reg.register("parity")
    def parity_checks(df):
        return [Check("odd_id", F.col("id") % 2 == 1)]

    df = spark.range(4)
    report = {r.check_name: r.n_violations for r in reg.run(df).collect()}
    assert report == {"neg_id": 0, "odd_id": 2}
    only = {r.check_name for r in reg.run(df, include=["ids"]).collect()}
    assert only == {"neg_id"}


def test_sheet_sink_local_fallback_and_gate(spark, tmp_path):
    from ingest_pipeline_spark.sources.sinks import sheet_sink

    df = spark.createDataFrame(
        [("ds1", 3, None), ("ds2", 5, "x")], "dataset string, n int, note string"
    )
    out = tmp_path / "survey.tsv"
    where = sheet_sink(df, "survey", local_fallback_path=str(out))
    assert where == f"file:{out}?sheet=survey"
    text = out.read_text()
    # sorted column order, reference's pasted-TSV shape, NULLs as empty
    assert text.splitlines()[0] == "dataset\tn\tnote"
    assert "ds1\t3\t" in text and "ds2\t5\tx" in text

    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="google"):
        sheet_sink(df, "survey")


def test_sheet_sink_xlsx_fallback_roundtrips(spark, tmp_path):
    """A .xlsx fallback path writes a REAL workbook (stdlib zip + XML)
    that the repo's own pure-stdlib reader recovers value-for-value —
    the offline spreadsheet analog of the reference's pasted tab."""
    from ingest_pipeline_spark.sources.readers import read_excel, xlsx_parse
    from ingest_pipeline_spark.sources.sinks import sheet_sink

    df = spark.createDataFrame(
        [("ds1", 3, None), ("ds<2>", 5, 'quo"te & <tag>')],
        "dataset string, n int, note string",
    )
    out = tmp_path / "survey.xlsx"
    where = sheet_sink(df, "Survey 2026", local_fallback_path=str(out))
    assert where == f"file:{out}?sheet=Survey 2026"

    name, rows = xlsx_parse(out.read_bytes())
    assert name == "Survey 2026"
    assert rows[0] == ["dataset", "n", "note"]
    back = read_excel(spark, str(out))
    got = {(r.dataset, r.n, r.note) for r in back.collect()}
    # NULLs serialize as empty strings (the TSV fallback's contract)
    assert got == {("ds1", "3", ""), ("ds<2>", "5", 'quo"te & <tag>')}


def test_export_backup_battery_dispatch(spark, tmp_path):
    """Export-and-backup battery (reference export_and_backup.py:94-146):
    (entity_type, status) selects plugins; each writes its artifact."""
    import glob

    from ingest_pipeline_spark.export_backup import (
        find_plugins,
        run_export_backup,
    )

    entities = spark.createDataFrame(
        [
            ("u1", "Dataset", "Published", "g1"),
            ("u2", "Dataset", "Error", "g1"),
            ("u3", "Dataset", "New", "g2"),          # no plugin mapped
            ("u4", "Upload", "Reorganized", "g2"),
            ("u5", "Dataset", "Published", "g3"),
        ],
        "uuid string, entity_type string, status string, group_name string",
    )
    sel = {(r.uuid, r.plugin) for r in find_plugins(entities).collect()}
    assert sel == {
        ("u1", "dataset_published"),
        ("u5", "dataset_published"),
        ("u2", "dataset_error"),
        ("u4", "upload_reorganized"),
    }

    arts = run_export_backup(entities, str(tmp_path))
    assert set(arts) == {"dataset_published", "dataset_error", "upload_reorganized"}
    # artifacts exist and hold exactly the selected partition
    tsv = glob.glob(arts["dataset_published"] + "/part-*.csv")
    assert len(tsv) == 1
    body = open(tsv[0]).read()
    assert "u1" in body and "u5" in body and "u2" not in body
    js = glob.glob(arts["dataset_error"] + "/part-*.json")
    assert len(js) == 1 and "u2" in open(js[0]).read()


def test_orc_roundtrip_preserves_schema_and_values(spark, tmp_path):
    from ingest_pipeline_spark.sources.readers import read_orc
    from ingest_pipeline_spark.sources.sinks import write_orc
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") * 2).cast("double").alias("v"),
        F.concat(F.lit("s"), F.col("id")).alias("name"),
    )
    path = str(tmp_path / "orc_out")
    write_orc(df, path)
    back = read_orc(spark, path)
    # file sources surface everything nullable; names+types must survive
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    assert sorted(r["id"] for r in back.collect()) == list(range(100))


def test_orc_scan_pushes_down_filters(spark, tmp_path):
    """ORC scans must keep the same pushdown surface as parquet — a
    filter on a scanned column shows up in PushedFilters."""
    from ingest_pipeline_spark.sources.readers import read_orc
    from ingest_pipeline_spark.sources.sinks import write_orc
    from pyspark.sql import functions as F

    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("k"))
    path = str(tmp_path / "orc_pd")
    write_orc(df, path)
    plan = (
        read_orc(spark, path)
        .filter(F.col("k") == 3)
        .select("id")
        ._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    )
    assert "PushedFilters: [" in plan and "k" in plan.split("PushedFilters")[1][:80]


def test_parquet_partitioned_sink_prunes_directories(spark, tmp_path):
    from ingest_pipeline_spark.sources.sinks import write_parquet
    from pyspark.sql import functions as F

    df = spark.range(200).select(F.col("id"), (F.col("id") % 4).alias("part"))
    path = str(tmp_path / "pq_part")
    write_parquet(df, path, partition_by=["part"])
    back = spark.read.parquet(path).filter(F.col("part") == 2)
    assert back.count() == 50
    plan = back._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    # partition filter is applied at the file index, not as a data filter
    assert "PartitionFilters" in plan


def test_json_deadletter_splits_good_and_bad(spark, tmp_path):
    from ingest_pipeline_spark.sources.readers import read_json_with_deadletter
    from pyspark.sql import types as T

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        '{"id": 2, "name": "also ok"}\n'
        'not json at all\n'
        '{"id": broken\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    good, bad = read_json_with_deadletter(spark, str(p), schema)
    assert sorted(r["id"] for r in good.collect()) == [1, 2]
    bad_rows = [r["_corrupt_record"] for r in bad.collect()]
    assert len(bad_rows) == 2 and "not json at all" in bad_rows[0]


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """128 tiny files -> few files sized toward the target; data
    identical; tiny dirs are a no-op."""
    from ingest_pipeline_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "t")
    spark.range(10_000).repartition(128).write.parquet(path)
    before = {r.id for r in spark.read.parquet(path).collect()}
    rep = compact_parquet(spark, path, target_bytes=1 << 20)
    assert rep["files_before"] == 128
    assert rep["files_after"] < 10
    assert {r.id for r in spark.read.parquet(path).collect()} == before

    single = str(tmp_path / "s")
    spark.range(10).coalesce(1).write.parquet(single)
    rep2 = compact_parquet(spark, single)
    assert rep2["files_before"] == rep2["files_after"] == 1


def test_compact_parquet_crash_recovery(spark, tmp_path):
    """A crash between the two swap renames strands the table under
    __old with no live path; leftover staged dirs are dead partial
    rewrites.  The next call must repair both before compacting."""
    import os

    from ingest_pipeline_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "t")
    spark.range(5_000).repartition(64).write.parquet(path)
    before = {r.id for r in spark.read.parquet(path).collect()}

    # simulate the crash window: path renamed away, staged half-written
    os.rename(path, path + "__old")
    os.makedirs(path + "__compacting")
    with open(path + "__compacting/part-junk.parquet", "wb") as f:
        f.write(b"not parquet")

    rep = compact_parquet(spark, path, target_bytes=1 << 20)
    assert rep["files_before"] == 64 and rep["files_after"] < 10
    assert {r.id for r in spark.read.parquet(path).collect()} == before
    assert not os.path.exists(path + "__old")
    assert not os.path.exists(path + "__compacting")
