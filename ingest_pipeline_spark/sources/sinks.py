"""Sinks: TSV / JSON writers (SURVEY §2.1 S14-S15).

Single-file TSV (the reference's manifest.tsv shape,
dags/launch_checksums.py:179,260) uses coalesce(1) — correct for
report-sized outputs; bulk outputs keep their partitioning and write
one file per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_tsv(df: DataFrame, path: str, single_file: bool = False) -> None:
    out = df.coalesce(1) if single_file else df
    (
        out.write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .csv(path)
    )


def write_json(df: DataFrame, path: str, single_file: bool = False) -> None:
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)


def pipe_partitions(df: DataFrame, command: list[str], to_line=None):
    """Opaque external-process task (SURVEY §2.11 F6).

    The reference shells out to cwltool/docker per pipeline stage
    (dags/utils.py:274-335, salmon_rnaseq.py:257-295); the engine
    models such stages as partition-wise pipes: each partition's rows
    are serialized to lines, streamed through `command`'s stdin, and
    the process's stdout lines come back as an RDD[str].  The
    bioinformatics inside stays opaque — the engine provides transport,
    parallelism, and provenance (record the command in the run
    manifest).

    to_line: row → str serializer (default: tab-joined str values).
    Returns an RDD of output lines; wrap with spark.read/createDataFrame
    downstream as needed.  checkCode=True: a non-zero exit fails the
    task loudly — the default (silently yielding zero rows on a crashed
    process) is data loss.
    """
    import shlex

    if to_line is None:
        def to_line(row):
            return "\t".join("" if v is None else str(v) for v in row)

    # shlex.join: rdd.pipe re-tokenizes with shlex.split, so args with
    # spaces/quotes (awk programs, sed exprs) must be quoted to survive
    return df.rdd.map(to_line).pipe(shlex.join(command), checkCode=True)


def rest_batch_sink(
    df: DataFrame,
    post_fn,
    batch_size: int = 100,
    num_partitions: int | None = None,
) -> None:
    """Batched remote-mutation sink (SURVEY §2.1 S17, §2.6 O4).

    The reference POSTs uuid/checksum records in fixed blocks with
    throttling (dags/launch_checksums.py:34,192-226 RECS_PER_BLOCK=100;
    tools/split_and_create.py:509-522 10-per-30 s).  Spark restatement:
    foreachPartition with client-side chunking;
    ``post_fn(list_of_row_dicts)`` is the transport (HTTP client in
    production, a recorder in tests).  Partition count bounds request
    concurrency — the cluster-wide analog of the reference's "lanes".
    """
    if num_partitions is not None:
        df = df.repartition(num_partitions)

    def send(partition) -> None:
        buf: list[dict] = []
        for row in partition:
            buf.append(row.asDict())
            if len(buf) >= batch_size:
                post_fn(buf)
                buf = []
        if buf:
            post_fn(buf)

    df.foreachPartition(send)


def sheet_sink(
    df: DataFrame,
    sheet_title: str,
    spreadsheet_id: str | None = None,
    column_order: list[str] | None = None,
    local_fallback_path: str | None = None,
) -> str:
    """Spreadsheet survey sink (SURVEY §2.1 S16).

    The reference pushes survey DataFrames into a Google Sheet tab as
    pasted TSV (misc/tools/new_dataset_survey.py:179-234: addSheet +
    pasteData with delimiter '\\t').  Spark restatement: the result is
    report-sized by construction, so it is serialized ONCE driver-side
    to the same TSV payload the reference pastes; the transport is the
    Google API client when available, else an explicit import-gated
    error — or a local .tsv file when ``local_fallback_path`` is given
    (the auditable offline equivalent; a ``.xlsx`` fallback path gets
    a REAL single-sheet workbook via ``xlsx_write_bytes`` instead of
    TSV — the closest offline analog of the pasted sheet tab).
    Returns where the data went.
    """
    cols = column_order or sorted(df.columns)
    payload_rows = df.select(*cols).collect()  # report-sized: bounded
    lines = ["\t".join(cols)]
    for r in payload_rows:
        lines.append(
            "\t".join("" if v is None else str(v) for v in r)
        )
    payload = "\n".join(lines) + "\n"

    if local_fallback_path is not None:
        if local_fallback_path.endswith(".xlsx"):
            wb = xlsx_write_bytes(
                sheet_title,
                [cols] + [
                    ["" if v is None else str(v) for v in r]
                    for r in payload_rows
                ],
            )
            with open(local_fallback_path, "wb") as f:
                f.write(wb)
        else:
            with open(local_fallback_path, "w", encoding="utf-8") as f:
                f.write(payload)
        # record the intended destination so offline output keeps the
        # sheet/tab provenance the live transport would have had
        dest = f"file:{local_fallback_path}?sheet={sheet_title}"
        if spreadsheet_id is not None:
            dest += f"&spreadsheet={spreadsheet_id}"
        return dest

    try:
        from googleapiclient.discovery import build
    except ImportError as e:  # pragma: no cover - lib absent in container
        raise NotImplementedError(
            "sheet_sink needs google-api-python-client for the live "
            "transport; pass local_fallback_path for the offline TSV "
            "equivalent"
        ) from e
    if spreadsheet_id is None:  # pragma: no cover - live transport only
        raise ValueError("live sheet_sink requires spreadsheet_id")
    # Live path (reference new_dataset_survey.py:179-234): create the
    # tab, paste the TSV payload at A1.  Credentials come from the
    # environment's application-default auth, as the reference's
    # get_google_service does.
    sheets = build("sheets", "v4").spreadsheets()  # pragma: no cover
    resp = sheets.batchUpdate(  # pragma: no cover
        spreadsheetId=spreadsheet_id,
        body={"requests": [{"addSheet": {"properties": {"title": sheet_title}}}]},
    ).execute()
    sheet_id = resp["replies"][0]["addSheet"]["properties"]["sheetId"]  # pragma: no cover
    sheets.batchUpdate(  # pragma: no cover
        spreadsheetId=spreadsheet_id,
        body={
            "requests": [
                {
                    "pasteData": {
                        "coordinate": {
                            "sheetId": sheet_id,
                            "rowIndex": 0,
                            "columnIndex": 0,
                        },
                        "data": payload,
                        "delimiter": "\t",
                    }
                }
            ]
        },
    ).execute()
    return f"sheet:{spreadsheet_id}/{sheet_id}"  # pragma: no cover


def xlsx_write_bytes(sheet_title: str, rows: "list[list]") -> bytes:
    """Serialize rows (first row = header) as a minimal valid .xlsx
    workbook — pure stdlib (zipfile + escaped XML), the WRITE half of
    readers.xlsx_parse: one worksheet, inline strings (no
    sharedStrings part), cell refs in A1 notation.  Round-trips
    through xlsx_parse/read_excel byte-for-value."""
    import io
    import re
    import zipfile
    from xml.sax.saxutils import escape, quoteattr

    # Excel sheet-name rules: non-empty, <=31 chars, no []:*?/\
    if not sheet_title or len(sheet_title) > 31:
        raise ValueError("xlsx sheet name must be 1-31 characters")
    if re.search(r"[\[\]:*?/\\]", sheet_title):
        raise ValueError(r"xlsx sheet name may not contain []:*?/\ ")

    def col_ref(i: int) -> str:
        ref = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            ref = chr(65 + r) + ref
        return ref

    body = []
    for ri, row in enumerate(rows):
        cells = "".join(
            f'<c r="{col_ref(ci)}{ri + 1}" t="inlineStr">'
            f"<is><t>{escape('' if v is None else str(v))}</t></is></c>"
            for ci, v in enumerate(row)
        )
        body.append(f'<row r="{ri + 1}">{cells}</row>')
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg = "http://schemas.openxmlformats.org/package/2006/relationships"
    ct = "http://schemas.openxmlformats.org/package/2006/content-types"
    parts = {
        "[Content_Types].xml": (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Types xmlns="{ct}">'
            '<Default Extension="rels" ContentType="application/vnd.'
            'openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
            'worksheet+xml"/></Types>'
        ),
        "_rels/.rels": (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{pkg}">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships/officeDocument" '
            'Target="xl/workbook.xml"/></Relationships>'
        ),
        "xl/workbook.xml": (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<workbook xmlns="{ns}" xmlns:r="{rns}"><sheets>'
            f'<sheet name={quoteattr(sheet_title)} sheetId="1" r:id="rId1"/>'
            "</sheets></workbook>"
        ),
        "xl/_rels/workbook.xml.rels": (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{pkg}">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships/worksheet" '
            'Target="worksheets/sheet1.xml"/></Relationships>'
        ),
        "xl/worksheets/sheet1.xml": (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<worksheet xmlns="{ns}"><sheetData>{"".join(body)}</sheetData>'
            "</worksheet>"
        ),
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, content in parts.items():
            zf.writestr(name, content)
    return buf.getvalue()


def write_orc(
    df: DataFrame,
    path: str,
    single_file: bool = False,
) -> None:
    """Columnar ORC sink (Spark-native).  Distributed write — one file
    per partition; repartition upstream to control file count, or pass
    single_file for report-sized outputs (the write_tsv contract)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").orc(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink with optional hive-style partitioning — the layout
    that turns downstream equality filters on the partition columns
    into directory pruning (no file even opened)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def compact_parquet(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-files compaction — the table-maintenance op every
    streaming/incremental parquet sink eventually needs (each
    micro-batch or task leaves a file; a year of 1-minute batches is
    ~500k tiny files whose footer reads dominate scan time at 100 TB).

    Reads the directory, rewrites it with files sized toward
    ``target_bytes`` (partition count = ceil(total_bytes /
    target_bytes), derived from the on-disk size, never a collect), and
    swaps via a staged directory + two renames.  The swap is
    crash-RECOVERABLE, not atomic: between the two renames ``path``
    briefly does not exist, and a crash there strands the data under
    ``__old`` — the next call (or any caller invoking this function on
    the table) repairs both cases before compacting, so the table is
    never lost, but a concurrent reader racing the swap window can see
    a transient missing-path error and should retry.  (A truly atomic
    old-or-new swap needs the symlink-pointer scheme of
    streaming/events.py:cdc_upsert_sink or a transactional table
    format.)  No-op (returns counts unchanged) when the directory
    holds at most one file.  Returns
    {"files_before", "files_after", "bytes"}.
    """
    import glob as _glob
    import math
    import os
    import shutil

    staged = path.rstrip("/") + "__compacting"
    old = path.rstrip("/") + "__old"
    # crash recovery from a previous interrupted swap: a stranded
    # __old with no live path is the pre-compaction table — restore
    # it; a leftover staged dir is a dead partial rewrite — drop it.
    if os.path.isdir(old) and not os.path.isdir(path):
        os.rename(old, path)
    elif os.path.isdir(old):
        shutil.rmtree(old)
    if os.path.isdir(staged):
        shutil.rmtree(staged)

    part_files = [
        f
        for f in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ]
    total = sum(os.path.getsize(f) for f in part_files)
    if len(part_files) < 2:
        return {
            "files_before": len(part_files),
            "files_after": len(part_files),
            "bytes": total,
        }
    n_out = max(1, math.ceil(total / target_bytes))
    spark.read.parquet(path).repartition(n_out).write.mode("overwrite").parquet(
        staged
    )
    os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old)
    after = len(
        [
            f
            for f in _glob.glob(
                os.path.join(path, "**", "*.parquet"), recursive=True
            )
            if os.path.isfile(f)
        ]
    )
    return {"files_before": len(part_files), "files_after": after, "bytes": total}
