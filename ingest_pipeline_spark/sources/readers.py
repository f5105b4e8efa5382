"""Sources: TSV/JSON/YAML/Excel/fixed-width/binary + distributed directory listing.

Mirrors the reference's source surface (SURVEY §2.1 S1-S13):

- TSV with delimiter-error detection (reference
  md/data_file_types/tsv_metadata_file.py:14-31): untyped strings,
  header row, a post-read malformed-row check.
- JSON documents (md/data_file_types/json_metadata_file.py).
- YAML documents (md/data_file_types/yaml_metadata_file.py) — parsed
  driver-side per file (YAML is a control-file format here, never a
  100 TB data format), then parallelized.
- Recursive listing (dags/utils.py:717-767): one row per file with
  rel_path/size/mtime.  Local implementation walks on the driver and
  parallelizes; at cluster scale swap in the binaryFile source which
  distributes the listing (path/length/modificationTime come from the
  file index, not file reads).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_tsv(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """Header'd TSV → untyped string columns (cast on demand)."""
    reader = spark.read.option("sep", "\t").option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_json_docs(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.option("multiLine", True).json(path)


def read_yaml_docs(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Parse YAML control files driver-side → one JSON-string row each.

    YAML appears in the reference only as small control/metadata files
    (rslt.yml, test.yml); never bulk data — driver-side parse + Spark
    JSON inference is the right scale tradeoff.
    """
    import json

    try:
        import yaml  # type: ignore
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError("pyyaml not installed in this environment") from exc

    rows = []
    for p in paths:
        with open(p) as f:
            rows.append(json.dumps(yaml.safe_load(f)))
    return spark.read.json(spark.sparkContext.parallelize(rows))


def read_yaml_sidecars(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed YAML ingest: many small sidecar files → one DataFrame
    of ``(path, doc_json)`` rows.

    The reference carries one ``rslt.yml`` per dataset
    (dags/scan_and_begin_processing.py:77-81); at 100× scale that is
    millions of sidecars, which must be read where they live: a
    ``binaryFile`` scan distributes both the listing and the reads
    across executors (driver never loops over files), and
    ``mapInPandas`` parses each Arrow batch of (path, bytes) with
    ``yaml.safe_load``.  Docs come back as canonical JSON strings
    (sorted keys) so downstream schema inference / ``from_json`` stays
    engine-portable.  Import-gated on pyyaml like read_yaml_docs.
    """
    try:
        import yaml  # noqa: F401
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError("pyyaml not installed in this environment") from exc

    bin_df = spark.read.format("binaryFile").load(path_glob).select(
        "path", "content"
    )

    def parse(batches):
        import json

        import pandas as pd
        import yaml as _yaml

        for pdf in batches:
            docs, errs = [], []
            for content in pdf["content"]:
                try:
                    docs.append(
                        json.dumps(
                            _yaml.safe_load(bytes(content).decode("utf-8")),
                            sort_keys=True,
                        )
                    )
                    errs.append(None)
                except Exception as e:  # noqa: BLE001 — one bad sidecar
                    # (YAMLError, UnicodeDecodeError, unserializable
                    # anchors) must degrade to an error row, never fail
                    # the million-file scan (the xlsx-reader ADVICE class)
                    docs.append(None)
                    errs.append(f"{type(e).__name__}: {e}"[:200])
            yield pd.DataFrame(
                {"path": pdf["path"], "doc_json": docs, "error": errs}
            )

    return bin_df.mapInPandas(
        parse, "path string, doc_json string, error string"
    )


# ---------------------------------------------------------------------------
# Excel (.xlsx) — pure-stdlib codec (zipfile + ElementTree).  xlsx is
# OPC: a zip of XML parts; parsing it needs no engine.  Handles shared
# strings, inline strings, numbers, and booleans — the cell types the
# reference's survey workbooks use (tools/survey.py:836-837).
# ---------------------------------------------------------------------------

_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_XLSX_RNS = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
)
_PKG_RNS = "{http://schemas.openxmlformats.org/package/2006/relationships}"


def _xlsx_col_idx(ref: str) -> int:
    """'A'→0, 'Z'→25, 'AA'→26 (cell-ref column letters)."""
    n = 0
    for ch in ref:
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def xlsx_parse(
    data: bytes, sheet: str | int = 0
) -> tuple[str, list[list[str | None]]]:
    """Parse one .xlsx workbook → (sheet_name, rows of string cells).

    Pure stdlib (zipfile + xml.etree): walks workbook.xml → rels →
    worksheet part, resolves shared/inline strings, maps cell refs to
    0-based columns, and pads each row to its rightmost cell.  All
    values come back as the strings stored in the XML (numbers keep
    their lexical form — cast downstream, same contract as read_tsv).
    Raises ValueError on non-xlsx bytes or a missing sheet.
    """
    import io
    import xml.etree.ElementTree as ET
    import zipfile

    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except zipfile.BadZipFile as exc:
        raise ValueError(f"not an xlsx (bad zip): {exc}") from exc
    with zf:
        names = set(zf.namelist())
        if "xl/workbook.xml" not in names:
            raise ValueError("not an xlsx (no xl/workbook.xml)")
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        sheets = [
            (s.get("name"), s.get(_XLSX_RNS + "id"))
            for s in wb.iter(_XLSX_NS + "sheet")
        ]
        if isinstance(sheet, int):
            if not 0 <= sheet < len(sheets):
                raise ValueError(f"sheet index {sheet} out of range")
            sheet_name, rid = sheets[sheet]
        else:
            match = [s for s in sheets if s[0] == sheet]
            if not match:
                raise ValueError(f"no sheet named {sheet!r}")
            sheet_name, rid = match[0]
        rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        target = {
            r.get("Id"): r.get("Target")
            for r in rels.iter(_PKG_RNS + "Relationship")
        }[rid]
        part = target.lstrip("/") if target.startswith("/") else "xl/" + target
        shared: list[str] = []
        if "xl/sharedStrings.xml" in names:
            ss = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            shared = [
                "".join(t.text or "" for t in si.iter(_XLSX_NS + "t"))
                for si in ss.iter(_XLSX_NS + "si")
            ]
        ws = ET.fromstring(zf.read(part))
        rows: list[list[str | None]] = []
        for row in ws.iter(_XLSX_NS + "row"):
            cells: dict[int, str | None] = {}
            cursor = 0
            for c in row.iter(_XLSX_NS + "c"):
                ref = c.get("r")
                idx = (
                    _xlsx_col_idx("".join(ch for ch in ref if ch.isalpha()))
                    if ref
                    else cursor
                )
                cursor = idx + 1
                ctype = c.get("t", "n")
                if ctype == "inlineStr":
                    is_el = c.find(_XLSX_NS + "is")
                    val = (
                        "".join(
                            t.text or "" for t in is_el.iter(_XLSX_NS + "t")
                        )
                        if is_el is not None
                        else None
                    )
                else:
                    v_el = c.find(_XLSX_NS + "v")
                    val = v_el.text if v_el is not None else None
                    if val is not None and ctype == "s":
                        val = shared[int(val)]
                    elif val is not None and ctype == "b":
                        val = "TRUE" if val == "1" else "FALSE"
                cells[idx] = val
            width = max(cells) + 1 if cells else 0
            rows.append([cells.get(i) for i in range(width)])
    return sheet_name, rows


def read_excel(spark: SparkSession, path: str) -> DataFrame:
    """Excel source (survey input shape, reference tools/survey.py:836).

    Single-workbook convenience: parses via the pure-stdlib xlsx codec
    (no engine dependency), first row = header, untyped string columns
    (cast on demand — same contract as read_tsv); reads the first
    sheet.  For directories of many workbooks use read_excel_sidecars
    (distributed).
    """
    with open(path, "rb") as f:
        _name, rows = xlsx_parse(f.read())
    if not rows:
        return spark.createDataFrame([], T.StructType([]))
    header = [str(h) if h is not None else f"c{i}" for i, h in enumerate(rows[0])]
    width = len(header)
    body = [
        tuple((r + [None] * width)[:width]) for r in rows[1:]
    ]
    schema = T.StructType(
        [T.StructField(h, T.StringType(), True) for h in header]
    )
    return spark.createDataFrame(body, schema)


def read_excel_sidecars(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed Excel ingest: many small .xlsx workbooks → one
    DataFrame of ``(path, sheet, row_idx, row_json, error)`` rows.

    Same shape as read_yaml_sidecars: a ``binaryFile`` scan
    distributes listing + reads across executors (no driver loop), and
    ``mapInPandas`` parses each Arrow batch with the pure-stdlib xlsx
    codec above — no Excel engine needed.  Each workbook's first sheet
    is read; its row 0 is the header; every data row comes back as
    canonical JSON (sorted keys, header→string-value) so downstream
    ``from_json``/get_json_object stays JVM-side.  Corrupt/non-xlsx
    files degrade to one (error, row_idx=-1) row each instead of
    failing the job — the extractor discipline of
    operators/extractors.py.
    """
    bin_df = spark.read.format("binaryFile").load(path_glob).select(
        "path", "content"
    )

    def parse(batches):
        import json

        import pandas as pd

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    sheet_name, cells = xlsx_parse(bytes(content))
                except Exception as e:  # noqa: BLE001 — see below
                    # realistic corrupt workbooks raise beyond ValueError:
                    # malformed XML inside a valid zip → ET.ParseError,
                    # missing workbook rel Id → KeyError, out-of-range
                    # sharedStrings index → IndexError, truncated zip →
                    # zlib.error/struct.error.  One bad file must degrade
                    # to an error row, never fail the distributed job.
                    rows.append(
                        (path, None, -1, None,
                         f"{type(e).__name__}: {e}"[:200])
                    )
                    continue
                if not cells:
                    continue
                header = [
                    str(h) if h is not None else f"c{i}"
                    for i, h in enumerate(cells[0])
                ]
                for i, r in enumerate(cells[1:]):
                    doc = {
                        header[j]: (r[j] if j < len(r) else None)
                        for j in range(len(header))
                    }
                    rows.append(
                        (path, sheet_name, i, json.dumps(doc, sort_keys=True), None)
                    )
            yield pd.DataFrame(
                rows,
                columns=["path", "sheet", "row_idx", "row_json", "error"],
            )

    return bin_df.mapInPandas(
        parse,
        "path string, sheet string, row_idx int, row_json string, error string",
    )


def tsv_delimiter_report(df: DataFrame) -> dict:
    """Delimiter-error detection for a header'd TSV read.

    Mirrors the reference's checks (md/data_file_types/
    tsv_metadata_file.py:14-31): a wrong delimiter shows up as (a)
    unnamed/auto-generated header columns (`_c0`…) or empty header
    names, (b) a lone column whose header embeds another delimiter
    (the whole header failed to split), or (c) rows where every
    declared column is null.  Returns {"bad_header_cols": [...],
    "suspected_delimiter": str|None, "n_all_null_rows": int,
    "n_rows": int} — one aggregation pass.
    """
    bad_header = [
        c for c in df.columns if c is None or c.strip() == "" or c.startswith("_c")
    ]
    suspected = None
    if len(df.columns) == 1:
        for cand in (",", ";", "|"):
            if cand in df.columns[0]:
                suspected = cand
                break
    all_null = None
    for c in df.columns:
        cond = F.col(c).isNull()
        all_null = cond if all_null is None else (all_null & cond)
    agg = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(all_null, 1).otherwise(0)).alias("n_all_null"),
    ).first()
    return {
        "bad_header_cols": bad_header,
        "suspected_delimiter": suspected,
        "n_all_null_rows": int(agg.n_all_null or 0),
        "n_rows": int(agg.n_rows),
    }


def listing(spark: SparkSession, root: str) -> DataFrame:
    """Distributed-shaped recursive listing → files DataFrame.

    Schema: (rel_path, abs_path, size, mtime).  Top-level dirs are
    enumerated on the driver, then each partition walks its subtrees in
    parallel — the walk (the expensive part at 100 TB file counts)
    is distributed; only the fan-out seed list is driver-side.
    """
    schema = T.StructType(
        [
            T.StructField("rel_path", T.StringType(), False),
            T.StructField("abs_path", T.StringType(), False),
            T.StructField("size", T.LongType(), False),
            T.StructField("mtime", T.TimestampType(), False),
        ]
    )

    root = os.path.abspath(root)
    try:
        seeds = sorted(
            os.path.join(root, d) for d in os.listdir(root)
        )
    except FileNotFoundError:
        return spark.createDataFrame([], schema)

    def walk(paths):
        import datetime

        # tz-aware UTC: naive datetimes would be re-interpreted in the
        # worker's OS timezone by TimestampType.toInternal, shifting
        # every mtime on non-UTC hosts
        def mtime_utc(st):
            return datetime.datetime.fromtimestamp(
                st.st_mtime, tz=datetime.timezone.utc
            )

        for p in paths:
            if os.path.isfile(p):
                st = os.stat(p)
                yield (os.path.relpath(p, root), p, st.st_size, mtime_utc(st))
            else:
                for dirpath, _dirnames, filenames in os.walk(p):
                    for fn in sorted(filenames):
                        fp = os.path.join(dirpath, fn)
                        st = os.stat(fp)
                        yield (
                            os.path.relpath(fp, root),
                            fp,
                            st.st_size,
                            mtime_utc(st),
                        )

    rdd = spark.sparkContext.parallelize(seeds, max(1, min(32, len(seeds))))
    return spark.createDataFrame(rdd.mapPartitions(walk), schema)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Columnar ORC source — Spark-native (no extra package), with the
    same predicate-pushdown / column-pruning surface as parquet.  ORC
    is the interchange format warehouse stacks (Hive/Trino) hand us;
    reading it natively avoids a convert-to-parquet staging hop.
    Timestamp discipline matches tables.load_table: TIMESTAMP_NTZ
    fields are cast to session-tz timestamp (session tz pinned UTC) so
    ORC-fed relations join/compare cleanly against parquet-fed ones
    (r13; previously an NTZ column leaked through and compared
    unequal to the same value loaded via load_table).  The rewrite
    RECURSES through struct/array/map types (r13 ADVICE): an NTZ
    timestamp nested inside a complex column is normalized by casting
    the whole column to its NTZ-free type — the exact leak class the
    top-level fix targeted."""

    def _ntz_free(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.TimestampNTZType):
            return T.TimestampType()
        if isinstance(dt, T.StructType):
            return T.StructType(
                [
                    T.StructField(
                        f.name, _ntz_free(f.dataType), f.nullable, f.metadata
                    )
                    for f in dt.fields
                ]
            )
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(_ntz_free(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(
                _ntz_free(dt.keyType),
                _ntz_free(dt.valueType),
                dt.valueContainsNull,
            )
        return dt

    df = spark.read.orc(path)
    for f in df.schema.fields:
        fixed = _ntz_free(f.dataType)
        if fixed != f.dataType:
            df = df.withColumn(f.name, F.col(f.name).cast(fixed))
    return df


def read_json_with_deadletter(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines ingest that never drops OR poisons a batch: rows
    parse PERMISSIVE against the expected schema, malformed lines land
    whole in a ``_corrupt_record`` column, and the caller gets
    (good_rows, dead_letters) — route the latter to a quarantine sink
    instead of failing the job (the 100 TB reality: some fraction of
    any crawl is malformed, and a fail-fast reader turns one bad line
    into a dead pipeline).
    """
    full = schema.add("_corrupt_record", T.StringType())
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    # materializing before the split is required: Spark's JSON parser
    # may otherwise re-parse per branch and corrupt-record pushdown
    # rules forbid filtering on the corrupt column alone over a fresh
    # scan.  localCheckpoint (not cache): its blocks are released by
    # the ContextCleaner when the DataFrames are dropped, whereas a
    # cache() entry would pin executor memory for the whole session
    # across repeated ingests unless every caller remembered to
    # unpersist.
    df = df.localCheckpoint(eager=True)
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return good, bad


def _normalize_file_uri(col):
    """Collapse scheme + slash-count differences between URI spellings
    ('file:///x' from input_file_name vs 'file:/x' from Hadoop Path)
    so driver-probed paths join against scan-reported paths."""
    return F.regexp_replace(col, r"^[a-zA-Z][a-zA-Z0-9+.\-]*:/*", "/")


def _probe_first_lines(
    spark: SparkSession, path_glob: str
) -> "list[tuple[str, str]]":
    """Read the first line of every file matched by path_glob via the
    Hadoop FileSystem API — a bounded driver-side probe (one buffered
    line per file, O(files) like the listing itself).  Returns
    (normalized_uri, first_line) pairs; empty files are omitted."""
    import re as _re

    sc = spark.sparkContext
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()  # noqa: SLF001
    jpath = jvm.org.apache.hadoop.fs.Path(path_glob)
    fs = jpath.getFileSystem(hconf)
    statuses = fs.globStatus(jpath)
    paths = []
    for st in list(statuses) if statuses is not None else []:
        if st.isDirectory():
            paths.extend(
                c.getPath() for c in fs.listStatus(st.getPath()) if c.isFile()
            )
        else:
            paths.append(st.getPath())
    out = []
    for p in paths:
        name = p.getName()
        if name.startswith("_") or name.startswith("."):
            continue  # Spark's hidden-file filter
        stream = fs.open(p)
        try:
            rdr = jvm.java.io.BufferedReader(
                jvm.java.io.InputStreamReader(stream, "UTF-8")
            )
            line = rdr.readLine()
        finally:
            stream.close()
        if line is not None:
            uri = _re.sub(
                r"^[a-zA-Z][a-zA-Z0-9+.\-]*:/*", "/", p.toUri().toString()
            )
            out.append((uri, line))
    return out


def read_fixed_width(
    spark: SparkSession,
    path_glob: str,
    colspecs: "list[tuple[str, int, int]]",
    skip_header: bool = False,
) -> DataFrame:
    """Fixed-width text source: (name, start, width) column specs over
    line-oriented files — the mainframe/ERP export format that still
    feeds enterprise ingestion (COBOL copybook layouts).  start is
    0-based.  Pure JVM substring slicing (one codegen'd projection per
    line, no UDF, no per-line Python); values are trimmed; short
    lines yield NULL for columns that begin past the line end and the
    available prefix otherwise — padded exports stay rectangular,
    truncated tails degrade per-column instead of failing the scan.

    Scale: spark.read.text splits by file/line like any text source;
    the projection is row-local.  skip_header drops the first line of
    EVERY file (header repeated per shard, the common export layout).
    The true header CONTENT is probed per file with a bounded
    driver-side Hadoop-FS read (one line per file — same O(files) cost
    as the listing itself), then exactly ONE row with that content is
    dropped per file.  Dropping any single content-equal row is
    multiset-equivalent to dropping the physical first line, so the
    result never depends on how Spark packed splits into partitions —
    monotonically_increasing_id ordering across splits of one file is
    an implementation detail, not a contract, and this path doesn't
    rely on it.
    """
    lines = spark.read.text(path_glob)
    if skip_header:
        from pyspark.sql import Window as W

        headers = _probe_first_lines(spark, path_glob)
        if headers:
            hdr_df = spark.createDataFrame(
                headers, "__f string, __hdr string"
            )
            lines = (
                lines.select(
                    "value", _normalize_file_uri(F.input_file_name()).alias("__f")
                )
                .join(F.broadcast(hdr_df), "__f", "left")
                .withColumn(
                    "__m", (F.col("value") == F.col("__hdr")).cast("int")
                )
                .withColumn(
                    "__i",
                    F.row_number().over(
                        W.partitionBy("__f", "__m").orderBy(
                            F.monotonically_increasing_id()
                        )
                    ),
                )
                .filter(
                    ~((F.col("__m") == 1) & (F.col("__i") == 1))
                    | F.col("__m").isNull()
                )
            )
    cols = []
    for name, start, width in colspecs:
        c = F.substring(F.col("value"), start + 1, width)
        c = F.when(F.length("value") > start, c).otherwise(F.lit(None))
        cols.append(F.trim(c).alias(name))
    return lines.select(*cols)


def read_parquet_footer_stats(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed parquet FOOTER introspection: per (file, row group,
    column chunk) — row counts, value/null counts, compressed and
    uncompressed byte sizes, and whether min/max statistics are
    present.  The storage-level audit behind partition-pruning and
    compaction decisions: a scan planner is only as good as the
    row-group stats actually written, and at 100 TB you audit that
    from the footers, never by reading data pages.

    Shape: binaryFile scan -> mapInPandas; each task parses its files'
    footers with pyarrow (Thrift metadata only — data pages are never
    decoded; the binaryFile source does ship whole files locally, so a
    production variant would range-request the footer tail, same
    per-task output).  Verified against DuckDB's independent
    parquet_metadata() reader in tests/test_parquet_footer.py.
    """
    from typing import Iterator

    import pandas as pd

    out_schema = (
        "file string, row_group int, column_name string, "
        "n_rows bigint, num_values bigint, null_count bigint, "
        "compressed_bytes bigint, uncompressed_bytes bigint, "
        "has_minmax_stats boolean"
    )

    def parse(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import io

        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    md = pq.ParquetFile(io.BytesIO(content)).metadata
                    for rg in range(md.num_row_groups):
                        g = md.row_group(rg)
                        for ci in range(g.num_columns):
                            c = g.column(ci)
                            st = c.statistics
                            rows.append(
                                (
                                    path,
                                    rg,
                                    c.path_in_schema,
                                    g.num_rows,
                                    c.num_values,
                                    int(st.null_count)
                                    if st is not None and st.has_null_count
                                    else -1,
                                    c.total_compressed_size,
                                    c.total_uncompressed_size,
                                    bool(st is not None and st.has_min_max),
                                )
                            )
                except Exception as e:  # degrade per file, never fail the scan
                    rows.append((path, -1, f"__error: {e}"[:200], -1, -1,
                                 -1, -1, -1, False))
            yield pd.DataFrame(
                rows,
                columns=[
                    "file", "row_group", "column_name", "n_rows",
                    "num_values", "null_count", "compressed_bytes",
                    "uncompressed_bytes", "has_minmax_stats",
                ],
            )

    return (
        spark.read.format("binaryFile")
        .load(path_glob)
        .select("path", "content")
        .mapInPandas(parse, out_schema)
    )
