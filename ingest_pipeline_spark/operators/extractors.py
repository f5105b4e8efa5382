"""Per-format metadata extractor battery (SURVEY §2.1 S9 / §2.11 F1).

Restates the reference's md/data_file_types/ extractors — each a
``collect_metadata() -> dict`` over one file — as ONE distributed
operator: ``spark.read.format("binaryFile")`` rows go through one
kernel on the per-file harness (``multimodal._per_asset``) that
dispatches on filename category and parses the bytes with
pure-stdlib parsers:

- OME_TIFF  — TIFF IFD walk + OME-XML Pixels attributes
  (reference md/data_file_types/ome_tiff_metadata_file.py:13-17,
  which does tifffile + xmltodict; here the IFD/XML parse is inlined
  so no imaging library is needed for the metadata path)
- imzML     — cvParam scan-settings dict
  (imzml_metadata_file.py:12-18, pyimzml's ``imzmldict``)
- FASTQ     — category + read-count/read-length stats
  (fastq_metadata_file.py:9-10 categorizes only; the stats cover the
  QC the reference computes downstream in CWL pipelines)
- MtxTform  — 4x4 float matrix (mtx_tform_metadata_file.py:12-27)
- TxtTform  — ITK/elastix ``(key value...)`` lines
  (txt_tform_metadata_file.py:12-41)
- CZI       — segment walk to the ZISRAWMETADATA XML (the reference
  needs pylibczi, czi_metadata_file.py:13-18; here the public Zeiss
  segment layout is parsed directly with struct).

Scale shape: binaryFile splits by file across tasks; each Arrow batch
amortizes the Python crossing; a malformed file yields an ``error``
metadata row instead of failing the task (a 100 TB scan must survive
corrupt inputs).  Output metadata rides one canonical sorted-key JSON
column plus typed hot columns (width/height/n_items) so downstream
relational filters stay JVM-side.
"""

from __future__ import annotations

import gzip
import io
import json
import re
import struct
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame

from .multimodal import _per_asset

# first-match dispatch table (reference FILE_TYPE_MATCHERS shape,
# airflow/dags/utils.py:90-100, with md/data_file_types category names)
CATEGORY_MATCHERS: list[tuple[str, str]] = [
    (r"\.ome\.tiff?$", "OME_TIFF"),
    (r"\.scn$", "Scn_TIFF"),
    (r"\.imzml$", "imzML"),
    (r"(\.fastq$)|(\.fastq\.gz$)", "FASTQ"),
    (r"\.mtx(\.txt)?$", "MtxTform"),
    (r"wordlist[^/]*\.txt$", "TxtWordList"),
    (r"(^|/)(elastix|.*tform).*\.txt$", "TxtTform"),
    (r"\.czi$", "CZI"),
    (r"\.(png|jpe?g|tiff?)$", "image"),
]
_COMPILED = [(re.compile(rx, re.IGNORECASE), cat) for rx, cat in CATEGORY_MATCHERS]

OUT_SCHEMA = (
    "file_name string, category string, width int, height int, "
    "n_items long, meta_json string"
)


def categorize(name: str) -> str:
    for rx, cat in _COMPILED:
        if rx.search(name):
            return cat
    return "unknown"


# ---------------------------------------------------------------------------
# per-format parsers: bytes -> metadata dict (pure stdlib)
# ---------------------------------------------------------------------------

_TIFF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1}


def _tiff_ifd_tags(data: bytes) -> dict[int, object]:
    """First-IFD tag values of a classic TIFF (both byte orders)."""
    if data[:2] == b"II":
        end = "<"
    elif data[:2] == b"MM":
        end = ">"
    else:
        raise ValueError("not a TIFF: bad byte-order mark")
    magic, off = struct.unpack(end + "HI", data[2:8])
    if magic != 42:
        raise ValueError("not a TIFF: bad magic")
    (n,) = struct.unpack(end + "H", data[off : off + 2])
    tags: dict[int, object] = {}
    for i in range(n):
        base = off + 2 + i * 12
        tag, typ, count, raw = struct.unpack(end + "HHI4s", data[base : base + 12])
        size = _TIFF_TYPE_SIZE.get(typ, 1) * count
        if size <= 4:
            payload = raw[:size]
        else:
            (voff,) = struct.unpack(end + "I", raw)
            payload = data[voff : voff + size]
        if typ == 2:  # ASCII
            tags[tag] = payload.rstrip(b"\x00").decode("utf-8", "replace")
        elif typ == 3:
            tags[tag] = struct.unpack(end + f"{count}H", payload)[0] if count == 1 else list(
                struct.unpack(end + f"{count}H", payload)
            )
        elif typ == 4:
            tags[tag] = struct.unpack(end + f"{count}I", payload)[0] if count == 1 else list(
                struct.unpack(end + f"{count}I", payload)
            )
    return tags


def parse_ome_tiff(data: bytes) -> dict:
    """OME-TIFF: IFD dimensions + OME-XML Pixels/Channel attributes.

    Mirrors reference ome_tiff_metadata_file.py:13-17 (tifffile
    ``ome_metadata`` + xmltodict) without the imaging dependency.
    """
    tags = _tiff_ifd_tags(data)
    meta: dict = {
        "ImageWidth": tags.get(256),
        "ImageLength": tags.get(257),
        "BitsPerSample": tags.get(258),
    }
    desc = tags.get(270)
    if isinstance(desc, str) and "<OME" in desc:
        root = ET.fromstring(desc)
        ns = root.tag.split("}")[0] + "}" if root.tag.startswith("{") else ""
        pixels = root.find(f"{ns}Image/{ns}Pixels")
        if pixels is not None:
            for attr in ("SizeX", "SizeY", "SizeC", "SizeZ", "SizeT"):
                if attr in pixels.attrib:
                    meta[attr] = int(pixels.attrib[attr])
            for attr in ("PhysicalSizeX", "PhysicalSizeY"):
                if attr in pixels.attrib:
                    meta[attr] = float(pixels.attrib[attr])
            if "Type" in pixels.attrib:
                meta["Type"] = pixels.attrib["Type"]
            meta["Channels"] = [
                ch.attrib.get("Name", ch.attrib.get("ID", ""))
                for ch in pixels.findall(f"{ns}Channel")
            ]
    return meta


def parse_scn_tiff(data: bytes) -> dict:
    """Leica SCN: a TIFF whose first-page description is `<scn>` XML.

    Mirrors reference scn_tiff_metadata_file.py:13-17 (tifffile
    ``is_scn`` check + xmltodict over ``pages[0].description``): IFD
    dimensions plus the collection extent and per-image pixel sizes
    from the SCN XML.
    """
    tags = _tiff_ifd_tags(data)
    desc = tags.get(270)
    if not (isinstance(desc, str) and "<scn" in desc):
        raise ValueError("not an SCN TIFF: no scn XML description")
    meta: dict = {
        "ImageWidth": tags.get(256),
        "ImageLength": tags.get(257),
        "BitsPerSample": tags.get(258),
    }
    root = ET.fromstring(desc)
    ns = root.tag.split("}")[0] + "}" if root.tag.startswith("{") else ""
    coll = root.find(f"{ns}collection")
    if coll is not None:
        for attr, key in (("sizeX", "CollectionSizeX"), ("sizeY", "CollectionSizeY")):
            if attr in coll.attrib:
                meta[key] = int(coll.attrib[attr])
        images = coll.findall(f"{ns}image")
        meta["n_images"] = len(images)
        if images:
            pixels = images[0].find(f"{ns}pixels")
            if pixels is not None:
                for attr, key in (("sizeX", "SizeX"), ("sizeY", "SizeY")):
                    if attr in pixels.attrib:
                        meta[key] = int(pixels.attrib[attr])
    return meta


def parse_txt_wordlist(data: bytes) -> dict:
    """Whitespace-tokenized word list (reference
    txt_wordlist_metadata_file.py:9-17 returns the flat word list)."""
    words = data.decode("utf-8", "replace").split()
    return {"words": words, "n_words": len(words)}


def parse_imzml(data: bytes) -> dict:
    """imzML scan-settings cvParams, ints where possible.

    The same dict pyimzml's ``imzmldict`` exposes (reference
    imzml_metadata_file.py:12-18): name -> value for the IMS cvParams,
    plus the spectrum count.
    """
    root = ET.fromstring(data.decode("utf-8", "replace"))
    ns = root.tag.split("}")[0] + "}" if root.tag.startswith("{") else ""
    meta: dict = {}
    for cv in root.iter(f"{ns}cvParam"):
        acc = cv.attrib.get("accession", "")
        if not acc.startswith("IMS:"):
            continue
        name, val = cv.attrib.get("name"), cv.attrib.get("value")
        if name is None or val is None:
            continue
        try:
            meta[name] = int(val)
        except ValueError:
            try:
                meta[name] = float(val)
            except ValueError:
                meta[name] = val
    spec = root.find(f"{ns}run/{ns}spectrumList")
    if spec is not None and "count" in spec.attrib:
        meta["spectrum count"] = int(spec.attrib["count"])
    return meta


def parse_fastq(data: bytes) -> dict:
    """FASTQ (optionally gzipped): read count + length stats."""
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)
    n = 0
    lens: list[int] = []
    qual_ok = True
    lines = io.BytesIO(data).read().decode("ascii", "replace").splitlines()
    for i in range(0, len(lines) - 3, 4):
        if not lines[i].startswith("@"):
            raise ValueError(f"bad FASTQ record header at line {i + 1}")
        seq, plus, qual = lines[i + 1], lines[i + 2], lines[i + 3]
        if not plus.startswith("+"):
            raise ValueError(f"bad FASTQ separator at line {i + 3}")
        n += 1
        lens.append(len(seq))
        qual_ok = qual_ok and len(qual) == len(seq)
    meta: dict = {"n_reads": n, "quality_lengths_ok": qual_ok}
    if lens:
        meta["read_len_min"] = min(lens)
        meta["read_len_max"] = max(lens)
        meta["read_len_mean"] = round(sum(lens) / len(lens), 6)
    return meta


def parse_mtx_tform(data: bytes) -> dict:
    """4x4 transform matrix (reference mtx_tform_metadata_file.py:12-27)."""
    rows = []
    for line in data.decode("utf-8", "replace").splitlines():
        line = line.strip()
        if not line:
            continue
        try:
            rows.append([float(w) for w in line.split()])
        except ValueError as e:
            raise ValueError(f"unexpected transform line <{line}>") from e
    if len(rows) != 4 or any(len(r) != 4 for r in rows):
        raise ValueError("transform is not a 4x4 matrix")
    return {"Transform": rows}


def parse_txt_tform(data: bytes) -> dict:
    """ITK/elastix '(key value ...)' lines with typed values
    (reference txt_tform_metadata_file.py:12-41)."""
    meta: dict = {}
    for line in data.decode("utf-8", "replace").splitlines():
        line = line.strip()
        if not line:
            continue
        if not (line.startswith("(") and line.endswith(")")):
            raise ValueError(f"missing parens line <{line}>")
        words = line[1:-1].split()
        typed: list = []
        for w in words[1:]:
            if w == '"true"':
                typed.append(True)
            elif w == '"false"':
                typed.append(False)
            elif w.startswith('"') and w.endswith('"'):
                typed.append(w[1:-1])
            else:
                try:
                    typed.append(int(w))
                except ValueError:
                    try:
                        typed.append(float(w))
                    except ValueError:
                        typed.append(w)
        if not typed:
            raise ValueError(f"unexpected format line <{line}>")
        meta[words[0]] = typed[0] if len(typed) == 1 else typed
    return meta


def parse_czi(data: bytes) -> dict:
    """CZI (Zeiss): pure-stdlib segment walk to the ZISRAWMETADATA XML.

    The same metadata the reference reads via pylibczi's ``read_meta``
    (czi_metadata_file.py:13-18), without the imaging dependency.
    Public CZI layout: 32-byte segment headers (16-byte ASCII id +
    int64 allocated/used sizes); the ZISRAWFILE header payload stores
    MetadataPosition at payload offset 60; the metadata segment payload
    is XmlSize(int32) + AttachmentSize(int32) + 248 spare bytes + XML.
    """
    if data[:10] != b"ZISRAWFILE":
        raise ValueError("not a CZI: bad segment id")
    if len(data) < 100:
        raise ValueError("not a CZI: truncated file header")
    (meta_pos,) = struct.unpack("<q", data[92:100])
    if meta_pos <= 0 or meta_pos + 32 + 256 > len(data):
        raise ValueError("not a CZI: bad metadata position")
    seg_id = data[meta_pos : meta_pos + 16].rstrip(b"\x00")
    if seg_id != b"ZISRAWMETADATA":
        raise ValueError("not a CZI: bad metadata segment id")
    (xml_size,) = struct.unpack("<i", data[meta_pos + 32 : meta_pos + 36])
    xml_start = meta_pos + 32 + 256
    if xml_size <= 0 or xml_start + xml_size > len(data):
        raise ValueError("not a CZI: bad metadata XML size")
    try:
        root = ET.fromstring(
            data[xml_start : xml_start + xml_size].decode("utf-8", "replace")
        )
    except ET.ParseError as exc:  # not a ValueError — keep the contract
        raise ValueError(f"not a CZI: malformed metadata XML ({exc})") from exc
    meta: dict = {}
    image = root.find("Metadata/Information/Image")
    if image is not None:
        for child in image:
            if child.tag.startswith("Size") and child.text:
                try:
                    meta[child.tag] = int(child.text)
                except ValueError:
                    pass
            elif child.tag == "PixelType" and child.text:
                meta["PixelType"] = child.text
        channels = [
            ch.attrib["Name"] for ch in image.iter("Channel") if "Name" in ch.attrib
        ]
        if channels:
            meta["Channels"] = channels
    return meta


PARSERS = {
    "OME_TIFF": parse_ome_tiff,
    "Scn_TIFF": parse_scn_tiff,
    "imzML": parse_imzml,
    "FASTQ": parse_fastq,
    "MtxTform": parse_mtx_tform,
    "TxtWordList": parse_txt_wordlist,
    "TxtTform": parse_txt_tform,
    "CZI": parse_czi,
}


def extract_one(name: str, data: bytes) -> dict:
    """Dispatch + parse one file; errors become metadata, not raises."""
    category = categorize(name)
    parser = PARSERS.get(category)
    if parser is None:
        return {"category": category, "meta": {}}
    try:
        return {"category": category, "meta": parser(data)}
    except Exception as e:  # corrupt input must not kill a 100 TB scan
        return {"category": category, "meta": {"error": str(e)[:200]}}


def extract_format_metadata(files: DataFrame) -> DataFrame:
    """The distributed battery: binaryFile rows -> per-file metadata.

    ``files`` needs (path, content) — the binaryFile source's schema.
    Output: typed hot columns + canonical sorted-key JSON metadata.
    Runs through the one per-file harness (multimodal._per_asset);
    extract_one already turns a parse error into ``meta_json``, so the
    harness's key and error columns are projected away.
    """

    def kernel(path, data):
        name = str(path).rsplit("/", 1)[-1]
        r = extract_one(name, data)
        meta = r["meta"]
        n = meta.get("n_reads", meta.get("spectrum count"))
        if n is None:
            n = meta.get("n_words", meta.get("n_images"))
        return [(
            name,
            r["category"],
            meta.get("SizeX", meta.get("max count of pixels x")),
            meta.get("SizeY", meta.get("max count of pixels y")),
            n,
            json.dumps(meta, sort_keys=True, separators=(",", ":")),
        )]

    out = _per_asset(files, "path", "content", OUT_SCHEMA, kernel)
    return out.drop("path", "decode_ok", "error")
