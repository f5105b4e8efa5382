"""FASTQ content scrubbing / sterilization — the reference's last
dataflow-shaped tool re-expressed Spark-first.

Reference behavior (misc/tools/sterilize_fastq.py:27-64): per FASTQ
record (4 lines), mask every character by class — letters -> 'A',
digits -> '0', '@'/'+' preserved on the header and plus lines (1 and
3) only, everything else -> '*' — and retain each record with
probability retain_percent, so the output is format-valid FASTQ with
no identifiable content.  misc/tools/scrub_fastqs.py:37-63 adds the
operational contract: rewrite files in place (plain or .gz), and gate
on an IDEMPOTENCY check — running the scrub on its own output must be
byte-identical (sha256) before the original is displaced.

Spark restatement:

- The record-level transform is pure codegen column arithmetic
  (three regexp_replace passes per line — no UDF), so it runs inside
  whole-stage codegen and is reproducible in any engine
  (``sterilize_line`` / ``sterilize_records``).
- The reference's random.random() retention draw is replaced by the
  repo's deterministic md5-uniform (seed, record-key) decision
  (``hash_sample`` discipline): retries, partitionings, and the
  DuckDB oracle all agree on WHICH records survive — seeded RNG can
  promise none of that.
- The file-level flow (``scrub_fastq_files``) reads a directory of
  .fastq/.fastq.gz via binaryFile, decompresses + parses + masks +
  reassembles per file as one kernel on the per-file harness
  (``multimodal._per_asset``: file-parallel, the codec shape), and
  bakes the reference's idempotency audit into every row:
  scrub(scrub(x)) is recomputed and compared executor-side, and a
  non-idempotent rewrite becomes an error row, so it can never be
  written back.  Writing stays with the caller (sinks), keeping the
  operator a pure DataFrame transform.
"""

from __future__ import annotations

import gzip
import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import hex_prefix_to_long
from .multimodal import _per_asset


def sterilize_line(col: Column, preserve_specials: bool) -> Column:
    """Mask one FASTQ line by character class (reference
    _get_substitute_character): alpha -> 'A', digit -> '0', '@'/'+'
    kept only when ``preserve_specials`` (header/plus lines), all
    other characters -> '*'.  Three regexp_replace passes — codegen,
    engine-portable (DuckDB needs the 'g' flag)."""
    c = F.regexp_replace(col, "[A-Za-z]", "A")
    c = F.regexp_replace(c, "[0-9]", "0")
    keep = "[^A0@+]" if preserve_specials else "[^A0]"
    return F.regexp_replace(c, keep, "*")


def retain_unit(seed: str, key: Column) -> Column:
    """Deterministic uniform in [0, 1) for the retention draw —
    md5(seed:key) first 8 hex digits / 2^32 (the hash_sample
    idiom)."""
    return (
        hex_prefix_to_long(
            F.md5(F.concat_ws(":", F.lit(seed), key.cast("string"))), 1, 8
        ).cast("double")
        / F.lit(4294967296.0)
    )


def sterilize_records(
    records: DataFrame,
    seed: str = "s0",
    retain_pct: float = 100.0,
    key_col: str = "rec_id",
    header_col: str = "header",
    seq_col: str = "seq",
    plus_col: str = "plus",
    qual_col: str = "qual",
) -> DataFrame:
    """Record-level sterilize: deterministic retention + per-line
    class masking.  Input one row per FASTQ record; output the same
    rows filtered to the retained sample with the four lines masked
    (suffix ``_s``).  Pure column ops — no shuffle, no UDF."""
    kept = records.filter(
        retain_unit(seed, F.col(key_col)) * F.lit(100.0) < F.lit(retain_pct)
    )
    return kept.select(
        *records.columns,
        sterilize_line(F.col(header_col), True).alias(f"{header_col}_s"),
        sterilize_line(F.col(seq_col), False).alias(f"{seq_col}_s"),
        sterilize_line(F.col(plus_col), True).alias(f"{plus_col}_s"),
        sterilize_line(F.col(qual_col), False).alias(f"{qual_col}_s"),
    )


def _mask_char(ch: str, preserve_specials: bool) -> str:
    if ch.isalpha():
        return "A"
    if ch.isdigit():
        return "0"
    if preserve_specials and ch in ("@", "+"):
        return ch
    return "*"


def _sterilize_text(content: str, seed: str, retain_pct: float) -> str:
    """Python mirror of the column pipeline for whole-file rewrite:
    same masking, same md5 retention keyed on the record index within
    the file.  NOTE: ``str.isalpha``/``isdigit`` are broader than the
    ASCII regex classes for non-ASCII input; FASTQ content is ASCII
    by format, and the unit battery pins column==python on real
    files."""
    out: list[str] = []
    lines = content.split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    for rec_idx in range(0, len(lines) // 4 * 4, 4):
        key = f"{seed}:{rec_idx // 4}"
        u = int(hashlib.md5(key.encode()).hexdigest()[:8], 16) / 4294967296.0
        if not (u * 100.0 < retain_pct):
            continue
        for off in range(4):
            preserve = off in (0, 2)
            out.append(
                "".join(
                    _mask_char(c, preserve) for c in lines[rec_idx + off]
                )
            )
    return "".join(line + "\n" for line in out)


def scrub_fastq_files(
    files: DataFrame,
    retain_pct: float = 100.0,
) -> DataFrame:
    """Distributed whole-file scrub over a binaryFile frame
    (``spark.read.format('binaryFile').load(dir)``): per file —
    gunzip when the path ends in .gz, sterilize every record, gzip
    back if the input was gzipped, and run the reference's
    idempotency audit (scrub of the scrubbed text must change nothing)
    executor-side.  Emits (path, n_records, n_retained, sha_clean,
    clean BINARY, decode_ok, error); a file that fails to parse or
    the audit becomes the harness's error row (multimodal._per_asset),
    never a partial rewrite.  One mapInPandas pass, file-parallel — the
    100 TB shape is many files, not big tasks (cf. scrub_fastqs.py's
    thread pool, :114-121)."""

    def kernel(path, raw):
        gz = str(path).endswith(".gz")
        text = (gzip.decompress(raw) if gz else raw).decode("ascii")
        n_records = len([ln for ln in text.split("\n") if ln != ""]) // 4
        clean = _sterilize_text(text, "s0", retain_pct)
        # the audit mirrors scrub_fastqs.py:55-59: the REWRITE must be a
        # projection (scrubbing clean output changes nothing).  Masking
        # qualifies (A->A, 0->0, */@/+ fixed points); retention is a
        # one-shot sampling decision, so the audit pass re-masks at
        # retain=100 rather than re-sampling
        if _sterilize_text(clean, "s0", 100.0) != clean:
            raise ValueError("idempotency audit failed")
        n_retained = len([ln for ln in clean.split("\n") if ln != ""]) // 4
        body = clean.encode("ascii")
        return [(
            n_records,
            n_retained,
            hashlib.sha256(body).hexdigest(),
            gzip.compress(body, 9, mtime=0) if gz else body,
        )]

    return _per_asset(
        files, "path", "content",
        "n_records int, n_retained int, sha_clean string, clean binary",
        kernel,
    )
