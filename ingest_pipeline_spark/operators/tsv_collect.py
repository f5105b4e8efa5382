"""TSV gather by column signature (reference misc/tools/collect_tsvs.py).

The reference walks every ``*.tsv`` under a list of dataset uuids and
sorts each file into one of three kinds by a has-these-columns test
(collect_tsvs.py:17-20)::

    METADATA_HAS_THESE_COLS = ['assay_type', 'data_path']
    CONTRIB_HAS_THESE_COLS  = ['affiliation', 'first_name', 'last_name']
    ANTIBDY_HAS_THESE_COLS  = ['channel_id', 'antibody_name', 'rr_id']

then gathers (collect_tsvs.py:55-82):

* metadata files — asserted single-assay — are APPENDED per assay
  type, keyed by the FIRST stem seen for that assay
  (``assay_to_stem_map``);
* contributors/antibodies files are DEDUPED by stem, with a hard error
  when the same stem reappears with different content;
* everything else is ignored;
* a metadata file containing more than one assay type trips the
  ``unique_assays == 1`` assert and the uuid is skipped.

Spark restatement, distributed over the whole fleet of datasets at
once (the reference is a one-process driver loop over uuids; at 100 TB
the TSV sidecar census spans millions of files):

1. classification compiles the 3-entry signature registry into one
   first-match CASE — a file matches a rule when EVERY required
   column is present (``array_except(required, cols)`` empty,
   compiled collection function, no UDF), tested in the reference's
   order (metadata, then contributors/antibodies) — zero shuffle,
   linear in the file census;
2. the per-assay merge is one groupBy(assay): the output stem is
   ``min_by(stem, (src_uuid, stem))`` — the reference's first-seen
   stem under its sorted-uuid iteration order — with file/row tallies;
3. stem dedup for contributors/antibodies is one groupBy(kind, stem):
   ``count(distinct fingerprint) > 1`` is the reference's
   "dataframes DO NOT MATCH" AssertionError, surfaced as a
   ``conflict`` flag instead of an abort (flag-level parity — a
   distributed gather reports all conflicts in one pass instead of
   dying on the first);
4. multi-assay metadata files surface as ``multi_assay_error`` rows
   (the reference skips the whole uuid mid-iteration, which is
   order-dependent driver state; the relational form reports every
   offending FILE, a strict superset of the reference's evidence).

Everything is hash-partitioned groupBy on (kind, stem) / assay — no
driver loop, no collect; the rules side is a 3-row broadcast.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "SignatureRule",
    "SIGNATURE_RULES",
    "classify_tsv_kind",
    "collect_tsvs",
]


@dataclass(frozen=True)
class SignatureRule:
    """One has-these-columns signature (collect_tsvs.py:17-20)."""

    kind: str
    required: tuple[str, ...]
    priority: int  # lower wins — the reference's if/elif test order


SIGNATURE_RULES: tuple[SignatureRule, ...] = (
    SignatureRule("metadata", ("assay_type", "data_path"), 0),
    SignatureRule("contributors", ("affiliation", "first_name", "last_name"), 1),
    SignatureRule("antibodies", ("channel_id", "antibody_name", "rr_id"), 2),
)


def classify_tsv_kind(
    files: DataFrame,
    rules: tuple[SignatureRule, ...] = SIGNATURE_RULES,
    cols_col: str = "cols",
) -> DataFrame:
    """Attach ``kind`` to each file row by first-match column-signature.

    ``files`` must carry ``cols_col``: array<string> of the TSV's
    column names.  A rule matches when every required column is
    present; ties resolve by rule priority (the reference's if/elif
    order).  Files matching no signature get kind NULL (the
    reference's ``ignored.`` branch) — callers filter or keep them.

    The rules are a driver-side registry compiled into one first-match
    CASE over ``array_except(required, cols) == []`` tests — fully
    codegen, zero shuffle, linear in the file census (the
    infer_collection_types step-3 discipline).  A broadcast-join form
    would also work but adds a per-file re-group for no gain at 3
    rules.
    """
    expr = F.lit(None).cast("string")
    for r in sorted(rules, key=lambda r: r.priority, reverse=True):
        required = F.array(*[F.lit(c) for c in r.required])
        expr = F.when(
            F.size(F.array_except(required, F.col(cols_col))) == 0,
            F.lit(r.kind),
        ).otherwise(expr)
    return files.withColumn("kind", expr)


def collect_tsvs(files: DataFrame) -> DataFrame:
    """The gather: returns one row per retained output stem.

    ``files`` columns: ``src_uuid`` (bigint), ``stem`` (string),
    ``cols`` (array<string>), ``assays`` (array<string> — the distinct
    assay_type values inside the file; empty for non-metadata),
    ``n_rows`` (bigint), ``fingerprint`` (string — content hash).

    Output: (kind, stem, assay_type, n_files, n_rows, src_uuids,
    conflict) — kind in {'metadata', 'contributors', 'antibodies',
    'multi_assay_error'}; src_uuids is the sorted fixed-width uuid
    list; conflict is non-null only for the stem-deduped kinds.
    """
    classified = classify_tsv_kind(files).filter(F.col("kind").isNotNull())
    uuid_s = F.lpad(F.col("src_uuid").cast("string"), 8, "0")

    meta = classified.filter(F.col("kind") == "metadata")
    meta_ok = (
        meta.filter(F.size("assays") == 1)
        .select(
            F.element_at("assays", 1).alias("assay_type"),
            "stem",
            "src_uuid",
            "n_rows",
            uuid_s.alias("u"),
        )
        .groupBy("assay_type")
        .agg(
            # the reference's assay_to_stem_map: first stem seen for the
            # assay under sorted-uuid iteration (stem tiebreak for dup
            # uuids in the testdata)
            F.min_by("stem", F.struct("src_uuid", "stem")).alias("stem"),
            F.count("*").alias("n_files"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.array_join(F.array_sort(F.collect_set("u")), ",").alias(
                "src_uuids"
            ),
        )
        .select(
            F.lit("metadata").alias("kind"),
            "stem",
            "assay_type",
            "n_files",
            "n_rows",
            "src_uuids",
            F.lit(None).cast("boolean").alias("conflict"),
        )
    )

    meta_bad = meta.filter(F.size("assays") != 1).select(
        F.lit("multi_assay_error").alias("kind"),
        "stem",
        F.lit(None).cast("string").alias("assay_type"),
        F.lit(1).cast("bigint").alias("n_files"),
        F.col("n_rows").cast("bigint"),
        uuid_s.alias("src_uuids"),
        F.lit(None).cast("boolean").alias("conflict"),
    )

    side = (
        classified.filter(F.col("kind").isin("contributors", "antibodies"))
        .select("kind", "stem", "src_uuid", "n_rows", "fingerprint",
                uuid_s.alias("u"))
        .groupBy("kind", "stem")
        .agg(
            F.count("*").alias("n_files"),
            # the reference KEEPS the first df for the stem; later
            # matching copies are dropped, so rows = representative's.
            # Tiebreak by src_uuid ALONE (r13 ADVICE): the registered
            # oracle is ARG_MIN(n_rows, u), so a src_uuid contributing
            # two same-stem files must resolve by first-seen uuid, not
            # by fingerprint content.
            F.min_by("n_rows", F.col("src_uuid"))
            .cast("bigint")
            .alias("n_rows"),
            F.array_join(F.array_sort(F.collect_set("u")), ",").alias(
                "src_uuids"
            ),
            (F.count_distinct("fingerprint") > 1).alias("conflict"),
        )
        .select(
            "kind",
            "stem",
            F.lit(None).cast("string").alias("assay_type"),
            "n_files",
            "n_rows",
            "src_uuids",
            "conflict",
        )
    )
    return meta_ok.unionByName(meta_bad).unionByName(side)
