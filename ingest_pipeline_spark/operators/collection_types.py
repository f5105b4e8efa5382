"""Collection-type inference from directory shape (SURVEY §2.11 F2 / §2.1 S2).

The reference probes each dataset directory against every registered
DataCollection subclass — a type matches when ALL its expected file
patterns match at least one file — and picks the highest
``match_priority`` match (reference md/metadata_extract.py:24-47 scan
loop; md/data_collection_types/akoya_codex_data_collection.py:70-122
``expected_files`` + ``test_match``).

Spark restatement, distributed over MANY datasets at once (the
reference runs one directory per process; at 100 TB the listing has
millions of files across thousands of uploads):

1. evaluate every probe regex as a literal-pattern rlike column over
   the listing — compiled once inside codegen, linear in listing size;
2. aggregate per-probe hit flags per dataset in ONE pass (map-side
   partial agg of tiny ints); a type is fully matched when every one
   of its probes hit;
3. pick the winner with a first-match CASE over types pre-sorted by
   (priority desc, name) — the reference's scan-loop order, compiled.

Datasets matching no type produce no row (the reference raises
MetadataError there; callers can anti-join to find them).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class CollectionType:
    """One registered data-collection type: name, priority, probe regexes.

    ``probes`` are regexes over the file's path relative to the dataset
    root (the reference uses globs; regex is the Spark-native form).
    ALL probes must match somewhere in the dataset for the type to match.
    """

    name: str
    priority: float
    probes: tuple[str, ...] = field(default_factory=tuple)


# modeled on the reference's data_collection_types registry
# (akoya_codex_data_collection.py:76-80 expected_files and siblings)
DEFAULT_TYPES: tuple[CollectionType, ...] = (
    CollectionType(
        "AKOYA_CODEX",
        1.0,
        (r".*-metadata\.tsv$", r"(^|/)experiment\.json$", r"(^|/)segmentation\.json$"),
    ),
    CollectionType("IMS", 0.6, (r".*\.imzML$",)),
    CollectionType("OME_TIFF_COLLECTION", 0.5, (r".*\.ome\.tiff?$",)),
    CollectionType("FASTQ", 0.4, (r".*\.fastq(\.gz)?$",)),
    CollectionType("GENERIC_METADATATSV", 0.0, (r".*-metadata\.tsv$",)),
)


def infer_collection_types(
    listing: DataFrame,
    spark: SparkSession,
    types: tuple[CollectionType, ...] = DEFAULT_TYPES,
    id_col: str = "dataset_id",
    path_col: str = "rel_path",
) -> DataFrame:
    """(dataset_id, collection_type) — best fully-matched type per dataset.

    The registry is static config, so the whole inference compiles to
    ONE aggregation: per (type, probe) a ``max(when(rlike(literal)))``
    partial — literal patterns stay compiled inside codegen, unlike a
    probe-table theta join whose non-foldable RLIKE recompiles per row
    (measured ~3× slower as a BroadcastNestedLoopJoin + window) — then
    a first-match CASE over types pre-sorted by (priority desc, name)
    replays the reference's scan loop.  Exactly one shuffle, tiny
    int partials, no window exchange.
    """
    ordered = sorted(types, key=lambda t: (-t.priority, t.name))
    aggs = []
    for ti, t in enumerate(ordered):
        for pi, p in enumerate(t.probes):
            aggs.append(
                F.max(
                    F.when(F.col(path_col).rlike(p), F.lit(1)).otherwise(F.lit(0))
                ).alias(f"__m_{ti}_{pi}")
            )
    hit = listing.groupBy(F.col(id_col)).agg(*aggs)
    winner = F.lit(None).cast("string")
    for ti, t in reversed(list(enumerate(ordered))):
        full = F.lit(True)
        for pi in range(len(t.probes)):
            full = full & (F.col(f"__m_{ti}_{pi}") == 1)
        winner = F.when(full, F.lit(t.name)).otherwise(winner)
    return (
        hit.withColumn("collection_type", winner)
        .filter(F.col("collection_type").isNotNull())
        .select(id_col, "collection_type")
    )
