"""Data-quality constraint engine.

The reference validates documents against YAML JSON-Schemas
(reference dags/schema_utils.py:12-20) plus ad-hoc asserts
(md/data_collection_types/generic_metadatatsv_data_collection.py:77-115)
and cross-file consistency checks
(akoya_codex_data_collection.py:163-249).  Spark restatement: each
check is a boolean *violation* column expression; all checks for a
table evaluate in ONE aggregation pass —
``sum(when(violation,1))`` per check — so a 100-check battery over
100 TB is still a single scan with map-side partial aggregation.

Error-report aggregation (per-type counts) mirrors
dags/scan_and_begin_processing.py:148-151.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    """A named violation predicate: true ⇒ the row violates the rule."""

    name: str
    violation: Column


def violation_counts(df: DataFrame, checks: list[Check]) -> DataFrame:
    """One-pass violation counts: (check_name, n_violations, n_rows).

    Single scan, no shuffle beyond the final 1-row aggregate.
    """
    aggs = [
        F.sum(F.when(c.violation, 1).otherwise(0)).cast("long").alias(c.name)
        for c in checks
    ]
    wide = df.agg(F.count(F.lit(1)).alias("__n_rows"), *aggs)
    names = F.array(*[F.lit(c.name) for c in checks])
    counts = F.array(*[F.col(c.name) for c in checks])
    return wide.select(
        F.explode(F.arrays_zip(names.alias("check_name"), counts.alias("n_violations"))).alias("z"),
        F.col("__n_rows"),
    ).select(
        F.col("z.check_name").alias("check_name"),
        F.col("z.n_violations").alias("n_violations"),
        F.col("__n_rows").alias("n_rows"),
    )


class CheckRegistry:
    """Named check-factory registry (SURVEY §2.11 F3, §2.9 V5).

    The reference loads validation/diagnostic plugins by scanning a
    directory for subclasses (diagnostic_plugin.py:113-150,
    export_and_backup_plugin.py:29-60).  Spark restatement: register
    factories ``(DataFrame) -> list[Check]`` under a name; a battery
    run composes every applicable factory into ONE violation_counts
    pass over the table.
    """

    def __init__(self) -> None:
        self._factories: dict[str, object] = {}

    def register(self, name: str):
        def deco(fn):
            self._factories[name] = fn
            return fn

        return deco

    def names(self) -> list[str]:
        return sorted(self._factories)

    def build(self, df: DataFrame, include: list[str] | None = None) -> list[Check]:
        names = include if include is not None else self.names()
        checks: list[Check] = []
        for n in names:
            checks.extend(self._factories[n](df))
        return checks

    def run(self, df: DataFrame, include: list[str] | None = None) -> DataFrame:
        return violation_counts(df, self.build(df, include))


def route_violations(df: DataFrame, checks: list[Check]) -> tuple[DataFrame, DataFrame]:
    """Split rows into (clean, errors-with-reason) — error-sink routing.

    errors carries an array column `violated_checks` naming every
    failed rule for the row.
    """
    flags = F.array(
        *[F.when(c.violation, F.lit(c.name)) for c in checks]
    )
    tagged = df.withColumn(
        "violated_checks", F.filter(flags, lambda x: x.isNotNull())
    )
    clean = tagged.filter(F.size("violated_checks") == 0).drop("violated_checks")
    errors = tagged.filter(F.size("violated_checks") > 0)
    return clean, errors


def schema_diff(old: "DataFrame", new: "DataFrame") -> list[dict]:
    """Schema-drift report between two relations: one dict per change,
    kind ∈ {added, removed, type_changed, nullability_changed}.

    The ops companion to the content-drift queries (corpus_drift_report,
    snapshot_delta): a nightly re-crawl that silently adds a column or
    widens a type should page someone BEFORE a downstream cast fails at
    hour six of a 100 TB job.  Pure metadata — no data is read.
    """
    o = {f.name: f for f in old.schema.fields}
    n = {f.name: f for f in new.schema.fields}
    out: list[dict] = []
    for name in sorted(set(o) - set(n)):
        out.append({"column": name, "kind": "removed",
                    "old": o[name].dataType.simpleString(), "new": None})
    for name in sorted(set(n) - set(o)):
        out.append({"column": name, "kind": "added",
                    "old": None, "new": n[name].dataType.simpleString()})
    for name in sorted(set(o) & set(n)):
        fo, fn = o[name], n[name]
        if fo.dataType != fn.dataType:
            out.append({"column": name, "kind": "type_changed",
                        "old": fo.dataType.simpleString(),
                        "new": fn.dataType.simpleString()})
        elif fo.nullable != fn.nullable:
            out.append({"column": name, "kind": "nullability_changed",
                        "old": str(fo.nullable), "new": str(fn.nullable)})
    return out
