"""Streaming near-duplicate dedup: MinHash-LSH as a stateful stream.

The batch near-dup path (operators/dedup.minhash_lsh_pairs) computes
signatures with explode→groupBy — an aggregation a streaming query
cannot place BEFORE its stateful stage.  Here the signature is a pure
per-row projection over the document's distinct-shingle array, so the
plan is: project banded keys → explode → applyInPandasWithState keyed
by (band, band_key), whose state holds each bucket's earliest
(representative) doc id.  A document colliding with an
already-represented bucket is emitted as a duplicate-of record the
moment it arrives — continuous dedup for an ingest pipeline, the
streaming counterpart of the reference's run-id exactly-once intake
(T2) generalized to NEAR duplicates.

Slot hashes are bit-identical to the batch path ((h1 + i*h2) mod 2^32
from one md5 per shingle — dedup._h1h2); tests assert the banded keys
match minhash_signatures exactly, and that the streaming run emits the
same duplicate set as the batch fallback.

State sizing at 100 TB/day: one long per occupied (band, band_key)
bucket.  Production deployments bound it with an event-time TTL
(GroupStateTimeout) or periodic state-store compaction; the semantics
here only need the representative id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import hex_prefix_to_long
from ..functions.text import tokenize_ws
from ..operators.dedup import HASH_BITS

OUT_SCHEMA = "band int, band_key string, doc_id long, dup_of long"
STATE_SCHEMA = "rep long"


def _word_shingles_distinct(text: Column, k: int) -> Column:
    """Distinct space-joined word k-shingles as a per-row expression.

    Mirrors operators/dedup._shingle_rows (NGram + array_distinct) but
    stays a projection so it can run inside a streaming query plan.
    """
    toks = tokenize_ws(text)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - (k - 1))
    sh = F.when(
        n >= k,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k))),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(sh)


def banded_signature_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, band, band_key) rows via per-row MinHash — streaming-safe.

    Each shingle is md5-hashed ONCE into (h1, h2); slot i's hash is
    (h1 + i*h2) mod 2^32 (identical to minhash_signatures); the
    signature slot is the array_min over shingles.  Docs with fewer
    than shingle_k tokens produce no rows (cannot be minhashed), as in
    the batch path.  Higher-order transforms are interpreted — this
    projection trades per-row cost for streamability; the batch
    explode→groupBy shape remains the bulk-throughput path.
    """
    mod = F.lit(2**32)
    shingles = _word_shingles_distinct(F.col(text_col), shingle_k)
    # one md5 per shingle, reused by all slots: hash in a first pass,
    # split the digest in a second — interpreted lambdas do NOT
    # common-subexpression-eliminate, so building the struct from
    # F.md5(s) twice would double the dominant hash cost
    digests = F.transform(shingles, lambda s: F.md5(s))
    hashed = F.transform(
        digests,
        lambda d: F.struct(
            hex_prefix_to_long(d, 1, HASH_BITS).alias("h1"),
            hex_prefix_to_long(d, 9, HASH_BITS).alias("h2"),
        ),
    )
    slots = [
        F.array_min(
            F.transform(
                F.col("__hs"),
                _slot_lambda(i, mod),
            )
        ).alias(f"_h{i}")
        for i in range(num_hashes)
    ]
    from ..operators.dedup import banded_key_array

    sigs = (
        df.select(F.col(id_col).alias("id"), hashed.alias("__hs"))
        .filter(F.size("__hs") > 0)
        .select("id", *slots)
    )
    banded_keys = banded_key_array(
        lambda i: F.col(f"_h{i}"), num_hashes, bands
    )
    return sigs.select(
        "id", F.posexplode(banded_keys).alias("band", "band_key")
    ).select(F.col("id").alias("doc_id"), "band", "band_key")


def _banded_rows_batch(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, band, band_key) via the batch signature pipeline:
    16 hashes of word 3-shingles in 4 bands."""
    from ..operators.dedup import banded_key_array, minhash_signatures

    sigs = minhash_signatures(df, text_col, id_col, 16, 3)
    return sigs.select(
        F.col("id").alias("doc_id"),
        F.posexplode(
            banded_key_array(lambda i: F.col("signature")[i], 16, 4)
        ).alias("band", "band_key"),
    )


def _slot_lambda(i: int, mod: Column):
    """Single-arg lambda factory: binds slot index i by value (a bare
    2-param lambda would be treated as the (element, index) form)."""
    return lambda x: F.pmod(x["h1"] + F.lit(i) * x["h2"], mod)


def neardup_dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Emit (band, band_key, doc_id, dup_of) collision records: MinHash
    with 16 hashes of word 3-shingles in 4 bands.

    Streaming: applyInPandasWithState keyed by bucket; state = the
    bucket's earliest doc id; every later arrival in that bucket is
    emitted with dup_of = representative.  "Near-duplicate" = collides
    in ANY band, so consumers reduce records to a distinct doc set (a
    batch-side distinct or foreachBatch upsert).

    Batch fallback: identical semantics via groupBy min + join, used
    for parity testing and backfills.
    """
    if not docs.isStreaming:
        # batch fallback rides the FAST explode→groupBy signature
        # pipeline (identical bits to the per-row projection — asserted
        # in tests/test_stream_neardup.py; the projection form measured
        # ~20× slower at sf0.1 and exists only because streaming can't
        # aggregate before its stateful stage)
        rows = _banded_rows_batch(docs, text_col, id_col)
        # both the reps agg and the join-back consume rows; checkpoint so
        # the scan→shingle→md5 pipeline runs once (the NGram UDF defeats
        # exchange-reuse canonicalization — same issue as minhash_lsh_pairs)
        rows = rows.localCheckpoint(eager=True)
        reps = rows.groupBy("band", "band_key").agg(F.min("doc_id").alias("rep"))
        return (
            rows.join(reps, ["band", "band_key"])
            .filter(F.col("doc_id") != F.col("rep"))
            .select("band", "band_key", "doc_id", F.col("rep").alias("dup_of"))
        )

    rows = banded_signature_rows(docs, text_col, id_col, 16, 4, 3)

    import pandas as pd

    def update(key, pdfs, state):
        ids: list[int] = []
        for pdf in pdfs:
            ids.extend(int(v) for v in pdf["doc_id"])
        if not ids:
            return
        # GroupState.get is a PROPERTY in PySpark (raises if absent)
        old_rep = state.get[0] if state.exists else None
        new_rep = min(ids) if old_rep is None else min(old_rep, min(ids))
        state.update((new_rep,))
        dups = set(i for i in ids if i != new_rep)
        # late-arriving smaller id dethrones the stored representative:
        # the OLD rep is now a known duplicate and must be emitted too,
        # or the stream under-reports vs the batch fallback
        if old_rep is not None and old_rep != new_rep:
            dups.add(old_rep)
        if dups:
            out = sorted(dups)
            yield pd.DataFrame(
                {
                    "band": [int(key[0])] * len(out),
                    "band_key": [str(key[1])] * len(out),
                    "doc_id": out,
                    "dup_of": [new_rep] * len(out),
                }
            )

    return rows.groupBy("band", "band_key").applyInPandasWithState(
        update, OUT_SCHEMA, STATE_SCHEMA, "update", "NoTimeout"
    )
