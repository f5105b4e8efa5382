"""Scalar column-function library.

Pure Catalyst column expressions (JVM-side, whole-stage-codegen'd) —
no Python UDFs.  Mirrors the reference's scalar surface:

- truthy-string bool coercion        (reference dags/utils.py:1542-1549)
- multi-format timestamp parse + [TZ] suffix
                                     (reference md/data_collection_types/
                                      akoya_codex_data_collection.py:14-57)
- relative-tolerance float equality 1e-5 (same file :43-47)
- timestamp equality within 1 h      (same file :58-59)
- bracketed text-list parsing        (reference misc/tools/survey.py:42-44,82-97)
- slice-id expansion base-n1_n2 → rows (reference dags/utils.py:63,1221-1230)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TRUTHY = ("TRUE", "T", "1", "Y", "YES")

# Formats tried in order, mirroring the reference's 4-format fallback.
TS_FORMATS = (
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd HH:mm",
    "MM/dd/yyyy HH:mm:ss",
    "MM/dd/yyyy HH:mm",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd",
)


def parse_bool(col: Column) -> Column:
    """Truthy-string coercion: TRUE/T/1/Y/YES (any case, trimmed) → true."""
    return F.upper(F.trim(col)).isin(*TRUTHY)


def parse_timestamp_multi(col: Column, formats: tuple[str, ...] = TS_FORMATS) -> Column:
    """First-success timestamp parse across several formats.

    A trailing ``[Zone/Name]`` suffix (e.g. ``2020-01-01 12:00[US/Eastern]``)
    is honored by converting the naive parse from that zone to UTC.
    """
    zone = F.regexp_extract(col, r"\[([^\]]+)\]$", 1)
    bare = F.regexp_replace(col, r"\s*\[[^\]]+\]$", "")
    naive = F.coalesce(*[F.try_to_timestamp(bare, F.lit(fmt)) for fmt in formats])
    return F.when(zone == "", naive).otherwise(F.to_utc_timestamp(naive, zone))


def tolerant_float_eq(a: Column, b: Column) -> Column:
    """Relative-tolerance float equality (|a-b| <= 1e-5 * max(|a|,|b|))."""
    return F.abs(a - b) <= F.lit(1e-5) * F.greatest(F.abs(a), F.abs(b))


def tolerant_ts_eq(a: Column, b: Column) -> Column:
    """Timestamp equality within a 1 h tolerance window."""
    return F.abs(F.unix_timestamp(a) - F.unix_timestamp(b)) <= F.lit(3600)


def parse_text_list(col: Column) -> Column:
    """Parse "[a, b]" / "'a','b'" / "a;b" style text lists → array<string>."""
    stripped = F.regexp_replace(col, r"""[\[\]'"]""", "")
    return F.filter(
        F.transform(F.split(stripped, r"[,;]"), lambda x: F.trim(x)),
        lambda x: x != "",
    )


def expand_slice_ids(col: Column) -> Column:
    """Expand ``BASE-n1_n2`` → array of ``BASE-n1`` … ``BASE-n2``.

    Non-range ids pass through as a 1-element array.  Use with
    ``F.explode`` for the row-generating (UDTF-shaped) form.
    """
    base = F.regexp_extract(col, r"^(.*)-(\d+)_(\d+)$", 1)
    lo_s = F.regexp_extract(col, r"^(.*)-(\d+)_(\d+)$", 2)
    hi_s = F.regexp_extract(col, r"^(.*)-(\d+)_(\d+)$", 3)
    # guard the casts: regexp_extract yields '' on no-match, and ANSI
    # mode (Spark 4 default) errors on cast('' as int); long closes the
    # CAST_OVERFLOW hole for indices beyond int32
    lo = F.when(lo_s != "", lo_s.cast("long"))
    hi = F.when(hi_s != "", hi_s.cast("long"))
    expanded = F.transform(
        F.sequence(lo, hi),
        lambda n: F.concat(base, F.lit("-"), n.cast("string")),
    )
    # inverted range (lo > hi) → empty, matching the reference's
    # range(n1, n2+1) semantics; Spark sequence() would DESCEND instead
    return (
        F.when(lo.isNull(), F.array(col))
        .when(lo <= hi, expanded)
        .otherwise(F.array().cast("array<string>"))
    )


def hex_prefix_to_long(col: Column, start: int = 1, length: int = 8) -> Column:
    """Interpret a hex-digest substring as an unsigned integer.

    Engine-portable (md5 is identical everywhere), used as the hash
    family for MinHash so the DuckDB oracle can reproduce signatures.
    """
    return F.conv(F.substring(col, start, length), 16, 10).cast("long")


def hrw_shard(key: Column, n_shards: int) -> Column:
    """Rendezvous (highest-random-weight) shard assignment: argmax
    over shards s of md5('shard' || s || ':' || key) — the consistent-
    hashing scheme whose shard map stays STABLE when n_shards changes
    (adding one shard moves ~1/(n+1) of keys; key % n moves ~(n-1)/n).
    Engine-portable: weights are the md5-prefix uniforms every other
    deterministic operator uses, argmax ties (md5 collisions) break to
    the lowest shard via the struct sort.  Pure codegen — the 100 TB
    use is a projection at write time, no shuffle of its own."""
    cands = [
        F.struct(
            (-hex_prefix_to_long(
                F.md5(
                    F.concat_ws(
                        "", F.lit("shard"), F.lit(str(s)), F.lit(":"),
                        key.cast("string"),
                    )
                )
            )).alias("nw"),
            F.lit(s).alias("s"),
        )
        for s in range(n_shards)
    ]
    return F.element_at(F.sort_array(F.array(*cands)), 1)["s"]


def encrypt_token(col: Column, key: str, mode: str = "GCM") -> Column:
    """Seal a token column with AES-128/192/256, base64-encoded.

    The engine-side seam for the reference's intake auth token
    (Fernet encrypt of the submission payload, reference
    dags/utils.py:1941-1950, consumed by the /request_ingest endpoint
    plugins/hubmap_api/endpoint.py:354-355).  The default is GCM —
    authenticated encryption with a random 12-byte IV and a 16-byte
    tag, matching Fernet's AES-CBC+HMAC production semantics (tampered
    or truncated tokens FAIL the tag check rather than decrypting to
    garbage).  mode="ECB" remains available solely as the
    deterministic oracle fixture (no IV ⇒ identical payloads seal to
    identical tokens, so a DuckDB-comparable query can hash the
    ciphertext); production callers should never pass it.  JVM-side
    (``aes_encrypt``), no Python in the path.
    """
    padding = "NONE" if mode == "GCM" else "PKCS"
    return F.base64(
        F.aes_encrypt(col, F.lit(key), F.lit(mode), F.lit(padding))
    )


def decrypt_token(col: Column, key: str, mode: str = "GCM") -> Column:
    """Open a sealed token; NULL (never an exception) on a wrong key
    or tampered payload — the engine's 401 path routes on that NULL
    instead of failing the batch (``try_aes_decrypt`` semantics).
    Under the default GCM the NULL-on-tamper guarantee is
    cryptographic (AEAD tag verification), not a padding accident.
    """
    padding = "NONE" if mode == "GCM" else "PKCS"
    return F.try_aes_decrypt(
        F.unbase64(col), F.lit(key), F.lit(mode), F.lit(padding)
    ).cast("string")
