"""Deduplication operators for the LLM-data-pipeline surface.

All variants are shuffle-aware and designed for 100 TB:

- exact:        hash-groupBy on a digest column — one shuffle keyed by
                digest, map-side partial agg keeps it skew-safe.
- fingerprint:  same, over the order/dup-insensitive token fingerprint.
- minhash+LSH:  shingle → k md5-derived hash slots → band signatures →
                candidate pairs via an equi-join on (band, band_sig).
                Only bucket-colliding pairs are materialized, never the
                full O(n²) cross product; per-band join keys are
                near-uniform (md5), so no salting needed.
- simhash:      64-bit majority-vote signature; near-pairs by banding
                the signature into 4×16-bit chunks (Hamming ≤ 3 ⇒ at
                least one chunk equal) then verifying Hamming distance.
- n-gram Jaccard: exact verification join on shared shingles — used as
                the verifier behind minhash candidates, or standalone
                for small cardinalities.

Every exact pair count (shared shingles of two docs) goes through one
of two private helpers: ``_overlaps`` (the inverted-index self-join,
optionally behind the ``_capped`` stop-shingle guard) when pairs are
discovered by their shared shingles, ``_pair_overlaps`` when the
candidate pairs are given (prefix-filter verify, MinHash calibration).

Hash family is md5-prefix (engine-portable, deterministic) rather than
Spark's murmur3 `hash()` so the DuckDB oracle reproduces every
signature bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import hex_prefix_to_long
from ..functions.text import fingerprint_md5, tokenize_ws

# 2^32 modulus keeps the md5-prefix hash in unsigned-32 space; matches
# the DuckDB oracle's cast('0x'||substr(md5(..),1,8) as bigint).
HASH_BITS = 8  # hex chars → 32-bit values


def _slot_hash(value: Column, seed: int) -> Column:
    """Seeded portable hash: md5 of "<seed>:<value>" → unsigned-32 long."""
    return hex_prefix_to_long(F.md5(F.concat(F.lit(f"{seed}:"), value)), 1, HASH_BITS)


def _h1h2(value: Column) -> tuple[Column, Column]:
    """Two independent unsigned-32 hashes from ONE md5 digest.

    MinHash's k slot-hashes are derived as h_i = (h1 + i*h2) mod 2^32
    (the standard 2-universal composition) so each shingle costs one
    md5 instead of k — measured 3× faster at k=16 — while staying
    bit-reproducible in any engine with md5.
    """
    digest = F.md5(value)
    return (
        hex_prefix_to_long(digest, 1, HASH_BITS),
        hex_prefix_to_long(digest, 9, HASH_BITS),
    )


def _shingle_rows(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, shingle) rows, distinct per doc — the shared dedup substrate.

    k>1 uses Spark ML's NGram transformer (JVM-native) instead of a
    sequence/transform/slice column expression: higher-order functions
    are interpreted, and the HOF variant measured ~4× slower at sf0.1.
    array_distinct runs per-row (no shuffle) before the explode.
    """
    if k == 1:
        sh = df.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(tokenize_ws(F.col(text_col)))).alias(
                "shingle"
            ),
        )
        return sh
    from pyspark.ml.feature import NGram

    tok = df.select(F.col(id_col).alias("id"), tokenize_ws(F.col(text_col)).alias("__toks"))
    ng = NGram(n=k, inputCol="__toks", outputCol="__sh")
    return ng.transform(tok).select(
        "id", F.explode(F.array_distinct("__sh")).alias("shingle")
    )


def _capped(sh: DataFrame, cap: int, keys: tuple[str, ...] = ()) -> DataFrame:
    """The stop-shingle guard: the (keys…, id, shingle) rows whose
    shingle has a doc frequency of at most ``cap`` within ``keys``.

    A shingle shared by k documents contributes k·(k−1)/2 rows to the
    inverted-index self-join, so one stop-shingle is a quadratic hot
    bucket; capping bounds the hottest bucket at cap·(cap−1)/2 rows.
    The doc-frequency aggregate shuffles on the key the self-join
    needs, so AQE reuses the exchange.
    """
    keep = (
        sh.groupBy(*keys, "shingle")
        .agg(F.count("*").alias("doc_freq"))
        .filter(F.col("doc_freq") <= F.lit(int(cap)))
        .select(*keys, "shingle")
    )
    return sh.join(keep, [*keys, "shingle"])


def _overlaps(
    sh: DataFrame, sizes: DataFrame, keys: tuple[str, ...] = ()
) -> DataFrame:
    """Shared-shingle counts of every pair that shares one: the
    inverted-index self-join on (keys…, shingle) with id_a < id_b —
    docs meet only through a common shingle, never a cross product.

    ``sizes`` is (keys…, id, set_size); it is joined onto both sides,
    so a caller decides which set sizes the ratios divide by.  Returns
    (keys…, id_a, id_b, n_inter, size_a, size_b).
    """
    a = sh.select(*keys, F.col("id").alias("id_a"), "shingle")
    b = sh.select(*keys, F.col("id").alias("id_b"), "shingle")
    za = sizes.select(
        *keys, F.col("id").alias("id_a"), F.col("set_size").alias("size_a")
    )
    zb = sizes.select(
        *keys, F.col("id").alias("id_b"), F.col("set_size").alias("size_b")
    )
    return (
        a.join(b, [*keys, "shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy(*keys, "id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
        .join(za, [*keys, "id_a"])
        .join(zb, [*keys, "id_b"])
        .select(*keys, "id_a", "id_b", "n_inter", "size_a", "size_b")
    )


def _pair_overlaps(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Shared-shingle counts of GIVEN candidate pairs: ``pairs``
    (id_a, id_b, …) ⋈ ``sh`` on id_a, then ⋈ ``sh`` on (id_b, shingle),
    counted per pair row.  Returns pairs' columns + n_inter; a pair
    with no shared shingle has no row (left-join it back for a 0)."""
    sa = sh.select(F.col("id").alias("id_a"), "shingle")
    sb = sh.select(F.col("id").alias("id_b"), "shingle")
    return (
        pairs.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy(*pairs.columns)
        .agg(F.count("*").alias("n_inter"))
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per exact text digest.

    Returns (digest, n_dups, keep_id).  groupBy on the digest is the
    only shuffle; partial aggregation runs map-side.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col).alias("id"))
        .groupBy("digest")
        .agg(F.count("*").alias("n_dups"), F.min("id").alias("keep_id"))
    )


def fingerprint_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup over the token-set fingerprint (order/dup-insensitive)."""
    return (
        df.select(
            fingerprint_md5(F.col(text_col)).alias("fingerprint"),
            F.col(id_col).alias("id"),
        )
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_dups"), F.min("id").alias("keep_id"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-document MinHash signature as array<long> of length num_hashes.

    Plan shape: explode distinct shingles → 16 min-aggregations in ONE
    groupBy on id (map-side partial min keeps the shuffle tiny).  An
    all-in-one-projection variant (array of array_min(transform(...)))
    recomputes the shingle array per slot after projection collapse —
    measured 80× slower; the explode+agg shape is the scalable one.
    Docs with fewer than shingle_k tokens have no shingles and are
    absent from the output (they cannot be minhashed).

    ``shingles`` (r14): a prebuilt (id, shingle) relation — pass the
    SAME materialized shingle relation a sibling stage already needs
    (exact-Jaccard verification, calibration) so the corpus is
    tokenized once per query, not once per consumer.
    """
    sh = (
        shingles
        if shingles is not None
        else _shingle_rows(df, text_col, id_col, shingle_k)
    )
    h1, h2 = _h1h2(F.col("shingle"))
    hashed = sh.select("id", h1.alias("h1"), h2.alias("h2"))
    mod = F.lit(2**32)
    agg = hashed.groupBy("id").agg(
        *[
            F.min(F.pmod(F.col("h1") + F.lit(i) * F.col("h2"), mod)).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    )
    return agg.select(
        "id", F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("signature")
    )


def banded_key_array(slot, num_hashes: int, bands: int) -> Column:
    """Array of per-band keys from slot hashes — THE band layout.

    ``slot(i)`` returns slot i's hash Column.  Used by the batch LSH
    join, the streaming per-row projection, and the neardup batch
    fallback; the DuckDB oracle's ``sig[b*4+1:b*4+4]`` slicing mirrors
    the same layout.  One definition so the three Spark sites can
    never drift apart.
    """
    rows_per_band = num_hashes // bands
    return F.array(
        *[
            F.concat_ws(
                "_", *[slot(b * rows_per_band + r) for r in range(rows_per_band)]
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    rows_per_band = num_hashes // bands.  A pair collides if any band's
    slice of the signature matches exactly.  Plan shape: project
    signatures → explode bands (num_hashes/band rows per doc) → shuffle
    on (band, band_key) → self-equi-join inside buckets → distinct
    pairs.  At 100 TB the band_key is an md5-uniform 128-bit string, so
    bucket sizes stay balanced and AQE handles any residual skew.
    """
    # docs with < 3 tokens yield no 3-shingle rows and are already absent
    # from minhash_signatures' groupBy output — no null guard needed
    if sigs is None:
        sigs = minhash_signatures(df, text_col, id_col, num_hashes)
        # materialize signatures before the self-join: both join sides
        # share this lineage, and without a checkpoint each side re-runs
        # the full scan→shingle→md5→16-min pipeline (the NGram
        # transformer's UDF defeats exchange-reuse canonicalization —
        # verified: 4 FileScans in the final plan).  Signatures are
        # 1 row/doc — tiny relative to the corpus.  Blocks stay pinned
        # for the session; release via operators.components._release if
        # lifecycle matters.  A caller passing precomputed ``sigs``
        # (r14) owns that materialization decision.
        sigs = sigs.localCheckpoint(eager=True)
    banded = sigs.select(
        "id",
        F.posexplode(
            banded_key_array(lambda i: F.col("signature")[i], num_hashes, bands)
        ).alias("band", "band_key"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.

    Inverted-index join: explode distinct shingles, self-join on the
    shingle (only docs sharing ≥1 shingle ever meet — never a cross
    product), count intersections, then |A∪B| = |A|+|B|−|A∩B|.
    Returns (id_a, id_b, jaccard).

    ``df_cap`` is the stop-shingle guard for scale (``_capped``): with
    ``df_cap=c`` every shingle whose doc-frequency exceeds c is dropped
    from BOTH the intersection join and the per-doc set sizes — the
    result is exact Jaccard over the capped shingle universe, and the
    hottest join bucket is bounded at c·(c−1)/2 rows.  ``None``
    (default) disables the guard and preserves exact Jaccard over all
    shingles.

    The shingle relation feeds THREE-plus consumers (per-doc sizes,
    both sides of the intersection self-join, and the optional df_cap
    aggregate); the NGram transformer's UDF defeats exchange-reuse
    canonicalization, so without a checkpoint each consumer re-runs
    scan→tokenize→NGram→explode — the identical pathology fixed in
    minhash_lsh_pairs and prefix_filter_jaccard_pairs (r14; measured
    2.6-3.1 → 1.9-2.2 s for dedup_ngram_jaccard at sf0.1).  A caller
    that already materialized the same (id, shingle) relation passes
    it via ``shingles`` and owns the checkpoint decision.
    """
    if shingles is None:
        shingles = _shingle_rows(
            df, text_col, id_col, shingle_k
        ).localCheckpoint(eager=True)
    if df_cap is not None:
        shingles = _capped(shingles, df_cap)
    sizes = shingles.groupBy("id").agg(F.count("*").alias("set_size"))
    return (
        _overlaps(shingles, sizes)
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    t_num: int = 9,
    t_den: int = 10,
    df_cap: int | None = None,
) -> DataFrame:
    """Asymmetric shingle-containment pairs: C(A⊂B) = |A∩B| / |A|.

    The sub-document duplication detector Jaccard structurally misses:
    a short doc fully embedded in a long one has tiny Jaccard (union is
    dominated by the long doc) but containment ≈ 1.  Same inverted-index
    shape as ngram_jaccard_pairs (``_overlaps``) and the same ``df_cap``
    stop-shingle guard (``_capped``) bounding hot buckets at c·(c−1)/2.

    Emits one row per unordered pair (id_a < id_b) where EITHER
    direction's containment ≥ t_num/t_den, with both directions
    reported (containment_ab = |A∩B|/|A|, containment_ba = |A∩B|/|B|),
    6-dp rounded for output; the threshold compares the UNROUNDED
    ratio against the identical IEEE division in both engines.
    The shingle relation is localCheckpointed for the same
    multi-consumer reason as ngram_jaccard_pairs (r14).
    """
    shingles = _shingle_rows(df, text_col, id_col, shingle_k).localCheckpoint(
        eager=True
    )
    if df_cap is not None:
        shingles = _capped(shingles, df_cap)
    sizes = shingles.groupBy("id").agg(F.count("*").alias("set_size"))
    thr = F.lit(float(t_num)) / F.lit(float(t_den))
    c_ab = F.col("n_inter").cast("double") / F.col("size_a").cast("double")
    c_ba = F.col("n_inter").cast("double") / F.col("size_b").cast("double")
    return (
        _overlaps(shingles, sizes)
        .filter((c_ab >= thr) | (c_ba >= thr))
        .select(
            "id_a",
            "id_b",
            F.round(c_ab, 6).alias("containment_ab"),
            F.round(c_ba, 6).alias("containment_ba"),
        )
    )


def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, bits: int = 32
) -> DataFrame:
    """SimHash signature: per-bit majority vote over token hashes.

    bit_j(doc) = 1 if more token-hashes have bit j set than not.
    Plan: explode distinct tokens → one seeded hash per token → 32
    bit-count sums + count in ONE groupBy (map-side partial agg), then
    the signature is assembled from the vote columns.  Docs with no
    tokens are absent from the output.  Default 32 bits keeps the
    signature in a long and the oracle SQL tractable.
    """
    th = _shingle_rows(df, text_col, id_col, 1).select(
        "id", _slot_hash(F.col("shingle"), 0).alias("h")
    )
    ones = [
        F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))).alias(f"_o{j}")
        for j in range(bits)
    ]
    agg = th.groupBy("id").agg(F.count("*").alias("_n"), *ones)
    bits_set = [
        ((F.col(f"_o{j}") * 2 > F.col("_n")).cast("long") * F.lit(1 << j))
        for j in range(bits)
    ]
    sig = sum(bits_set[1:], bits_set[0])
    return agg.select("id", sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-pairs with Hamming(simhash) ≤ max_hamming via chunk banding.

    Pigeonhole: distance ≤ chunks−1 ⇒ at least one of `chunks` equal
    chunks — so candidates come from an equi-join on (chunk_idx,
    chunk_value), then exact Hamming verification via bit_count(xor).

    Dedup without a shuffle (r13): a pair agreeing on m chunks used to
    surface m times and get collapsed by ``.distinct()`` — a full
    shuffle of the candidate-pair relation (2.5M rows at sf0.1 on the
    augmented corpus, the query's dominant cost).  Both simhashes ride
    on every joined row, so "keep only the FIRST agreeing chunk" is a
    pure codegen filter — for each j < chunk_idx, chunk j of a and b
    must differ — which emits exactly one row per matching pair with
    no exchange.  Measured 5.2 → 2.0 s at sf0.1, byte-identical
    output.  The signature relation is localCheckpointed so the
    tokenize→groupBy subtree runs once, not once per self-join side.
    """
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1

    def chunk_of(col: Column, j: int) -> Column:
        return F.shiftright(col, j * chunk_bits).bitwiseAND(F.lit(mask))

    sigs = simhash_signatures(df, text_col, id_col, bits).localCheckpoint(
        eager=True
    )
    chunked = sigs.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(*[chunk_of(F.col("simhash"), i) for i in range(chunks)])
        ).alias("chunk_idx", "chunk_val"),
    )
    first_agree = F.lit(True)
    for j in range(chunks):
        first_agree = first_agree & (
            (F.lit(j) >= F.col("a.chunk_idx"))
            | (chunk_of(F.col("a.simhash"), j)
               != chunk_of(F.col("b.simhash"), j))
        )
    pairs = (
        chunked.alias("a")
        .join(
            chunked.alias("b"),
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(first_agree)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    t_num: int = 4,
    t_den: int = 5,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact token-set Jaccard pairs ≥ t_num/t_den via PREFIX FILTERING
    (the PPJoin family, Xiao et al. 2008) — the non-probabilistic
    alternative to MinHash for high thresholds.

    Order every doc's tokens by ascending global doc-frequency (rarest
    first, token string as tiebreak).  For threshold t, any pair with
    Jaccard ≥ t must share a token within each side's first
    ``|x| − ⌈t·|x|⌉ + 1`` tokens, so the candidate join only touches
    those prefixes.  Because prefixes are the RAREST tokens, the join
    buckets are small by construction — the inverted-index hot-bucket
    problem that ``ngram_jaccard_pairs`` needs ``df_cap`` for is solved
    here by the ordering itself.  Candidates are then verified with an
    exact intersection count over the full token sets.

    The threshold is carried as a ratio of ints; the only float ops are
    the final per-row division (rounded 6 dp) and its comparison
    against t_num/t_den evaluated as the identical IEEE division in
    both engines.  Returns (id_a, id_b, jaccard).
    """
    from pyspark.sql.window import Window

    toks = _shingle_rows(df, text_col, id_col, shingle_k)  # distinct (id, shingle)
    # The shingle relation feeds FOUR consumers (the doc-frequency/
    # set-size windows, the ranked prefix, and both sides of the
    # verify join); without a
    # checkpoint each re-runs scan→NGram→explode (the transformer's UDF
    # defeats exchange-reuse canonicalization, same pathology fixed in
    # minhash_lsh_pairs).  Measured 6.3s → ~2s at sf0.1.
    toks = toks.localCheckpoint(eager=True)
    # doc-frequency and set-size as WINDOW counts instead of agg+join
    # pairs: two exchanges (shingle, then id — the rank window reuses
    # the id partitioning) versus four; measured 3.2s → 1.5s for the
    # prefix stage at sf0.1.
    ranked = toks.withColumn(
        "doc_freq", F.count("*").over(Window.partitionBy("shingle"))
    ).withColumn("set_size", F.count("*").over(Window.partitionBy("id")))
    w = Window.partitionBy("id").orderBy(F.asc("doc_freq"), F.asc("shingle"))
    # ⌈t·sz⌉ as integer math: floor((t_num*sz + t_den - 1) / t_den)
    ceil_tsz = F.floor(
        (F.lit(t_num) * F.col("set_size") + F.lit(t_den - 1)) / F.lit(t_den)
    )
    prefix_len = F.col("set_size") - ceil_tsz + F.lit(1)
    prefix = (
        ranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("id", "shingle", "set_size")
    )
    # Length filter (also from PPJoin): J(A,B) ≥ t forces
    # t·|B| ≤ |A| ≤ |B|/t, i.e. t_den·min_sz ≥ t_num·max_sz — checked
    # inside the candidate join so size-incompatible prefix collisions
    # never reach distinct/verify (measured 135k → far fewer candidate
    # rows at sf0.1 with identical output).  The verify filter compares
    # the UNROUNDED jaccard against t (rounding happens only for
    # output), so J ≥ t mathematically implies the size predicate and
    # the oracle needs no mirror of it — filtering on the 6-dp rounded
    # value instead would re-admit J ∈ [t−5e-7, t) pairs that the
    # length filter could prune only for ~400k-shingle docs.
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.col("a.set_size") * F.lit(t_den)
                >= F.col("b.set_size") * F.lit(t_num)
            )
            & (
                F.col("b.set_size") * F.lit(t_den)
                >= F.col("a.set_size") * F.lit(t_num)
            ),
        )
        # set_size is functionally dependent on id, so carrying both
        # sides' sizes through the distinct leaves its cardinality
        # unchanged — and saves the separate per-doc sizes agg plus
        # the two size joins after the intersection count (r14:
        # 4 fewer data-proportional operators for two longs per row)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .distinct()
    )
    # Verify straight off the shingle rows: the candidates have one
    # consumer, so they need no checkpoint, and AQE picks each join's
    # strategy from runtime sizes, so no forced-broadcast semi-join cut
    # (both cost 4 jobs per call and bought nothing at sf0.1).
    thr = F.lit(float(t_num)) / F.lit(float(t_den))
    return (
        _pair_overlaps(cand, toks).withColumn(
            "jaccard_raw",
            F.col("n_inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_inter")).cast(
                "double"
            ),
        )
        .filter(F.col("jaccard_raw") >= thr)
        .select(
            "id_a", "id_b", F.round("jaccard_raw", 6).alias("jaccard")
        )
    )


def max_duplicated_spans(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_span: int = 8,
    df_cap: int = 50,
) -> DataFrame:
    """MAXIMAL duplicated-span detection — the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better")
    exact-substring primitive, restated distributively: suffix arrays
    don't distribute, but positional shingle matching + diagonal
    run-extension does, and finds the same maximal shared token spans.

    Per document pair, a shared span is a maximal run of positions
    where k-token windows match on a common diagonal
    (pos_a - pos_b constant).  Stages:

    1. positional k-shingles (id, pos, shingle) — NOT distinct: the
       position IS the payload (NGram index = 0-based token position);
    2. document frequency per shingle; keep 2 <= df <= df_cap — a
       shingle in one doc can't witness a cross-doc span, and the cap
       bounds the hottest inverted-index bucket (stop-phrase shingles)
       so no reduce task sees more than df_cap² pair rows per key.
       A capped shingle inside a long duplication can SPLIT a reported
       span (conservative under-merge, never a false pair);
    3. inverted-index pair join on the shingle (id_a < id_b) — the
       only stage that meets candidates, never a cross product;
    4. gaps-and-islands per (id_a, id_b, diagonal): consecutive pos_a
       runs collapse to one island via pos_a - row_number(), a window
       PARTITIONED by pair+diagonal (never global);
    5. island → span: start positions + token length (run + k - 1),
       kept when >= min_span.

    Maximality: a run is extendable iff the boundary shingles also
    match, which would place them in the same island — so every
    reported island is a maximal span by construction (modulo df_cap
    splits).  Returns (doc_a, doc_b, start_a, start_b, span_tokens).
    """
    from pyspark.ml.feature import NGram
    from pyspark.sql import Window

    from ..functions.text import tokenize_ws

    if min_span < k:
        # a shared run of length in [min_span, k) produces no k-shingle
        # match and therefore no island — the >= min_span contract is
        # only honorable for min_span >= k, so refuse loudly instead of
        # returning silently incomplete spans
        raise ValueError(
            f"min_span ({min_span}) must be >= shingle size k ({k}): "
            "shorter shared runs are invisible to k-shingle matching"
        )
    tok = docs.select(
        F.col(id_col).alias("id"), tokenize_ws(F.col(text_col)).alias("__toks")
    )
    ng = NGram(n=k, inputCol="__toks", outputCol="__sh")
    grams = ng.transform(tok).select(
        "id", F.posexplode("__sh").alias("pos", "shingle")
    )
    grams = grams.localCheckpoint(eager=True)  # df agg + pair join share it
    keep = (
        grams.groupBy("shingle")
        .agg(F.countDistinct("id").alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= df_cap))
        .select("shingle")
    )
    m = grams.join(keep, "shingle")
    a = m.select(
        F.col("id").alias("doc_a"), F.col("pos").alias("pa"), "shingle"
    )
    b = m.select(
        F.col("id").alias("doc_b"), F.col("pos").alias("pb"), "shingle"
    )
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag")
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    isl = pairs.select(
        "doc_a", "doc_b", "diag", "pa", "pb",
        (F.col("pa") - F.row_number().over(w)).alias("grp"),
    )
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pa").cast("bigint").alias("start_a"),
            F.min("pb").cast("bigint").alias("start_b"),
            (F.count("*") + F.lit(k - 1)).cast("bigint").alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_span)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
    )


def span_coverage_audit(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    df_cap: int = 50,
) -> DataFrame:
    """Hot-shingle coverage side-channel for max_duplicated_spans: the
    df_cap there SILENTLY drops spans flowing through shingles shared
    by > df_cap documents (at 100 TB, a boilerplate sentence shared by
    millions of docs is exactly df >> cap).  This audit makes the
    cap's blind spot a NUMBER: per df band (unique / kept / suppressed
    under the same k and df_cap), the distinct-shingle count, total
    positional occurrences (the shingle-level token mass the band
    carries), the band's hottest document frequency, and its share of
    all shingle occurrences.  One aggregation pass over the same
    positional-shingle relation the dedup builds — no joins over the
    capped set, no per-pair work, so the audit is strictly cheaper
    than the dedup it audits.
    """
    from pyspark.ml.feature import NGram

    from ..functions.text import tokenize_ws

    tok = docs.select(
        F.col(id_col).alias("id"), tokenize_ws(F.col(text_col)).alias("__toks")
    )
    ng = NGram(n=k, inputCol="__toks", outputCol="__sh")
    grams = ng.transform(tok).select(
        "id", F.explode("__sh").alias("shingle")
    )
    stats = grams.groupBy("shingle").agg(
        F.countDistinct("id").alias("nd"),
        F.count("*").cast("bigint").alias("occ"),
    )
    banded = stats.select(
        F.when(F.col("nd") == 1, "unique")
        .when(F.col("nd") <= df_cap, "kept")
        .otherwise("suppressed")
        .alias("band"),
        "nd",
        "occ",
    )
    per_band = banded.groupBy("band").agg(
        F.count("*").cast("bigint").alias("n_shingles"),
        F.sum("occ").cast("bigint").alias("n_occurrences"),
        F.max("nd").cast("bigint").alias("max_df"),
    )
    total = per_band.agg(
        F.sum("n_occurrences").cast("bigint").alias("__tot")
    )
    return per_band.join(F.broadcast(total)).select(
        "band",
        "n_shingles",
        "n_occurrences",
        "max_df",
        F.round(
            F.col("n_occurrences").cast("double")
            / F.col("__tot").cast("double"),
            6,
        ).alias("occ_share"),
    )


def _cdc_cuts_udf(k: int, divisor: int):
    """Arrow-vectorized CDC boundary detector: per normalized doc, the
    sorted distinct 1-indexed cut offsets — every position whose
    base-257 mod-1e9+7 k-gram rolling hash is ≡ 0 (mod divisor), plus
    the sentinel n.  Exact integer parity with the relational LEAD
    formulation this replaces: normalize_text output is pure ASCII
    ([a-z0-9 ]), so the byte codes ARE the char codes, and the int64
    window dot (max term 255·(1e9+7), k-term sum < 2.1e12) never
    overflows.  Marked nondeterministic so projection collapse cannot
    clone the Python stage (dot_seq precedent)."""
    from pyspark.sql.functions import pandas_udf

    from ..functions.text import ROLLING_BASE, ROLLING_MOD

    pows = [pow(ROLLING_BASE, j, ROLLING_MOD) for j in range(k)]

    def fn(texts):
        import numpy as np

        pw = np.asarray(pows, dtype=np.int64)

        def cuts(s: str) -> list[int]:
            n = len(s)
            if n >= k:
                codes = np.frombuffer(
                    s.encode("ascii"), dtype=np.uint8
                ).astype(np.int64)
                win = np.lib.stride_tricks.sliding_window_view(codes, k)
                h = (win @ pw) % ROLLING_MOD
                c = (np.nonzero(h % divisor == 0)[0] + k).tolist()
            else:
                c = []
            # sentinel: every doc ends at its last char (a hash cut at
            # exactly n would duplicate it — the guard dedups)
            if not c or c[-1] != n:
                c.append(n)
            return c

        return texts.map(cuts)

    return pandas_udf(fn, "array<int>").asNondeterministic()


def cdc_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    divisor: int = 64,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Content-defined chunking (Rabin-boundary rule — the rsync /
    LBFS / FastCDC family): cut after any char position whose rolling
    k-gram hash is ≡ 0 (mod divisor), giving variable-size chunks with
    expected length ≈ divisor that REALIGN after insertions — a fixed
    block grid shifts wholesale on a one-char prefix edit, a
    content-defined grid re-synchronizes at the next boundary, which
    is what makes chunk-level dedup work on near-identical documents.

    Returns (id, *carry_cols, start, end, chunk_len, digest) —
    1-indexed inclusive spans over the NORMALIZED text, digest =
    md5(chunk).  Distributed shape (r14): boundary detection is ONE
    Arrow batch stage computing each doc's cut-offset array row-locally
    (numpy int64 sliding-window dot — guide §4.2), and chunk assembly
    zips the cut array against its own shift — so the whole
    chunker is shuffle-free (the LEAD-window formulation it replaces
    exploded chars to rows and paid a doc-keyed exchange + sort, plus
    a distinct and a window over the cut rows and a join back to the
    text: 4 data-proportional exchanges → 0).  ``carry_cols`` ride
    along row-locally so callers need no join to re-attach doc
    attributes.  The per-doc payload crosses the Python boundary once
    (the normalized string in, the cut ints out); chunk text is a
    codegen substring at extraction.  Exact integer arithmetic
    end-to-end (tests/test_cdc_chunks.py pins parity with a pure-Python
    reference, including a hypothesis sweep over arbitrary unicode).
    """
    from ..functions.text import normalize_text
    from .multimodal import _spread

    s = normalize_text(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in carry_cols],
        s.alias("__s"),
        F.length(s).alias("__n"),
    ).filter(F.col("__n") >= 1)
    # single-file corpora are one scan split: fan out before the
    # normalize+Arrow stage so it isn't one core's problem (_spread
    # no-ops at real scale where the scan is already wide)
    base = _spread(base, "id")
    cuts_arr = _cdc_cuts_udf(k, divisor)(F.col("__s"))
    prevs = F.concat(
        F.array(F.lit(0)), F.slice(F.col("__cuts"), 1, F.size("__cuts") - 1)
    )
    d = base.withColumn("__cuts", cuts_arr).select(
        "id",
        *carry_cols,
        "__s",
        F.explode(
            F.arrays_zip(prevs.alias("p"), F.col("__cuts").alias("c"))
        ).alias("__iv"),
    )
    start = F.col("__iv.p") + 1
    end = F.col("__iv.c")
    ln = end - start + 1
    return d.select(
        "id",
        *carry_cols,
        start.alias("start"),
        end.alias("end"),
        ln.alias("chunk_len"),
        F.md5(F.col("__s").substr(start, ln)).alias("digest"),
    )
