"""Unit tests for library operators not covered by the oracle registry."""

import datetime

from pyspark.sql import functions as F

from ingest_pipeline_spark.functions.scalars import (
    parse_bool,
    parse_timestamp_multi,
    tolerant_float_eq,
    tolerant_ts_eq,
)
from ingest_pipeline_spark.operators.dedup import simhash_near_pairs
from ingest_pipeline_spark.operators.graph import ancestors_bfs, latest_child
from ingest_pipeline_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    lsh_bucket_candidates,
)
from ingest_pipeline_spark.operators.status_machine import apply_status_updates
from ingest_pipeline_spark.operators.windows import first_match_by_priority
from ingest_pipeline_spark.validate.checks import Check, route_violations


def test_parse_timestamp_tz_suffix(spark):
    """[Zone] suffix converts the naive parse from that zone to UTC.

    Mirrors translate_timestamp's `2020-01-01 12:00[US/Eastern]` case
    (reference akoya_codex_data_collection.py:49-57).
    """
    df = spark.createDataFrame(
        [("2020-01-01 12:00:00[US/Eastern]",), ("2020-01-01 12:00:00",)], "s string"
    )
    rows = df.select(parse_timestamp_multi(F.col("s")).alias("ts")).collect()
    # EST is UTC-5 → noon Eastern == 17:00 UTC
    assert rows[0].ts == datetime.datetime(2020, 1, 1, 17, 0, 0)
    assert rows[1].ts == datetime.datetime(2020, 1, 1, 12, 0, 0)


def test_parse_bool_and_tolerances(spark):
    df = spark.createDataFrame([("Y", 1.0, 1.0000001), ("no", 1.0, 1.5)], "s string, a double, b double")
    out = df.select(
        parse_bool(F.col("s")).alias("b"),
        tolerant_float_eq(F.col("a"), F.col("b")).alias("feq"),
    ).collect()
    assert [r.b for r in out] == [True, False]
    assert [r.feq for r in out] == [True, False]
    ts = spark.createDataFrame(
        [(datetime.datetime(2020, 1, 1, 12), datetime.datetime(2020, 1, 1, 12, 59))],
        "a timestamp, b timestamp",
    )
    assert ts.select(tolerant_ts_eq(F.col("a"), F.col("b")).alias("ok")).first().ok


def test_ancestors_bfs(spark):
    edges = spark.createDataFrame(
        [("donor1", "sample1"), ("sample1", "ds1"), ("ds1", "derived1")],
        "parent_uuid string, child_uuid string",
    )
    roots = spark.createDataFrame([("derived1",)], "uuid string")
    got = {
        (r.uuid, r.depth) for r in ancestors_bfs(edges, roots, max_depth=5).collect()
    }
    assert got == {("derived1", 0), ("ds1", 1), ("sample1", 2), ("donor1", 3)}


def test_latest_child(spark):
    edges = spark.createDataFrame(
        [("p1", "c1"), ("p1", "c2")], "parent_uuid string, child_uuid string"
    )
    ents = spark.createDataFrame(
        [
            ("c1", "published", datetime.datetime(2024, 1, 1)),
            ("c2", "published", datetime.datetime(2024, 2, 1)),
        ],
        "uuid string, status string, last_modified timestamp",
    )
    rows = latest_child(edges, ents, status_filter=["published"]).collect()
    assert len(rows) == 1 and rows[0].uuid == "c2"


def test_status_machine_rejects(spark):
    ents = spark.createDataFrame([(1, "new"), (2, "qa")], "uuid int, status string")
    upd = spark.createDataFrame(
        [
            (1, "published", 10),  # illegal from new
            (2, "published", 11),  # legal
            (3, "qa", 12),  # unknown entity
        ],
        "uuid int, new_status string, run_id int",
    )
    updated, rejected = apply_status_updates(ents, upd, spark)
    status = {r.uuid: r.status for r in updated.collect()}
    assert status == {1: "new", 2: "published"}
    reasons = {r.uuid: r.reject_reason for r in rejected.collect()}
    assert reasons == {1: "illegal_transition", 3: "unknown_entity"}


def test_status_machine_idempotent_redelivery(spark):
    ents = spark.createDataFrame([(1, "qa")], "uuid int, status string")
    upd = spark.createDataFrame(
        [(1, "published", 10), (1, "published", 10)],  # duplicate delivery
        "uuid int, new_status string, run_id int",
    )
    updated, rejected = apply_status_updates(ents, upd, spark)
    assert updated.first().status == "published"
    assert rejected.count() == 0


def test_first_match_by_priority(spark):
    df = spark.createDataFrame(
        [("a", 1, "low"), ("a", 9, "high"), ("b", 5, "only")],
        "item string, priority int, payload string",
    )
    got = {
        r.item: r.payload
        for r in first_match_by_priority(df, ["item"], "priority", "payload").collect()
    }
    assert got == {"a": "high", "b": "only"}


def test_simhash_near_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),  # identical
            (3, "totally different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b) for r in simhash_near_pairs(df, "text", "doc_id").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_lsh_buckets_and_near_dup(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    buckets = lsh_bucket_candidates(emb, num_planes=4)
    rows = buckets.collect()
    assert len(rows) == 50
    assert all(len(r.bucket) == 4 and set(r.bucket) <= {"0", "1"} for r in rows)
    # identical vectors always share a bucket → near-dup finds them
    dup = emb.limit(5)
    both = dup.unionByName(
        dup.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding", "label")
    )
    pairs = embedding_near_dup_pairs(both, threshold=0.999, num_planes=4).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert all((v, v + 1000) in found for v in [r.vec_id for r in dup.collect()])


def test_cosine_topk_small(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=1)
    row = out.first()
    assert row.query_id == 0 and row.neighbor_id == 1


def test_connected_components(spark):
    from ingest_pipeline_spark.operators.components import connected_components

    # two clusters: a 4-cycle {1,2,3,4} and a pair {10,11}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (10, 11)], "id_a long, id_b long"
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    # long chain needs several propagation rounds; too-low max_iter raises
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    all_zero = {r.component for r in connected_components(chain).collect()}
    assert all_zero == {0}
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(chain, max_iter=1)


def test_stratified_sampling(spark, sf_dir):
    from ingest_pipeline_spark.operators.sampling import (
        fixed_n_per_stratum,
        stratified_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    frac = stratified_sample(docs, "lang", {"en": 0.5, "de": 0.1}, seed=7)
    langs = {r.lang for r in frac.select("lang").distinct().collect()}
    assert langs <= {"en", "de"}  # unlisted strata dropped
    # deterministic under the same seed
    a = sorted(r.doc_id for r in frac.collect())
    b = sorted(
        r.doc_id
        for r in stratified_sample(docs, "lang", {"en": 0.5, "de": 0.1}, seed=7).collect()
    )
    assert a == b

    capped = fixed_n_per_stratum(docs, "lang", 5, seed=7, tiebreak_col="doc_id")
    per = {
        r.lang: r.n
        for r in capped.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert all(n == 5 for n in per.values())
    # deterministic selection
    c1 = sorted(r.doc_id for r in capped.collect())
    c2 = sorted(
        r.doc_id
        for r in fixed_n_per_stratum(docs, "lang", 5, seed=7, tiebreak_col="doc_id").collect()
    )
    assert c1 == c2


def test_route_violations(spark):
    df = spark.createDataFrame([(1, "en"), (2, "xx")], "id int, lang string")
    checks = [Check("bad_lang", ~F.col("lang").isin("en", "de"))]
    clean, errors = route_violations(df, checks)
    assert [r.id for r in clean.collect()] == [1]
    err = errors.first()
    assert err.id == 2 and err.violated_checks == ["bad_lang"]


def test_collection_type_inference(spark):
    """F2: all probes must match; max priority wins; no-match absent."""
    from ingest_pipeline_spark.operators.collection_types import (
        infer_collection_types,
    )

    lst = spark.createDataFrame(
        [
            (1, "x-metadata.tsv"),
            (1, "src_0/experiment.json"),
            (1, "src_0/segmentation.json"),
            (1, "slide.ome.tiff"),  # AKOYA(1.0) + GENERIC(0.0) + OME(0.5)
            (2, "only.notes"),      # matches nothing
            (3, "a.fastq"),
            (3, "b.imzML"),         # IMS(0.6) beats FASTQ(0.4)
            (4, "x-metadata.tsv"),
            (4, "src_0/experiment.json"),  # AKOYA partial: 2 of 3 probes
        ],
        "dataset_id long, rel_path string",
    )
    got = {
        r.dataset_id: r.collection_type
        for r in infer_collection_types(lst, spark).collect()
    }
    assert got == {1: "AKOYA_CODEX", 3: "IMS", 4: "GENERIC_METADATATSV"}


def test_dot_seq_bit_parity(spark, sf_dir):
    """dot_seq must equal the interpreted fold BIT-FOR-BIT: the
    oracle's LIST_REDUCE is left-to-right, and rounding to 6 dp before
    ranking only stays safe if accumulation order matches."""
    from ingest_pipeline_spark.operators.similarity import _dot, dot_seq

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = emb.limit(200)
    pairs = (
        v.alias("a")
        .join(v.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .limit(5000)
    )
    chk = pairs.select(
        _dot(F.col("a.embedding"), F.col("b.embedding")).alias("hof"),
        dot_seq(F.col("a.embedding"), F.col("b.embedding")).alias("vec"),
    )
    bad = chk.filter(F.col("hof") != F.col("vec")).count()
    assert bad == 0


def test_downstream_workflows_fanout(spark):
    """T3 fan-out semantics: ALL matching map rows fire; regexes are
    start-anchored; nulls behave like '' (reference `collectiontype or ''`)."""
    from ingest_pipeline_spark.engine import downstream_workflows

    ds = spark.createDataFrame(
        [
            (1, "devtest", "CODEX"),      # devtest_step2 AND codex_cytokit
            (2, "rnaseq_10x", "scRNAseq-10xGenomics"),
            (3, "misc", "CODEX2"),        # anchored prefix: 'CODEX' matches
            (4, None, "other"),           # null ct -> '' -> only '.*' arms
            (5, "misc", "xCODEX"),        # not a prefix match -> no row
        ],
        "uuid long, collectiontype string, assay_type string",
    )
    got = sorted((r.uuid, r.workflow) for r in downstream_workflows(ds).collect())
    assert got == [
        (1, "codex_cytokit"),
        (1, "devtest_step2"),
        (2, "salmon_rnaseq_10x"),
        (3, "codex_cytokit"),
    ]


def test_ngram_jaccard_df_cap_bounds_stop_shingle_buckets(spark):
    """df_cap drops shingles whose doc-frequency exceeds the cap BEFORE
    the inverted-index self-join, bounding the hottest bucket (VERDICT
    r4 item 3: one stop-shingle shared by k docs is k*(k-1)/2 join rows).
    """
    from ingest_pipeline_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    # 6 docs all share stop-shingle "the"; docs 1&2 also share "aa bb"
    docs = spark.createDataFrame(
        [
            (1, "the aa bb"),
            (2, "the aa bb"),
            (3, "the cc dd"),
            (4, "the ee ff"),
            (5, "the gg hh"),
            (6, "the ii jj"),
        ],
        "doc_id long, text string",
    )
    uncapped = ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_k=1, threshold=0.1
    )
    # every pair shares "the" → all 15 pairs survive at a low threshold
    assert uncapped.count() == 15
    capped = ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_k=1, threshold=0.1, df_cap=2
    )
    rows = capped.collect()
    # "the" (df=6) is gone; only the true near-dup pair 1-2 remains, and
    # its Jaccard is exact over the capped universe ({aa, bb} on both)
    assert [(r.id_a, r.id_b, r.jaccard) for r in rows] == [(1, 2, 1.0)]

    # containment_pairs shares the guard: at containment >= 0.1 every
    # pair clears through "the" uncapped; capped, only 1-2 is left
    def contained(**kw):
        return containment_pairs(
            docs, "text", "doc_id", shingle_k=1, t_num=1, t_den=10, **kw
        )

    assert contained().count() == 15
    assert [tuple(r) for r in contained(df_cap=2).collect()] == [(1, 2, 1.0, 1.0)]


def test_auth_token_seal_open_and_routing(spark):
    """AES token seam (reference Fernet round-trip dags/utils.py:1941-1950):
    encrypt->decrypt is the identity, a wrong key or tampered token opens
    to NULL, and route_requests sends those rows to the 401 path."""
    from pyspark.sql import functions as F

    from ingest_pipeline_spark.engine import route_requests, seal_requests
    from ingest_pipeline_spark.functions.scalars import decrypt_token, encrypt_token

    key, wrong = "0123456789abcdef", "fedcba9876543210"
    df = spark.createDataFrame(
        [("provA", "sub1", "scan.begin", "2020-01-01 00:00:00")],
        "provider string, submission_id string, process string, ts string",
    )
    rt = df.select(
        decrypt_token(encrypt_token(F.col("process"), key), key).alias("ok"),
        decrypt_token(encrypt_token(F.col("process"), key), wrong).alias("bad"),
    ).first()
    assert rt.ok == "scan.begin" and rt.bad is None

    sealed = seal_requests(df, key).localCheckpoint()  # freeze the random IV
    assert route_requests(sealed, auth_key=key).first().dag_id == "scan_and_begin_processing"
    assert route_requests(sealed, auth_key=wrong).first().dag_id == "unauthorized"
    # tampered payload: token verifies cryptographically under the right
    # key but no longer matches the request fields -> still unauthorized
    tampered = sealed.withColumn("process", F.lit("mock.devtest"))
    assert route_requests(tampered, auth_key=key).first().dag_id == "unauthorized"
    # tampered CIPHERTEXT: under default GCM the AEAD tag check fails ->
    # decrypt yields NULL (never garbage plaintext) -> 401 path
    flipped = sealed.withColumn(
        "auth_token",
        F.concat(
            F.when(F.substring("auth_token", 1, 1) == "A", "B").otherwise("A"),
            F.substring(F.col("auth_token"), 2, 10_000),
        ),
    )
    assert route_requests(flipped, auth_key=key).first().dag_id == "unauthorized"
    # GCM tokens are non-deterministic (random IV, Fernet-like); the
    # deterministic oracle fixture remains available as mode="ECB"
    t2 = seal_requests(df, key).select("auth_token").first().auth_token
    assert sealed.select("auth_token").first().auth_token != t2
    e1 = seal_requests(df, key, mode="ECB").select("auth_token").first().auth_token
    e2 = seal_requests(df, key, mode="ECB").select("auth_token").first().auth_token
    assert e1 == e2


def test_prefix_filter_jaccard_complete_vs_inverted_index(spark, sf_dir):
    """Prefix filtering prunes candidates, never results: the pair set
    and scores must equal the exhaustive inverted-index join."""
    from ingest_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )
    from ingest_pipeline_spark.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    aug = docs.unionByName(dups)
    base = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in ngram_jaccard_pairs(
            aug, "text", "doc_id", shingle_k=3, threshold=0.8
        ).collect()
    }
    pf = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_pairs(
            aug, "text", "doc_id", t_num=4, t_den=5, shingle_k=3
        ).collect()
    }
    assert pf == base and len(pf) > 0


def test_prefix_filter_verify_has_no_candidate_checkpoint(spark):
    """The prefix filter's result reads ONE checkpointed relation, the
    shingle rows: the verify joins the candidates straight onto them,
    with no candidate checkpoint and no semi-join cut (counted as the
    distinct RDDs of the LogicalRDD leaves, the walk of
    components._release; job counts drift under AQE)."""
    from ingest_pipeline_spark.operators.dedup import prefix_filter_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "a b c d e f g h i j"),
            (3, "a b c d e f g h i x"),
            (4, "k l m n o p q r s t"),
        ],
        "doc_id long, text string",
    )
    out = prefix_filter_jaccard_pairs(
        docs, "text", "doc_id", t_num=4, t_den=5, shingle_k=1
    )
    leaves = out._jdf.queryExecution().analyzed().collectLeaves()
    ckpts = {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    }
    assert len(ckpts) == 1, ckpts
    assert [tuple(r) for r in out.orderBy("id_a", "id_b").collect()] == [
        (1, 2, 1.0),
        (1, 3, 0.818182),
        (2, 3, 0.818182),
    ]


def test_fuzzy_blocked_levenshtein_parity_with_duckdb(spark):
    """Spark and DuckDB levenshtein implement the same classic DP."""
    import duckdb
    from pyspark.sql import functions as F

    pairs = [
        ("kitten", "sitting"),
        ("small ring", "small rin"),
        ("blue bolt", "blue bole"),
        ("", "abc"),
        ("same", "same"),
    ]
    df = spark.createDataFrame(pairs, ["a", "b"]).select(
        F.levenshtein("a", "b").alias("d")
    )
    spark_d = [r["d"] for r in df.collect()]
    con = duckdb.connect()
    duck_d = [
        con.execute("SELECT levenshtein(?, ?)", [a, b]).fetchone()[0]
        for a, b in pairs
    ]
    assert spark_d == duck_d


def test_weighted_sample_favors_heavy_rows(spark):
    """A-ES inclusion probability tracks weight: with 50 rows at
    weight 1000 among 950 at weight 1, a k=25 sample is dominated by
    the heavy rows (deterministic data, deterministic draw)."""
    from ingest_pipeline_spark.operators.sampling import weighted_sample_aes
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.lit("g").alias("grp"),
        F.col("id"),
        F.when(F.col("id") < 50, 1000.0).otherwise(1.0).alias("w"),
    )
    out = weighted_sample_aes(df, "grp", "w", "id", k=25).collect()
    assert len(out) == 25
    heavy = sum(1 for r in out if r["id"] < 50)
    assert heavy >= 20, heavy
    # zero/negative weights never sampled
    df2 = df.withColumn("w", F.when(F.col("id") < 990, 0.0).otherwise(1.0))
    out2 = weighted_sample_aes(df2, "grp", "w", "id", k=25).collect()
    assert all(r["id"] >= 990 for r in out2) and len(out2) == 10


def test_skyline_window_equals_dominance_definition(spark, sf_dir):
    """The one-pass running-max skyline must equal the textbook
    NOT-EXISTS dominance definition."""
    from ingest_pipeline_spark.queries import queries
    from ingest_pipeline_spark.tables import register_views
    from pyspark.sql import functions as F

    out = {
        (r["p_retailprice"], r["p_size"])
        for r in queries()["skyline_pareto_parts"](spark, sf_dir).collect()
    }
    pts = (
        register_views(spark, sf_dir)["part"]
        .select("p_retailprice", "p_size")
        .distinct()
    )
    x, y = pts.alias("x"), pts.alias("y")
    dominated = (
        x.join(
            y,
            (F.col("y.p_retailprice") <= F.col("x.p_retailprice"))
            & (F.col("y.p_size") >= F.col("x.p_size"))
            & (
                (F.col("y.p_retailprice") < F.col("x.p_retailprice"))
                | (F.col("y.p_size") > F.col("x.p_size"))
            ),
            "leftsemi",
        )
    )
    brute = {
        (r["p_retailprice"], r["p_size"])
        for r in pts.exceptAll(dominated).collect()
    }
    assert out == brute and len(out) > 0


def test_bpe_ish_tokenizer_known_strings(spark):
    """Pin the pretokenizer semantics on known strings (the oracle
    mirrors the same regex, so a wrong pattern would be invisible to
    parity — this is the independent fixture)."""
    from pyspark.sql import functions as F

    from ingest_pipeline_spark.functions.text import tokenize_bpe_ish

    rows = spark.createDataFrame(
        [(1, "Hello, world!"), (2, "a1b2"), (3, "  x  "), (4, ""), (5, "don't stop")],
        "id int, s string",
    ).select("id", tokenize_bpe_ish(F.col("s")).alias("t")).collect()
    got = {r.id: r.t for r in rows}
    assert got[1] == ["Hello", ",", " world", "!"]
    assert got[2] == ["a", "1", "b", "2"]
    assert got[3] == [" x"]  # single leading space kept, rest dropped
    assert got[4] == []
    assert got[5] == ["don", "'", "t", " stop"]


def test_gram_partials_match_relational(spark):
    """gram_partials' scaled-int64 X'X == the relational 12-dp-rounded
    decimal formulation, bit for bit — the equivalence the
    embedding_top_component oracle parity rests on."""
    from ingest_pipeline_spark import tables
    from ingest_pipeline_spark.operators.similarity import gram_partials
    import pyspark.sql.functions as F

    emb = tables.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = {
        (r["i"], r["j"]): r["s"]
        for r in (
            gram_partials(emb)
            .groupBy("i", "j")
            .agg(F.sum(F.col("s_scaled").cast("decimal(38,0)")).alias("t"))
            .filter(F.col("j") >= 0)
            .select(
                "i",
                "j",
                (F.col("t").cast("decimal(38,12)") / F.lit(10**12))
                .cast("double")
                .alias("s"),
            )
            .collect()
        )
    }
    x = emb.select(
        F.col("vec_id").alias("id"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    ).select("id", "pos", F.round("v", 6).alias("val"))
    xa = x.select("id", F.col("pos").alias("i"), F.col("val").alias("va"))
    xb = x.select("id", F.col("pos").alias("j"), F.col("val").alias("vb"))
    want = {
        (r["i"], r["j"]): r["s"]
        for r in (
            xa.join(xb, "id")
            .groupBy("i", "j")
            .agg(
                F.sum(
                    F.round(F.col("va") * F.col("vb"), 12).cast(
                        "decimal(28,12)"
                    )
                )
                .cast("double")
                .alias("s")
            )
            .collect()
        )
    }
    assert got == want
    assert len(got) == 64 * 64


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing guarantee (Schleimer et al. 2003): two documents
    sharing a substring of length >= k + w - 1 (= 11 at k=8, w=4)
    always share at least one selected fingerprint HASH, regardless of
    surrounding context; and density ~ 2/(w+1) of the hash stream."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from ingest_pipeline_spark.functions.text import rolling_hashes

    shared = "identical common run here"  # >> 11 normalized chars
    docs = spark.createDataFrame(
        [
            (1, "left context " + shared + " tail one"),
            (2, "a totally different prefix " + shared + " other end"),
        ],
        "doc_id long, text string",
    )
    rh = rolling_hashes(docs, "text", "doc_id", k=8)
    enc = rh.select(
        F.col("id").alias("doc_id"),
        "pos",
        (F.col("rhash") * F.lit(1048576) + (F.lit(1048575) - F.col("pos"))).alias(
            "packed"
        ),
    )
    frame = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    win = enc.select(
        "doc_id",
        F.min("packed").over(frame).alias("sel"),
        F.count("*").over(frame).alias("span"),
    )
    sels = win.filter(F.col("span") == 4).select("doc_id", "sel").distinct()
    fp = {
        1: set(),
        2: set(),
    }
    for r in sels.collect():
        fp[r["doc_id"]].add(r["sel"] // 1048576)
    assert fp[1] & fp[2], "shared substring produced no shared fingerprint"
    n_hashes = {r["id"]: 0 for r in rh.collect()}
    for r in rh.collect():
        n_hashes[r["id"]] += 1
    for d in (1, 2):
        density = len(fp[d]) / n_hashes[d]
        assert 0.2 <= density <= 0.8, (d, density)
