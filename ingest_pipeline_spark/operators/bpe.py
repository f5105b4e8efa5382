"""Distributed BPE vocabulary induction (merge learning).

The classic byte-pair-encoding trainer (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units") learns
a merge table from a WORD HISTOGRAM, not the raw corpus: the only
corpus-scale pass is pretokenize → groupBy(word) → count; every merge
round then runs against the vocabulary-sized histogram relation.  That
is exactly the shape that survives 100 TB — a trillion-token corpus
still collapses to a ~10⁷-row histogram, and the rounds never touch
the corpus again.

Spark-first design per round (fixpoint discipline of
operators/graph.py pagerank — localCheckpoint cadence, bounded
driver-side state):

1. pair counting: two shifted ``slice``s zipped + explode → groupBy
   (a, b) → weighted sum — all built-ins, one vocab-sized shuffle;
2. argmax: ``ORDER BY cnt DESC, a, b LIMIT 1`` collect of ONE row
   (deterministic tiebreak);
3. merge application: the symbol sequence lives as a \\x1f-joined
   string and the merge is ONE codegen'd ``regexp_replace`` with a
   trailing-separator lookahead — left-to-right non-overlapping
   replacement reproduces the reference trainer's greedy scan exactly
   (a freshly merged token can never re-match as the left element in
   the same round because its length grew);
4. the histogram relation is localCheckpointed every 4 rounds so
   lineage never unrolls across more than 4 regex passes.

Reference capability matched: none (the reference pipeline has no
tokenizer training; LLM-extension mandate).  The learned merge table
is verified against a pure-Python reference trainer on the real
corpus (tests/test_bpe.py) — the mirrored-constant guard for
estimators applied to an iterative operator.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# U+001F (unit separator): cannot appear in pretokens — the BPE-ish
# pretokenizer emits letter/digit runs and \s-free punctuation runs,
# and \x1f is whitespace-class-free but excluded by the histogram
# guard below for safety.
SEP = "\x1f"

# merge rounds (chained regex passes) between histogram checkpoints
_CHECKPOINT_EVERY = 4


def _merge_pattern(a: str, b: str) -> str:
    """Non-overlapping greedy merge pattern for one (a, b) pair."""
    return re.escape(SEP + a + SEP + b) + "(?=" + re.escape(SEP) + ")"


def _quote_replacement(s: str) -> str:
    """Escape Java Matcher replacement metachars (backslash, $)."""
    return s.replace("\\", "\\\\").replace("$", "\\$")


def pair_counts(rep: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts over a (freq, s) histogram relation
    where ``s`` is the SEP-joined symbol string: returns (a, b, cnt)
    with cnt = Σ word-freq over occurrences.  Two shifted slices +
    arrays_zip + explode — vocabulary-sized input, one shuffle.
    """
    arr = F.split(F.regexp_replace("s", f"^{SEP}|{SEP}$", ""), SEP)
    n = F.size(arr)
    zipped = F.arrays_zip(
        F.slice(arr, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(arr, 2, F.greatest(n - 1, F.lit(0))),
    )
    return (
        rep.select("freq", F.explode(zipped).alias("p"))
        .select(
            F.col("p").getField("0").alias("a"),
            F.col("p").getField("1").alias("b"),
            "freq",
        )
        .groupBy("a", "b")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )


def word_histogram(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The single corpus-scale pass: BPE-ish pretokenize → histogram
    (word, freq).  Map-side partial aggregation collapses each
    partition to its local vocabulary before the shuffle.
    """
    from ..functions.text import tokenize_bpe_ish

    return (
        docs.select(
            F.explode(tokenize_bpe_ish(F.col(text_col))).alias("word")
        )
        .filter(~F.col("word").contains(SEP))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )


def _accept_batch(
    rows: "list",
    budget: int,
    min_count: int,
    alias_exists: "dict[str, bool]",
) -> "list[tuple[str, str, int]]":
    """Greedy EXACT batch acceptance over census rows sorted by
    (cnt DESC, a, b) — the sequential argmax order.  A prefix of the
    sorted list is accepted such that applying all accepted merges at
    once provably equals applying them one sequential round at a time:

    * PREFIX, never skip: the first unacceptable row truncates the
      batch, so every row above any accepted pair is itself accepted —
      which is what makes the counts of accepted pairs exact (they are
      pairwise symbol-disjoint, so no earlier merge in the batch can
      touch their occurrences).
    * SYMBOL-DISJOINT incl. concatenations: a pair is rejected if its
      left/right/merged symbol collides with any already-accepted
      left/right/merged symbol.
    * STRICT BOUNDARY: accepted counts must exceed the count of the
      first excluded row.  Every pair a batch merge can create or
      inflate is count-bounded by an old pair ADJACENT to an accepted
      merge (a new (x, ab) occurrence consumes an old (x, a)
      adjacency); adjacent pairs share a symbol, hence are excluded,
      hence sit at or below the boundary — strictly below every
      accepted count, so no created pair can beat or tie a later
      accepted pair.
    * ALIAS STOP: if an accepted pair's concatenation already exists
      as a vocabulary symbol (probed against the live histogram), its
      merge INFLATES existing pairs involving that symbol beyond their
      census counts, so nothing after it can be trusted — it becomes
      the last accepted pair of the round.
    """
    accepted: list[tuple[str, str, int]] = []
    used: set[str] = set()
    boundary = 0
    for i, row in enumerate(rows):
        a, b, cnt = row["a"], row["b"], int(row["cnt"])
        if len(accepted) >= budget or cnt < min_count:
            boundary = cnt if cnt >= min_count else 0
            break
        concat = a + b
        if used & {a, b, concat}:
            boundary = cnt
            break
        accepted.append((a, b, cnt))
        used |= {a, b, concat}
        if alias_exists.get(concat, False):
            # next collected row bounds every excluded pair; at the
            # window edge fall back to the alias row's own count
            # (conservative: the truncation below then pops it)
            boundary = int(rows[i + 1]["cnt"]) if i + 1 < len(rows) else cnt
            break
    else:
        # the caller sizes budget <= len(rows) - 1, so exhausting the
        # walk means the census itself ran out — nothing is excluded
        boundary = 0
    while len(accepted) > 1 and accepted[-1][2] <= boundary:
        accepted.pop()
    return accepted


def learn_bpe_merges(
    spark: SparkSession,
    words: DataFrame,
    n_merges: int = 50,
    min_count: int = 2,
    batch_cap: int = 16,
) -> DataFrame:
    """Learn up to ``n_merges`` BPE merges from a (word, freq)
    histogram.  Returns a DataFrame (rank int, left string, right
    string, pair_count bigint) — rank is merge order (0-based), the
    model artifact a tokenizer ships.  Stops early when the best
    remaining pair's weighted count falls below ``min_count``.

    Rounds are BATCHED: each census collects the top ``batch_cap + 1``
    pairs and accepts an exactness-preserving prefix (see
    ``_accept_batch`` — prefix + symbol-disjoint + strict boundary +
    alias stop), applied as ONE chained projection.  The merge list is
    IDENTICAL to one-merge-per-round training (batched == sequential
    unit in tests/test_bpe.py); at a realistic 32k vocab the round
    count collapses from 32k census jobs to the order of hundreds —
    ``batch_cap=1`` recovers the strictly sequential trainer.

    Driver-side state is <= batch_cap + 1 collected census rows per
    round plus the bounded merge list — never the histogram.

    Each round recounts every histogram row (one explode → shuffle →
    agg over the vocabulary-sized relation).
    """
    rep = words.select(
        "freq",
        F.concat(
            F.lit(SEP), F.array_join(F.split("word", ""), SEP), F.lit(SEP)
        ).alias("s"),
    ).localCheckpoint(eager=True)

    merges: list[tuple[int, str, str, int]] = []
    pending = 0  # regex passes since the last checkpoint
    while len(merges) < n_merges:
        # the alias probe rides INSIDE the census action (r14): the old
        # shape collected the census, then issued a SECOND sequential
        # driver job probing candidate concatenations with up-to-16
        # contains() scans over the live rep — at bench scale the loop
        # is driver-round-trip-bound (22 rounds for the 30-merge corpus
        # run) and the serial probe scan sat on the critical path every
        # late round.  Folding it into the census action as a join
        # against the exploded distinct symbol set removes that serial
        # scan (interleaved same-session A/B at sf0.1: 7.1-7.6 s ->
        # 6.6-6.7 s, merges identical).  Equivalence: a concat c (SEP-free by
        # construction) occurs as SEP+c+SEP in some row's symbol
        # string iff c equals one of that row's symbols, so a left
        # join of census pairs against the exploded distinct symbol
        # set of the SAME live rep computes exactly the old
        # per-concat contains() probe.  2-char concats keep their
        # probe-free contract (a+b single chars: the only merge that
        # builds ab is (a, b) itself, after which its census count is
        # zero — see _accept_batch) via the length mask below.
        symbols = (
            rep.select(
                F.explode(
                    F.split(
                        F.regexp_replace("s", f"^{SEP}|{SEP}$", ""), SEP
                    )
                ).alias("__cc")
            )
            .distinct()
            .withColumn("__alias", F.lit(True))
        )
        top = (
            pair_counts(rep)
            .withColumn("__cc", F.concat("a", "b"))
            .join(
                symbols,
                ["__cc"],
                "left",
            )
            .select(
                "a",
                "b",
                "cnt",
                (
                    F.coalesce(F.col("__alias"), F.lit(False))
                    & (F.length("__cc") > 2)
                ).alias("alias_hit"),
            )
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(batch_cap + 1)
            .collect()
        )
        if not top or int(top[0]["cnt"]) < min_count:
            break
        alias_exists = {
            r["a"] + r["b"]: bool(r["alias_hit"]) for r in top
        }
        batch = _accept_batch(
            top, min(batch_cap, n_merges - len(merges)), min_count,
            alias_exists,
        )
        if not batch:
            break
        col = F.col("s")
        for a, b, cnt in batch:
            merges.append((len(merges), a, b, cnt))
            col = F.regexp_replace(
                col, _merge_pattern(a, b), _quote_replacement(SEP + a + b)
            )
        rep = rep.withColumn("s", col)
        pending += 1
        # cadence, not per-round: one pending chained-regex pass is
        # cheap to recompute from the last checkpoint, and each eager
        # checkpoint is a full job — amortize it
        if pending >= _CHECKPOINT_EVERY:
            rep = rep.localCheckpoint(eager=True)
            pending = 0

    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count bigint"
    )


def apply_bpe_merges(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Segment ``text_col`` with a learned merge list: adds a
    ``bpe_tokens array<string>`` column.  Encoding applies the merges
    in LEARNED ORDER (rank), each as the same greedy non-overlapping
    regexp_replace used during training, chained into one codegen'd
    projection — row-local, zero shuffles, scan-bound at any scale.
    """
    from ..functions.text import tokenize_bpe_ish

    word = F.concat(
        F.lit(SEP), F.array_join(F.split("__w", ""), SEP), F.lit(SEP)
    )
    for a, b in merges:
        word = F.regexp_replace(
            word, _merge_pattern(a, b), _quote_replacement(SEP + a + b)
        )
    toks = F.split(F.regexp_replace(word, f"^{SEP}|{SEP}$", ""), SEP)
    # posexplode + sort_array(struct(pos, …)) keeps word order across
    # the regroup shuffle (collect_list alone is order-nondeterministic)
    exploded = docs.withColumn(
        "__pre", tokenize_bpe_ish(F.col(text_col))
    ).select(*docs.columns, F.posexplode_outer("__pre").alias("__i", "__w"))
    per_word = exploded.withColumn(
        "__t", F.when(F.col("__w").isNull(), F.array()).otherwise(toks)
    )
    return per_word.groupBy(*docs.columns).agg(
        F.flatten(
            F.sort_array(
                F.collect_list(F.struct("__i", "__t"))
            ).getField("__t")
        ).alias("bpe_tokens")
    )
