"""Distributed BPE tokenizer training: learn byte-pair-encoding merge rules
from a corpus — the tokenizer-fitting step of an LLM data pipeline, usually
done by a single-node library; here it is a DataFrame loop that scales to
any corpus because every iteration works on the DISTINCT-WORD table, never
the corpus.

Algorithm (textbook BPE, Sennrich et al. 2016, simplified: no end-of-word
marker, merges apply within words):
  1. word counts: one corpus pass -> (word, count); Heaps' law makes this
     table tiny relative to the corpus, and it is the only state.
  2. per round: count adjacent symbol pairs weighted by word count
     (map-side-combined aggregate), take the arg-max pair under the total
     order (count DESC, left, right), rewrite every word's symbol sequence
     by greedily merging that pair left-to-right.

Cross-engine determinism — the part that lets a SQL oracle hash-check the
LEARNED MERGE TABLE: a word's symbol sequence is represented as the string
``' s1  s2  ...  sn '`` (every symbol carries its OWN leading and trailing
space). Greedy left-to-right merge of pair (l, r) is then EXACTLY
``replace(repr, ' l  r ', ' lr ')`` — plain non-overlapping substring
replace, which Spark's ``F.replace`` and DuckDB's ``replace`` implement
identically (adjacent matches don't share delimiter characters, so the scan
picks up immediately after each replacement — verified on the 'a a a a'
overlap case). No regex, no fold-order ambiguity.

Scale notes: each round is one narrow pair-explode + one aggregate over the
word table, an arg-max LIMIT 1 (driver collects ONE row — bounded metadata,
like the sampler configs), and one narrow rewrite projection. A
``lineage.checkpoint`` every 3rd round truncates the growing lineage and
releases the cut it supersedes; the last cut and the word-count cache are
freed before returning, since the merge table is built on the driver. The
corpus itself is read once, for the persisted word counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_store_fraud_detection_spark.lineage import checkpoint, release
from feature_store_fraud_detection_spark.operators.text_analysis import tokens


def _word_repr(word: Column) -> Column:
    """' c1  c2  ...  cn ' — each character wrapped in its own spaces."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: word.substr(i, F.lit(1)),
    )
    return F.concat_ws(
        "", F.transform(chars, lambda c: F.concat(F.lit(" "), c, F.lit(" ")))
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    num_merges: int = 6,
    merges_per_round: int = 1,
) -> DataFrame:
    """Learn ``num_merges`` BPE merge rules from the corpus; returns the
    merge table (step, left_sym, right_sym, merged, pair_count) — small,
    deterministic, and hash-checkable cross-engine.

    ``merges_per_round=1`` is exact sequential greedy BPE (one pair-count
    aggregate + one single-row collect per merge) and is what the SQL
    oracle expresses. ``merges_per_round=N>1`` is the standard parallel-BPE
    batching trick: each round collects the top ``4*N`` candidate pairs
    (one bounded driver collect), greedily keeps up to N whose symbol sets
    — including the newly minted merged symbols — are pairwise disjoint,
    and applies them all in ONE chained-replace projection. Disjointness
    means no kept pair's adjacency counts could have been changed by an
    earlier kept pair's merge, so each kept rule equals what sequential
    BPE would have learned *unless* an unkept emergent pair (x, l+r)
    overtakes a kept one mid-batch — the documented, industry-standard
    approximation. Driver round-trips drop from ``num_merges`` to
    ``~num_merges/N``: a 32k-merge vocabulary at N=64 is ~500 Spark jobs,
    not 32k sequential ones.
    """
    spark: SparkSession = df.sparkSession
    # the word table persists lazily: the first round's pair count fills it
    word_counts = words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(_word_repr(F.col("w")).alias("r"), "cnt")
        .persist()
    )
    cut, rounds = None, 0
    merges: list[tuple[int, str, str, str, int]] = []
    try:
        while len(merges) < num_merges:
            syms = F.split(F.expr("substring(r, 2, length(r) - 2)"), "  ")
            pairs = (
                # single-symbol words have no pairs (and Spark's sequence(1, 0)
                # would count DOWN, indexing past the array) — filter them out
                words.where(F.size(syms) > 1)
                .select(
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(1), F.size(syms) - 1),
                            lambda i: F.struct(
                                F.element_at(syms, i).alias("l"),
                                F.element_at(syms, i + 1).alias("rr"),
                            ),
                        )
                    ).alias("p"),
                    "cnt",
                )
                .groupBy("p.l", "p.rr")
                .agg(F.sum("cnt").alias("pc"))
            )
            want = min(merges_per_round, num_merges - len(merges))
            top = (
                pairs.orderBy(F.col("pc").desc(), "l", "rr")
                .limit(max(want * 4, 1))
                .collect()
            )
            if not top:
                break
            # greedy batch selection: keep candidates (in rank order) whose
            # {left, right, merged} symbols are disjoint from every symbol a
            # kept candidate touches or mints — those merges commute and none
            # invalidates another's round-start count
            batch: list[tuple[str, str, int]] = []
            used: set[str] = set()
            for row in top:
                l, r, pc = row["l"], row["rr"], row["pc"]
                if not used & {l, r, l + r}:
                    batch.append((l, r, pc))
                    used |= {l, r, l + r}
                    if len(batch) >= want:
                        break
            col: Column = F.col("r")
            for l, r, pc in batch:
                merges.append((len(merges) + 1, l, r, l + r, pc))
                col = F.replace(col, F.lit(f" {l}  {r} "), F.lit(f" {l}{r} "))
            words = words.select(col.alias("r"), "cnt")
            # cut every 3rd round while merges remain; each cut supersedes
            # the last, and the merge table below is built on the driver,
            # so no cut (nor the word cache) outlives the call
            rounds += 1
            if rounds % 3 == 0 and len(merges) < num_merges:
                words, _ = checkpoint(words)
                release(cut)
                cut = words
    finally:
        word_counts.unpersist()
        release(cut)
    return spark.createDataFrame(
        merges,
        "step int, left_sym string, right_sym string, merged string, pair_count bigint",
    )


def bpe_encode_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Apply a learned merge list to every document and report the per-doc
    BPE token count — the 'how many tokens is my corpus under this
    tokenizer' question.

    Words are joined with a '|' separator (never part of a ' l  r '
    pattern) so merges cannot cross word boundaries; the symbol count is
    then spaces/2, since each symbol carries exactly its own two spaces.
    Pure narrow projections — one literal ``replace`` per rule, no shuffle.
    """
    # drop zero-length tokens (empty/whitespace-only text splits to [''])
    # BEFORE _word_repr — its sequence(1, length) would count DOWN on
    # length 0 and emit two phantom symbols, diverging from the SQL
    # oracle's range(1, 1) = []. Mirrors the length guard in bpe_train.
    per_word = F.transform(
        F.filter(tokens(F.col(text_col)), lambda w: F.length(w) > 0),
        _word_repr,
    )
    col = F.concat_ws("|", per_word)
    for l, r in merges:
        col = F.replace(col, F.lit(f" {l}  {r} "), F.lit(f" {l}{r} "))
    n_spaces = F.length(col) - F.length(F.replace(col, F.lit(" "), F.lit("")))
    return df.select(
        F.col(id_col),
        (n_spaces / 2).cast("int").alias("bpe_tokens"),
    )
