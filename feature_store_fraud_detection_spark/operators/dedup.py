"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale design (the whole point at 100 TB):
- exact dedup = hash-groupBy on a digest, never on the raw text (shuffle
  moves 32-byte keys, not documents);
- n-gram Jaccard all-pairs is the VERIFICATION path (quadratic — only for
  bounded candidate sets); MinHash+LSH is the SCALE path: shingle ->
  K min-hashes -> band buckets -> candidates only within a bucket, so the
  self-join is on band keys (tiny) instead of documents (quadratic);
- all hashing is md5-based (portable across engines for the oracle; minimum
  over fixed-length lowercase hex strings == minimum over the encoded
  numbers, so signatures need no hex->int conversion);
- everything is built-in Column expressions (explode/groupBy/join) — zero
  Python UDFs, whole-stage codegen end to end.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from feature_store_fraud_detection_spark.functions.numeric import (
    ROUND4_SQL,
    _double_sql,
    _sql_ident,
    round4_stable,
)
from feature_store_fraud_detection_spark.lineage import iterate
from feature_store_fraud_detection_spark.operators.text_analysis import (
    doc_fingerprint,
    word_shingles,
)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by content digest: (fingerprint,
    canonical_id = min id, n_dupes). Reduce-side traffic is digests only."""
    return (
        df.select(F.col(id_col), doc_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


def fan_out_if_few_inputs(df: DataFrame, id_col: str) -> DataFrame:
    """Decouple CPU-bound per-doc work from the input file layout: when the
    source has fewer file splits than cores (a corpus delivered as one
    parquet), repartition on the doc id so downstream shingling/hashing
    parallelizes. ``inputFiles()`` is a metadata probe — no plan execution.
    At 100 TB the scan already has thousands of splits and this is a no-op
    (no shuffle added)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        few = len(df.inputFiles()) < target
    except Exception:  # non-file source (e.g. in-memory test frame)
        few = True
    return df.repartition(target, F.col(_sql_ident(id_col))) if few else df


def shingle_table(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, shingle) exploded distinct word-k-gram table — the substrate for
    both exact Jaccard and MinHash."""
    return df.select(
        F.col(id_col), F.explode(word_shingles(text_col, k)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
) -> DataFrame:
    """Exact all-pairs word-k-gram Jaccard >= threshold.

    Inverted-index self-join: pairs are generated per shared shingle and
    aggregated, so disjoint documents never meet (the join is |shared
    shingles|, not |docs|^2). Still quadratic in the worst case — use
    minhash_lsh_pairs at scale and this as the verifier on candidates.

    ``max_df`` is the hot-shingle cap (the analogue of
    ``minhash_lsh_pairs``'s ``max_bucket_size``): a boilerplate shingle
    present in 10k documents alone generates 10^8 candidate pairs before
    the threshold filter. Shingles with document frequency > max_df are
    dropped from EVERY document before the join — sizes and intersections
    are both computed over the capped vocabulary, so the Jaccard stays a
    true Jaccard of the filtered shingle sets (classic stopword removal,
    not an approximation of the unfiltered score). The df pre-aggregation
    shuffles on the same shingle key the self-join needs, so the cap rides
    the existing exchange.
    """
    # Cache exactly ONE shingle table (r13, ADVICE: the r12 shape pinned
    # BOTH the raw and the capped tables for the session lifetime). With
    # max_df set, only the CAPPED table is cached — it has four consumers
    # (sizes, both self-join sides; r12 plan audit: without its cache each
    # re-ran the df aggregation) — and the raw shingles are recomputed
    # once more during its materialization (the hot agg and the anti-join
    # input each tokenize; measured min-of-5 at sf0.1: 1.46 s capped-only
    # vs 1.41 s both-cached — noise-level — for half the pinned memory).
    # fan_out_if_few_inputs keeps the explode parallel when the corpus
    # arrives as fewer files than cores (no-op at scale).
    sh = shingle_table(fan_out_if_few_inputs(df, id_col), id_col, text_col, k)
    if max_df is not None:
        # the HOT set (df > cap) is tiny by construction, so it broadcasts
        # and the corpus side takes a narrow anti-join — the only shuffle
        # the cap adds is the map-side-combined df aggregation itself
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti").cache()
    else:
        sh = sh.cache()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            round4_stable(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "jaccard")
    )


#: Mersenne prime 2^31-1 — the modulus of the universal-hash permutation
#: family h_i(x) = (a_i*x + b_i) mod p. Small enough that a_i * x stays
#: under 2^62 (no 64-bit overflow on either engine), large enough that
#: base-hash collisions are negligible at millions of distinct shingles.
MINHASH_PRIME = (1 << 31) - 1


def minhash_perm_consts(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) constants for the K permutations. Generated
    once from a seeded RNG and embedded as LITERALS in both the Spark
    expression and the DuckDB oracle SQL — no engine RNG parity needed."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def shingle_base_hash_sql(s: str) -> str:
    """ONE md5 per shingle (``s``, SQL text) -> 60-bit int (first 15 hex
    chars) -> mod p. The K permutations derive from this single digest with
    multiply-add arithmetic; hashing cost is O(|shingles|), not
    O(K x |shingles|) (the previous per-permutation-md5 form paid 16x the
    digest work and dominated the operator's runtime). DuckDB twin:
    ``('0x' || substr(md5(s), 1, 15))::BIGINT % p``."""
    return (
        f"CAST(conv(substring(md5(encode({s}, 'UTF-8')), 1, 15), 16, 10) AS BIGINT)"
        f" % {MINHASH_PRIME}"
    )


def _perm_sigs_expr(shingles_col: str, num_hashes: int) -> Column:
    """K min-hashes straight from the shingle array as ONE nested
    higher-order expression — O(1) plan nodes where a K-column + stack form
    paid ~9 s of Catalyst time at K=16. The base-hash array is bound via a
    transform over a single-element array wrapper (the engine's let-binding
    idiom) so each shingle is md5'd exactly ONCE even though K permutations
    read it — a materialized intermediate column would be inlined K times
    by projection collapse. Constants index in by permutation position.

    Rendered as one parsed SQL string (``F.expr``) with the K constants as
    INT array literals: one py4j round-trip where the lambda Column tree
    paid one per node and per constant."""
    consts = minhash_perm_consts(num_hashes)
    a_arr, b_arr = (
        "array(" + ", ".join(str(c[j]) for c in consts) + ")" for j in (0, 1)
    )
    return F.expr(
        f"element_at(transform(array(transform({_sql_ident(shingles_col)}, "
        f"s -> {shingle_base_hash_sql('s')})), hs -> transform("
        f"sequence(0, {num_hashes - 1}), i -> array_min(transform(hs, h -> "
        f"(element_at({a_arr}, i + 1) * h + element_at({b_arr}, i + 1))"
        f" % {MINHASH_PRIME})))), 1)"
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, num_hashes: int = 16
) -> DataFrame:
    """(id, perm, minhash) — K permutation min-hashes per document, via the
    universal-hash family over one base digest per shingle (see
    :func:`shingle_base_hash_sql`).

    Computed array-locally per document — a NARROW stage with zero shuffle;
    only the final K-row-per-doc signature is ever exchanged.
    """
    shingles = df.select(
        F.col(id_col), word_shingles(text_col, k).alias("__sh")
    )
    return shingles.select(
        F.col(id_col),
        F.posexplode(_perm_sigs_expr("__sh", num_hashes)).alias("perm", "minhash"),
    ).filter(F.col("minhash").isNotNull())


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    threshold: float = 0.2,
    rows_per_band: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with exact Jaccard.

    Banding: the K min-hashes split into K/r bands of r rows; two docs are
    candidates iff some band matches on ALL r hashes
    (P[candidate | J] = 1-(1-J^r)^(K/r)). r=1 (default) maximizes recall
    at low thresholds (J=0.2, K=16 -> 97%); at 100 TB with a high-similarity
    target (J >= 0.5), r=2..4 cuts false candidates quadratically+
    (J=0.5, r=2, b=8 -> 90% recall, ~J^2 false-positive rate).
    Candidates are then verified with exact shingle Jaccard, so precision is
    exact and only recall is probabilistic. The candidate join is on band
    buckets — no quadratic document self-join.

    ``max_bucket_size`` drops band buckets holding more than that many docs
    BEFORE pair expansion — the 100 TB guard against degenerate buckets
    (boilerplate headers, empty-ish docs share a minhash and would expand
    O(n^2) pairs from one bucket). Precision is unaffected (verification is
    exact); recall only drops for pairs whose EVERY matching band is
    oversized, which at web scale are exactly the boilerplate-dominated
    pairs you don't want anyway. None (default) disables the cap.
    """
    # One shared base computes shingles AND signatures exactly once, persisted:
    # the bucket path and both verify-join sides all derive from it. Without
    # this, the shingle regex work ran 3x and the md5 work 1x, all narrow over
    # however few partitions the scan produced. Fan out first when the input
    # is fewer files than cores (inputFiles() is a metadata probe — no plan
    # execution): a single small parquet would otherwise pin the CPU-bound
    # K x |shingles| hashing to one core. At 100 TB the scan already has
    # thousands of partitions and the branch never triggers; there you would
    # also materialize `base` to parquet instead of memory (standard LSH
    # practice: signatures are written once, reused by every band pass).
    iq = _sql_ident(id_col)
    work = fan_out_if_few_inputs(df, id_col)
    base = (
        work.select(
            F.col(iq), word_shingles(F.col(_sql_ident(text_col)), k).alias("__sh")
        )
        .withColumn("__sigs", _perm_sigs_expr("__sh", num_hashes))
        .persist()
    )
    sigs = base.selectExpr(iq, "posexplode(__sigs) AS (perm, minhash)").filter(
        "minhash IS NOT NULL"
    )
    # band key = concat of the r min-hashes within the band, in perm order
    if rows_per_band == 1:
        # band == perm, key == minhash: no extra shuffle needed
        bands = sigs.selectExpr(iq, "perm AS band", "minhash AS band_key")
    else:
        bands = (
            sigs.withColumn("band", F.expr(f"floor(perm / {rows_per_band})"))
            .groupBy(F.col(iq), F.col("band"))
            .agg(
                F.expr(
                    "concat_ws('|', transform(array_sort(collect_list("
                    "struct(perm, minhash))), x -> CAST(x.minhash AS STRING)))"
                    " AS band_key"
                )
            )
        )
    # candidate pairs by grouping each band bucket and expanding pairs
    # array-locally — the signature subtree is computed ONCE (a self-join
    # would recompute it per side; Spark cannot reuse the un-exchanged probe
    # side of a broadcast join).
    buckets = (
        bands.groupBy("band", "band_key")
        .agg(F.expr(f"array_sort(collect_list({iq})) AS ids"))
        .filter("size(ids) >= 2")
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(f"size(ids) <= {int(max_bucket_size)}")
    candidates = (
        buckets.selectExpr(
            "explode(flatten(transform(ids, (x, i) -> transform(slice(ids, "
            "i + 2, greatest(size(ids) - i - 1, 0)), y -> "
            "struct(x AS id_a, y AS id_b))))) AS p"
        )
        .selectExpr("p.id_a", "p.id_b")
        .distinct()
    )
    # exact Jaccard computed ONLY for candidate pairs (a full
    # ngram_jaccard_pairs here would re-introduce the quadratic join that
    # LSH exists to avoid). The per-doc shingle ARRAYS join to the candidate
    # pairs — both sides broadcastable — and the intersection is an
    # array-local op: the verification stage needs no shuffle at all.
    return (
        candidates.join(base.selectExpr(f"{iq} AS id_a", "__sh AS __sh_a"), "id_a")
        .join(base.selectExpr(f"{iq} AS id_b", "__sh AS __sh_b"), "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            "size(array_intersect(__sh_a, __sh_b)) AS n_inter",
            "size(__sh_a) AS n_a",
            "size(__sh_b) AS n_b",
        )
        .withColumn(
            "jaccard",
            F.expr(ROUND4_SQL.format(expr="n_inter / CAST(n_a + n_b - n_inter AS DOUBLE)")),
        )
        .filter(f"jaccard >= {_double_sql(threshold)}")
        .select("id_a", "id_b", "jaccard")
    )


def duplicate_ngram_stats(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Per-document corpus-duplication signal: for each doc, the fraction of
    its distinct word-k-grams that occur in at least one OTHER document —
    the standard "duplicate n-gram fraction" filter of web-corpus pipelines
    (docs dominated by corpus-repeated n-grams are boilerplate/templates
    even when no single near-dup pair catches them).

    Scale design: the inverted index shuffles 32-char md5 digests, never
    shingle text; the per-digest doc-frequency aggregate combines map-side;
    the digest->doc join is shuffle-on-digest (both sides already keyed by
    it). Nothing is quadratic — cost is O(total shingles), same as one
    MinHash pass.
    """
    sh = shingle_table(df, id_col, text_col, k).select(
        F.col(id_col), F.md5(F.encode("shingle", "UTF-8")).alias("__h")
    )
    # shingles are distinct per doc, so count(*) per digest == doc frequency
    freq = sh.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    return (
        sh.join(freq, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ngrams"),
            F.sum(F.when(F.col("__df") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_ngrams"),
        )
        .withColumn(
            "dup_fraction",
            round4_stable(F.col("n_dup_ngrams") / F.col("n_ngrams").cast("double")),
        )
    )


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str,
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs -> (id, canonical_id).

    Iterative min-label propagation (small-star style): every node starts
    labeled with itself; each round, a node adopts the minimum label among
    itself and its neighbors; stop at fixed point. Iterations are bounded by
    the graph diameter — near-dup clusters are shallow (usually 2-3 hops),
    so this converges in a handful of rounds even at 100 TB. Each round is
    one join + one aggregate, cut by ``lineage.iterate`` so round N doesn't
    replay rounds 1..N-1; the result reads the last cut, the only state it
    leaves.

    This is the canonical "keep one doc per duplicate cluster" reducer fed
    by minhash_lsh_pairs / ngram_jaccard_pairs output.
    """
    labels = _min_labels(pairs, all_ids, id_col, max_iterations)
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("canonical_id"))


def _min_labels(
    pairs: DataFrame, all_ids: DataFrame, id_col: str, max_iterations: int = 20
) -> DataFrame:
    """:func:`dedup_clusters`' loop -> its last (node, label, __chg)
    checkpoint, for callers that release it themselves."""
    # BOTH edge directions from ONE pass over pairs (the registry's
    # _trade_edges 2-struct explode idiom; a self-UNION evaluated the whole
    # pairs pipeline twice), persisted because every round joins them —
    # for the LSH/ngram/dbscan callers an unpersisted pairs plan re-runs
    # shingles, banding or the grid join per round. Released once the
    # loop returns: its checkpoint no longer reads the edges.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                    ),
                    F.struct(
                        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .persist()
    )

    def step(state: DataFrame) -> DataFrame:
        labels = state.select("node", "label")
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # the change flag rides the checkpoint — a node's label changes iff
        # a strictly smaller neighbor label arrived — so the convergence
        # probe is a limit-1 scan of checkpoint blocks, not a |V|-vs-|V|
        # self-join per round
        return (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (
                    F.col("nbr_label").isNotNull()
                    & (F.col("nbr_label") < F.col("label"))
                ).alias("__chg"),
            )
        )

    def converged(ckpt: DataFrame, _) -> bool:
        return ckpt.filter("__chg").limit(1).count() == 0

    start = all_ids.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    )
    try:
        return iterate(step, start, max_iterations, until=converged)
    finally:
        edges.unpersist()


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """(id, simhash) — SimHash over word tokens as a bit string.

    Bit b of token t = bit (b%4) of hex digit b//4 of md5(t) (portable hex
    -> nibble -> bit extraction, no platform hash). Bit b of the document =
    sign of sum over tokens of (+-1). Near-dup docs differ in few bits
    (Hamming); grouping by the fingerprint gives coarse clusters.

    Up to 64 bits: the first 16 hex digits of the md5 carried as TWO
    32-bit ints (``hi`` = digits 0-7, ``lo`` = digits 8-15 — an unsigned
    64-bit value does not fit signed BIGINT, two halves do exactly). 64
    bits is what makes banded pair mining usable at Hamming d=3 on
    template-heavy corpora — 32-bit fingerprints collide so often there
    that d<=3 admits ~15% of ALL pairs; at 64 bits the same corpus yields
    ~1% (measured, sf0.01).

    Computed ARRAY-LOCALLY per document: each token is md5'd once (bound
    via the single-element-array let idiom so projection collapse cannot
    duplicate the digest work), and bit b tests the right half against a
    precomputed mask replicating the nibble-bit layout above. Zero
    shuffle, zero row explosion — the previous explode(|tokens| x bits) +
    groupBy form pushed 16M+ shuffle rows at sf0.1 and would be the
    scan's bottleneck at 100 TB. The sign sums are integers, so the
    result is bit-identical to the exploded form (and to the DuckDB
    oracle, which keeps the relational formulation).
    """
    from feature_store_fraud_detection_spark.operators.text_analysis import tokens

    if bits > 64:
        raise ValueError("simhash_fingerprints supports at most 64 bits")
    # mask for bit b: nibble d = b//4 sits at int bits [4*(7 - d%8), +3]
    # of its half (hi for d < 8, lo for d >= 8), so the oracle's "bit
    # (b%4) of hex digit d" is half-int bit 4*(7 - d%8) + b%4
    masks = [1 << (4 * (7 - (b // 4) % 8) + (b % 4)) for b in range(bits)]
    mask_lit = F.array(*[F.lit(m) for m in masks])
    tok_ints = F.transform(
        F.array_distinct(tokens(text_col)),
        lambda t: F.element_at(
            F.transform(
                F.array(F.md5(F.encode(t, "UTF-8"))),
                lambda m: F.struct(
                    F.conv(F.substring(m, 1, 8), 16, 10)
                    .cast("bigint")
                    .alias("hi"),
                    F.conv(F.substring(m, 9, 8), 16, 10)
                    .cast("bigint")
                    .alias("lo"),
                ),
            ),
            1,
        ),
    )
    sig = F.element_at(
        F.transform(
            F.array(tok_ints),
            lambda hs: F.concat_ws(
                "",
                F.transform(
                    F.sequence(F.lit(0), F.lit(bits - 1)),
                    lambda b: F.when(
                        F.aggregate(
                            hs,
                            F.lit(0),
                            lambda acc, v: acc
                            + F.when(
                                F.when(b < 32, v["hi"])
                                .otherwise(v["lo"])
                                .bitwiseAND(F.element_at(mask_lit, b + 1))
                                != 0,
                                1,
                            ).otherwise(-1),
                        )
                        > 0,
                        F.lit("1"),
                    ).otherwise(F.lit("0")),
                ),
            ),
        ),
        1,
    )
    return df.select(F.col(id_col), sig.alias("simhash"))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    max_id: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute force).

    Exact quadratic baseline; at scale, bucket first (similarity.lsh_buckets)
    and run this within buckets. Dot products are sequential left-folds over
    doubles — deterministic and engine-portable.
    """
    from feature_store_fraud_detection_spark.operators.similarity import (
        _dot_sql,
        with_norm,
    )

    base = df if max_id is None else df.filter(F.col(id_col) < max_id)
    v = with_norm(base, id_col, vec_col)
    a = v.alias("a")
    b = v.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            round4_stable(
                F.expr(
                    f"{_dot_sql('a.__vec_d', 'b.__vec_d')} "
                    "/ (a.__norm * b.__norm)"
                )
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 3,
    prefix_len: int = 12,
    block_len: int = 4,
    max_block_size: int | None = None,
) -> DataFrame:
    """Edit-distance near-dup pairs over a text prefix, with prefix
    blocking: candidates must share their first ``block_len`` characters
    (typos rarely hit the very head of a string; recall loss concentrates
    there by design), then exact Levenshtein on the ``prefix_len`` head
    filters to ``max_dist``.

    The classic record-linkage shape: blocking bounds the quadratic join
    to within-block, exactly like minhash banding; ``max_block_size`` drops
    degenerate blocks before pair expansion (same guard as
    ``minhash_lsh_pairs``). At scale, union several blocking functions
    (head, tail, sorted-token key) to recover head-typo pairs.
    """
    keyed = df.select(
        F.col(id_col),
        F.lower(F.substring(F.col(text_col), 1, prefix_len)).alias("__k"),
    ).withColumn("__b", F.substring("__k", 1, block_len))
    if max_block_size is not None:
        sizes = keyed.groupBy("__b").agg(F.count(F.lit(1)).alias("__bn"))
        keyed = keyed.join(
            sizes.filter(F.col("__bn") <= max_block_size).select("__b"), "__b"
        )
    a = keyed.select(
        F.col(id_col).alias("id_a"), F.col("__k").alias("__ka"), "__b"
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"), F.col("__k").alias("__kb"), "__b"
    )
    return (
        a.join(b, "__b")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("__ka", "__kb"))
        .filter(F.col("edit_dist") <= max_dist)
        .select("id_a", "id_b", "edit_dist")
    )


def minhash_doc_state(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, num_hashes: int = 16
) -> DataFrame:
    """The persistable per-document LSH index state: (id, __sigs, __sh) —
    K min-hash signatures plus the shingle array for probe-time exact
    verification. One narrow pass over the documents; write this to the
    offline store ONCE and every future ingest probes against it instead of
    re-sketching the corpus (standard LSH index practice at scale).
    """
    work = fan_out_if_few_inputs(df, id_col)
    return work.select(
        F.col(id_col),
        word_shingles(text_col, k).alias("__sh"),
    ).withColumn("__sigs", _perm_sigs_expr("__sh", num_hashes))


def minhash_bucket_index(state: DataFrame, id_col: str) -> DataFrame:
    """Band-bucket rows (band, band_key, id) derived from the doc state —
    the join-key side of the index (r=1 banding: band == permutation)."""
    return state.select(
        F.col(id_col), F.posexplode("__sigs").alias("band", "band_key")
    ).filter(F.col("band_key").isNotNull())


def minhash_probe(
    new_state: DataFrame,
    corpus_state: DataFrame,
    id_col: str,
    threshold: float = 0.2,
    max_bucket_fanout: int | None = None,
) -> DataFrame:
    """Incremental near-dup detection: probe a NEW batch's LSH state against
    the existing corpus index — (new_id, corpus_id, jaccard) for every
    cross pair over ``threshold``.

    This is the steady-state dedup shape at 100 TB: the corpus is sketched
    once (``minhash_doc_state`` persisted); each ingest batch sketches only
    itself (narrow), joins band buckets (keyed on (band, band_key) — the
    batch side is small, so this broadcasts), and verifies candidates with
    exact shingle Jaccard. Nothing about the corpus is recomputed or
    re-shuffled beyond its band keys.

    ``max_bucket_fanout`` caps how many CORPUS docs a single (band,
    band_key) bucket may hold — degenerate buckets (a stop-shingle-like
    signature value shared by thousands of docs) are dropped from the index
    before the probe join, exactly like ``minhash_lsh_pairs``'s
    ``max_bucket_size``. The cap is per-bucket, never per-document: a
    heavily duplicated NEW document still finds its matches through every
    non-degenerate bucket, so the guard bounds join fanout without ever
    clearing a duplicate's matches (which would invert the streaming
    dedup filter's purpose).
    """
    # r12 optimization (guide §5 / §2.4): each state feeds TWO subtrees —
    # its band-bucket index and its shingle side of the exact verify —
    # and when the caller composes the state lazily (the registry shape:
    # minhash_doc_state straight into the probe) every reference re-ran
    # the shingle + permutation sketch. The persist implements the
    # docstring's own contract ("the corpus is sketched once"); callers
    # that pass an already-materialized index read it from store and the
    # cache is a no-op. Not unpersisted (the lazy return reads both).
    new_state = new_state.persist()
    corpus_state = corpus_state.persist()
    nb = minhash_bucket_index(new_state, id_col).select(
        F.col(id_col).alias("new_id"), "band", "band_key"
    )
    cb = minhash_bucket_index(corpus_state, id_col).select(
        F.col(id_col).alias("corpus_id"), "band", "band_key"
    )
    if max_bucket_fanout is not None:
        sizes = cb.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("__bn")
        )
        cb = cb.join(
            sizes.filter(F.col("__bn") <= max_bucket_fanout)
            .select("band", "band_key"),
            ["band", "band_key"],
        )
    cand = (
        F.broadcast(nb)
        .join(cb, ["band", "band_key"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    a = new_state.select(F.col(id_col).alias("new_id"), F.col("__sh").alias("__sh_a"))
    b = corpus_state.select(
        F.col(id_col).alias("corpus_id"), F.col("__sh").alias("__sh_b")
    )
    scored = (
        cand.join(F.broadcast(a), "new_id")
        .join(b, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            F.size(F.array_intersect("__sh_a", "__sh_b")).alias("n_inter"),
            F.size("__sh_a").alias("n_a"),
            F.size("__sh_b").alias("n_b"),
        )
    )
    return (
        scored.withColumn(
            "jaccard",
            round4_stable(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Exact all-pairs word-k-gram CONTAINMENT: |A∩B| / |smaller set| —
    the dedup signal Jaccard misses when sizes differ wildly (a paragraph
    quoted inside a long article scores near-zero Jaccard but containment
    ~1.0; boilerplate inclusion, near-subset docs). Directional: reports
    (id_contained, id_container) with the smaller shingle set as the
    contained side (ties -> smaller id contained).

    Same inverted-index shape (and ``max_df`` hot-shingle cap) as
    :func:`ngram_jaccard_pairs` — the bounded-verification path; pre-filter
    candidates with the LSH index at scale.
    """
    # single-cache policy: see ngram_jaccard_pairs (capped-only when
    # max_df is set; raw otherwise)
    sh = shingle_table(fan_out_if_few_inputs(df, id_col), id_col, text_col, k)
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("shingle")
        )
        # capped table cached for the same reason as ngram_jaccard_pairs:
        # four consumers, each otherwise re-running the df agg + anti-join
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti").cache()
    else:
        sh = sh.cache()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    joined = inter.join(sa, "id_a").join(sb, "id_b")
    contained = F.when(F.col("n_a") < F.col("n_b"), F.col("id_a")).when(
        F.col("n_b") < F.col("n_a"), F.col("id_b")
    ).otherwise(F.least("id_a", "id_b"))
    container = F.when(F.col("n_a") < F.col("n_b"), F.col("id_b")).when(
        F.col("n_b") < F.col("n_a"), F.col("id_a")
    ).otherwise(F.greatest("id_a", "id_b"))
    return (
        joined.withColumn(
            "containment",
            round4_stable(
                F.col("n_inter") / F.least("n_a", "n_b").cast("double")
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select(
            contained.alias("id_contained"),
            container.alias("id_container"),
            "n_inter",
            "containment",
        )
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k: int = 3,
) -> DataFrame:
    """Exact shingle-Jaccard >= threshold via PREFIX FILTERING (the
    PPJoin family) — the third candidate-generation strategy next to
    banded MinHash (probabilistic) and the max_df inverted index
    (vocabulary-capped): NO false negatives and NO hot-shingle cap
    needed, because each document indexes only its ``|d| -
    ceil(t*|d|) + 1`` RAREST shingles (rarest-first global order) — any
    pair with Jaccard >= t provably shares a prefix shingle, and common
    boilerplate shingles sit at the ORDER'S TAIL, outside every prefix,
    so they never generate candidates in the first place.

    Returns (id_a, id_b, n_inter, jaccard) for pairs at/above threshold
    (4-decimal stable rounding; id_a < id_b).

    Shape at scale: shingle explode (cached once) -> df aggregate (keyed
    on shingle, map-side combined) -> per-doc rank window (keyed on doc,
    frame = the doc's own shingles) -> candidate join keyed on the PREFIX
    shingles only -> verification via per-doc shingle-set ARRAYS
    (array_intersect on the two candidate docs' sets — 2x faster than the
    token-level join+count at sf0.1, measured, and bounded by
    |candidates| rows x doc-shingle-set bytes). The prefix is what bounds
    the quadratic: a shingle generates candidates only from documents
    whose prefix it entered. Caveat: a pathological multi-MB document
    makes a multi-MB array row — chunk such corpora first (`doc_chunks`).
    """
    from pyspark.sql import Window

    sh = shingle_table(
        fan_out_if_few_inputs(df, id_col), id_col, text_col, k
    ).cache()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy(id_col).orderBy("__df", "shingle")
    ranked = (
        sh.join(dfreq, "shingle")
        .join(sizes, id_col)
        .withColumn("__rn", F.row_number().over(w))
    )
    # prefix length |d| - ceil(t*|d|) + 1: t*|d| is exact for dyadic t and
    # deterministic regardless (both engines ceil the same double)
    prefix = ranked.filter(
        F.col("__rn")
        <= F.col("__sz") - F.ceil(F.lit(float(threshold)) * F.col("__sz")) + 1
    ).select(id_col, "shingle")
    cand = (
        prefix.alias("p1")
        .join(prefix.alias("p2"), "shingle")
        .filter(F.col(f"p1.{id_col}") < F.col(f"p2.{id_col}"))
        .select(
            F.col(f"p1.{id_col}").alias("id_a"),
            F.col(f"p2.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    from feature_store_fraud_detection_spark.functions.numeric import (
        round4_stable,
    )

    arrs = sh.groupBy(id_col).agg(
        F.collect_set("shingle").alias("__arr"),
        F.count(F.lit(1)).alias("__sz"),
    )
    a = arrs.select(
        F.col(id_col).alias("id_a"),
        F.col("__arr").alias("__aa"),
        F.col("__sz").alias("__sa"),
    )
    b = arrs.select(
        F.col(id_col).alias("id_b"),
        F.col("__arr").alias("__ab"),
        F.col("__sz").alias("__sb"),
    )
    inter = F.size(F.array_intersect("__aa", "__ab"))
    jacc = round4_stable(
        inter / (F.col("__sa") + F.col("__sb") - inter).cast("double")
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", inter.alias("n_inter"), jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def lsh_recall_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    threshold: float = 0.2,
    rows_per_band: int = 1,
) -> DataFrame:
    """Dedup-index quality dashboard — the dedup twin of
    ``similarity.recall_at_k``: banded-MinHash-LSH's verified pairs
    against the UNCAPPED exact-Jaccard ground truth at the same
    threshold. Precision of the verified output is 1.0 by construction
    (every candidate passes exact verification); what the bands risk is
    RECALL — a true pair whose minhashes never collide in any band is
    silently lost, and this report is what measures that.

    One row: (n_truth, n_verified, n_missed, recall). Both inputs are
    deterministic, so the report itself hash-checks cross-engine. It is
    not a ``recall_at_k`` call because its grain differs: one global row
    over pairs, with a NULL recall when there are no true pairs, where
    ``recall_at_k`` reports per query.

    Scale: the truth side is the exact inverted-index join — run this at
    audit sf / on a sampled corpus slice, not the full 100 TB (the
    verified LSH side is the scale path being audited).
    """
    from feature_store_fraud_detection_spark.functions.numeric import (
        round4_stable,
    )

    truth = ngram_jaccard_pairs(
        df, id_col, text_col, k=k, threshold=threshold, max_df=None
    ).select("id_a", "id_b")
    verified = minhash_lsh_pairs(
        df,
        id_col,
        text_col,
        k=k,
        num_hashes=num_hashes,
        threshold=threshold,
        rows_per_band=rows_per_band,
    ).select("id_a", "id_b")
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nv = verified.agg(F.count(F.lit(1)).alias("n_verified"))
    hit = (
        truth.join(verified, ["id_a", "id_b"])
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        nt.crossJoin(F.broadcast(nv))
        .crossJoin(F.broadcast(hit))
        .select(
            "n_truth",
            "n_verified",
            (F.col("n_truth") - F.col("n_hit")).alias("n_missed"),
            # no true near-dup pairs at this threshold: recall is 0/0 —
            # NULL, never an ANSI divide-by-zero (round-10
            # degenerate-probe finding)
            round4_stable(
                F.when(
                    F.col("n_truth") > 0,
                    F.col("n_hit") / F.col("n_truth").cast("double"),
                )
            ).alias("recall"),
        )
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate PAIRS via pigeonhole banding — the classic
    web-dedup shape on top of :func:`simhash_fingerprints`: split the
    ``bits``-bit fingerprint into ``max_hamming + 1`` equal bands; two
    fingerprints within Hamming distance ``max_hamming`` must agree
    EXACTLY on at least one band (pigeonhole — d differing bits cannot
    touch all d+1 bands), so the band join has NO false negatives, and
    candidates are verified with the exact Hamming distance. Returns
    (id_a, id_b, hamming), id_a < id_b.

    Scale: |corpus| fingerprints explode to (d+1) band rows each; the
    self-join keys on (band_index, band_bits) — 8-bit bands put ~|corpus|
    / 256 docs in a bucket, and unlike MinHash bands the guarantee is
    deterministic, not probabilistic. Verification compares two 32-char
    bit strings per candidate (array-local, no further shuffle).
    """
    n_bands = max_hamming + 1
    if bits % n_bands != 0:
        raise ValueError(
            f"bits={bits} not divisible by max_hamming+1={n_bands} bands"
        )
    w = bits // n_bands
    sigs = simhash_fingerprints(df, id_col, text_col, bits)
    bands = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda i: F.struct(
                    i.alias("band"),
                    F.substring("simhash", F.lit(1) + i * w, F.lit(w)).alias(
                        "key"
                    ),
                ),
            )
        ).alias("b"),
    ).select(id_col, "simhash", "b.band", "b.key")
    a, b = bands.alias("a"), bands.alias("b2")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b2.band"))
            & (F.col("a.key") == F.col("b2.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b2.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b2.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("__sa"),
            F.col("b2.simhash").alias("__sb"),
        )
        .distinct()
    )
    hamming = F.expr(
        f"aggregate(sequence(1, {bits}), 0, (acc, i) -> acc"
        " + IF(substring(__sa, i, 1) = substring(__sb, i, 1), 0, 1))"
    )
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
