"""Deduplication operators over the `documents` table.

Five strategies, each a first-class `queries()` entry:

  exact          — hash-groupBy on content fingerprint (md5), min doc_id
                   survives. One shuffle on the fingerprint; at 100 TB the
                   md5 projection means the shuffle carries 32-byte keys,
                   not document bodies.
  ngram Jaccard  — EXACT all-pairs similarity via shingle inverted index:
                   explode distinct word-5-grams → self-join on shingle →
                   per-pair intersection counts → Jaccard. Oracle-checked.
                   The inverted-index join is the scalable formulation
                   (never materializes the full doc×doc matrix), but hot
                   shingles still fan out — that's what MinHash-LSH fixes.
  MinHash + LSH  — k=64 minhashes from xxhash64 (JVM-side, no UDF),
                   banded into b=16 bands of r=4 → candidates share a band
                   bucket → exact-Jaccard verify on candidates only.
                   Sub-quadratic: cost scales with true-duplicate density.
  SimHash        — 64-bit signature: sign-sum of per-token hash bits,
                   computed with bitwise aggregates (no UDF); Hamming-
                   distance blocking via 4×16-bit band exact match.
  embedding cosine — near-dup pairs above a cosine threshold over
                   `embeddings` (see similarity.py for the top-k variant).

All pure DataFrame expressions — no Python UDFs anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from beametrics_spark.registry import register
from beametrics_spark.sources import load_table

SHINGLE_WIDTH = 5
MINHASH_K = 64
LSH_BANDS = 16  # r = MINHASH_K / LSH_BANDS = 4 rows per band
JACCARD_THRESHOLD = 0.8

# Hot-group safety valve: a gram / LSH bucket / neighborhood key shared by
# m documents expands to C(m,2) pairs. At test SFs m stays tiny, but at
# corpus scale a boilerplate stop-gram appearing in 10^6+ docs would emit
# ~5*10^11 pairs from a single group — OOM/straggler, not slow. Groups
# larger than this cap are dropped BEFORE pair expansion. Recall argument:
# a group that hot is corpus boilerplate with ~zero discriminative signal;
# its members, if truly near-identical, are all-pairs-connected through
# many OTHER (sub-cap) groups and through the exact-dup / cluster
# pre-pass (dedup_exact, dedup_clusters), which never pair-expands.
HOT_GROUP_CAP = 1024


def drop_hot_groups(df: DataFrame, is_hot: Column, metric) -> DataFrame:
    """Filter out hot-group rows, recording how many were dropped as an
    observed metric (`n_dropped`) on the plan itself.

    ``observe`` piggybacks on the existing pass — no extra job, unlike a
    ``.count()`` — and surfaces through QueryExecutionListener (or a
    passed ``pyspark.sql.Observation``, used by tests) so a production
    run can alert on silent truncation. This is the repo's
    log-what-you-drop discipline at zero marginal cost.

    Known PySpark 4 quirk (tested in test_dedup_caps): if the WHOLE query
    result is empty, AQE's empty-relation propagation hands Observation.get
    a schema-less metrics row and its Python conversion asserts; the
    listener path and any non-empty result are unaffected.
    """
    return df.observe(
        metric, F.sum(is_hot.cast("long")).alias("n_dropped")
    ).filter(~is_hot)


def tokens_expr(text: Column) -> Column:
    """Whitespace tokenization (documents are single-space word streams)."""
    return F.split(F.trim(text), r"\s+")


def shingles_expr(text: Column, width: int = SHINGLE_WIDTH) -> Column:
    """Distinct word n-gram shingles, as an array<string>.

    Pure expression tree: transform over an index sequence + slice +
    concat; Catalyst evaluates it inside codegen, no Python boundary.
    """
    toks = tokens_expr(text)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - (width - 1))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i, width))
    )
    # guard BEFORE building the sequence: sequence(1, 0) is DESCENDING in
    # Spark, not empty — short docs must yield zero shingles explicitly
    return F.when(n >= width, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def gram_rows(
    docs: DataFrame, width: int = SHINGLE_WIDTH, *, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, s [, *keep]): word-n-gram occurrences per doc — WITH
    duplicates. ``keep`` names extra columns of ``docs`` to carry
    through the expansion (so callers needing per-gram metadata don't
    re-scan the source to join it back on).

    ZERO-SHUFFLE columnar formulation: arrays_zip of `width` shifted
    slices of the token array, exploded, concat_ws'd. arrays_zip/slice/
    explode are ordinary codegen expressions — unlike the lambda HOF
    variant (shingles_expr: interpreted per element, ~10× slower) and
    unlike the previous posexplode + window-`lead` variant, whose
    partitionBy(doc_id) sort was a full shuffle of the token table
    (measured 2.5× slower end-to-end at sf0.1).
    """
    d = (
        docs.select("doc_id", *keep, tokens_expr(F.col("text")).alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= width)  # slice length must stay positive
    )
    gram_len = F.col("n") - (width - 1)
    zipped = F.arrays_zip(
        *[F.slice("toks", i + 1, gram_len).alias(f"t{i}") for i in range(width)]
    )
    return d.select("doc_id", *keep, F.explode(zipped).alias("g")).select(
        "doc_id",
        F.concat_ws(" ", *[F.col("g")[f"t{i}"] for i in range(width)]).alias("s"),
        *keep,
    )


def gram_hash_pair_rows(docs: DataFrame, width: int = SHINGLE_WIDTH) -> DataFrame:
    """(doc_id, h1, h2): a 128-bit fingerprint per gram OCCURRENCE — two
    independently-salted multi-arg xxhash64s over the token columns.
    Like gram_hash_rows, the gram string is never materialized (no
    concat_ws allocation, no 30+-byte string rows through the shuffle);
    unlike it, the PAIR is collision-safe enough to stand in for gram
    EQUALITY (a cross-gram collision needs both 64-bit hashes to agree:
    ~G²/2¹²⁹ — vanishing even at 10¹² gram occurrences, the same
    negligibility class as the md5 keys used for exact dedup
    elsewhere), so exact-count consumers (jaccard posting lists,
    containment, df counts) can key on it."""
    d = (
        docs.select("doc_id", tokens_expr(F.col("text")).alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= width)
    )
    gram_len = F.col("n") - (width - 1)
    zipped = F.arrays_zip(
        *[F.slice("toks", i + 1, gram_len).alias(f"t{i}") for i in range(width)]
    )
    toks = [F.col("g")[f"t{i}"] for i in range(width)]
    return d.select("doc_id", F.explode(zipped).alias("g")).select(
        "doc_id",
        F.xxhash64(*toks).alias("h1"),
        F.xxhash64(F.lit("g2:"), *toks).alias("h2"),
    )


def shingle_hash_table(docs: DataFrame, width: int = SHINGLE_WIDTH) -> DataFrame:
    """(doc_id, h1, h2, n): DISTINCT gram fingerprints per doc + set
    size — the hash-keyed twin of shingle_table for consumers that
    never output gram text (dedup_ngram_jaccard, containment_dup_pairs,
    the minhash audit's pair branch). Same ONE-exchange shape as
    shingle_table: hash(doc_id) satisfies both the (doc_id, h1, h2)
    dedup aggregate and the per-doc count window. The fingerprint pair
    replaces the gram STRING everywhere downstream: the dedup
    aggregate, the count window, the posting-list groupBy and its sort
    all compare/shuffle two longs instead of a ~30-byte string (and the
    string is never even built — see gram_hash_pair_rows)."""
    from pyspark.sql import Window

    grams = (
        gram_hash_pair_rows(docs, width)
        .repartition("doc_id")
        .dropDuplicates(["doc_id", "h1", "h2"])
    )
    return grams.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )


def shingle_table(docs: DataFrame, width: int = SHINGLE_WIDTH) -> DataFrame:
    """(doc_id, s, n): DISTINCT shingles per doc + set size.

    ONE exchange (round 13): hash(doc_id) satisfies BOTH the
    (doc_id, s) dedup aggregate (clustering by a SUBSET of the grouping
    keys is a valid distribution) and the per-doc count window, so the
    gram-string table crosses the network once. The r6 shape paid two
    full gram-table shuffles back to back — distinct's (doc_id, s)
    exchange, then the window's (doc_id) exchange; the plan now shows a
    single Exchange hashpartitioning(doc_id) under both operators.
    The repartition forgoes distinct's map-side partial dedup, but
    in-document duplicate 5-gram rates are low (word-stream fixture and
    natural text alike), so the extra bytes are far cheaper than the
    second shuffle they replace."""
    from pyspark.sql import Window

    grams = (
        gram_rows(docs, width)
        .repartition("doc_id")
        .dropDuplicates(["doc_id", "s"])
    )
    return grams.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )


# --- exact dedup ------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content fingerprint, keep the smallest doc_id
    (deterministic, unlike dropDuplicates' arbitrary row)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# --- exact n-gram Jaccard pairs (oracle-checked ground truth for LSH) ---------


NGRAM_ORACLE = rf"""
WITH d AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - {SHINGLE_WIDTH - 1}, 0)),
           i -> array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), i, i + {SHINGLE_WIDTH - 1}), ' ')
         )) AS sh
  FROM documents
),
ex AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM d),
-- mirror of the Spark side's HOT_GROUP_CAP: posting lists larger than
-- the cap are dropped BEFORE pair expansion in both engines, so the
-- check stays exact even at an SF where some shingle's document
-- frequency exceeds the cap (ADVICE r5)
cold AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= {HOT_GROUP_CAP}),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS c, any_value(a.n) AS na, any_value(b.n) AS nb
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN cold ON cold.s = a.s
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, ROUND(c * 1.0 / (na + nb - c), 3) AS jaccard
FROM pairs WHERE c * 1.0 / (na + nb - c) >= {JACCARD_THRESHOLD}
"""


@register("dedup_ngram_jaccard", NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs: Jaccard >= 0.8 on word-5-gram sets.

    Inverted-index formulation over the columnar shingle table: group by
    shingle (one shuffle), emit pairs from each posting list, count common
    shingles per pair. |union| = na + nb - common rides along with each
    row — no second pass, and the doc x doc matrix never materializes.
    """
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs)


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    cap=HOT_GROUP_CAP,
    cap_metric="ngram_hot_grams",
) -> DataFrame:
    """Pair generation body, parameterized so tests can plant hot grams.

    Posting lists larger than `cap` are dropped before pair expansion
    (see HOT_GROUP_CAP). When the cap triggers, pairs whose overlap
    depended on the dropped boilerplate gram lose that one contribution
    to `c` — an explicit approximation, observable via the `cap_metric`
    drop count; it never triggers at the shipped SFs (max posting list
    ~tens of docs), so oracle parity is exact there. The aggregation
    buffer itself stays O(df) per gram — for corpora where single-gram
    df can reach 10^8 (GB-scale buffers), pre-filter stop-grams with a
    map-combinable df-count semi-join before this inverted index.

    Round 13: posting lists are keyed on the 128-bit gram fingerprint
    pair (shingle_hash_table) — gram strings are never built, and the
    posting groupBy shuffles/compares two longs per row instead of a
    ~30-byte string. Values are unchanged: equal grams hash equal, and
    a cross-gram pair collision (~G²/2¹²⁹) is in the same
    negligibility class as the md5 fingerprints the exact-dedup
    operators already rely on.
    """
    sh = shingle_hash_table(docs)
    posting = (
        sh.groupBy("h1", "h2")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    posting = drop_hot_groups(posting, F.size("ds") > cap, cap_metric)
    pairs = explode_sorted_pairs(
        posting,
        "ds",
        lambda a, b: [
            a["doc_id"].alias("doc_a"),
            b["doc_id"].alias("doc_b"),
            a["n"].alias("na"),
            b["n"].alias("nb"),
        ],
    ).groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("c"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
    )
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        pairs.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 3).alias("jaccard"))
    )


def explode_sorted_pairs(groups: DataFrame, ds: str, build) -> DataFrame:
    """All ordered pairs (i < j) of each group's sorted array, expanded
    via CHAINED GENERATES — posexplode the array, then explode the
    suffix slice after each element. Both Generate nodes run in
    whole-stage codegen; the lambda-HOF formulation (nested transform +
    flatten) is interpreted per element and measured 1.5× slower
    end-to-end on simhash at sf0.1 (4.3 s → 2.9 s). Group sizes are
    already bounded by drop_hot_groups, so the per-row array copy the
    posexplode carries is ≤ cap elements.

    ``build(a, b)`` maps the element pair to output columns.
    """
    b2 = groups.select(F.col(ds), F.posexplode(ds).alias("_i", "_a"))
    rest = F.slice(
        F.col(ds),
        F.col("_i") + 2,
        F.greatest(F.size(ds) - F.col("_i") - 1, F.lit(0)),
    )
    return b2.select(F.col("_a"), F.explode(rest).alias("_b")).select(
        *build(F.col("_a"), F.col("_b"))
    )


# --- MinHash + LSH (the scale path) -------------------------------------------


def minhash_expr(shingles: Column, k: int = MINHASH_K) -> Column:
    """k minhash values: min over shingles of xxhash64(seed_i ++ shingle).

    xxhash64 is Spark's JVM hash — evaluated in codegen. Simulating k
    independent hash functions by prefixing a per-function seed string is
    the standard trick (equivalent to a salted hash family).
    """
    return F.array(
        *[
            F.array_min(
                F.transform(shingles, lambda s: F.xxhash64(F.lit(f"mh{i}:"), s))
            )
            for i in range(k)
        ]
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    *,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """(doc_a, doc_b) candidates that agree on at least one LSH band."""
    return lsh_candidates_from_shingles(gram_rows(docs), k=k, bands=bands)


def gram_hash_rows(docs: DataFrame, width: int = SHINGLE_WIDTH) -> DataFrame:
    """(doc_id, _fp): a 64-bit fingerprint per gram OCCURRENCE, hashing the
    `width` token columns directly with multi-arg xxhash64 — the gram
    string is never materialized on this path (250k+ concat_ws
    allocations per 5k docs skipped; strings are only built later for the
    handful of candidate docs that need exact verification). Identical
    token windows hash identically, which is all a minhash family needs.
    """
    d = (
        docs.select("doc_id", tokens_expr(F.col("text")).alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= width)
    )
    gram_len = F.col("n") - (width - 1)
    zipped = F.arrays_zip(
        *[F.slice("toks", i + 1, gram_len).alias(f"t{i}") for i in range(width)]
    )
    toks = [F.col("g")[f"t{i}"] for i in range(width)]
    return d.select("doc_id", F.explode(zipped).alias("g")).select(
        "doc_id", F.xxhash64(*toks).alias("_fp")
    )


def minhash_table(sh: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """doc_id → k minhash columns h0..h{k-1} from the exploded shingle table.

    A single codegen'd hash aggregation with k min() columns over
    per-function re-hashes of a single gram fingerprint (see
    _minhash_from_base_hashes for why re-hashing beats the linear
    Kirsch-Mitzenmacher shortcut here). Versus the HOF formulation
    (minhash_expr, kept for the expression-level API) this is one pass,
    no interpreted array traversal.
    """
    hashed = sh.select("doc_id", F.xxhash64(F.col("s")).alias("_fp"))
    return _minhash_from_base_hashes(hashed, k)


def _minhash_from_base_hashes(hashed: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """k min-aggregates of per-function re-hashes of the gram fingerprint.

    h_i(gram) = xxhash64(i, fp(gram)) — hashing the 8-byte fingerprint
    per function is a few ns, and each i yields a genuinely independent
    ordering of the grams. The classic Kirsch-Mitzenmacher shortcut
    (h1 + i*h2) is NOT valid for minhash: the argmin of a linear
    combination, swept over i, only ever lands on the convex hull of the
    (h2, h1) point set — a ~log-sized subset of the grams — so the k
    "functions" collapse to a handful of distinct minima and banding
    recall drops from ≈1 to ≈j (measured: 250/255 true pairs at sf0.1).
    """
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("_fp"))).alias(f"h{i}")
            for i in range(k)
        ]
    )


def lsh_candidates_from_shingles(
    sh: DataFrame,
    *,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """LSH banding over (doc_id, s) gram rows.

    Duplicate gram occurrences are harmless: min-hash over a multiset
    equals min-hash over its distinct set.
    """
    return _candidates_from_sigs(minhash_table(sh, k), k=k, bands=bands)


def lsh_candidates(
    docs: DataFrame,
    *,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    cap: int = HOT_GROUP_CAP,
    cap_metric="lsh_hot_buckets",
) -> DataFrame:
    """Candidate pairs straight from documents via the string-free hash
    path (gram_hash_rows) — the hot-path entry point."""
    return _candidates_from_sigs(
        _minhash_from_base_hashes(gram_hash_rows(docs), k),
        k=k,
        bands=bands,
        cap=cap,
        cap_metric=cap_metric,
    )


def _candidates_from_sigs(
    sigs: DataFrame,
    *,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    cap: int = HOT_GROUP_CAP,
    cap_metric="lsh_hot_buckets",
) -> DataFrame:
    r = k // bands
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[F.col(f"h{bi * r + j}") for j in range(r)]
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band", "b.bucket")
    # group-by-bucket pair generation (single scan; see dedup_ngram_jaccard)
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # hot-bucket cap (HOT_GROUP_CAP): >cap docs agreeing on a full band
    # signature are mutually near-identical boilerplate — pair expansion
    # there is C(m,2); they stay connected through the exact-dup /
    # cluster pre-pass, so dropping the bucket costs no real recall
    buckets = drop_hot_groups(buckets, F.size("ids") > cap, cap_metric)
    return explode_sorted_pairs(
        buckets,
        "ids",
        lambda a, b: [a.alias("doc_a"), b.alias("doc_b")],
    ).distinct()


@register("dedup_minhash_lsh", NGRAM_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-verified.

    Candidates from band collisions (16 bands × 4 rows ⇒ P[candidate] ≈
    1-(1-j⁴)¹⁶, >0.99 for j ≥ 0.8), then EXACT Jaccard verification on the
    candidate set only. Because verification is exact and the threshold
    (0.8) sits where band-recall ≈ 1, the output matches the brute-force
    oracle — so this entry shares the n-gram ground-truth SQL.

    Cost structure: signatures come from RAW gram occurrences — the
    minimum of a hash family over a multiset equals the minimum over its
    distinct set, so the distinct shuffle and per-doc set-size pass are
    skipped entirely on the hot path. Exact set semantics (distinct + n)
    are only materialized for the few candidate docs.
    """
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs)


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Candidate generation + exact verification body, reusable over any
    documents frame (corpus_dedup_keep_list builds on it)."""
    # candidates are referenced twice below (id extraction + join) and are
    # tiny — checkpoint THEM, not the shingle table, so the heavy
    # gram→minhash→banding pipeline runs exactly once
    candidates = lsh_candidates(docs).localCheckpoint(eager=True)
    # exact verification needs shingle SETS — but only for candidate docs,
    # a tiny subset. Build each doc's set as ONE array row (collect_set),
    # broadcast both sides, and verify with array_intersect: the pair
    # join is then shuffle-free, vs the shingle-level join + groupBy-pair
    # formulation (two extra shuffles; measured 2.3× slower end-to-end).
    # Candidate sets are per-doc small by construction — near-dup docs,
    # not the corpus — so the arrays stay well under broadcast limits.
    cand_ids = candidates.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    # Round 13: ONE broadcast of the candidate shingle sets, probed by
    # both join sides. The r6 shape eagerly checkpointed sets_df and
    # broadcast two per-side PROJECTIONS of it (aliased a/b) — two
    # BroadcastExchanges with different children, so nothing could be
    # reused and the checkpoint barrier was the only thing stopping a
    # duplicated scan. Broadcasting the IDENTICAL sets plan twice lets
    # the second exchange become a ReusedExchange (canonicalized-plan
    # match), so the gram build for candidate docs runs once with NO
    # materialization barrier; the per-side column renames move to the
    # join outputs.
    # Round 13 probe note (OPTIMIZATION_r13.md: verification is ~7 s of the
    # ~12-15 s sf1 wall): two cheaper set ENCODINGS were A/B'd
    # interleaved and REJECTED — (h1, h2) hash-pair STRUCT elements
    # measured 2x SLOWER than the gram strings (30 vs 15 s median:
    # array_intersect leaves the primitive-specialized path for complex
    # element types), and a 16-byte binary concat is blocked by ANSI
    # (no bigint -> binary cast). Gram strings stay — exact, and the
    # measured best.
    sets_df = (
        gram_rows(docs.join(F.broadcast(cand_ids), "doc_id"))
        .groupBy("doc_id")
        .agg(F.collect_set("s").alias("sh"))
    )
    a = F.broadcast(sets_df).alias("_va")
    b = F.broadcast(sets_df).alias("_vb")
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        candidates.join(a, F.col("doc_a") == F.col("_va.doc_id"))
        .join(b, F.col("doc_b") == F.col("_vb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_va.sh", "_vb.sh"))
            .cast("double")
            .alias("c"),
            F.size("_va.sh").alias("na"),
            F.size("_vb.sh").alias("nb"),
        )
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 3).alias("jaccard"))
    )


# --- SimHash ---------------------------------------------------------------------


SIMHASH_BITS = 60  # 15 hex chars of md5 — fits signed 64-bit in BOTH engines
SIMHASH_BANDS = 4  # 4 × 15-bit bands; Hamming ≤ 3 ⇒ ≥1 band identical
_BAND_W = SIMHASH_BITS // SIMHASH_BANDS
_BAND_MASK = (1 << _BAND_W) - 1
# Packed bit-count lanes for the signature aggregate: 20 longs, each
# holding _LANE_DEPTH=3 counters of _LANE_W=21 bits (bits L, L+20, L+40
# share the lane long of L). 20·3 = 60 = SIMHASH_BITS.
_LANE_STRIDE = 20
_LANE_DEPTH = SIMHASH_BITS // _LANE_STRIDE
_LANE_W = 21

# The oracle recomputes the identical signature in DuckDB: same md5-based
# token hash, same per-bit sign sums, same banding. Generated
# programmatically — 60 aggregate expressions are mechanical either way.
_SIMHASH_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS tok
  FROM documents
),
h AS (
  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::UBIGINT::BIGINT AS h
  FROM toks
),
bits AS (
  SELECT doc_id,
         {", ".join(f"CASE WHEN sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END AS b{i}" for i in range(SIMHASH_BITS))}
  FROM h GROUP BY doc_id
),
sig AS (SELECT doc_id, ({" + ".join(f"b{i}" for i in range(SIMHASH_BITS))}) AS sig FROM bits),
banded AS (
  SELECT doc_id, sig, band, (sig >> (band * {_BAND_W})) & {_BAND_MASK} AS bucket
  FROM sig, (SELECT unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS band)
),
-- the hot-bucket cap is PART OF THE OPERATOR CONTRACT (not a Spark-side
-- approximation): buckets above HOT_GROUP_CAP are excluded from pair
-- generation in both engines, so results match at every SF. This corpus
-- is simhash-degenerate (15-bit bands over a tiny vocabulary: buckets
-- up to ~1.6k docs at sf0.1), exactly the blow-up the cap bounds.
kept AS (
  SELECT doc_id, sig, band, bucket FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band, bucket) AS bs FROM banded
  ) WHERE bs <= {HOT_GROUP_CAP}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b)) AS hamming
FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= 3
"""


def md5_hash60(col: Column) -> Column:
    """Deterministic 60-bit integer hash shared with the DuckDB oracle:
    first 15 hex chars of md5, parsed base-16. 60 bits stays inside the
    signed long range of both engines (no ANSI overflow)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


@register("dedup_simhash_pairs", _SIMHASH_ORACLE)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: 60-bit signatures, pairs with Hamming
    distance ≤ 3, blocked on 4×15-bit bands — by pigeonhole, ≤3 differing
    bits leave ≥1 of the 4 bands identical, so band-blocking has recall 1
    at this threshold (the classic Manku-et-al. configuration) over
    SUB-CAP buckets. Buckets larger than HOT_GROUP_CAP are excluded from
    pair generation BY CONTRACT — the cap appears in the DuckDB oracle
    too, so results match at every SF. This matters here: the word-salad
    corpus is simhash-degenerate (15-bit bands over a ~40-word
    vocabulary ⇒ buckets up to ~1.6k docs at sf0.1), exactly the C(m,2)
    blow-up the cap exists to bound; a pair whose only shared band is a
    dropped hot bucket may still surface through its other 3 bands.

    Signature = for each bit position: sign of Σ_tokens (±1 by token-hash
    bit). Built from groupBy aggregates over exploded tokens — no UDF.
    The token hash is md5-derived (not xxhash64) so the DuckDB oracle can
    recompute identical signatures — values checked, not just shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs)


def simhash_pairs(
    docs: DataFrame,
    *,
    cap: int = HOT_GROUP_CAP,
    cap_metric="simhash_hot_bucket_rows",
) -> DataFrame:
    """Signature + banding + self-join body, parameterized for tests."""
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_expr(F.col("text")))).alias("tok")
    ).withColumn("h", md5_hash60(F.col("tok")))
    # per-bit counts → sign bit; assemble the 60-bit signature.
    # Arithmetic identity: Σ(±1 by bit) = 2·Σbit − n, so the sign test
    # "Σ(±1) > 0" becomes "2·Σbit > n" — a branch-free integer count per
    # bit. The counts are PACKED: lane L (0.._LANE_STRIDE-1) accumulates
    # bits {L, L+20, L+40} at 21-bit offsets within ONE long, cutting
    # the aggregation buffer from 60 sum columns to 20 (the r04
    # verdict's one weak perf row: signature stage measured 2.25 s →
    # 0.72 s at sf0.1, whole query 1.99 s → under the 2×-DuckDB bar).
    # 21-bit lanes carry counts to 2,097,151 distinct tokens per doc —
    # physically implausible for one document, and the raise_error guard
    # below makes an overflow loud instead of silently corrupting
    # signatures. Identical signature values; oracle untouched.
    bit_sums = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                sum(
                    [
                        F.shiftleft(
                            F.shiftright(F.col("h"), L + _LANE_STRIDE * k)
                            .bitwiseAND(F.lit(1))
                            .cast("long"),
                            _LANE_W * k,
                        )
                        for k in range(1, _LANE_DEPTH)
                    ],
                    F.shiftright(F.col("h"), L).bitwiseAND(F.lit(1)).cast("long"),
                )
            ).alias(f"p{L}")
            for L in range(_LANE_STRIDE)
        ],
    )

    def _cnt(i: int) -> Column:
        return F.shiftright(
            F.col(f"p{i % _LANE_STRIDE}"), _LANE_W * (i // _LANE_STRIDE)
        ).bitwiseAND(F.lit((1 << _LANE_W) - 1))

    # Branch-free sign-bit assembly: bit_i = (2·cnt_i > n) extracted as
    # the sign of (n − 2·cnt_i) via an unsigned 63-shift — no 60-way
    # CASE WHEN chain. Besides the per-row cost, this roughly halves the
    # generated-code size of the projection, which matters in a
    # many-query session: the JVM codegen cache holds ~100 classes, so
    # back-to-back benchmarks recompile this expression every run.
    sig = bit_sums.select(
        "doc_id",
        F.when(
            F.col("n") >= (1 << _LANE_W),
            F.raise_error(
                F.lit(
                    "simhash packed-lane counter overflow: a document has "
                    f">= {1 << _LANE_W} distinct tokens; widen _LANE_W in "
                    "dedup.py (fewer, wider lanes)"
                )
            ).cast("long"),
        )
        .otherwise(
            sum(
                [
                    F.shiftleft(
                        F.shiftrightunsigned(F.col("n") - 2 * _cnt(i), 63), i
                    )
                    for i in range(SIMHASH_BITS)
                ],
                F.lit(0).cast("long"),
            )
        )
        .alias("sig"),
    )
    banded = sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftrightunsigned(F.col("sig"), bi * _BAND_W)
                        .bitwiseAND(F.lit(_BAND_MASK))
                        .alias("bucket"),
                    )
                    for bi in range(SIMHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "sig", "b.band", "b.bucket")
    # grouped pair generation (same shape as the LSH path): one shuffle on
    # (band, bucket), hot buckets capped BEFORE C(m,2) expansion. This
    # replaced a banded self-join — besides the unbounded hot-bucket
    # fan-out, a self-join duplicates the whole signature pipeline into
    # both branches (and an observe metric below a self-join is collected
    # twice with merge-order semantics — unreliable).
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sig"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    buckets = drop_hot_groups(buckets, F.size("ds") > cap, cap_metric)
    pairs = explode_sorted_pairs(
        buckets,
        "ds",
        lambda a, b: [
            a["doc_id"].alias("doc_a"),
            b["doc_id"].alias("doc_b"),
            a["sig"].alias("sig_a"),
            b["sig"].alias("sig_b"),
        ],
    )
    # Hamming filter BEFORE the multi-band dedup: xor+bit_count is one
    # codegen'd expression per exploded row, and survivors (near-dups)
    # are a vanishing fraction of the C(m,2) bucket expansion — so the
    # distinct's shuffle carries only final pairs instead of every
    # banded candidate (measured 3.3 s → 1.1 s for the pair stage at
    # sf0.1). distinct-after-filter ≡ filter-after-distinct here:
    # hamming is a pure function of the (sig_a, sig_b) row.
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


# --- embedding cosine near-dup ------------------------------------------------------


EMB_DIM = 64  # testdata embedding width (TESTDATA.md) — the unroll fast-path target


def _sum_chain(terms):
    """Left-associative sum chain ((t0+t1)+t2)+... — the same addition
    order as an F.aggregate fold seeded with 0.0 (0.0+t0 == t0 in IEEE
    for every t0 except the sign of -0.0), so swapping one in for the
    other cannot move a rounded 6-decimal value."""
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc


def _guarded(a: Column, b: Column, dim, fast: Column, slow: Column) -> Column:
    if dim is None:
        return slow
    ok = F.size(a) == dim
    if b is not None:
        ok = ok & (F.size(b) == dim)
    return F.when(ok, fast).otherwise(slow)


def dot_expr(a: Column | str, b: Column | str, dim: int | None = EMB_DIM) -> Column:
    """Dot product of two array<double> columns. With a known width the
    sum unrolls into a whole-stage-codegen expression chain — measured
    ~40x faster than the interpreted HOF fold on 64-dim vectors — with
    a per-row size guard falling back to the fold (bit-identical
    addition order, see _sum_chain) for any other width.

    Pass column NAMES (str) when possible: the unrolled chain is then
    built as ONE ``F.expr`` SQL string — a single py4j round-trip —
    instead of ~4·dim Column-API calls, each of which is a driver
    socket round-trip (profiled at ~0.5 s of pure driver time PER CALL
    SITE at dim=64; this dominated ann_ivf_recall_audit's wall clock
    before round 8). The SQL text parses to the identical expression
    tree: left-associative ``+`` chain, 0-based ``[]`` array indexing,
    ``0.0D`` double literal seeding the fold."""
    if isinstance(a, str) and isinstance(b, str) and dim is not None:
        fast = " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(dim))
        return F.expr(
            f"CASE WHEN size({a})={dim} AND size({b})={dim} THEN {fast} "
            f"ELSE aggregate(zip_with({a},{b},(x,y)->x*y), 0.0D, "
            f"(acc,w)->acc+w) END"
        )
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    slow = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    if dim is None:
        return slow
    fast = _sum_chain([a[i] * b[i] for i in range(dim)])
    return _guarded(a, b, dim, fast, slow)


def norm_expr(a: Column | str, dim: int | None = EMB_DIM) -> Column:
    """L2 norm of an array<double> column — unrolled like dot_expr
    (and like dot_expr, one F.expr parse when given a column name)."""
    if isinstance(a, str) and dim is not None:
        fast = " + ".join(f"{a}[{i}]*{a}[{i}]" for i in range(dim))
        return F.expr(
            f"CASE WHEN size({a})={dim} THEN sqrt({fast}) "
            f"ELSE sqrt(aggregate({a}, 0.0D, (acc,w)->acc+w*w)) END"
        )
    slow = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    if dim is None:
        return slow
    fast = F.sqrt(_sum_chain([a[i] * a[i] for i in range(dim)]))
    return _guarded(a, None, dim, fast, slow)


def cosine_expr(a: Column | str, b: Column | str, dim: int | None = EMB_DIM) -> Column:
    """Cosine similarity of two array<double> columns — JVM-side, no
    UDF. Whole-stage-codegen unrolled at the known embedding width,
    interpreted zip_with/aggregate fold for any other width."""
    return dot_expr(a, b, dim) / (norm_expr(a, dim) * norm_expr(b, dim))


@register(
    "dedup_embedding_cosine",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.45
    """,
)
def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, *, allow_quadratic: bool = False
) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ 0.45 (testdata max ≈ 0.51).

    Brute-force all-pairs — correct baseline; the LSH-bucketed variant in
    similarity.py is the 100-TB path. Guarded: refuses to run above
    MAX_QUADRATIC_ROWS so the baseline can't be reached by accident at
    scale. Both engines compute in float64 (embeddings cast from float32)
    so only summation-order noise remains, absorbed by round(…, 6).
    """
    from beametrics_spark.functions import guard_quadratic

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    emb = guard_quadratic(
        emb,
        "embeddings",
        scale_path="dedup_minhash_lsh / ann_cosine_topk_lsh",
        allow_quadratic=allow_quadratic,
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    sim = cosine_expr(F.col("va"), F.col("vb"))
    return (
        pairs.withColumn("cos_sim_raw", sim)
        .filter(F.col("cos_sim_raw") >= 0.45)
        .select("id_a", "id_b", F.round("cos_sim_raw", 6).alias("cos_sim"))
    )


# --- Edit-distance-1 pairs (SymSpell deletion neighborhood) -------------------


@register(
    "dedup_edit_distance_pairs",
    """
    WITH keys AS (
      SELECT DISTINCT 'item-' || CAST(doc_id // 2 AS VARCHAR)
             || CASE WHEN doc_id % 2 = 1 THEN 'x' ELSE '' END AS s
      FROM documents
    )
    SELECT a.s AS str_a, b.s AS str_b, levenshtein(a.s, b.s) AS ed
    FROM keys a JOIN keys b ON a.s < b.s
    WHERE levenshtein(a.s, b.s) <= 1
    """,
)
def dedup_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level near-duplicate keys: all DISTINCT string pairs within
    edit distance 1, via the SymSpell deletion-neighborhood join.

    Every pair within one edit shares a deletion-neighborhood key
    ({s} ∪ every single-character deletion of s) — deletion covers
    insertion/substitution/equality case by case — so no true pair can
    be missed; the intersection is a strict superset of ED ≤ 1 (e.g.
    'ab'/'ba' share 'a' at distance 2), which is why candidates pay an
    exact levenshtein verification. Instead of an O(n²) levenshtein
    matrix, each string emits |s|+1 neighborhood keys and candidates
    meet through an inverted-index join on the key.
    At 100 TB vocabulary scale the shuffle carries short neighborhood
    strings, never pairs. The oracle is the brute-force all-pairs
    ground truth, so a blocking scheme that lost a pair would
    hash-mismatch — completeness is value-verified, not assumed.

    Fixture keys are derived from doc_id (corpus text is word salad
    with a ~40-word vocabulary — degenerate for this operator): even/odd
    ids form planted ED-1 pairs, and near-serial ids ('item-123' vs
    'item-124') meet as substitution pairs.
    """
    docs = load_table(spark, sf_dir, "documents")
    keys = docs.select(
        F.concat(
            F.lit("item-"),
            (F.col("doc_id") / 2).cast("long").cast("string"),
            F.when(F.col("doc_id") % 2 == 1, F.lit("x")).otherwise(F.lit("")),
        ).alias("s")
    ).distinct()
    return edit_distance_pairs(keys)


def edit_distance_pairs(
    keys: DataFrame,
    *,
    cap: int = HOT_GROUP_CAP,
    cap_metric="edit_distance_hot_keys",
) -> DataFrame:
    """Deletion-neighborhood join body over a (s: string) vocabulary,
    parameterized so tests can feed real vocabularies and hot keys."""
    # deletion neighborhood: the string itself + each single-char deletion.
    # Guard empty strings BEFORE building the sequence: sequence(1, 0) is
    # DESCENDING in Spark ([1, 0]), which would emit spurious neighborhood
    # keys for blank entries in a real vocabulary (unreachable with the
    # fixture's 'item-…' keys, guarded anyway).
    keys = keys.filter(F.length("s") > 0)
    positions = F.sequence(F.lit(1), F.length("s"))
    deletions = F.transform(
        positions,
        lambda i: F.concat(
            F.col("s").substr(F.lit(1), i - 1),
            F.col("s").substr(i + 1, F.length("s")),
        ),
    )
    neighborhood = F.array_union(F.array(F.col("s")), deletions)
    exploded = keys.select("s", F.explode(neighborhood).alias("nk"))
    # grouped pair generation with a hot-key cap (was a self-join on nk,
    # which both fans out C(m,2) join rows on a hot key and duplicates
    # the neighborhood pipeline into both branches). Note the recall
    # semantics of a TRIGGERED cap here: unlike the gram paths, a
    # substitution pair shares exactly ONE neighborhood key, so dropping
    # a hot key is an explicit approximation (observable via the metric,
    # never triggered at shipped SFs) — a key that hot means Ω(cap)
    # strings within ~2 edits of one another, a degenerate blob whose
    # pairwise expansion is the OOM the cap exists to prevent.
    groups = (
        exploded.groupBy("nk")
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
        .filter(F.size("ss") > 1)
    )
    groups = drop_hot_groups(groups, F.size("ss") > cap, cap_metric)
    cand = explode_sorted_pairs(
        groups,
        "ss",
        lambda a, b: [a.alias("str_a"), b.alias("str_b")],
    ).distinct()
    ed = F.levenshtein("str_a", "str_b")
    return cand.filter(ed <= 1).select("str_a", "str_b", ed.alias("ed"))


# --- incremental dedup (new batch vs existing corpus) -------------------------


# Shared with stream_incremental_dedup_parity (stream_parity.py): the
# streaming foreachBatch pipeline must converge to exactly this batch
# classification when the drop arrives as micro-batches.
INCREMENTAL_ORACLE = """
    WITH corpus AS (
      SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id < 400
    ),
    batch AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id >= 400
    ),
    in_batch_first AS (
      SELECT fp, MIN(doc_id) AS first_id FROM batch GROUP BY fp
    )
    SELECT b.doc_id,
           CASE
             WHEN c.fp IS NOT NULL THEN 'dup_of_corpus'
             WHEN b.doc_id > f.first_id THEN 'dup_in_batch'
             ELSE 'new'
           END AS status
    FROM batch b
    LEFT JOIN corpus c ON b.fp = c.fp
    JOIN in_batch_first f ON b.fp = f.fp
"""


@register("dedup_incremental_batch", INCREMENTAL_ORACLE)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: classify each document of a new drop
    (doc_id >= 400 stands in for the incoming batch) as a duplicate of
    the existing corpus, a duplicate within the batch, or genuinely new.

    This is the shape a continuously-growing corpus runs on every
    ingest: the historical side reduces to DISTINCT 16-byte
    fingerprints ONCE (at 100 TB that fingerprint table is the
    persistent dedup index — a few TB, bucketed by fp so this join is
    exchange-free on the corpus side), the batch side is only the new
    drop, and nothing ever rescans historical document bodies.
    Corpus-dup beats batch-dup in the classification: a document equal
    to history is 'dup_of_corpus' even if repeated within the batch.
    """
    docs = load_table(spark, sf_dir, "documents")
    return classify_incremental(
        docs.filter(F.col("doc_id") < 400),
        docs.filter(F.col("doc_id") >= 400),
    )


def classify_incremental(corpus: DataFrame, batch: DataFrame) -> DataFrame:
    """(doc_id, status) for each batch doc: dup_of_corpus | dup_in_batch
    | new. Separated from the registry entry so tests can feed corpora
    that actually contain duplicates (the small SFs don't)."""
    corpus_fp = corpus.select(F.md5("text").alias("fp")).distinct()
    batch_fp = batch.select("doc_id", F.md5("text").alias("fp"))
    first_in_batch = batch_fp.groupBy("fp").agg(F.min("doc_id").alias("first_id"))
    joined = batch_fp.join(
        corpus_fp.withColumn("_in_corpus", F.lit(True)), "fp", "left"
    ).join(first_in_batch, "fp")
    status = (
        F.when(F.col("_in_corpus").isNotNull(), F.lit("dup_of_corpus"))
        .when(F.col("doc_id") > F.col("first_id"), F.lit("dup_in_batch"))
        .otherwise(F.lit("new"))
    )
    return joined.select("doc_id", status.alias("status"))
