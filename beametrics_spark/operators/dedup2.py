"""Substring-granularity and semantic dedup — the second generation of
corpus dedup operators.

Document-level dedup (dedup.py: exact / Jaccard / MinHash-LSH /
SimHash) misses the dominant real-world contamination shape: two
mostly-different pages sharing a long verbatim span (boilerplate,
quoted passages, licence headers). The substring-level operators here
detect that shape the way the suffix-array dedup of "Deduplicating
Training Data Makes Language Models Better" (Lee et al., 2022) does —
find every maximal cross-document duplicated token run of length >= W
— but expressed Spark-first: positional shingle hashing + island
merging instead of a monolithic suffix array, because shingle tables
shard horizontally across executors while a suffix array does not.

Three operators:

1. dedup_substring_runs — per doc: how many maximal duplicated runs,
   how many tokens they cover (exact interval union), longest run.
2. passage_dedup_rate — Dolma-style fixed-width passage dedup (the
   corpus has no newlines, so passages are 16-token blocks rather than
   paragraphs): per source, what fraction of passages occur more than
   once corpus-wide.
3. semdedup_prune_list — SemDeDup (Abbas et al., 2023): cluster the
   embedding space, then prune near-duplicate pairs WITHIN each
   cluster only — the quadratic cosine step drops from O(n^2) to
   O(sum_c |c|^2), the property that makes semantic dedup feasible at
   100 TB where the all-pairs baseline (dedup_embedding_cosine) is
   guard-blocked.

The reference has no dedup machinery of any kind (SURVEY.md §2.2 — its
pipeline is filter→window→count, beametrics/pipeline.py:164-186);
these are part of the mandated LLM-scale extension surface.

Every shuffle in this module carries 16-byte md5 hashes or small ids —
never document bodies; the md5 keys are shared bit-for-bit with the
DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from beametrics_spark.registry import register
from beametrics_spark.sources import load_table

RUN_WIDTH = 8  # tokens; a duplicated run is >= RUN_WIDTH shared tokens
PASSAGE_WIDTH = 16  # tokens per non-overlapping passage block
SEM_MIN_CLUSTERS = 8  # SemDeDup cluster-count floor at tiny corpus sizes
SEM_TAU = 0.35  # within-cluster cosine prune threshold
SEM_TARGET_CLUSTER = 64  # fixed target cluster SIZE -> k grows with n
SEM_SEED_MULT = 2654435761  # Knuth multiplicative hash (same device as ivf audit)


# ---------------------------------------------------------------------------
# 1. cross-document duplicated substring runs
# ---------------------------------------------------------------------------

_SUBSTRING_RUNS_ORACLE = rf"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
         len(regexp_split_to_array(trim(text), '\s+')) AS n
  FROM documents
  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= {RUN_WIDTH}
),
occ AS (
  SELECT doc_id, n,
         unnest(generate_series(1, n - {RUN_WIDTH} + 1)) - 1 AS pos
  FROM d
),
hocc AS (
  SELECT o.doc_id, o.n, o.pos,
         md5(array_to_string(list_slice(d.toks, o.pos + 1, o.pos + {RUN_WIDTH}), ' ')) AS h
  FROM occ o JOIN d USING (doc_id)
),
dup AS (
  SELECT h FROM (SELECT DISTINCT h, doc_id FROM hocc)
  GROUP BY h HAVING count(*) >= 2
),
docc AS (SELECT o.doc_id, o.n, o.pos FROM hocc o JOIN dup USING (h)),
isl AS (
  SELECT doc_id, n, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM docc
),
runs AS (
  SELECT doc_id, n, min(pos) AS s, max(pos) + {RUN_WIDTH} - 1 AS e
  FROM isl GROUP BY doc_id, n, grp
),
flagged AS (
  SELECT doc_id, n, s, e,
         CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS DISTINCT FROM NULL
               AND s <= max(e) OVER (PARTITION BY doc_id ORDER BY s
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 0 ELSE 1 END AS nf
  FROM runs
),
grp2 AS (
  SELECT doc_id, n, s, e,
         sum(nf) OVER (PARTITION BY doc_id ORDER BY s) AS cg
  FROM flagged
),
merged AS (
  SELECT doc_id, n, min(s) AS cs, max(e) AS ce
  FROM grp2 GROUP BY doc_id, n, cg
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(sum(ce - cs + 1) AS BIGINT) AS dup_tokens,
       CAST(max(ce - cs + 1) AS BIGINT) AS longest_run_tokens,
       ROUND(sum(ce - cs + 1) * 1.0 / any_value(n), 4) AS dup_token_frac
FROM merged GROUP BY doc_id
"""


@register("dedup_substring_runs", _SUBSTRING_RUNS_ORACLE)
def dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document duplicated token runs per doc (exact).

    Pipeline (no pair expansion ANYWHERE — this is what lets substring
    dedup run where the pairwise operators need LSH):

      1. positional shingles: every RUN_WIDTH-token gram with its start
         offset, keyed by a 128-bit hash PAIR — two multi-arg xxhash64
         calls straight over the token columns (independent salts), so
         the gram string is NEVER materialized (no concat_ws, no md5;
         the r12 shape built a 32-char md5 hex string per occurrence).
         128 bits keeps cross-gram collisions in md5's negligibility
         class (~G²/2¹²⁹ — vanishing even at 10¹² grams, where a single
         64-bit key would already collide). arrays_zip/slice/posexplode,
         all whole-stage codegen; shuffles carry (two longs, doc_id,
         int) rows only.
      2. cross-doc grams: a gram is duplicated iff its distinct-doc
         count >= 2 ⟺ min(doc_id) != max(doc_id) over its occurrences —
         ONE map-side-combinable hash aggregation (the r12 shape paid a
         distinct THEN a count, two full shuffles back to back; the
         min/max partial aggregate ships ~|distinct grams| rows, not
         occurrences); no posting-list materialization, so no
         HOT_GROUP_CAP is needed (a boilerplate gram shared by 10^6
         docs costs two comparisons, not 10^12 pairs). The gram
         expansion runs once per branch (dup aggregate + occurrence
         join) — pure codegen CPU, no exchange; an explicit
         repartition-for-ReusedExchange was tried and REJECTED: AQE
         replans the join side independently (no stage reuse fired),
         and the forced occurrence shuffle costs more than the second
         expansion while forfeiting the aggregate's map-side partial.
         AQE broadcasts the dup-gram set when it is small (local
         scales) and falls back to one hash/sort join keyed on the
         16-byte pair at corpus scale.
      3. islands: consecutive duplicated gram offsets chain into runs
         (pos − row_number() grouping) under a per-doc window — the
         partition key is doc_id, so state per task is one document's
         gram list, bounded by doc length.
      4. exact cover: runs whose token intervals overlap (gap < W)
         merge via the classic running-max-end interval union, again
         per-doc windows. dup_tokens is the EXACT union size — summing
         raw run spans would double-count tokens shared by two runs.

    Output: one row per doc that contains at least one duplicated run.
    """
    from beametrics_spark.operators.dedup import tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    W = RUN_WIDTH
    d = (
        docs.select("doc_id", tokens_expr(F.col("text")).alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= W)
    )
    gram_len = F.col("n") - (W - 1)
    zipped = F.arrays_zip(
        *[F.slice("toks", i + 1, gram_len).alias(f"t{i}") for i in range(W)]
    )
    toks = [F.col("g")[f"t{i}"] for i in range(W)]
    occ = (
        d.select("doc_id", "n", F.posexplode(zipped).alias("pos", "g"))
        .select(
            "doc_id",
            "n",
            "pos",
            F.xxhash64(*toks).alias("h1"),
            F.xxhash64(F.lit("sr2:"), *toks).alias("h2"),
        )
    )

    dup_h = (
        occ.groupBy("h1", "h2")
        .agg(F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx"))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("h1", "h2")
    )
    docc = occ.join(dup_h, ["h1", "h2"]).select("doc_id", "n", "pos")

    by_pos = Window.partitionBy("doc_id").orderBy("pos")
    isl = docc.withColumn("grp", F.col("pos") - F.row_number().over(by_pos))
    runs = isl.groupBy("doc_id", "n", "grp").agg(
        F.min("pos").alias("s"), (F.max("pos") + W - 1).alias("e")
    )

    by_s = Window.partitionBy("doc_id").orderBy("s")
    prev_max_e = F.max("e").over(
        by_s.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = runs.withColumn(
        "nf",
        F.when(prev_max_e.isNotNull() & (F.col("s") <= prev_max_e), 0).otherwise(1),
    )
    merged = (
        flagged.withColumn("cg", F.sum("nf").over(by_s))
        .groupBy("doc_id", "n", "cg")
        .agg(F.min("s").alias("cs"), F.max("e").alias("ce"))
    )
    cover = F.col("ce") - F.col("cs") + 1
    return merged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.sum(cover).alias("dup_tokens"),
        F.max(cover).alias("longest_run_tokens"),
        F.round(F.sum(cover) / F.first("n"), 4).alias("dup_token_frac"),
    )


# ---------------------------------------------------------------------------
# 2. passage-level dedup rate
# ---------------------------------------------------------------------------

_PASSAGE_DEDUP_ORACLE = rf"""
WITH d AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS toks,
         len(regexp_split_to_array(trim(text), '\s+')) AS n
  FROM documents
  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= {PASSAGE_WIDTH}
),
occ AS (
  SELECT doc_id, source,
         unnest(generate_series(1, n - {PASSAGE_WIDTH} + 1, {PASSAGE_WIDTH})) AS st
  FROM d
),
p AS (
  SELECT o.source,
         md5(array_to_string(list_slice(d.toks, o.st, o.st + {PASSAGE_WIDTH} - 1), ' ')) AS h
  FROM occ o JOIN d USING (doc_id)
),
cnt AS (SELECT h, count(*) AS c FROM p GROUP BY h)
SELECT p.source,
       CAST(count(*) AS BIGINT) AS n_passages,
       CAST(sum(CASE WHEN cnt.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages,
       ROUND(sum(CASE WHEN cnt.c >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS dup_rate
FROM p JOIN cnt USING (h)
GROUP BY p.source
"""


def passage_occurrences(docs: DataFrame) -> DataFrame:
    """(source, h): md5 of every non-overlapping PASSAGE_WIDTH-token
    block — shared by the batch operator and its streaming twin
    (stream_passage_dedup_parity) so the passage definition cannot
    drift between them."""
    from beametrics_spark.operators.dedup import tokens_expr

    P = PASSAGE_WIDTH
    d = (
        docs.select("source", tokens_expr(F.col("text")).alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= P)
    )
    return d.select(
        "source",
        "toks",
        F.explode(F.sequence(F.lit(1), F.col("n") - P + 1, F.lit(P))).alias("st"),
    ).select(
        "source", F.md5(F.concat_ws(" ", F.slice("toks", F.col("st"), P))).alias("h")
    )


@register("passage_dedup_rate", _PASSAGE_DEDUP_ORACLE)
def passage_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-passage rate, Dolma-paragraph-dedup shape.

    Documents split into NON-overlapping PASSAGE_WIDTH-token blocks
    (the corpus is newline-free word soup, so fixed blocks stand in for
    paragraphs; a real corpus would split on '\\n' first — same plan);
    a passage is duplicated iff its exact text occurs >= 2 times
    corpus-wide (including twice within one doc). Non-overlapping
    blocks mean the corpus expands ~1/P rows per token — compare the
    W-per-token expansion of the overlapping shingle operators — so
    this is the cheap screen that runs before run-level dedup.

    Two hash aggregations over md5 keys + one hash join (global count
    back to occurrences); all codegen, no UDF, nothing quadratic.
    """
    occ = passage_occurrences(load_table(spark, sf_dir, "documents"))
    cnt = occ.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    return (
        occ.join(cnt, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum((F.col("c") >= 2).cast("long")).alias("n_dup_passages"),
            F.round(
                F.sum((F.col("c") >= 2).cast("long")) / F.count(F.lit(1)), 4
            ).alias("dup_rate"),
        )
    )


# ---------------------------------------------------------------------------
# 3. SemDeDup — cluster-then-prune semantic dedup
# ---------------------------------------------------------------------------

# The quantizer-tree protocol below exists twice — once as generated
# SQL text (_sem_oracle_sql) and once as DataFrame code — mirrored
# rule-for-rule so they cannot drift; every argmax / tie / fallback /
# self-routing rule is identical.
#
# Cross-engine float caveat (ADVICE r6 #4, accepted risk): Spark's
# unrolled left-associative sum chains (dedup.dot_expr/_sum_chain) add
# in the SAME order as DuckDB's list_dot_product / list_sum, so the two
# engines agree bit-for-bit except where one fuses a multiply-add the
# other doesn't — a sub-ulp divergence that could in principle flip an
# argmax between two near-identical centroids or a cos == SEM_TAU
# boundary row. No such near-tie exists in the test corpora (hash-green
# r6/r7 and the fixture sweep in tests/test_round6_ops.py); accepted
# and documented rather than tolerance-banded because the outputs are
# integer ids, not values a band could absorb. The tree's self-routing
# rule ("a centroid already present in a level routes to itself") is
# part of the PROTOCOL in both engines, so it never depends on a
# cos(c, c) == 1 tie resolving a particular way.

SEM_BRANCH = 8  # constant tree branching B (VERDICT r7 #2)
SEM_UPPER_LEVELS = 5  # static unroll depth; level sizes self-degenerate


def _sem_argmax_cte(out, items, item_id, vec, lvl, prev=None, id_out=None):
    """One descent step as a SQL CTE: argmax list_dot_product over the
    level's centroids, restricted to children of the item's previous
    node when ``prev`` is given (level tables carry a parent column),
    ties to the lowest fid."""
    ido = id_out or item_id
    if prev is None:
        src = f"FROM {items} i CROSS JOIN {lvl} t"
    else:
        src = (
            f"FROM {items} i JOIN {prev} d ON d.{ido} = i.{item_id} "
            f"JOIN {lvl} t ON t.parent = d.node"
        )
    return f"""{out} AS MATERIALIZED (
  SELECT {ido}, node FROM (
    SELECT i.{item_id} AS {ido}, t.fid AS node,
           row_number() OVER (PARTITION BY i.{item_id}
                              ORDER BY list_dot_product(i.{vec}, t.fv) DESC,
                                       t.fid ASC) AS rn
    {src}) WHERE rn = 1
)"""


def _sem_oracle_sql() -> str:
    """Generate the DuckDB twin of semdedup_prune_list: the same
    constant-branching frozen quantizer tree, unrolled to
    SEM_UPPER_LEVELS static levels. Levels whose size formula repeats
    (LEAST(B^l, cap) stops growing at cap) degenerate to identity —
    every centroid is its own parent, so each vector's candidate set at
    that level is the singleton it already chose — which keeps one
    static SQL string correct at every scale factor."""
    B, L = SEM_BRANCH, SEM_UPPER_LEVELS
    u_cols = ", ".join(
        f"LEAST({B ** lvl}, cap) AS u{lvl}" for lvl in range(1, L + 1)
    )
    ctes = [
        "e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"""prm AS MATERIALIZED (
  SELECT k, GREATEST({B}, CAST(ceil(k / {B}.0) AS BIGINT)) AS cap
  FROM (SELECT GREATEST({SEM_MIN_CLUSTERS},
                 CAST(ceil(count(*) / {SEM_TARGET_CLUSTER}.0) AS BIGINT)) AS k
        FROM e)
)""",
        f"u AS MATERIALIZED (SELECT k, {u_cols} FROM prm)",
        f"""sd AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY (vec_id * {SEM_SEED_MULT}) % 4294967296,
                            vec_id) - 1 AS fid, v
  FROM e
  QUALIFY row_number() OVER (ORDER BY (vec_id * {SEM_SEED_MULT}) % 4294967296,
                             vec_id) <= (SELECT k FROM u)
)""",
        """f0 AS MATERIALIZED (
  SELECT fid,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y))))
           AS fv
  FROM sd
)""",
        "l1 AS MATERIALIZED (SELECT fid, fv FROM f0 WHERE fid < (SELECT u1 FROM u))",
    ]
    # upper levels 2..L: new centroids descend the tree built so far;
    # retained centroids parent themselves (protocol rule)
    for lvl in range(2, L + 1):
        ctes.append(
            f"n{lvl} AS MATERIALIZED (SELECT fid, fv FROM f0 "
            f"WHERE fid >= (SELECT u{lvl - 1} FROM u) "
            f"AND fid < (SELECT u{lvl} FROM u))"
        )
        prev = None
        for m in range(1, lvl):
            ctes.append(
                _sem_argmax_cte(
                    f"n{lvl}d{m}", f"n{lvl}", "fid", "fv", f"l{m}", prev
                )
            )
            prev = f"n{lvl}d{m}"
        ctes.append(
            f"""p{lvl} AS MATERIALIZED (
  SELECT fid, fid AS parent FROM f0 WHERE fid < (SELECT u{lvl - 1} FROM u)
  UNION ALL SELECT fid, node AS parent FROM n{lvl}d{lvl - 1}
)"""
        )
        ctes.append(
            f"l{lvl} AS MATERIALIZED (SELECT p.fid, p.parent, f0.fv "
            f"FROM p{lvl} p JOIN f0 USING (fid))"
        )
    # vector descent through the L upper levels
    prev = None
    for lvl in range(1, L + 1):
        ctes.append(
            _sem_argmax_cte(f"v{lvl}", "e", "vec_id", "v", f"l{lvl}", prev)
        )
        prev = f"v{lvl}"
    # leaf routing of the SEED fine centroids: tree members self-route,
    # the rest descend all L levels
    ctes.append(
        f"r0n AS MATERIALIZED (SELECT fid, fv FROM f0 WHERE fid >= (SELECT u{L} FROM u))"
    )
    prev = None
    for m in range(1, L + 1):
        ctes.append(
            _sem_argmax_cte(f"r0d{m}", "r0n", "fid", "fv", f"l{m}", prev)
        )
        prev = f"r0d{m}"
    ctes.append(
        f"""r0 AS MATERIALIZED (
  SELECT fid, fid AS parent FROM f0 WHERE fid < (SELECT u{L} FROM u)
  UNION ALL SELECT fid, node AS parent FROM r0d{L}
)"""
    )
    ctes.append(
        f"""a0 AS MATERIALIZED (
  SELECT vec_id, fid FROM (
    SELECT vv.vec_id, r.fid,
           row_number() OVER (PARTITION BY vv.vec_id
                              ORDER BY list_dot_product(e.v, f.fv) DESC,
                                       r.fid ASC) AS rn
    FROM v{L} vv
    JOIN e ON e.vec_id = vv.vec_id
    JOIN r0 r ON r.parent = vv.node
    JOIN f0 f ON f.fid = r.fid) WHERE rn = 1
)"""
    )
    # one Lloyd pass on the leaf centroids (empty cells keep their seed)
    ctes += [
        """dv AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS val FROM e
)""",
        """md AS MATERIALIZED (
  SELECT a.fid, dv.dim, avg(dv.val) AS m
  FROM dv JOIN a0 a USING (vec_id) GROUP BY 1, 2
)""",
        "mc AS MATERIALIZED (SELECT fid, list(m ORDER BY dim) AS c FROM md GROUP BY 1)",
        """mu AS MATERIALIZED (
  SELECT fid,
         list_transform(c, x -> x / sqrt(list_sum(list_transform(c, y -> y*y))))
           AS c
  FROM mc
)""",
        "f1 AS MATERIALIZED (SELECT f0.fid, COALESCE(mu.c, f0.fv) AS fv FROM f0 LEFT JOIN mu USING (fid))",
    ]
    # re-route ALL trained leaf centroids (they are new vectors) and
    # re-assign
    prev = None
    for m in range(1, L + 1):
        ctes.append(
            _sem_argmax_cte(f"r1d{m}", "f1", "fid", "fv", f"l{m}", prev)
        )
        prev = f"r1d{m}"
    ctes.append(
        f"""a1 AS MATERIALIZED (
  SELECT vec_id, fid FROM (
    SELECT vv.vec_id, r.fid,
           row_number() OVER (PARTITION BY vv.vec_id
                              ORDER BY list_dot_product(e.v, f.fv) DESC,
                                       r.fid ASC) AS rn
    FROM v{L} vv
    JOIN e ON e.vec_id = vv.vec_id
    JOIN r1d{L} r ON r.node = vv.node
    JOIN f1 f ON f.fid = r.fid) WHERE rn = 1
)"""
    )
    ctes += [
        "ev AS MATERIALIZED (SELECT a.vec_id, a.fid, e.v FROM a1 a JOIN e USING (vec_id))",
        f"""pairs AS MATERIALIZED (
  SELECT a.fid AS cluster, a.vec_id AS id_a, b.vec_id AS id_b,
         list_cosine_similarity(a.v, b.v) AS cos_ab
  FROM ev a JOIN ev b ON a.fid = b.fid AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= {SEM_TAU}
)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT CAST(cluster AS BIGINT) AS cluster,
       id_b AS pruned_vec_id, id_a AS keep_vec_id,
       ROUND(cos_ab, 6) AS cos_sim
FROM (
  SELECT *, row_number() OVER (PARTITION BY id_b ORDER BY cos_ab DESC, id_a) AS rn
  FROM pairs
) WHERE rn = 1
"""
    )


_SEMDEDUP_ORACLE = _sem_oracle_sql()


def _sem_tree_sizes(k: int) -> list[int]:
    """Strictly-increasing upper-level sizes — the same
    LEAST(B^l, GREATEST(B, ceil(k/B))) formula as the oracle's u CTE,
    with the identity (repeated-size) levels dropped: an identity level
    maps every centroid to itself, so each item's candidate set is the
    singleton it already chose and the level provably cannot change any
    assignment. The cap at ~k/B keeps the LEAF fan-out ~B, so a full
    descent costs ~B·log_B(k) dots per item."""
    import math

    cap = max(SEM_BRANCH, math.ceil(k / SEM_BRANCH))
    sizes: list[int] = []
    for lvl in range(1, SEM_UPPER_LEVELS + 1):
        u = min(SEM_BRANCH**lvl, cap)
        if not sizes or u > sizes[-1]:
            sizes.append(u)
    return sizes


def _unit(df: DataFrame, src: str, dst: str) -> DataFrame:
    """Normalize an array<double> column to unit L2 length — the exact
    expression twin of the oracle's list_transform(v, x -> x/sqrt(
    list_sum(...))): norm_expr's unrolled chain adds in the same
    left-to-right order as DuckDB's list_sum. HOF transform is
    interpreted per element, but this only ever runs over centroid
    tables (k rows), never the corpus."""
    from beametrics_spark.operators.dedup import norm_expr

    return (
        df.withColumn("_nrm", norm_expr(src))
        .withColumn(dst, F.transform(F.col(src), lambda x: x / F.col("_nrm")))
        .drop("_nrm", *([src] if src != dst else []))
    )


def _argmax_pick(scored: DataFrame, id_col: str) -> DataFrame:
    """(id, v, fid, _s) → one row per id: the fid maximizing (_s, -fid)
    — i.e. highest score, ties to the LOWEST fid — with the v payload
    carried through the aggregation buffer.

    Round 13: max_by aggregate instead of the r7
    row_number()-over-(partitionBy id, orderBy _s desc, fid asc)
    window. Identical selection — fid is unique within a level, so the
    (_s, -fid) struct ordering is strictly total and max_by can never
    face the tie ambiguity the window broke by sort order.

    Plan reality (pinned in tests/test_round13_ops.py): max_by is a
    DECLARATIVE aggregate whose buffer holds the (fid, v) struct — an
    array-bearing buffer is not a mutable UnsafeRow field, so Spark
    plans SortAggregate, NOT a hash aggregate (and ObjectHashAggregate
    only runs TypedImperative aggregates — max_by is not one, so no
    conf can change this). The win over the window is elsewhere and
    measured (sf1 dedicated min-of-4: 6.23 s → 5.35 s whole-query):
    (a) PARTIAL map-side max_by collapses each partition to one row
    per id BEFORE the exchange — the window shuffled the full n·B
    expansion, this shuffles ~n rows (B=8× fewer bytes, and the
    crossJoin emits same-id rows consecutively so the partial pass
    reduces early); (b) the residual sorts order by the single id key,
    not (id, _s desc, fid), and the row_number projection+filter pass
    is gone."""
    pick = scored.groupBy(id_col).agg(
        F.max_by(
            F.struct(F.col("fid"), F.col("v")),
            F.struct(F.col("_s"), (-F.col("fid")).alias("_nf")),
        ).alias("_p")
    )
    return pick.select(
        id_col, F.col("_p.v").alias("v"), F.col("_p.fid").alias("node")
    )


def _root_assign(items: DataFrame, id_col: str, roots: DataFrame) -> DataFrame:
    """items(id, v) × broadcast roots(fid, fv) → (id, v, node): argmax
    dot over ALL roots, ties to the lowest fid. Raw vectors against
    UNIT centroids: argmax dot(v, c/|c|) == argmax cos(v, c) for a
    fixed v. The v payload rides through the aggregation (its required
    distribution is the id) so no caller ever re-joins the corpus."""
    from beametrics_spark.operators.dedup import dot_expr

    return _argmax_pick(
        items.crossJoin(F.broadcast(roots)).withColumn(
            "_s", dot_expr("v", "fv")
        ),
        id_col,
    )


def _child_assign(items: DataFrame, id_col: str, lvl: DataFrame) -> DataFrame:
    """items(id, v, node) × broadcast lvl(fid, parent, fv) → argmax dot
    among the centroids whose parent is the item's current node — one
    tree-descent step; ties to the lowest fid; v payload carried."""
    from beametrics_spark.operators.dedup import dot_expr

    return _argmax_pick(
        items.alias("i")
        .join(F.broadcast(lvl.alias("t")), F.col("i.node") == F.col("t.parent"))
        .select(
            F.col(f"i.{id_col}").alias(id_col),
            F.col("i.v").alias("v"),
            F.col("t.fid").alias("fid"),
            dot_expr("v", "fv").alias("_s"),
        ),
        id_col,
    )


def _descend(items: DataFrame, id_col: str, levels: list[DataFrame]) -> DataFrame:
    """Full tree descent: root argmax then one _child_assign per deeper
    level — B·len(levels) dots per item instead of the flat quantizer's
    k."""
    cur = _root_assign(items, id_col, levels[0])
    for lvl in levels[1:]:
        cur = _child_assign(cur, id_col, lvl)
    return cur


def _sem_upper_tree(fine0: DataFrame, sizes: list[int]) -> list[DataFrame]:
    """Build the frozen upper tree from the unit seed prefixes:
    levels[0] = (fid, fv) roots; levels[i>0] = (fid, parent, fv) where
    retained centroids parent THEMSELVES (protocol rule — exact, no
    tie-dependence) and newly admitted centroids hierarchically descend
    the tree built so far (~B·i dots each, never |level| — flat
    adjacent-level routing would reintroduce a k²/B term at extreme
    corpus sizes). Each level is k-row scale and lazily persist()ed for
    its many consumers (deeper routing, vector descent, both leaf
    routings) — a cache, NOT an eager localCheckpoint: the r8 design
    ran one materialization JOB per level, and those barrier launches,
    not the k-row math, dominated the wall (VERDICT r8 #2). Now every
    level computes inside the single final action, once, into the
    cache."""
    from pyspark import StorageLevel

    levels = [fine0.filter(F.col("fid") < sizes[0]).select("fid", "fv")]
    for i, u in enumerate(sizes[1:], start=1):
        prev_u = sizes[i - 1]
        new = fine0.filter(
            (F.col("fid") >= prev_u) & (F.col("fid") < u)
        ).select(F.col("fid").alias("_cid"), F.col("fv").alias("v"))
        routed = _descend(new, "_cid", levels)
        parent = (
            fine0.filter(F.col("fid") < prev_u)
            .select("fid", F.col("fid").alias("parent"))
            .unionAll(
                routed.select(
                    F.col("_cid").alias("fid"), F.col("node").alias("parent")
                )
            )
        )
        levels.append(
            parent.join(fine0, "fid")
            .select("fid", "parent", "fv")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    return levels


def _leaf_route(
    fine0: DataFrame, leaf: DataFrame, levels: list[DataFrame], top: int, trained: bool
) -> DataFrame:
    """Route leaf centroids under the frozen upper tree → (fid, parent,
    fv). Seed leaves (trained=False) already inside the tree self-route
    (protocol rule); trained leaves are new vectors, so ALL descend."""
    if trained:
        routed = _descend(
            leaf.select(F.col("fid").alias("_cid"), F.col("fv").alias("v")),
            "_cid",
            levels,
        ).select(F.col("_cid").alias("fid"), F.col("node").alias("parent"))
    else:
        new = _descend(
            fine0.filter(F.col("fid") >= top).select(
                F.col("fid").alias("_cid"), F.col("fv").alias("v")
            ),
            "_cid",
            levels,
        ).select(F.col("_cid").alias("fid"), F.col("node").alias("parent"))
        routed = (
            fine0.filter(F.col("fid") < top)
            .select("fid", F.col("fid").alias("parent"))
            .unionAll(new)
        )
    return routed.join(leaf, "fid").select("fid", "parent", "fv")


def sem_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ASSIGNMENT stage of semdedup_prune_list in isolation —
    (vec_id, v, node=leaf fid) after seed pick, frozen-tree build, one
    Lloyd pass, re-route, re-assign. Exposed so the scaling probe can
    time the n·B·log_B(k) stage separately from the linear pair stage
    (VERDICT r7 #2's Done criterion is assignment-stage growth).

    Round-9 barrier cut (VERDICT r8 #2): every shared intermediate —
    seed table, tree levels, the vectors' upper-tree node, the trained
    leaves — is a lazy persist() instead of an eager localCheckpoint.
    The r8 shape launched ~5-8 materialization JOBS of k-row tables
    before the final query; now construction schedules nothing and the
    whole algorithm executes inside the one final action, with the
    caches (not barriers) stopping re-computation across the multiple
    consumers. Sequential data dependencies (tree → a0 → means → leaf1
    → a1) guarantee each cached piece is populated before its second
    consumer reads it."""
    import math

    from pyspark import StorageLevel

    raw = load_table(spark, sf_dir, "embeddings")
    emb = raw.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # count on the bare scan (no projection) folds to parquet row-group
    # metadata — no data read
    n = raw.count()
    k = max(SEM_MIN_CLUSTERS, math.ceil(n / SEM_TARGET_CLUSTER))
    sizes = _sem_tree_sizes(k)

    hk = (F.col("vec_id").cast("long") * SEM_SEED_MULT) % F.lit(4294967296)
    w_seed = Window.orderBy("hk", "vec_id")  # k rows post-limit: tiny
    seeds = (
        emb.withColumn("hk", hk)
        .orderBy("hk", "vec_id")  # TakeOrderedAndProject — never a global sort
        .limit(k)
        .withColumn("fid", F.row_number().over(w_seed) - 1)
        .select("fid", "v")
    )
    # k rows; consumed by every tree level, both leaf routings, and the
    # empty-cell fallback — the cache stops each consumer re-running
    # the corpus TakeOrdered seed scan.
    fine0 = _unit(seeds, "v", "fv").persist(StorageLevel.MEMORY_AND_DISK)
    levels = _sem_upper_tree(fine0, sizes)

    # Repartition BEFORE the n × B expansion (single parquet file would
    # pin the scoring to 1-2 input splits); hashing by vec_id also
    # pre-satisfies every descent window's distribution.
    # explicit count: an AQE-coalescable exchange would shrink back to a
    # few byte-sized partitions, starving the ×B scoring expansions
    embr = emb.repartition(
        spark.sparkContext.defaultParallelism, F.col("vec_id")
    )
    # (vec_id, v, node): the vector's node at the LAST upper level,
    # consumed by BOTH leaf assignments — the frozen tree makes it
    # iteration-invariant, so one cached compute (n narrow rows + the
    # vector; spills to local disk on a cluster) replaces two full
    # descents. a0 (via means → fine1 → leaf1) strictly precedes a1's
    # read, so the cache is always warm for the second consumer.
    vupper = _descend(embr.select("vec_id", "v"), "vec_id", levels).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    leaf0 = _leaf_route(fine0, fine0, levels, sizes[-1], trained=False)
    a0v = _child_assign(vupper, "vec_id", leaf0).select(
        "vec_id", "v", F.col("node").alias("fid")
    )

    # one Lloyd pass: elementwise means of assigned raw vectors — ONE
    # hash aggregate (avg(v[i]) per known dimension, whole-stage
    # codegen, k groups through a single exchange) instead of the
    # posexplode -> (fid, dim) agg -> (fid) agg chain, which exploded
    # n x 64 rows and paid two exchanges (same move as
    # ivf.train_ivf_centroids dim=). a0 carries the vector payload out
    # of the leaf descent, so no corpus re-join feeds the means.
    from beametrics_spark.operators.dedup import EMB_DIM

    mv = "array(" + ", ".join(f"avg(v[{i}])" for i in range(EMB_DIM)) + ")"
    means = a0v.groupBy("fid").agg(F.expr(mv).alias("mv"))
    fine1 = (
        fine0.join(_unit(means, "mv", "mu"), "fid", "left")
        .select("fid", F.coalesce("mu", "fv").alias("fv"))
        # k rows; 2 consumers (route + fallback join) share the cache
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    leaf1 = _leaf_route(fine0, fine1, levels, sizes[-1], trained=True)
    return _child_assign(vupper, "vec_id", leaf1)


@register("semdedup_prune_list", _SEMDEDUP_ORACLE)
def semdedup_prune_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., 2023) at fixed cluster SIZE: a trained
    constant-branching quantizer TREE assigns every vector to one of
    k = n/64 clusters, then cosine-near pairs are pruned WITHIN
    clusters only.

    Cost algebra (VERDICT r7 #2 — the r7 two-level quantizer left an
    n^1.5/4 assignment term; this round wires the constant-branching
    deeper tree the r7 docstring only documented):

      pair stage     sum_c |c|^2 ~ n * 64            -- LINEAR (unchanged)
      assignment     n * B * ceil(log_B(k))          -- B = 8 constant
                     = n * 8 * log8(n/64)            -- n log n
      centroid side  k * B * depth ~ k log k         -- hierarchical
                                                        routing, never k^2

    Upper-level sizes are LEAST(B^l, ceil(k/B)) seed prefixes — capping
    at ~k/B keeps the leaf fan-out ~B. Per-vector work: B roots + ~B
    candidates per deeper level + ~B leaf candidates. At sf1 (k=313)
    the tree is [8, 40] + 313 leaves ≈ 21 dots/vector vs the r7
    two-level design's 2·sqrt(313) ≈ 35; the gap compounds per decade
    (sf10: 30 vs 112, sf100: 39 vs 354 — the decade growth tends to
    10× as log8(10k)/log8(k) → 1, vs the fixed 31.6× of n^1.5).

    Training (mirrored rule-for-rule in the generated oracle —
    _sem_oracle_sql): k leaf seeds = smallest Knuth-hash vec_ids,
    unit-normalized; seed PREFIXES form the frozen upper tree (new
    centroids at each level hierarchically descend the tree built so
    far; retained ones parent themselves — a protocol rule, not a
    cos(c,c)=1 tie assumption); one Lloyd pass refines the leaf
    centroids (mean of assigned raw vectors, re-normalized; empty
    cells keep their seed); trained leaves re-route under the frozen
    tree and vectors re-assign. Vectors descend the upper tree ONCE —
    the frozen tree makes their upper path iteration-invariant, so one
    materialization serves both leaf assignments.

    Scale notes: centroid tables NEVER touch the driver (k ∝ n); they
    flow as broadcast DataFrames, lazily persist()ed per level (k-row
    scale). The only driver scalar is count() for k. Shuffles carry ids
    and 64-float arrays, never documents. The oracle unrolls
    SEM_UPPER_LEVELS=5 static levels whose repeated sizes degenerate to
    identity, so one SQL string is correct at every sf; the Spark plan
    skips identity levels (k is known at plan time) — provably the same
    assignment, since an identity level's candidate set is the
    singleton already chosen.

    Round-13 decomposition + floor record (VERDICT r12 #2). The
    CODE-ATTRIBUTABLE speedup is the same-protocol sf1 A/B: whole query
    9.33 s before → 8.26 s after (~1.13×, plans/r13/SF1_AB_r13.txt);
    the descent argmax cut (max_by partial aggregate instead of the
    per-level row_number window, _argmax_pick) measured 6.23 → 5.35 s
    standalone pre-restart. The oft-quoted sf0.1 9.38 → 3.56 s same-box
    ratio is PROTOCOL-INCLUSIVE (ADVICE r13): its "before" ran under
    the old no-per-query-GC driver loop, so it conflates the r13
    session-aging fix with the code change — read it as "what the old
    bench loop would have reported", not as the code speedup. Stage
    split (OPTIMIZATION_r13.md, cumulative noop probes, sf1):
    assignment ≈ 3.1 s, members collect_list ≈ +0.6 s, the
    within-cluster pair stage the remainder. Levers A/B'd and NOT
    shipped, with results: (a)
    spark.sql.objectHashAggregate.sortBased.fallbackThreshold — no
    effect (max_by is declarative, plans as SortAggregate regardless);
    (b) an explicit repartition(defaultParallelism, cluster) of the
    members table before the pair Generates — directionally positive in
    interleaved trials (10.6 vs 12.5 s mins) but within this host's
    throttling noise (same-plan trials swung 11-79 s in bad windows),
    and it is a small-scale-only artifact: at corpus scale the members
    exchange (k rows × ~32 KB) is large enough that AQE's advisory
    sizing already fans it out. Same-box sf1 ratio vs DuckDB: 2.96×
    (8.26 vs 2.79 s) on a VM whose Spark floors are 1.5-2.7× worse than
    the pre-restart box while DuckDB runs FASTER — declared the measured
    floor for this round; next lever recorded in OPTIMIZATION_r13.md
    ("Not yet optimized")."""
    from beametrics_spark.operators.dedup import dot_expr, norm_expr

    a1 = sem_assign(spark, sf_dir)


    # a1 carries the vector payload out of the descent — no corpus
    # re-join before the pair stage
    assigned = a1.select(
        "vec_id",
        F.col("node").alias("fid"),
        "v",
        norm_expr("v").alias("nv"),
    )
    # Per-cluster member lists + in-array upper triangle (not a
    # self-join, which would re-execute the whole assignment subtree on
    # both sides); member rows are ~64 * (64*8)B ~ 32 KB — the fixed
    # cluster size bounds them at ANY corpus size. Norms hoisted out of
    # the pair stage: one dot per pair instead of three folds.
    # r14 (VERDICT r13 #5): the member list is SORTED by vec_id
    # (array_sort on the struct compares the unique leading vec_id
    # only), so the upper triangle generates EXACTLY the |c|·(|c|-1)/2
    # ordered pairs — posexplode the anchor, slice the tail for its
    # candidates — where the r13 shape generated all |c|² rows and
    # filtered half away AFTER the second Generate copied both 512-byte
    # vectors into each row.
    members = assigned.groupBy(F.col("fid").alias("cluster")).agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "v", "nv"))).alias("ms")
    )
    dot = dot_expr("a.v", "b.v")
    pairs = (
        members.select(
            "cluster", F.posexplode("ms").alias("p", "a"), "ms"
        )
        .select(
            "cluster",
            "a",
            F.explode(
                F.slice(
                    "ms", F.col("p") + 2, F.size("ms") - F.col("p") - 1
                )
            ).alias("b"),
        )
        .select(
            "cluster",
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            (dot / (F.col("a.nv") * F.col("b.nv"))).alias("cos_ab"),
        )
        .filter(F.col("cos_ab") >= SEM_TAU)
    )
    # r14: the per-pruned-vector argmax runs as a (cluster, id_b)
    # max_by aggregate INSIDE the members partitioning — every id_b
    # lives in exactly one cluster, so grouping by (cluster, id_b)
    # picks the same row as the r13 row_number window over id_b, and
    # hashpartitioning(cluster) from the members exchange satisfies
    # the grouping (clustering by a key subset) — the window's extra
    # full exchange of the surviving pairs plus its
    # (id_b, cos DESC, id_a) sort are gone. Ordering (cos_ab, -id_a)
    # is the window's exact (cos DESC, id_a ASC) order; ties in
    # cos_ab are real (identical vectors), the id tiebreak is total.
    return (
        pairs.groupBy("cluster", "id_b")
        .agg(
            F.max_by(
                F.struct("id_a", "cos_ab"),
                F.struct(F.col("cos_ab"), (-F.col("id_a")).alias("_ni")),
            ).alias("_p")
        )
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            F.col("id_b").alias("pruned_vec_id"),
            F.col("_p.id_a").alias("keep_vec_id"),
            F.round("_p.cos_ab", 6).alias("cos_sim"),
        )
    )
