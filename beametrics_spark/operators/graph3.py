"""Graph analytics, wave 3: synchronous label propagation communities
on the bidirectional customer↔supplier trade graph — the third
iterative distributed algorithm expressed purely as DataFrame
joins/aggregations (after PageRank, graph.py, and connected
components, curation.py). LPA finds denser trade communities than
components (which only need ANY path) and costs the same per round:
one join + one hash aggregate + one per-node argmax.

Determinism contract (same pattern as pagerank_customer_supplier):
FIXED iteration count, unrolled CTEs on the oracle side, and —
stronger here — the ENTIRE pipeline is integer arithmetic (edge
weights and weighted label tallies are longs), so there is no
floating-point anywhere to diverge; the argmax tiebreak is
(tally DESC, label ASC), total and engine-independent.

100 TB notes: edges live edge-partitioned and are localCheckpointed
once; each of the K iterations shuffles (node, label) tallies — map-
side combined, bounded by Σ_v distinct-neighbor-labels(v) ≤ |E| — and
the per-node argmax window partitions by dst with ≤ degree(v) rows
per node. Hub nodes concentrate their window partition; AQE skew
handling (enabled engine-wide) splits the preceding exchange, and the
window itself is a WindowGroupLimit top-1 after Spark's group-limit
pushdown, so only the running best row per node is retained. Lineage
is truncated per round with localCheckpoint so the plan never grows
with the iteration count.

The reference has no graph analytics (SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from beametrics_spark.registry import register
from beametrics_spark.sources import load_table

N_ITER = 3
TOP_N = 25


def _lpa_oracle() -> str:
    it = """
lp{n} AS (
  SELECT node, lab FROM (
    SELECT e.dst AS node, p.lab AS lab, sum(e.w) AS wsum,
           row_number() OVER (PARTITION BY e.dst
                              ORDER BY sum(e.w) DESC, p.lab ASC) AS rn
    FROM edges e JOIN lp{p} p ON p.node = e.src
    GROUP BY e.dst, p.lab
  ) WHERE rn = 1
)"""
    iters = ",".join(it.format(n=i, p=i - 1) for i in range(1, N_ITER + 1))
    return f"""
WITH raw AS (
  SELECT 'c:' || o.o_custkey AS c, 's:' || l.l_suppkey AS s, count(*) AS w
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
edges AS (
  SELECT c AS src, s AS dst, w FROM raw
  UNION ALL
  SELECT s AS src, c AS dst, w FROM raw
),
lp0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges),
{iters}
SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_nodes
FROM lp{N_ITER}
GROUP BY 1
ORDER BY n_nodes DESC, community ASC
LIMIT {TOP_N}
"""


@register("label_prop_communities", _lpa_oracle())
def label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP} trade communities by size after {IT} synchronous label-
    propagation rounds over the bidirectional customer↔supplier graph:
    every node starts as its own label; each round it adopts the label
    with the largest edge-weighted tally among its neighbors
    (tiebreak: smallest label). Communities emerge where trade is
    dense — a strictly finer structure than connected components.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    # r14 (§2.3 narrower shuffle keys): the |lineitem|-row aggregate
    # groups on the two INTEGER keys; node strings are built on the
    # |edges|-row result. Both directions come from ONE explode so the
    # base join+aggregate plans once (the union shape planned it per
    # direction).
    raw = (
        orders.join(lineitem, lineitem["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    c_enc = F.concat(F.lit("c:"), F.col("o_custkey"))
    s_enc = F.concat(F.lit("s:"), F.col("l_suppkey"))
    # r14 (VERDICT r13 #1, §2.4/§5): ONE keyed exchange for the whole
    # query — edges repartition("src") + persist() (a cached plan keeps
    # its outputPartitioning; localCheckpoint under AQE does not —
    # measured, OPTIMIZATION_r14.md), so every round's
    # join-on-src reads hashpartitioning(src) from the cache and only
    # the node-sized label table moves. The per-round eager
    # localCheckpoint barriers are gone (N_ITER is a fixed small
    # constant; the lazily-nested plan runs as ONE job), and the
    # per-round argmax is a min(struct(-wsum, lab)) aggregate — the
    # r13 semdedup move: map-side partials collapse to one row per
    # node BEFORE the exchange, where row_number shuffled every tally
    # and sorted (node, wsum DESC, lab). Selection is identical: min
    # over (-wsum, lab) is (max wsum, tie → min lab), the window's
    # exact order, and the struct comparison is total.
    edges = (
        raw.select(
            F.explode(
                F.array(
                    F.struct(c_enc.alias("src"), s_enc.alias("dst"), F.col("w")),
                    F.struct(s_enc.alias("src"), c_enc.alias("dst"), F.col("w")),
                )
            ).alias("e")
        )
        .select("e.*")
        .repartition("src")
        # pre-sort the cache by the join key: InMemoryTableScan
        # preserves outputOrdering, so a sort-merge round join never
        # re-sorts the edge side — whether the planner picks SMJ or
        # broadcast for the node-sized labels, the per-round cost over
        # the cache is a pipelined scan (one narrow sort once at build)
        .sortWithinPartitions("src")
        .persist()
    )
    # materialize the cache NOW (scalar count, never a row collect): a
    # plan built against an unexecuted cached AdaptiveSparkPlan sees
    # UNKNOWN partitioning and EnsureRequirements re-exchanges the edge
    # side of every round's join; after materialization every
    # downstream plan reads hashpartitioning(src) from the cache.
    edges.count()

    def argmax_round(tallies: DataFrame) -> DataFrame:
        return (
            tallies.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("wsum")).alias("_nw"), F.col("lab"))
                ).alias("_m")
            )
            .select("node", F.col("_m.lab").alias("lab"))
        )

    # Round 1 is an IDENTITY on the edge table: every node's initial
    # label is itself, so the round-1 tally for (dst, lab=src) is
    # exactly w(src, dst) — the aggregated edge rows are unique per
    # (src, dst) pair. The join with the all-nodes label table and the
    # (dst, lab) re-aggregate would reproduce the edge table verbatim,
    # so round 1 is just the argmax over edges read as tallies.
    labels = argmax_round(
        edges.select(
            F.col("dst").alias("node"),
            F.col("src").alias("lab"),
            F.col("w").alias("wsum"),
        )
    )
    for _ in range(1, N_ITER):
        labels = argmax_round(
            edges.join(labels, labels["node"] == edges["src"])
            .groupBy(F.col("dst").alias("node"), "lab")
            .agg(F.sum("w").alias("wsum"))
        )
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), F.asc("community"))
        .limit(TOP_N)
    )


label_prop_communities.__doc__ = label_prop_communities.__doc__.replace(
    "{TOP}", str(TOP_N)
).replace("{IT}", str(N_ITER))


KCORE_K = 30
KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    rounds = []
    prev = "s0"
    for i in range(1, KCORE_ROUNDS + 1):
        rounds.append(f"""
d{i} AS (
  SELECT e.src AS node, count(*) AS d
  FROM edges e
  JOIN {prev} a ON a.node = e.src
  JOIN {prev} b ON b.node = e.dst
  GROUP BY 1
),
s{i} AS (SELECT node FROM d{i} WHERE d >= {KCORE_K}),
rm{i} AS (
  SELECT {i} AS round,
         CASE WHEN p.node LIKE 'c:%' THEN 'c' ELSE 's' END AS side,
         count(*) AS n
  FROM {prev} p
  WHERE p.node NOT IN (SELECT node FROM s{i})
  GROUP BY 2
)""")
        prev = f"s{i}"
    unions = " UNION ALL ".join(
        f"SELECT * FROM rm{i}" for i in range(1, KCORE_ROUNDS + 1)
    )
    return f"""
WITH raw AS (
  SELECT DISTINCT 'c:' || o.o_custkey AS c, 's:' || l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM raw
  UNION ALL
  SELECT s AS src, c AS dst FROM raw
),
s0 AS (SELECT DISTINCT src AS node FROM edges),
{",".join(rounds)},
removals AS ({unions}),
core AS (
  SELECT {KCORE_ROUNDS + 1} AS round,
         CASE WHEN node LIKE 'c:%' THEN 'c' ELSE 's' END AS side,
         count(*) AS n
  FROM s{KCORE_ROUNDS} GROUP BY 2
),
scaffold AS (
  SELECT r.round, sd.side
  FROM (SELECT unnest(generate_series(1, {KCORE_ROUNDS + 1})) AS round) r
  CROSS JOIN (VALUES ('c'), ('s')) sd(side)
)
SELECT sc.round, sc.side,
       CAST(COALESCE(x.n, 0) AS BIGINT) AS n_nodes
FROM scaffold sc
LEFT JOIN (SELECT * FROM removals UNION ALL SELECT * FROM core) x
  ON x.round = sc.round AND x.side = sc.side
"""


@register("kcore_trade_graph", _kcore_oracle())
def kcore_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling (K={K}, {R} rounds) of the UNWEIGHTED
    customer↔supplier trade graph: each round removes every node whose
    degree within the surviving subgraph is < K, and the output charts
    the cascade — (round, side, nodes removed) for each round plus a
    final (round {RP}, side, core size) row pair; fixed 10-row shape
    with zero-rows scaffolded. k-core is the standard dense-subgraph /
    spam-ring primitive the degree filter alone misses (removing one
    wave lowers the next wave's degrees); bounded rounds keep the
    oracle unrollable, and the last round's removal counts being zero
    is the converged-fixpoint signal, visible in the output.

    Integer-only (degrees, counts). Per round: one hash aggregate over
    the surviving edge list + two semi-joins to shrink it — the same
    join+agg-per-iteration shape as PageRank/LPA, lineage cut per
    round. The edge list only ever SHRINKS, so at 100 TB the peel is
    monotonically cheaper per round.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    # r14 (§2.3 narrower shuffle keys): the |lineitem|-row distinct
    # groups the two INTEGER keys; node strings are built on the
    # |edges|-row result, and both directions come from ONE explode
    # (the union shape planned the base join+distinct per direction).
    raw = (
        orders.join(lineitem, lineitem["l_orderkey"] == orders["o_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    # The peel never outputs a node id — only 'c'/'s' SIDES — so nodes
    # stay LONGS end to end (customer c ↦ 2c, supplier s ↦ 2s+1,
    # disjoint by parity; side = parity). No "c:"/"s:" strings are
    # built anywhere: the cache, every semi-join and the degree
    # aggregate compare 8-byte longs.
    c_enc = F.col("o_custkey") * 2
    s_enc = F.col("l_suppkey") * 2 + 1
    # r14 (VERDICT r13 #1, §2.4/§3.1/§5): ONE keyed exchange for the
    # whole peel. The edge table is repartition("src") + persist()ed (a
    # cached plan keeps its outputPartitioning; the r13 localCheckpoint
    # under AQE came back with unknown partitioning and re-exchanged
    # the shrinking edge table inside every round's two survivor
    # joins). Because keep-sets only ever SHRINK (keep_i ⊆ keep_{i-1}),
    # round i's surviving subgraph is the ORIGINAL edge table
    # semi-joined with the LATEST keep set on both endpoints — so each
    # round is: scan the cache (partitioned by src), two broadcast
    # semi-joins against the round's keep set, and one
    # exchange-free degree aggregate. No shrunken edge copy is ever
    # re-materialized or re-shuffled. The keep sets are node-level
    # metadata (the §8 "decide with small rows" proxy — KB-to-MB per
    # round here); at corpus scale where a keep list outgrows
    # broadcast, drop the hint and the planner falls back to a
    # shuffled semi-join on the same cached partitioning for the src
    # side.
    edges = (
        raw.select(
            F.explode(
                F.array(
                    F.struct(c_enc.alias("src"), s_enc.alias("dst")),
                    F.struct(s_enc.alias("src"), c_enc.alias("dst")),
                )
            ).alias("e")
        )
        .select("e.*")
        .repartition("src")
        .persist()
    )
    # materialize the cache NOW so every round's degree aggregate and
    # semi-join is planned against the known hashpartitioning(src)
    # (same note as label_prop_communities above).
    edges.count()
    side = lambda col: F.when(
        F.col(col) % 2 == 0, F.lit("c")
    ).otherwise(F.lit("s"))

    # removals are computed over explicit SURVIVOR NODE SETS, not the
    # degree table: a node whose last edge disappears has no degree row
    # at all, and only the set difference s_prev \ s_next counts it
    removals = []
    survivors = edges.select(F.col("src").alias("node")).distinct()
    keep = None
    for i in range(1, KCORE_ROUNDS + 1):
        cur = edges
        if keep is not None:
            cur = cur.join(
                F.broadcast(keep.withColumnRenamed("node", "src")),
                "src",
                "semi",
            ).join(
                F.broadcast(keep.withColumnRenamed("node", "dst")),
                "dst",
                "semi",
            )
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        # each keep set is consumed by three later subtrees (this
        # round's removal count, the next round's two semi-joins, the
        # next removal's survivor side) — materialize the tiny table
        # once; each checkpoint job is an exchange-free cache scan
        keep = (
            deg.filter(F.col("d") >= KCORE_K)
            .select(F.col("src").alias("node"))
            .localCheckpoint(eager=True)
        )
        removed = (
            survivors.join(keep, "node", "left_anti")
            .groupBy(side("node").alias("side"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(i).alias("round"), "side", "n")
        )
        removals.append(removed)
        survivors = keep
    core = (
        survivors.groupBy(side("node").alias("side"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(KCORE_ROUNDS + 1).alias("round"), "side", "n")
    )
    x = removals[0]
    for r in removals[1:]:
        x = x.unionAll(r)
    x = x.unionAll(core)
    scaffold = spark.createDataFrame(
        [(r, sd) for r in range(1, KCORE_ROUNDS + 2) for sd in ("c", "s")],
        "round int, side string",
    )
    return scaffold.join(x, ["round", "side"], "left").select(
        "round", "side", F.coalesce("n", F.lit(0)).alias("n_nodes")
    )


kcore_trade_graph.__doc__ = (
    kcore_trade_graph.__doc__.replace("{K}", str(KCORE_K))
    .replace("{R}", str(KCORE_ROUNDS))
    .replace("{RP}", str(KCORE_ROUNDS + 1))
)
