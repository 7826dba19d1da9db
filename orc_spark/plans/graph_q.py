"""Graph analytics: deterministic fixed-point PageRank over the
customer–supplier interaction graph (who-buys-from-whom, derived from
orders ⋈ lineitem).

Complements the connected-components operator (operators/graph.py): CC
resolves near-dup clusters; PageRank ranks nodes by link structure — the
standard importance prior for crawl/corpus curation pipelines.

Determinism contract: ranks are BIGINT fixed-point (scale 1e9) and every
update is integer arithmetic — contribution = rank div outdeg, damping as
(85 · Σcontrib) div 100 — so partial-aggregation order cannot change a
single bit and the result hash-checks cross-engine. The oracle unrolls the
same four iterations as chained CTEs.

100 TB shape: per iteration one equi-join of the rank table with the
(src-partitioned) edge list plus one groupBy(dst) with map-side combine —
the textbook distributed PageRank step. Iteration count is fixed (4), so
lineage stays shallow; a production run would localCheckpoint every few
rounds exactly like operators/graph.py does for CC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orc_spark.plans import Query
from orc_spark.sources.tables import load_table, table_rowcount

PR_SCALE = 1_000_000_000  # fixed-point rank scale
PR_ITERS = 4
PR_BASE = 15 * PR_SCALE // 100  # (1 - d) · SCALE with d = 0.85


def _edges(spark: SparkSession, sf: str) -> DataFrame:
    """Undirected bipartite edge list: customer 2k ↔ supplier 2k+1.

    CHECKPOINTED here: gr_pagerank's distributed power iteration is the
    multi-consumer, and its local path's toPandas reads the same frame."""
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    cs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cust_node"),
            (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
        )
        .distinct()
    )
    fwd = cs.select(F.col("cust_node").alias("src"), F.col("supp_node").alias("dst"))
    rev = cs.select(F.col("supp_node").alias("src"), F.col("cust_node").alias("dst"))
    return fwd.unionByName(rev).localCheckpoint(eager=False)


# PageRank's own local-finish budget: the handoff is an Arrow toPandas of
# two int64 columns (16 B/edge, no Python row objects — unlike the generic
# GRAPH_LOCAL_FINISH_EDGES collect budgeted at ~100 B/edge), so 4M edges
# is a bounded ~64 MB driver transfer.
PR_LOCAL_FINISH_EDGES = 4_000_000


def local_pagerank(src, dst, iters: int, scale: int, base: int):
    """Exact driver-side fixed-point PageRank finish on int64 numpy edge
    arrays: the IDENTICAL integer recurrence as the distributed rounds
    (floor-div contributions, 85/100 integer damping) — bit-identical by
    construction, no float anywhere (contribution sums use sorted
    add.reduceat, not float bincount, so exactness never depends on the
    2^53 window). Pure function so known topologies unit-test the
    semantics directly; the monkeypatch equality test pins it against the
    distributed loop. int64 headroom: total rank mass stays
    ~|nodes|*scale <= 8e15 under the 4M-edge cap, x85 inside 2^63.
    Returns (nodes, ranks) int64 arrays."""
    import numpy as np

    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    if len(src) == 0:
        # empty graph → empty result (the segment layout below indexes
        # di_sorted[starts] with starts=[0], which would IndexError)
        return np.array([], dtype=np.int64), np.array([], dtype=np.int64)
    # the undirected union lists every endpoint as a src, so nodes :=
    # unique srcs covers every dst and outdeg >= 1 everywhere
    nodes = np.unique(src)
    si = np.searchsorted(nodes, src)
    di = np.searchsorted(nodes, dst)
    outdeg = np.bincount(si, minlength=len(nodes)).astype(np.int64)
    # segment layout for exact int64 contribution sums, computed once
    order = np.argsort(di, kind="stable")
    di_sorted = di[order]
    starts = np.flatnonzero(
        np.r_[True, di_sorted[1:] != di_sorted[:-1]]
    )
    seg_dst = di_sorted[starts]
    r = np.full(len(nodes), scale, dtype=np.int64)
    for _ in range(iters):
        c = r[si] // outdeg[si]
        s = np.zeros(len(nodes), dtype=np.int64)
        s[seg_dst] = np.add.reduceat(c[order], starts)
        r = base + 85 * s // 100
    return nodes, r


def gr_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-point integer PageRank over the customer-supplier bipartite
    graph, PR_ITERS damped iterations.

    100 TB shape: above PR_LOCAL_FINISH_EDGES, each iteration is one
    co-partitioned contribution join + one dst-sum groupBy + one node
    left-join — the textbook distributed power-iteration step with
    loop-invariant frames checkpointed once. Under the cap, ONE bounded
    Arrow handoff + the identical integer recurrence in numpy on the
    driver (tiny graphs stop paying the per-iteration AQE job floor;
    tests assert local == distributed)."""
    import pandas as pd

    # cap gate on a conservative METADATA-ONLY bound: |edges| = 2·|distinct
    # (cust,supp)| <= 2·|lineitem|, read from the parquet FOOTER (no Spark
    # job at plan build — the stats-only count() still cost an AQE job
    # round per build; r15).
    li_rows = table_rowcount(sf, "lineitem")
    if 2 * li_rows <= PR_LOCAL_FINISH_EDGES:
        epdf = _edges(spark, sf).toPandas()
        nodes_a, r_a = local_pagerank(
            epdf["src"].to_numpy(),
            epdf["dst"].to_numpy(),
            PR_ITERS,
            PR_SCALE,
            PR_BASE,
        )
        ranks = spark.createDataFrame(
            pd.DataFrame({"node": nodes_a, "r": r_a}),
            "node bigint, r bigint",
        )
    else:
        edges = _edges(spark, sf)  # builder already checkpoints
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        # every node has degree >= 1 by construction (nodes := edge endpoints)
        nodes = deg.select(F.col("src").alias("node")).localCheckpoint(
            eager=False
        )
        ranks = nodes.select("node", F.lit(PR_SCALE).cast("bigint").alias("r"))
        edged = edges.join(deg, "src").localCheckpoint(eager=False)
        for _ in range(PR_ITERS):
            contrib = (
                ranks.join(edged, ranks.node == edged.src)
                .select("dst", F.expr("r div outdeg").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("s"))
            )
            ranks = (
                nodes.join(contrib, nodes.node == contrib.dst, "left")
                .select(
                    "node",
                    (
                        F.lit(PR_BASE)
                        + F.expr("85 * coalesce(s, 0L) div 100")
                    ).cast("bigint").alias("r"),
                )
            )
    return ranks.select(
        "node",
        F.when(F.col("node") % 2 == 0, "cust").otherwise("supp").alias("entity"),
        F.expr("node div 2").alias("entity_key"),
        F.col("r").alias("rank_fp"),
    )


def _pagerank_sql() -> str:
    iters = []
    prev = "pr0"
    for i in range(1, PR_ITERS + 1):
        iters.append(f"""
pr{i} AS (
  SELECT n.node,
         CAST({PR_BASE} + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, CAST(sum(p.r // d.outdeg) AS BIGINT) AS s
    FROM {prev} p
    JOIN edges e ON p.node = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) c ON n.node = c.node
)""")
        prev = f"pr{i}"
    chain = ",".join(iters)
    return f"""
WITH cs AS (
  SELECT DISTINCT o_custkey * 2 AS cust_node, l_suppkey * 2 + 1 AS supp_node
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT cust_node AS src, supp_node AS dst FROM cs
  UNION ALL
  SELECT supp_node AS src, cust_node AS dst FROM cs
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT src AS node FROM deg),
pr0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS r FROM nodes),
{chain}
SELECT node,
       CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'supp' END AS entity,
       node // 2 AS entity_key,
       r AS rank_fp
FROM {prev}
"""


# --- triangle counting over a mutual-kNN similarity graph --------------------

TRI_K = 8  # neighbors kept per node before the mutuality filter

# The mutual-kNN edge construction, as a SQL CTE prefix — the ONE
# definition every graph oracle (triangles, k-core, BFS, link
# prediction, label propagation) builds on, so they provably run on
# the same graph.
_MUTUAL_EDGES_CTE = f"""
co AS (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v, CAST(count(*) AS BIGINT) AS w
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_suppkey < b.l_suppkey
  GROUP BY a.l_suppkey, b.l_suppkey
),
und AS (
  SELECT u, v, w FROM co UNION ALL SELECT v AS u, u AS v, w FROM co
),
ranked AS (
  SELECT u, v FROM (
    SELECT u, v,
           row_number() OVER (PARTITION BY u ORDER BY w DESC, v ASC) AS rn
    FROM und
  ) WHERE rn <= {TRI_K}
),
edges AS MATERIALIZED (
  SELECT r1.u AS ea, r1.v AS eb
  FROM ranked r1 JOIN ranked r2 ON r1.u = r2.v AND r1.v = r2.u
  WHERE r1.u < r1.v
),
sym AS MATERIALIZED (
  SELECT ea AS src, eb AS dst FROM edges
  UNION ALL SELECT eb AS src, ea AS dst FROM edges
)"""



def gr_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle participation counts over the supplier co-occurrence graph
    (suppliers appearing in the same order), sparsified to each node's
    mutual top-{K} strongest edges — the community/cohesion probe of graph
    analytics, and the degree-bounding construction that keeps triangle
    enumeration feasible at corpus scale.

    100 TB shape: raw co-occurrence pairs are bounded by Σ|order|² (order
    sizes are small and capped); the top-K window bounds every node's degree
    at K, so the oriented 3-way triangle join touches at most N·K² rows —
    no dense-graph blowup, no all-pairs. All counts are integers; ranking
    ties break on neighbor id, so the sparsified graph is deterministic and
    the whole result hash-checks cross-engine.

    The edge list is checkpointed by _mutual_knn_edges: it is consumed five
    times (three triangle legs, degree, and via tris the per-node explode);
    without truncation Catalyst inlines the whole pair-pipeline per
    consumer (40 scans / 45 exchanges observed)."""
    edges = _mutual_knn_edges(spark, sf)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tris = (
        e1.join(e2, F.col("e1.eb") == F.col("e2.ea"))
        .join(
            e3,
            (F.col("e3.ea") == F.col("e1.ea"))
            & (F.col("e3.eb") == F.col("e2.eb")),
        )
        .select(
            F.col("e1.ea").alias("n1"),
            F.col("e1.eb").alias("n2"),
            F.col("e2.eb").alias("n3"),
        )
    )
    per_node = (
        tris.select(F.explode(F.array("n1", "n2", "n3")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    deg = (
        edges.select(F.col("ea").alias("node"))
        .unionByName(edges.select(F.col("eb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            F.col("node").alias("s_suppkey"),
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("n_tri"),
        )
        .orderBy(F.col("n_tri").desc(), F.col("s_suppkey").asc())
        .limit(20)
    )


GR_TRIANGLES_SQL = f"""
WITH {_MUTUAL_EDGES_CTE},
tris AS (
  SELECT e1.ea AS n1, e1.eb AS n2, e2.eb AS n3
  FROM edges e1
  JOIN edges e2 ON e1.eb = e2.ea
  JOIN edges e3 ON e3.ea = e1.ea AND e3.eb = e2.eb
),
per_node AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_tri
  FROM (
    SELECT n1 AS node FROM tris
    UNION ALL SELECT n2 FROM tris
    UNION ALL SELECT n3 FROM tris
  ) GROUP BY node
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT ea AS node FROM edges UNION ALL SELECT eb FROM edges)
  GROUP BY node
)
SELECT d.node AS s_suppkey, d.degree,
       CAST(COALESCE(p.n_tri, 0) AS BIGINT) AS n_tri
FROM deg d LEFT JOIN per_node p ON d.node = p.node
ORDER BY n_tri DESC, s_suppkey ASC
LIMIT 20
"""


# --- k-core decomposition ----------------------------------------------------

KCORE_K = 4
# Spark peels to the exact fixpoint (driver-side convergence loop, like the
# CC operator); the oracle unrolls KCORE_ORACLE_ROUNDS materialized rounds —
# peeling a converged graph is a no-op, so the two agree whenever the data
# converges within the unroll (sf0.1 needs 5 rounds, sf0.01 needs 7; the
# envelope is documented like the AHRS ramp bound). KCORE_MAX_ROUNDS caps
# the Spark loop against pathological inputs.
KCORE_ORACLE_ROUNDS = 10
KCORE_MAX_ROUNDS = 16
# Bounded driver-finish handoff: once the monotonically-shrinking edge
# remnant fits this many (bigint, bigint) pairs, one collect finishes the
# peel exactly on the driver — distributed rounds keep running above it.
# Budgeted for PYTHON-OBJECT memory (tuple set + degree dicts ≈ ~100
# bytes/edge → low hundreds of MB at the cap), not raw bytes.
KCORE_LOCAL_FINISH_EDGES = 1_000_000


def _mutual_knn_edges(spark: SparkSession, sf: str) -> DataFrame:
    """The degree-bounded mutual top-K co-occurrence edges gr_triangles
    builds (one definition for all six graph queries), checkpointed: each
    consumer reads it more than once (gr_triangles' three-way self-join;
    the local-finish gate's count, then the collect)."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    # shuffle_hash, not broadcast: the fact side is LARGE on both sides of
    # this self-join — the session's 64 MB broadcast threshold would build
    # and ship a 600 k-row HashedRelation (measured 1.8 s vs 0.75 s at
    # sf0.1), and at 100 TB broadcasting lineitem is a non-starter; the two
    # identical shuffles on l_orderkey collapse to one via ReuseExchange
    a, b = li.alias("a"), li.hint("shuffle_hash").alias("b")
    # co is consumed by BOTH union branches below — checkpoint so the
    # self-join + groupBy run once, not once per branch
    co = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .groupBy(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint(eager=False)
    )
    und = co.unionByName(
        co.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    win = Window.partitionBy("u").orderBy(F.col("w").desc(), F.col("v").asc())
    ranked = (
        und.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= TRI_K)
        .select("u", "v")
    )
    # mutuality without a self-join: each direction contributes its
    # canonical (min,max) pair once (ranked is unique per (u,v)), so a pair
    # is mutual ⟺ its canonical form appears exactly twice — one shuffle on
    # the canonical key instead of a two-shuffle join on swapped keys
    return (
        ranked.groupBy(
            F.least("u", "v").alias("ea"), F.greatest("u", "v").alias("eb")
        )
        .agg(F.count(F.lit(1)).alias("n_dir"))
        .where(F.col("n_dir") == 2)
        .select("ea", "eb")
        .localCheckpoint(eager=False)
    )


def gr_kcore(spark: SparkSession, sf: str) -> DataFrame:
    """{K}-core decomposition of the mutual-kNN co-occurrence graph:
    iteratively peel nodes with degree < {K} — the dense-community
    extractor (spam rings, tight supplier cliques). EXACT k-core: peels
    until a round removes nothing.

    100 TB shape: DISTRIBUTED peels (one degree groupBy + two broadcast
    semi-joins, lineage-truncated per round like the CC operator's rounds)
    while the edge list is large; once the monotonically-shrinking remnant
    fits the hard KCORE_LOCAL_FINISH_EDGES bound, ONE bounded collect
    finishes the peel on the driver — the same bounded-handoff policy as
    the documented k-means sample. Edge count is the convergence
    monovariant: every node in the degree table has >=1 edge, so a peel
    removes a node iff it strictly removes edges. Tiny-data wall time stops
    paying the per-round AQE job floor (r04: 3.6 s → the edge build now
    dominates); at scale the distributed rounds engage unchanged."""
    edges = _mutual_knn_edges(spark, sf)
    prev_edges = None
    converged = False
    local_edges: list[tuple[int, int]] | None = None
    peels = 0
    while peels < KCORE_MAX_ROUNDS:
        # counting also materializes the round's pending checkpoint
        n = edges.count()
        if prev_edges is not None and n == prev_edges:
            converged = True
            peels -= 1  # the confirming round removed nothing
            break
        if n <= KCORE_LOCAL_FINISH_EDGES:
            # bounded driver handoff: ≤ KCORE_LOCAL_FINISH_EDGES pairs of
            # bigints (~hundreds of MB at the cap, by design driver-safe)
            local_edges = [(r.ea, r.eb) for r in edges.collect()]
            break
        prev_edges = n
        deg = (
            edges.select(F.col("ea").alias("node"))
            .unionByName(edges.select(F.col("eb").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        # keep has two semi-join consumers; joining the SAME frame through a
        # join condition (rather than two withColumnRenamed copies) keeps the
        # canonical subplan identical so ReuseExchange ships ONE broadcast
        # per round, not two. The pending checkpoint materializes once under
        # the next round's count (never unpersisted while pending — CLAUDE.md).
        keep = (
            deg.where(F.col("degree") >= KCORE_K)
            .select("node")
            .localCheckpoint(eager=False)
        )
        # AQE sees the materialized keep's true (tiny, shrinking) size from
        # the checkpoint and plans the semi-joins as broadcasts on its own;
        # forcing F.broadcast here measured no faster and would override the
        # planner where keep is genuinely large.
        edges = (
            edges.join(keep, edges["ea"] == keep["node"], "left_semi")
            .join(keep, F.col("eb") == keep["node"], "left_semi")
            .select("ea", "eb")
            .localCheckpoint(eager=False)
        )
        peels += 1
    if local_edges is not None:
        # exact local finish of the bounded remnant
        es = set(local_edges)
        while True:
            deg_map: dict[int, int] = {}
            for a, b in es:
                deg_map[a] = deg_map.get(a, 0) + 1
                deg_map[b] = deg_map.get(b, 0) + 1
            keep_set = {x for x, d in deg_map.items() if d >= KCORE_K}
            nes = {(a, b) for a, b in es if a in keep_set and b in keep_set}
            if nes == es:
                break
            es = nes
            peels += 1
        converged = True
        core = sorted(
            (x, d) for x, d in deg_map.items() if d >= KCORE_K
        )
    # Oracle-envelope guard (ADVICE r04): the DuckDB oracle unrolls exactly
    # KCORE_ORACLE_ROUNDS peels; data needing more would silently diverge,
    # and the oracle additionally needs one spare round for its own
    # converged flag. Fail LOUDLY here (like the AHRS ramp bound) instead
    # of returning an answer the oracle can't replay. `peels` counts
    # effective (edge-removing) rounds on both paths.
    if converged and peels > KCORE_ORACLE_ROUNDS - 1:
        raise RuntimeError(
            f"gr_kcore: fixpoint needed {peels} peels; oracle unrolls "
            f"only {KCORE_ORACLE_ROUNDS} — raise KCORE_ORACLE_ROUNDS"
        )
    if not converged:
        raise RuntimeError(
            f"gr_kcore: no fixpoint within KCORE_MAX_ROUNDS={KCORE_MAX_ROUNDS}"
        )
    if local_edges is not None:
        # The rows are ALREADY on the driver — sort them in Python (exact
        # integer keys, same (core_degree DESC, s_suppkey ASC) order) and
        # ship ONE slice. The r15 first cut fused the presentation sort as
        # .coalesce(1).sortWithinPartitions over createDataFrame(list),
        # which pays ~32 SEQUENTIAL Python-worker partition reads in the
        # single coalesced task (~5 s at sf0.1 — the CLAUDE.md
        # tiny-literal-frame pathology); a Spark-side sort of driver-local
        # rows was never needed at all.
        rows = sorted(core, key=lambda t: (-t[1], t[0]))
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1) if rows else [],
            "s_suppkey bigint, core_degree bigint",
        ).withColumn("converged", F.lit(True))
    final_deg = (
        edges.select(F.col("ea").alias("node"))
        .unionByName(edges.select(F.col("eb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .where(F.col("core_degree") >= KCORE_K)
    )
    return final_deg.select(
        F.col("node").alias("s_suppkey"),
        "core_degree",
        F.lit(converged).alias("converged"),
    ).orderBy(F.col("core_degree").desc(), F.col("s_suppkey").asc())


def _kcore_sql() -> str:
    rounds = []
    prev = "e0"
    last_nodes = None
    for i in range(1, KCORE_ORACLE_ROUNDS + 1):
        rounds.append(f"""
n{i} AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, CAST(count(*) AS BIGINT) AS degree
    FROM (SELECT ea AS node FROM {prev} UNION ALL SELECT eb FROM {prev})
    GROUP BY node
  ) WHERE degree >= {KCORE_K}
),
e{i} AS MATERIALIZED (
  SELECT ea, eb FROM {prev}
  WHERE ea IN (SELECT node FROM n{i}) AND eb IN (SELECT node FROM n{i})
)""")
        prev = f"e{i}"
        last_nodes = f"n{i}"
    chain = ",".join(rounds)
    r = KCORE_ORACLE_ROUNDS
    return f"""
WITH {_MUTUAL_EDGES_CTE},
e0 AS MATERIALIZED (SELECT ea, eb FROM edges),
{chain}
SELECT node AS s_suppkey, core_degree,
       (SELECT count(*) FROM n{r - 1}) = (SELECT count(*) FROM n{r})
         AS converged
FROM (
  SELECT node, CAST(count(*) AS BIGINT) AS core_degree
  FROM (SELECT ea AS node FROM e{r} UNION ALL SELECT eb FROM e{r})
  GROUP BY node
) WHERE core_degree >= {KCORE_K}
ORDER BY core_degree DESC, s_suppkey ASC
"""


# --- market-basket association rules -----------------------------------------

MB_MIN_SUPPORT = 3  # minimum co-occurrence count for a rule


def mb_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Association-rule mining over order baskets: for part pairs that
    co-occur in ≥{MIN_SUPPORT} orders, support, directional confidence
    P(b|a), and lift P(a,b)/(P(a)·P(b)) — the market-basket readout
    (tx_collocations' PMI on transactions instead of token streams).
    Top-20 by lift, ties on the pair. Counts are integers; confidence and
    lift are single float expressions of four integers.

    100 TB shape: pair generation is bounded by Σ|basket|² (basket sizes
    small and capped, same contract as gr_triangles); item and pair counts
    are combinable groupBys; the total-baskets anchor is a 1-row
    broadcast.

    Measured job floor at sf0.1 (r11 statusTracker decomposition): 7 job
    rounds = baskets checkpoint materialize + n_baskets anchor + item
    counts + pair counts (each one exchange over the shared checkpoint —
    three aggregations of DIFFERENT keys cannot fuse) + two broadcast
    builds for the item-count legs + final join/TakeOrdered. The
    checkpoint is what keeps it at 7: without it the basket groupBy would
    re-run once per consumer. Residual latency ≈ 7 × the ~0.15 s local[32]
    AQE job floor — amortizes at scale."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    # One row per basket (collect_set dedups in the same shuffle a distinct
    # would cost) — pair generation is then an in-row double explode, so no
    # self-join of the basket table is ever shuffled. Three consumers
    # (anchor, item counts, pair legs) — checkpoint so the groupBy runs once.
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
        .localCheckpoint(eager=False)
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    exploded = baskets.select(F.explode("parts").alias("l_partkey"))
    item = exploded.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    pairs = (
        baskets.select(
            F.explode("parts").alias("pa"), F.col("parts").alias("parts")
        )
        .select("pa", F.explode("parts").alias("pb"))
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= MB_MIN_SUPPORT)
    )
    lift = (
        F.col("c_ab").cast("double") * F.col("n_baskets").cast("double")
    ) / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
    return (
        pairs.join(
            item.select(F.col("l_partkey").alias("pa"), F.col("c").alias("c_a")),
            "pa",
        )
        .join(
            item.select(F.col("l_partkey").alias("pb"), F.col("c").alias("c_b")),
            "pb",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pa",
            "pb",
            "c_ab",
            "c_a",
            "c_b",
            F.round(
                F.col("c_ab").cast("double") / F.col("c_a").cast("double"), 6
            ).alias("conf_a_to_b"),
            F.round(lift, 6).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("pa").asc(), F.col("pb").asc())
        .limit(20)
    )


MB_RULES_SQL = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
      FROM baskets),
item AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM baskets
  GROUP BY l_partkey
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
         CAST(count(*) AS BIGINT) AS c_ab
  FROM baskets a JOIN baskets b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= {MB_MIN_SUPPORT}
)
SELECT pa, pb, c_ab, ia.c AS c_a, ib.c AS c_b,
       round(CAST(c_ab AS DOUBLE) / CAST(ia.c AS DOUBLE), 6) AS conf_a_to_b,
       round((CAST(c_ab AS DOUBLE) * CAST(n_baskets AS DOUBLE))
             / (CAST(ia.c AS DOUBLE) * CAST(ib.c AS DOUBLE)), 6) AS lift
FROM pairs
JOIN item ia ON pa = ia.l_partkey
JOIN item ib ON pb = ib.l_partkey, n
ORDER BY lift DESC, pa ASC, pb ASC
LIMIT 20
"""


# --- multi-source BFS ---------------------------------------------------------

BFS_HOPS = 4  # fixed unroll depth (exact distances up to this many hops)
BFS_INF = 999  # "unreached" sentinel, strictly larger than any real hop
BFS_SOURCE_MOD = 20  # sources = graph nodes with node % MOD == 0

# Bounded driver-finish cap shared by gr_bfs/gr_linkpred/gr_label_prop
# (same policy as gr_kcore/the CC operator): under this many edges ONE
# collect + exact local compute replaces the per-round distributed jobs;
# above it the distributed path runs unchanged (the 100 TB shape). The
# cap budgets PYTHON-OBJECT memory and single-threaded time, not raw
# bytes: the worst consumer is local_linkpred, whose wedge dict holds up
# to C(TRI_K,2) ≈ 28 entries per node — at 1M edges (≤2M nodes,
# degree-capped) that is low-GB worst case and sub-minute CPU; 4M edges
# would be several GB and minutes, exactly the regime the distributed
# path handles better.
GRAPH_LOCAL_FINISH_EDGES = 1_000_000


def _adj(edges: list[tuple[int, int]]) -> dict[int, list[int]]:
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    return adj


def local_bfs_hops(
    edges: list[tuple[int, int]], source_mod: int, max_hops: int
) -> list[tuple[int, int, int]]:
    """Exact driver-side BFS finish: (hop, n_nodes, xor member digest)
    rows, hop −1 = unreached within the horizon. Pure function so known
    topologies unit-test the semantics directly; the monkeypatch equality
    tests pin it against the distributed rounds."""
    from orc_spark.functions.hashing import h60_py

    adj = _adj(edges)
    hops = {n: 0 for n in adj if n % source_mod == 0}
    frontier = list(hops)
    for h in range(1, max_hops + 1):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in hops:
                    hops[v] = h
                    nxt.append(v)
        frontier = nxt
    groups: dict[int, list[int]] = {}
    for n in adj:
        g = groups.setdefault(hops.get(n, -1), [0, 0])
        g[0] += 1
        g[1] ^= h60_py(str(n))
    return sorted((hop, c, dig) for hop, (c, dig) in groups.items())


def local_lpa_communities(
    edges: list[tuple[int, int]], rounds: int
) -> list[tuple[int, int, int]]:
    """Exact driver-side synchronous label propagation: (community, size,
    xor member digest) rows, size-desc/label-asc order."""
    from orc_spark.functions.hashing import h60_py

    adj = _adj(edges)
    labels = {n: n for n in adj}
    for _ in range(rounds):
        nxt = {}
        for n, nbrs in adj.items():
            counts: dict[int, int] = {}
            for v in nbrs:
                lv = labels[v]
                counts[lv] = counts.get(lv, 0) + 1
            nxt[n] = min(counts, key=lambda lab: (-counts[lab], lab))
        labels = nxt
    comm: dict[int, list[int]] = {}
    for n, lab in labels.items():
        g = comm.setdefault(lab, [0, 0])
        g[0] += 1
        g[1] ^= h60_py(str(n))
    return sorted(
        ((lab, c, dig) for lab, (c, dig) in comm.items()),
        key=lambda r: (-r[1], r[0]),
    )


def local_linkpred(
    edges: list[tuple[int, int]], aa_scale: int, top: int
) -> list[tuple[int, int, int, int, int, float, int]]:
    """Exact driver-side link prediction: top candidates as
    (u, v, cn, deg_u, deg_v, jaccard, aa_fp) rows."""
    import math

    eset = set(edges)
    adjs: dict[int, set[int]] = {}
    for a, b in eset:
        adjs.setdefault(a, set()).add(b)
        adjs.setdefault(b, set()).add(a)
    deg = {n: len(s) for n, s in adjs.items()}
    aa = {
        n: math.floor(float(aa_scale) / math.log(float(d)))
        for n, d in deg.items()
        if d >= 2
    }
    cand: dict[tuple[int, int], list[int]] = {}
    for z, nbrs in adjs.items():
        if deg[z] < 2:
            continue
        ns = sorted(nbrs)
        t = aa[z]
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                e = cand.setdefault((ns[i], ns[j]), [0, 0])
                e[0] += 1
                e[1] += t
    rows = []
    for (u, v), (cn, aa_fp) in cand.items():
        if (u, v) in eset:
            continue
        du, dv = deg[u], deg[v]
        # exact ratios of small ints never land on a half-ulp decimal
        # boundary, so Python/Spark/DuckDB rounding agree
        jac = round(cn / float(du + dv - cn), 6)
        rows.append((u, v, cn, du, dv, jac, aa_fp))
    rows.sort(key=lambda r: (-r[2], -r[6], r[0], r[1]))
    return rows[:top]



def gr_bfs(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source BFS over the mutual-kNN co-occurrence graph: exact hop
    distance from the seed set (nodes ≡ 0 mod {BFS_SOURCE_MOD}) up to
    {BFS_HOPS} hops — the reachability primitive behind crawl-frontier
    expansion and seed-set influence radius. Emits one row per hop level
    (hop −1 = unreached within the horizon) with the node count and an
    order-independent membership digest.

    Determinism: distances are small integers (min-propagation of d+1), the
    digest is the xor of per-node 60-bit hashes — no float anywhere.

    100 TB shape: above GRAPH_LOCAL_FINISH_EDGES, {BFS_HOPS} unrolled
    rounds, each ONE equi-join of the distance table with the
    src-partitioned edge list + one min-groupBy on dst — the textbook
    distributed Bellman-Ford step with a fixed horizon (lineage stays
    shallow via per-round checkpoints). Under the cap, ONE bounded collect
    + exact frontier BFS on the driver (tiny graphs stop paying the
    per-round job floor; tests assert local == distributed)."""
    from orc_spark.functions.hashing import xor_digest

    edges_df = _mutual_knn_edges(spark, sf)
    if edges_df.count() <= GRAPH_LOCAL_FINISH_EDGES:
        rows = local_bfs_hops(
            [(r[0], r[1]) for r in edges_df.collect()],
            BFS_SOURCE_MOD,
            BFS_HOPS,
        )
        return spark.createDataFrame(
            rows, "hop int, n_nodes bigint, node_digest bigint"
        )
    sym = (
        edges_df.select(F.col("ea").alias("src"), F.col("eb").alias("dst"))
        .unionByName(
            edges_df.select(F.col("eb").alias("src"), F.col("ea").alias("dst"))
        )
        .localCheckpoint(eager=False)
    )
    dist = (
        sym.select("src").distinct()
        .select(
            F.col("src").alias("node"),
            F.when(F.col("src") % BFS_SOURCE_MOD == 0, F.lit(0))
            .otherwise(F.lit(BFS_INF))
            .alias("d"),
        )
    )
    # dist has TWO consumers per round (the neighbor-min join and the
    # merge) — checkpoint each round's node-sized frame so lineage doesn't
    # double per round (48 exchanges unchecked → 13; same pattern as the CC
    # operator's rounds; the node table is orders smaller than the edges)
    dist = dist.localCheckpoint(eager=False)
    for _ in range(BFS_HOPS):
        nbr = (
            sym.join(dist, sym.src == dist.node)
            .groupBy(F.col("dst").alias("node2"))
            .agg((F.min("d") + 1).alias("nd"))
        )
        dist = (
            dist.join(nbr, dist.node == nbr.node2, "left")
            .select(
                "node",
                F.least(
                    F.col("d"), F.coalesce(F.col("nd"), F.lit(BFS_INF))
                ).alias("d"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        dist.select(
            "node",
            F.when(F.col("d") >= BFS_INF, F.lit(-1))
            .otherwise(F.col("d"))
            .alias("hop"),
        )
        .groupBy("hop")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            xor_digest(F.col("node").cast("string")).alias("node_digest"),
        )
        .coalesce(1)
        .sortWithinPartitions("hop")
    )


def _bfs_sql() -> str:
    from orc_spark.functions.hashing import h60_sql

    rounds = []
    prev = "d0"
    for i in range(1, BFS_HOPS + 1):
        rounds.append(f"""
d{i} AS MATERIALIZED (
  SELECT p.node,
         least(p.d, coalesce(m.nd, {BFS_INF})) AS d
  FROM {prev} p LEFT JOIN (
    SELECT s.dst AS node, min(q.d) + 1 AS nd
    FROM sym s JOIN {prev} q ON q.node = s.src
    GROUP BY s.dst
  ) m ON m.node = p.node
)""")
        prev = f"d{i}"
    chain = ",".join(rounds)
    return f"""
WITH {_MUTUAL_EDGES_CTE},
d0 AS MATERIALIZED (
  SELECT node,
         CASE WHEN node % {BFS_SOURCE_MOD} = 0 THEN 0 ELSE {BFS_INF} END AS d
  FROM (SELECT DISTINCT src AS node FROM sym)
),
{chain}
SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes,
       bit_xor({h60_sql("CAST(node AS VARCHAR)")}) AS node_digest
FROM (
  SELECT node, CASE WHEN d >= {BFS_INF} THEN -1 ELSE d END AS hop
  FROM {prev}
)
GROUP BY hop
ORDER BY hop
"""


# --- label propagation communities --------------------------------------------

LP_ROUNDS = 3  # fixed synchronous rounds (deterministic unroll)


def gr_label_prop(spark: SparkSession, sf: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007), made DETERMINISTIC: labels start as node ids; each round
    every node adopts the most frequent label among its NEIGHBORS, ties
    broken by smallest label; {LP_ROUNDS} fixed rounds (the async/random
    variant converges further but is irreproducible — a fixed synchronous
    unroll is the form a pipeline can oracle and re-run). Emits one row
    per surviving community: size + member digest.

    Determinism: labels are node ids (integers); the per-round argmax is
    count-desc/label-asc — total order, no randomness, no floats.

    100 TB shape: above GRAPH_LOCAL_FINISH_EDGES each round is one
    edge-join + one (node, label) count + one argmax window — all
    partitioned on the node key; under the cap, ONE bounded collect runs
    the identical rounds in Python (tests assert equality)."""
    from orc_spark.functions.hashing import xor_digest

    edges_df = _mutual_knn_edges(spark, sf)
    if edges_df.count() <= GRAPH_LOCAL_FINISH_EDGES:
        rows = local_lpa_communities(
            [(r[0], r[1]) for r in edges_df.collect()], LP_ROUNDS
        )
        return spark.createDataFrame(
            rows, "community bigint, size bigint, member_digest bigint"
        )
    sym = (
        edges_df.select(F.col("ea").alias("src"), F.col("eb").alias("dst"))
        .unionByName(
            edges_df.select(F.col("eb").alias("src"), F.col("ea").alias("dst"))
        )
        .localCheckpoint(eager=False)
    )
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    ).localCheckpoint(eager=False)
    win = Window.partitionBy("node2").orderBy(
        F.col("c").desc(), F.col("lab").asc()
    )
    for _ in range(LP_ROUNDS):
        counts = (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst").alias("node2"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            counts.withColumn("rn", F.row_number().over(win))
            .where(F.col("rn") == 1)
            .select(F.col("node2").alias("node"), "lab")
            .localCheckpoint(eager=False)
        )
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("size"),
            xor_digest(F.col("node").cast("string")).alias("member_digest"),
        )
        .orderBy(F.col("size").desc(), F.col("community").asc())
    )


def _label_prop_sql() -> str:
    from orc_spark.functions.hashing import h60_sql

    rounds = []
    prev = "l0"
    for i in range(1, LP_ROUNDS + 1):
        rounds.append(f"""
l{i} AS MATERIALIZED (
  SELECT node, lab FROM (
    SELECT s.dst AS node, p.lab,
           row_number() OVER (
             PARTITION BY s.dst
             ORDER BY count(*) DESC, p.lab ASC) AS rn
    FROM sym s JOIN {prev} p ON p.node = s.src
    GROUP BY s.dst, p.lab
  ) WHERE rn = 1
)""")
        prev = f"l{i}"
    chain = ",".join(rounds)
    return f"""
WITH {_MUTUAL_EDGES_CTE},
l0 AS MATERIALIZED (
  SELECT node, node AS lab FROM (SELECT DISTINCT src AS node FROM sym)
),
{chain}
SELECT lab AS community, CAST(count(*) AS BIGINT) AS size,
       bit_xor({h60_sql("CAST(node AS VARCHAR)")}) AS member_digest
FROM {prev}
GROUP BY lab
ORDER BY size DESC, community ASC
"""


# --- link prediction ----------------------------------------------------------

LP_AA_SCALE = 1_000_000_000  # fixed-point scale for Adamic-Adar terms
LP_TOP = 20


def gr_linkpred(spark: SparkSession, sf: str) -> DataFrame:
    """Link prediction over the mutual-kNN graph: for every non-adjacent
    node pair sharing ≥1 neighbor, the three classic proximity scores —
    common-neighbor count, Jaccard overlap, and Adamic-Adar (neighbors
    weighted 1/ln(degree)) — top-{LP_TOP} candidate edges. The
    recommender/entity-resolution primitive ("suppliers likely to co-occur
    next").

    Determinism: cn/degrees are integers; the Adamic-Adar sum accumulates
    floor(1e9 / ln(deg)) per shared neighbor in BIGINT (each term is ONE
    correctly-rounded double division on identical inputs, floored — no
    float accumulation crosses engines); jaccard is a single final float
    expression.

    100 TB shape: wedge enumeration is a self-join of the src-partitioned
    edge list on the wedge center — degree is bounded by the top-{TRI_K}
    construction, so wedges per node ≤ C({TRI_K},2) and the whole plan is
    linear in edges: one shuffle on the center, one on the candidate pair,
    one broadcast-size anti-join against the (sparse) existing edges.
    Under GRAPH_LOCAL_FINISH_EDGES, ONE bounded collect + the identical
    wedge count in plain Python (degree ≤ {TRI_K} bounds driver work to
    C({TRI_K},2)·nodes; tests assert local == distributed — the AA term
    1e9/ln(deg) sees only the integers 2..{TRI_K}, where JVM, CPython and
    DuckDB libm agree bit-for-bit, proven by the distributed path's own
    parity row)."""
    edges_df = _mutual_knn_edges(spark, sf)
    if edges_df.count() <= GRAPH_LOCAL_FINISH_EDGES:
        rows = local_linkpred(
            [(r[0], r[1]) for r in edges_df.collect()], LP_AA_SCALE, LP_TOP
        )
        return spark.createDataFrame(
            rows,
            "u bigint, v bigint, cn bigint, deg_u bigint, deg_v bigint,"
            " jaccard double, aa_fp bigint",
        )
    edges = edges_df
    sym = (
        edges_df.select(F.col("ea").alias("src"), F.col("eb").alias("dst"))
        .unionByName(
            edges_df.select(F.col("eb").alias("src"), F.col("ea").alias("dst"))
        )
        .localCheckpoint(eager=False)
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    ).localCheckpoint(eager=False)
    # per-center Adamic-Adar term, fixed-point. Degree-1 centers cannot
    # form a wedge, but ANSI mode evaluates 1/ln(1)=1/0 BEFORE the wedge
    # join would drop them — filter them out first (both engines).
    centers = sym.join(
        deg, (sym.src == deg.node) & (deg.degree >= 2)
    ).select(
        F.col("src").alias("z"),
        F.col("dst").alias("nb"),
        F.expr(
            f"CAST(floor({LP_AA_SCALE} / ln(CAST(degree AS DOUBLE))) AS BIGINT)"
        ).alias("aa_term"),
    )
    w1, w2 = centers.alias("w1"), centers.alias("w2")
    cand = (
        w1.join(
            w2,
            (F.col("w1.z") == F.col("w2.z"))
            & (F.col("w1.nb") < F.col("w2.nb")),
        )
        .groupBy(
            F.col("w1.nb").alias("u"), F.col("w2.nb").alias("v")
        )
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum("w1.aa_term").alias("aa_fp"),
        )
    )
    non_edges = cand.join(
        edges,
        (cand.u == edges.ea) & (cand.v == edges.eb),
        "left_anti",
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("deg_v"))
    return (
        non_edges.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "cn",
            "deg_u",
            "deg_v",
            F.round(
                F.col("cn").cast("double")
                / (F.col("deg_u") + F.col("deg_v") - F.col("cn")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
            "aa_fp",
        )
        .orderBy(
            F.col("cn").desc(),
            F.col("aa_fp").desc(),
            F.col("u").asc(),
            F.col("v").asc(),
        )
        .limit(LP_TOP)
    )


GR_LINKPRED_SQL = f"""
WITH {_MUTUAL_EDGES_CTE},
deg AS MATERIALIZED (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
  FROM sym GROUP BY src
),
centers AS (
  SELECT s.src AS z, s.dst AS nb,
         CAST(floor({LP_AA_SCALE} / ln(CAST(d.degree AS DOUBLE)))
              AS BIGINT) AS aa_term
  FROM sym s JOIN deg d ON d.node = s.src AND d.degree >= 2
),
cand AS (
  SELECT w1.nb AS u, w2.nb AS v,
         CAST(count(*) AS BIGINT) AS cn,
         CAST(sum(w1.aa_term) AS BIGINT) AS aa_fp
  FROM centers w1 JOIN centers w2
    ON w1.z = w2.z AND w1.nb < w2.nb
  GROUP BY w1.nb, w2.nb
),
non_edges AS (
  SELECT c.* FROM cand c
  WHERE NOT EXISTS (
    SELECT 1 FROM edges e WHERE e.ea = c.u AND e.eb = c.v
  )
)
SELECT n.u AS u, n.v AS v, n.cn AS cn,
       du.degree AS deg_u, dv.degree AS deg_v,
       round(CAST(n.cn AS DOUBLE)
             / CAST(du.degree + dv.degree - n.cn AS DOUBLE), 6) AS jaccard,
       n.aa_fp AS aa_fp
FROM non_edges n
JOIN deg du ON du.node = n.u
JOIN deg dv ON dv.node = n.v
ORDER BY cn DESC, aa_fp DESC, u ASC, v ASC
LIMIT {LP_TOP}
"""


QUERIES = [
    Query("gr_pagerank", gr_pagerank, _pagerank_sql(), "fixed-point integer PageRank, 4 iterations, bit-exact cross-engine"),
    Query("gr_triangles", gr_triangles, GR_TRIANGLES_SQL, "triangle counts over a mutual-kNN co-occurrence graph, integer-exact"),
    Query("mb_rules", mb_rules, MB_RULES_SQL, "market-basket association rules: support/confidence/lift, top-20"),
    Query("gr_kcore", gr_kcore, _kcore_sql(), "k-core peeling of the mutual-kNN graph, unrolled rounds + convergence flag"),
    Query("gr_bfs", gr_bfs, _bfs_sql(), "multi-source BFS hop distances, 4 unrolled rounds, integer-exact"),
    Query("gr_linkpred", gr_linkpred, GR_LINKPRED_SQL, "link prediction: common-neighbor/Jaccard/Adamic-Adar top-20, fixed-point AA"),
    Query("gr_label_prop", gr_label_prop, _label_prop_sql(), "deterministic synchronous label-propagation communities, 3 unrolled rounds"),
]
