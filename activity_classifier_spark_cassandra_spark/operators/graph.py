"""Connected components: near-dup PAIRS → dedup CLUSTERS.

Every near-dup operator in operators/dedup.py emits pairs; a real
corpus clean needs the transitive closure (A~B, B~C ⇒ {A,B,C} is one
cluster with one survivor).  ``connected_components_star`` returns
(id, comp = min reachable vertex) by alternating large-star /
small-star (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14): each round rewrites the EDGE set, provably
converging in O(log² n) (O(log n) in practice) rounds on ANY graph,
including the adversarial long chains where plain label propagation
needs diameter rounds.  This is the 100 TB safety choice when the
similarity graph's shape is unknown.

Iterative Spark mechanics (the loop runs on ``iterate.RoundLoop``):
- an eager checkpoint per round — truncates lineage so the plan
  doesn't grow by one large-star + small-star pair per round (the
  classic iterative-algorithm OOM/stack blowup);
- convergence detected by an edge-set fingerprint OBSERVED on that
  same checkpoint job, never a second action or a frame compare.

The DuckDB oracle computes the same components with a recursive CTE —
exact reachability, so any propagation bug (dropped vertex, one-way
edge, premature stop) hash-mismatches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .dedup import q_simhash_near_dup
from .iterate import RoundLoop

MAX_ITER = 50


def _large_star(sym: DataFrame) -> DataFrame:
    """One large-star round over a SYMMETRIC edge frame: connect every
    strictly-larger neighbor of u to m(u) = min(N(u) ∪ {u})."""
    m = (
        sym.groupBy("a")
        .agg(F.min("b").alias("mb"))
        .select("a", F.least(F.col("a"), F.col("mb")).alias("m"))
    )
    return (
        sym.join(m, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient each edge at its larger endpoint,
    connect all smaller neighbors AND the endpoint itself to the min."""
    ori = e.select(
        F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
    ).where(F.col("u") != F.col("v"))
    m = ori.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        ori.join(m, "u")
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .unionByName(m.select(F.col("u").alias("a"), F.col("m").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    return out


def connected_components_star(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(vertex_id, component) with component = min vertex id reachable,
    by large-star/small-star alternation: O(log n)-ish rounds on ANY
    graph shape.

    ``edges`` is undirected input (each pair listed once, either
    order); vertices are exactly the ids appearing in edges.

    Convergence = the edge set stops changing; detected by a
    (count, order-insensitive xxhash64 fingerprint) pair observed on
    each round's checkpoint job."""
    fingerprint = {
        "n": F.count(F.lit(1)),
        "h": F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
    }
    with RoundLoop("connected_components_star", keep_last=True) as loop:
        e = loop.checkpoint(
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        prev = None
        for _ in loop.rounds(range(1, MAX_ITER + 1)):
            sym = e.unionByName(
                e.select(F.col("b").alias("a"), F.col("a").alias("b"))
            )
            e = loop.checkpoint(_small_star(_large_star(sym)), **fingerprint)
            cur = (loop.stats["n"], loop.stats["h"])
            if cur == prev:
                break
            prev = cur
    # fixpoint: e is a star forest (child -> root); roots appear only
    # on the b side (and point to themselves implicitly)
    roots = (
        e.select(F.col("b").alias("id"))
        .distinct()
        .join(e.select(F.col("a").alias("id")).distinct(), "id", "left_anti")
        .select("id", F.col("id").alias("comp"))
    )
    return e.select(
        F.col("a").alias("id"), F.col("b").alias("comp")
    ).unionByName(roots)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster the SimHash near-dup pairs and report each component's
    representative (min doc_id), size, and member list — the exact
    artifact a corpus-clean job feeds into its keep-one-per-cluster
    delete pass.

    Uses the large-star/small-star variant: measured at sf0.1 the
    SimHash graph needs 11 min-propagation rounds but only 5 star
    rounds (3.9s vs 8.4s warm) — the similarity graph has longer
    chains than the near-clique intuition suggests."""
    pairs = q_simhash_near_dup(spark, sf_dir).select("doc1", "doc2")
    comp = connected_components_star(pairs, src="doc1", dst="doc2")
    members = F.array_join(
        F.transform(
            F.sort_array(F.collect_list("id")), lambda x: x.cast("string")
        ),
        ",",
    )
    return comp.groupBy(F.col("comp").alias("representative")).agg(
        F.count(F.lit(1)).alias("cluster_size"),
        members.alias("members"),
    )


def dedup_clusters_sql() -> str:
    from .dedup import SIMHASH_NEAR_DUP_SQL

    pairs_sql = SIMHASH_NEAR_DUP_SQL.strip().rstrip(";")
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
sym AS (
  SELECT doc1 AS a, doc2 AS b FROM pairs
  UNION
  SELECT doc2, doc1 FROM pairs
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a
),
labels AS (
  SELECT a AS id, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a
)
SELECT comp AS representative, COUNT(*) AS cluster_size,
       STRING_AGG(id, ',' ORDER BY id) AS members
FROM labels GROUP BY comp
"""


# ------------------------------------------------ full-pipeline query
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole pre-training data pipeline as ONE lazy plan: quality
    gate → exact-dup removal (q_corpus_clean) → near-dup clustering
    (SimHash pairs → connected components) → drop every cluster member
    except its representative → per-language corpus summary.

    Composition is the point: each stage is an already-verified
    operator, and Catalyst fuses the whole chain — the quality
    projections prune before any shuffle, the near-dup side is the
    banded LSH join (never all-pairs), and the final anti-join carries
    only non-representative ids (≪ corpus)."""
    from .dedup import q_corpus_clean

    kept = q_corpus_clean(spark, sf_dir)
    pairs = q_simhash_near_dup(spark, sf_dir).select("doc1", "doc2")
    comp = connected_components_star(pairs, src="doc1", dst="doc2")
    non_rep = comp.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias("doc_id")
    )
    final = kept.join(non_rep, "doc_id", "left_anti")
    return final.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
    )


def corpus_pipeline_sql() -> str:
    from .dedup import CORPUS_CLEAN_SQL, SIMHASH_NEAR_DUP_SQL

    pairs_sql = SIMHASH_NEAR_DUP_SQL.strip().rstrip(";")
    kept_sql = CORPUS_CLEAN_SQL.strip().rstrip(";")
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
sym AS (
  SELECT doc1 AS a, doc2 AS b FROM pairs
  UNION
  SELECT doc2, doc1 FROM pairs
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a
),
labels AS (
  SELECT a AS id, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a
),
nonrep AS (SELECT id AS doc_id FROM labels WHERE id <> comp),
kept AS ({kept_sql})
SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources
FROM kept
WHERE doc_id NOT IN (SELECT doc_id FROM nonrep)
GROUP BY lang
"""


# --------------------------------------------------------- PageRank
#
# Fixed-point integer PageRank over the supplier↔customer trade graph
# (edges = who shipped to whom, from lineitem⋈orders), the weighted
# iterative-propagation complement to the connected components above.
# At corpus scale the same operator ranks hosts in a link graph for
# crawl prioritization / quality priors (the original use).
#
# All arithmetic is FIXED-POINT BIGINT (ranks in units of 1e-9):
# contribution = rank DIV out_degree, damping = (85·Σ) DIV 100 — both
# truncating integer ops that Spark and DuckDB evaluate identically,
# so three iterations of float-free PageRank hash-match an oracle that
# replays the recurrence as chained CTEs.  (Float PageRank could not
# be oracle-checked: parallel double sums are order-dependent and the
# JVM/libm exp-log paths diverge in the last ulp.)
#
# Scale notes: each iteration is one equi-join (edges ⋈ ranks on src,
# both sides hash-partitioned on the same key — a real deployment
# bucket-writes the edge table once so iterations shuffle only the
# rank frame) plus one map-side-combinable SUM groupBy on dst.  Rank
# mass is bounded by n_nodes·SCALE·85, ≪ 2^63 up to ~10^8 nodes; for
# a larger graph drop SCALE one decade.

PR_SCALE = 1_000_000_000  # 1e9 fixed-point units per unit of rank
PR_DAMPING_PCT = 85
PR_ITERS = 3


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric supplier↔customer edges with disjoint node ids
    (supplier → 2k, customer → 2k+1: the bipartite sides share key
    ranges in TPC-H)."""
    from ..sources.io import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    fwd = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("o_custkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def pagerank_fixed_point(
    edges: DataFrame, iters: int = PR_ITERS
) -> DataFrame:
    """(node, rank) after ``iters`` damped fixed-point iterations.

    rank'(v) = (15·SCALE) DIV 100 + (85·Σ_{u→v} rank(u) DIV deg(u)) DIV 100
    starting from rank = SCALE everywhere.

    Iterative mechanics (same discipline as connected_components_star):
    the degree-annotated edge frame is persisted pre-partitioned on
    the join key and the node frame is checkpointed — both are reused
    every round, and without this the whole edge derivation re-plans
    once per iteration per branch (29 joins for 3 iterations).  The
    rank frame itself is used ONCE per round, so short runs chain
    lazily (one job, no per-round barrier) and only every 8th round
    (and the last) truncates lineage — the barrier
    that keeps plan depth bounded on long runs without paying 3 eager
    materializations for a 3-iteration query."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    teleport = (100 - PR_DAMPING_PCT) * PR_SCALE // 100
    with RoundLoop("pagerank", keep_last=True) as loop:
        withdeg = loop.cache(
            edges.join(deg, "src").repartition("src"),
            StorageLevel.MEMORY_AND_DISK,
        )
        # node set = src ∪ dst, so sink-only vertices of a DIRECTED
        # input still get rank rows (teleport + inbound mass).  Their
        # own outgoing mass is simply dropped, not redistributed — the
        # standard simplification; symmetric inputs (trade_edges) have
        # no sinks and lose nothing.
        nodes = loop.pin(
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
        ranks = nodes.select(
            "node", F.lit(PR_SCALE).cast("long").alias("rank")
        )
        for i in loop.rounds(range(1, iters + 1)):
            contrib = (
                withdeg.join(ranks, withdeg.src == ranks.node)
                # exact integer floor division — `/` would go through a
                # double and can round up across the floor near exact
                # quotients, breaking bit-parity with the oracle's `//`
                .select("dst", F.expr("rank DIV od").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("s"))
            )
            ranks = nodes.join(
                contrib, nodes.node == contrib.dst, "left"
            ).select(
                "node",
                F.expr(
                    f"{teleport}L + ({PR_DAMPING_PCT} * coalesce(s, 0L))"
                    f" DIV 100"
                ).alias("rank"),
            )
            if i % 8 == 0 or i == iters:
                ranks = loop.checkpoint(ranks)
        # the loop frees the edge cache and the node set on exit, so
        # the returned ranks must be materialized even when no round
        # ran
        if iters == 0:
            ranks = loop.checkpoint(ranks)
    return ranks


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration fixed-point PageRank over the trade graph; top 50
    nodes by rank (ties broken by node id — total order)."""
    ranks = pagerank_fixed_point(trade_edges(spark, sf_dir))
    return ranks.orderBy(F.desc("rank"), "node").limit(50)


def _pr_iter_sql(prev: str, cur: str) -> str:
    teleport = (100 - PR_DAMPING_PCT) * PR_SCALE // 100
    return f"""
c_{cur} AS (
  SELECT e.dst AS node, SUM(r.rank // d.od) AS s
  FROM edges e
  JOIN {prev} r ON e.src = r.node
  JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
{cur} AS (
  SELECT n.node,
         {teleport} + ({PR_DAMPING_PCT} * COALESCE(c.s, 0)) // 100 AS rank
  FROM nodes n LEFT JOIN c_{cur} c ON n.node = c.node
)"""


def pagerank_sql() -> str:
    iters = ",".join(
        _pr_iter_sql(f"r{i}", f"r{i + 1}") for i in range(PR_ITERS)
    )
    return f"""
WITH e0 AS (
  SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
),
deg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS rank FROM nodes),
{iters}
SELECT node, CAST(rank AS BIGINT) AS rank FROM r{PR_ITERS}
ORDER BY rank DESC, node LIMIT 50
"""


PAGERANK_SQL = pagerank_sql()


# --------------------------------------------- triangle counting
#
# Per-vertex triangle counts over the MinHash-LSH candidate graph —
# the transitivity diagnostic for near-dup clusters (a clean dedup
# cluster is near-complete: its vertices close most wedges; a chain
# of borderline matches closes almost none).
#
# Algorithm: degree-ordered node-iterator (Schank & Wagner 2005; the
# MapReduce-standard shape).  Each undirected edge is oriented from
# the lower to the higher endpoint in the (degree, id) total order;
# wedges are generated only at each triangle's LOWEST-order corner
# and closed with one more join.  The orientation bounds out-degree
# by O(sqrt(m)), so wedge volume is O(m^1.5) worst case instead of
# Σ deg² — the difference between a hub exploding the join and not.
# Three thin joins, no iteration; every shuffle row is two ids.
#
# Reference analogue: none — north-star corpus-analysis scope.

def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_triangles) for every document in >=1 triangle of
    the est-Jaccard >= 0.25 MinHash candidate graph."""
    from .dedup import q_dedup_minhash

    pairs = q_dedup_minhash(spark, sf_dir).select("doc1", "doc2")
    pairs = pairs.persist()
    deg = (
        pairs.select(F.col("doc1").alias("v"))
        .unionByName(pairs.select(F.col("doc2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    d1 = deg.select(F.col("v").alias("doc1"), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("v").alias("doc2"), F.col("deg").alias("deg2"))
    lt = (F.col("deg1") < F.col("deg2")) | (
        (F.col("deg1") == F.col("deg2")) & (F.col("doc1") < F.col("doc2"))
    )
    oriented = (
        pairs.join(d1, "doc1")
        .join(d2, "doc2")
        .select(
            F.when(lt, F.col("doc1")).otherwise(F.col("doc2")).alias("src"),
            F.when(lt, F.col("doc2")).otherwise(F.col("doc1")).alias("dst"),
            F.when(lt, F.col("deg2")).otherwise(F.col("deg1")).alias("ddeg"),
        )
    )
    o1 = oriented.select(
        F.col("src").alias("a"),
        F.col("dst").alias("b"),
        F.col("ddeg").alias("bdeg"),
    )
    o2 = oriented.select(
        F.col("src").alias("a"),
        F.col("dst").alias("c"),
        F.col("ddeg").alias("cdeg"),
    )
    wedges = o1.join(o2, "a").filter(
        (F.col("bdeg") < F.col("cdeg"))
        | ((F.col("bdeg") == F.col("cdeg")) & (F.col("b") < F.col("c")))
    )
    closing = oriented.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    tri = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    corners = (
        tri.select(F.col("a").alias("doc_id"))
        .unionByName(tri.select(F.col("b").alias("doc_id")))
        .unionByName(tri.select(F.col("c").alias("doc_id")))
    )
    return corners.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def _triangle_count_sql() -> str:
    from .dedup import _DOC_SHINGLES_CTE, _MINHASH_DUCKDB, N_MINHASH

    return f"""
WITH {_DOC_SHINGLES_CTE},
mh AS (
  SELECT doc_id, {_MINHASH_DUCKDB} AS mh FROM doc_shingles
),
bands AS MATERIALIZED (
  SELECT doc_id, i - 1 AS band, mh[i] AS h
  FROM mh, UNNEST(range(1, {N_MINHASH} + 1)) AS t(i)
),
edges AS MATERIALIZED (
  SELECT doc1, doc2 FROM (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS n_match
    FROM bands a JOIN bands b ON a.band = b.band AND a.h = b.h
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) WHERE ROUND(n_match / {N_MINHASH}.0, 6) >= 0.25
),
deg AS MATERIALIZED (
  SELECT v, COUNT(*) AS deg FROM (
    SELECT doc1 AS v FROM edges UNION ALL SELECT doc2 AS v FROM edges
  ) GROUP BY v
),
o AS MATERIALIZED (
  SELECT CASE WHEN lt THEN doc1 ELSE doc2 END AS src,
         CASE WHEN lt THEN doc2 ELSE doc1 END AS dst,
         CASE WHEN lt THEN deg2 ELSE deg1 END AS ddeg
  FROM (
    SELECT e.doc1, e.doc2, a.deg AS deg1, b.deg AS deg2,
      (a.deg < b.deg OR (a.deg = b.deg AND e.doc1 < e.doc2)) AS lt
    FROM edges e JOIN deg a ON a.v = e.doc1 JOIN deg b ON b.v = e.doc2
  )
),
tri AS MATERIALIZED (
  SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
  FROM o o1
  JOIN o o2 ON o1.src = o2.src
   AND (o1.ddeg < o2.ddeg OR (o1.ddeg = o2.ddeg AND o1.dst < o2.dst))
  JOIN o o3 ON o3.src = o1.dst AND o3.dst = o2.dst
),
corners AS (
  SELECT a AS doc_id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT doc_id, COUNT(*) AS n_triangles FROM corners GROUP BY doc_id
"""


TRIANGLE_COUNT_SQL = _triangle_count_sql()
