package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.Tables._

/** Graph analytics over the order graph (reference intent: karna-core's
  * declared "analytics engine" surface, /root/reference/README.md:2 — no
  * graph code exists in the skeleton; shape chosen to exercise Spark's
  * iterative keyed-shuffle pattern).
  *
  * The graph is the customer↔supplier bipartite graph induced by
  * orders ⋈ lineitem: node ids are disjoint by parity (customer k → 2k,
  * supplier k → 2k+1), edges are undirected (both directions emitted).
  *
  * 100 TB design: each PageRank iteration is ONE join (rank onto edges,
  * both sides hash-partitioned on the edge source) plus ONE keyed
  * aggregation (contribution sum on the edge target) — the canonical
  * Pregel-as-joins formulation. Nothing is ever collected to the driver;
  * the 3 fixed iterations share the edge list's and the degrees'
  * exchanges (PERF.md §19 C17).
  *
  * Cross-engine determinism: the whole iteration runs in FIXED-POINT
  * integer arithmetic — ranks are BIGINT micro-units (1.0 = 1e6), the
  * per-edge contribution is a truncating integer division, and damping
  * 0.85 is the exact rational 17/20 — so every intermediate is an exact
  * integer in both engines (a first cut that rounded doubles to a
  * 9-decimal grid each iteration flipped one sf0.1 value by 1 ulp:
  * engines snap doubles to decimal grids differently at .5 boundaries).
  * The only float op is the final exact CAST/1e6, which is the same
  * correctly-rounded IEEE division everywhere.
  */
object GraphOps {

  /** Undirected customer↔supplier trade edges (both directions emitted) —
    * shared by pagerank and the degree profile so the two metrics are
    * guaranteed to describe the same graph.
    */
  private[graft] def tradeEdges(s: SparkSession, d: String): DataFrame = {
    // round 17: the one-direction distinct edge list is the materialized
    // Derived.tradeEdges artifact (pagerank/degrees/bfs each re-derived
    // it per key), and BOTH directions now fan out IN-ROW from one scan —
    // the old e0.union(e0.reversed) duplicated the whole orders ⋈ lineitem
    // + distinct subtree inside every consumer plan (2 scans, 2 joins,
    // 2 dedup exchanges for one edge list). Same multiset of rows.
    Derived.tradeEdges(s, d)
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** One-direction distinct trade edges — the Derived.tradeEdges build.
    * Both endpoints NON-NULL: an edge needs two vertices, and NULL ids
    * would diverge downstream (Spark's left_anti keeps a NULL probe key,
    * DuckDB's NOT IN drops it — the graph_bfs frontier prune).
    */
  private[operators] def tradeEdgesBuild(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_custkey").isNotNull && col("l_suppkey").isNotNull)
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()

  private def pagerank(s: SparkSession, d: String): DataFrame = {
    val edges = tradeEdges(s, d)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val ed = edges.join(deg, "src")
    val nodes = customer(s, d).select((col("c_custkey") * 2).as("node"))
      .union(supplier(s, d).select((col("s_suppkey") * 2 + 1).as("node")))
    var ranks = nodes.withColumn("rank_u", lit(1000000L))
    for (_ <- 1 to 3) {
      val contrib = ed.join(ranks, ed("src") === ranks("node"))
        .select(ed("dst"), expr("rank_u DIV deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("cs"))
      // isolated nodes (no in-edges) keep the teleport mass 0.15
      ranks = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select(nodes("node"),
          (lit(150000L) + expr("(17 * coalesce(cs, 0)) DIV 20")).as("rank_u"))
    }
    ranks.select(col("node"),
        (col("rank_u").cast(DoubleType) / 1000000.0).as("rank"))
      .orderBy("node")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> ((s, d) => pagerank(s, d)),

    "graph_degrees" -> ((s, d) =>
      // degree distribution of the trade graph — the first thing you look
      // at before running anything iterative on 100 TB of edges (hub
      // detection: a heavy-tailed histogram says salt-or-cap before
      // joining on vertex keys). Two keyed partial aggs (vertex degree,
      // then degree histogram) — both map-side combinable, output rows
      // bounded by the number of DISTINCT degrees, never vertices.
      tradeEdges(s, d)
        .groupBy("src").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_vertices"))
        .orderBy("degree")),

    "graph_bfs" -> ((s, d) => {
      // multi-source BFS hop distance over the trade graph (3 fixed
      // rounds) — the reachability primitive behind "which suppliers are
      // within k trade hops of these flagged customers" contamination /
      // risk-propagation questions. Distributed shape: classic frontier
      // BFS as iterative joins — per round ONE equi-join (frontier ×
      // edges, both hash-partitioned on the edge source) plus ONE
      // left-anti join against the visited set (so a node is expanded
      // exactly once; without the prune the frontier re-expands every
      // node at every level and the work goes multiplicative in round
      // count). Each level is checkpointed (§19 B3, B4): the next round
      // and the final union both consume it, and lineage would otherwise
      // double per round. Visited state is (node, dist) — O(|V|), never edges.
      // Fixed round count ⇒ the oracle is the same search textually
      // unrolled (the pagerank discipline); min() over level unions is
      // belt-and-braces (levels are disjoint by construction).
      // The 3 rounds re-scan the edge list. Round 18 (checkpoint probe,
      // source in 22e7484, order-alternated ×4 at sf0.1) measured two
      // edge-prep variants against a localCheckpoint of the edges:
      // dropping the checkpoint is flat (medians 2.35 vs 2.34 s), so it is
      // gone, and the ccEdgeCache-style repartition(src).cache() is SLOWER
      // (2.66): at 3 rounds the saved per-round edge exchange does not pay
      // for the columnar cache re-reads (the cc win needed ~8 rounds over
      // a bigger edge set).
      val edges = tradeEdges(s, d)
      val srcs = customer(s, d)
        .filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") * 2).as("node"))
      var visited = srcs.withColumn("dist", lit(0L)).localCheckpoint(true) // §19 B3
      var frontier = visited
      for (k <- 1 to 3) {
        frontier = frontier.join(edges, frontier("node") === edges("src"))
          .select(edges("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .withColumn("dist", lit(k.toLong))
          .localCheckpoint(true) // §19 B4
        // round 17: the union is NOT checkpointed — every leg is already
        // a materialized checkpoint, so the union's lineage is a constant-
        // depth tree of LogicalRDDs; eagerly re-materializing it per level
        // was one extra copy-the-data job per round for nothing
        visited = visited.union(frontier)
      }
      visited.groupBy("node").agg(min(col("dist")).as("dist"))
        .orderBy("node")
    }),

    "graph_triangles" -> ((s, d) => {
      // per-vertex triangle counts over the minhash CANDIDATE graph — the
      // graph-health metric for dedup clusters: triangle-dense
      // neighborhoods are near-clique duplicate families (safe to collapse
      // to one canonical doc), while triangle-free stars are hub false
      // positives (one doc banding with many mutually-dissimilar docs —
      // collapse would over-delete). Edges are THE bandPairs candidate
      // definition (single-sourced with dedup_minhash/dedup_cluster).
      // Distributed shape: DEGREE-ORDERED wedge enumeration (the standard
      // hub-capping refinement — Cohen 2009 / Suri-Vassilvitskii 2011):
      // orient every edge from lower to higher (degree, id) in that total
      // order, then build wedges anchored at each edge pair's SHARED
      // LOW-ORDER endpoint and close them with the third oriented edge.
      // A vertex anchors at most its out-degree² wedges, and out-degrees
      // under degree-ordering are bounded by O(√|E|) — so a hub with
      // degree d stops anchoring d²/2 wedges (it only ever appears as the
      // high end). Total wedge count drops to Σ min-deg² ≤ O(|E|^1.5).
      // Each triangle has exactly one lowest-(deg,id) vertex → counted
      // exactly once; per-vertex counts are orientation-independent, so
      // the id-ordered oracle is unchanged. Two equi-join shuffles on
      // vertex keys, same as before.
      // §19 C18: kept, the degree branch and the e build share no exchange
      val e0 = Derived.bandPairs(s, d)
        .select("a", "b").distinct().localCheckpoint(true)
      val deg = e0.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("dg"))
      // field names aliased identically so both CASE branches carry the
      // same struct type
      val ka = struct(col("da").as("d"), col("a").as("i"))
      val kb = struct(col("db").as("d"), col("b").as("i"))
      val e = e0
        .join(deg.select(col("v").as("a"), col("dg").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("dg").as("db")), "b")
        .select(
          when(ka < kb, col("a")).otherwise(col("b")).as("src"),
          when(ka < kb, col("b")).otherwise(col("a")).as("dst"),
          when(ka < kb, kb).otherwise(ka).as("kdst"))
        .localCheckpoint(true) // §19 C19: kept, measured slower without it
      // e1.kdst < e2.kdst ⇒ the closing edge, if present, is oriented
      // exactly (e1.dst → e2.dst) — one membership probe, no direction
      // double-count
      val tri = e.as("e1")
        .join(e.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.kdst") < col("e2.kdst"))
        .join(e.as("e3"),
          col("e3.src") === col("e1.dst") && col("e3.dst") === col("e2.dst"))
        .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
      tri.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
        .orderBy("doc_id")
    }),

    "graph_components_hist" -> ((s, d) => {
      // component-SIZE histogram of the near-dup graph — the one-page
      // answer to "is dedup facing scattered pairs or a giant connected
      // blob?" (a single huge component means boilerplate is chaining
      // unrelated docs together and the minhash threshold needs raising;
      // the classic web-dedup failure mode). Reuses the capped band join
      // (TextOps.bandPairs) + hash-min label propagation
      // (connectedComponents — one keyed shuffle per round, eager
      // checkpoints); the histogram is two more partial aggs whose output
      // is bounded by |distinct sizes|, never vertices. Singleton docs
      // (no near-dup) are intentionally absent — the histogram reads
      // duplication STRUCTURE, not corpus size.
      // round 17: labels from the shared Derived.components artifact
      // (same propagation dedup_cluster/dedup_keep_best consume)
      Derived.components(s, d)
        .groupBy("label").agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("component_size"))
        .agg(count(lit(1)).as("n_components"))
        .orderBy("component_size")
    })
  )

  // one contribution CTE + one rank CTE per iteration — textually unrolled
  // (the oracle runs on DuckDB, which has no iterative CTE shorthand that
  // matches fixed-k semantics more directly)
  private def iterSql(i: Int, prev: String): String =
    s"""c$i AS (SELECT ed.dst, sum(r.rank_u // ed.deg) AS cs
                FROM ed JOIN $prev r ON r.node = ed.src GROUP BY 1),
        r$i AS (SELECT n.node, 150000 + (17 * coalesce(c.cs, 0)) // 20 AS rank_u
                FROM nodes n LEFT JOIN c$i c ON c.dst = n.node)"""

  val oracles: Map[String, String] = Map(
    "graph_degrees" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
                     FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                     WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
         edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY 1)
         SELECT degree, count(*) AS n_vertices FROM deg
         GROUP BY 1 ORDER BY degree NULLS FIRST""",
    "graph_pagerank" ->
      s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
                      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                      WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
          edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
          deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
          ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
          nodes AS (SELECT c_custkey * 2 AS node FROM customer
                    UNION ALL SELECT s_suppkey * 2 + 1 FROM supplier),
          r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_u FROM nodes),
          ${iterSql(1, "r0")},
          ${iterSql(2, "r1")},
          ${iterSql(3, "r2")}
          SELECT node, CAST(rank_u AS DOUBLE) / 1000000.0 AS rank
          FROM r3 ORDER BY node NULLS FIRST""",
    "graph_bfs" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
                     FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                     WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
         edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         d0 AS (SELECT c_custkey * 2 AS node, CAST(0 AS BIGINT) AS dist
                FROM customer WHERE c_custkey % 100 = 0),
         f1 AS (SELECT DISTINCT e.dst AS node, CAST(1 AS BIGINT) AS dist
                FROM d0 JOIN edges e ON e.src = d0.node
                WHERE e.dst NOT IN (SELECT node FROM d0)),
         v1 AS (SELECT * FROM d0 UNION ALL SELECT * FROM f1),
         f2 AS (SELECT DISTINCT e.dst AS node, CAST(2 AS BIGINT) AS dist
                FROM f1 JOIN edges e ON e.src = f1.node
                WHERE e.dst NOT IN (SELECT node FROM v1)),
         v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM f2),
         f3 AS (SELECT DISTINCT e.dst AS node, CAST(3 AS BIGINT) AS dist
                FROM f2 JOIN edges e ON e.src = f2.node
                WHERE e.dst NOT IN (SELECT node FROM v2)),
         v3 AS (SELECT * FROM v2 UNION ALL SELECT * FROM f3)
         SELECT node, CAST(min(dist) AS BIGINT) AS dist
         FROM v3 GROUP BY 1 ORDER BY node NULLS FIRST""",
    "graph_triangles" ->
      s"""WITH ${TextOps.mhBandCtes},
          pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                    FROM bands x JOIN bands y
                      ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
          tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                  FROM pairs e1
                  JOIN pairs e2 ON e2.a = e1.b
                  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b),
          verts AS (SELECT x AS doc_id FROM tri
                    UNION ALL SELECT y FROM tri
                    UNION ALL SELECT z FROM tri)
          SELECT doc_id, count(*) AS n_triangles
          FROM verts GROUP BY 1 ORDER BY doc_id NULLS FIRST""",
    "graph_components_hist" ->
      // same transitive closure as the dedup_cluster oracle, folded to a
      // size histogram
      s"""WITH RECURSIVE ${TextOps.mhBandCtes},
          pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                    FROM bands x JOIN bands y
                      ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
          edges AS (SELECT a AS s, b AS t FROM pairs
                    UNION SELECT b AS s, a AS t FROM pairs),
          reach AS (
            SELECT DISTINCT s AS v, s AS r FROM edges
            UNION
            SELECT q.v, e.t FROM reach q JOIN edges e ON e.s = q.r),
          comp AS (SELECT v AS doc_id, min(r) AS label FROM reach GROUP BY 1),
          csize AS (SELECT label, count(*) AS sz FROM comp GROUP BY 1)
          SELECT sz AS component_size, count(*) AS n_components
          FROM csize GROUP BY 1 ORDER BY component_size NULLS FIRST"""
  )
}
