package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the customer↔supplier trade graph derived from
  * `orders ⋈ lineitem` — the signal family a web-scale training-data
  * pipeline computes over its link graph (domain authority as a quality
  * prior, community structure for mixture balancing).
  *
  * Determinism: iterative PageRank is normally FP-order-sensitive, so
  * both gates run the ENTIRE recurrence in scaled-long integer
  * arithmetic (rank mass × 10^12, truncating integer division). Every
  * per-edge contribution and damped update is integer-valued, sums are
  * order-insensitive, and both engines produce bit-identical BIGINTs —
  * the gate hashes exact ranks, not a tolerance.
  *
  * Scale design (100 TB): the graph is built once (one distinct over the
  * fact-join), edges carry their source out-degree from a single
  * degree aggregation, and each iteration is ONE shuffle: the slim
  * (node, rank) frame joins the src-keyed edge list and re-aggregates by
  * dst. Nothing corpus-sized is broadcast; per-round lineage is cut by
  * Scratch-tracked checkpoints exactly like q_dedup_clusters' label
  * propagation (released after the gate materializes).
  */
object GraphQueries {

  /** Rank-mass fixed-point scale: 10^12 ≈ 12 decimal digits of rank. */
  private val SCALE = 1000000000000L

  /** Supplier node-id offset — keeps the two key spaces disjoint
    * (custkey/suppkey both start at 1). */
  private val SUPP = 1000000L

  /** Memoized doubled trade-edge list (customer↔supplier): PageRank and
    * label propagation iterate over the SAME graph, and the fact-join +
    * distinct that builds it dwarfs any single iteration — build it once
    * per (session, dir) and persist (SimilarityQueries.vecCache pattern;
    * persist keeps planner stats, eager count beats concurrent misses).
    * Src-keyed repartition pre-positions the rounds' join side. */
  private val edgeCache = new Memo[(SparkSession, String), DataFrame]

  /** Per-session cap on cached edge graphs (ADVICE r6): a long-lived
    * session sweeping many scale dirs would otherwise accumulate a
    * persisted doubled-edge graph per dir forever. 4 covers the
    * bench/verify harness's worst case (three sf dirs + slack); the
    * displaced entry is unpersisted immediately (its blocks are the cost;
    * the DataFrame handle stays valid and would lazily recompute). */
  private val EDGE_CACHE_MAX_PER_SESSION = 4

  private def tradeEdges(spark: SparkSession, dir: String): DataFrame =
    edgeCache((spark, dir)) {
      // the memo already holds this build's own key: count the others
      val sessionKeys =
        edgeCache.keys.filter(k => (k._1 eq spark) && k._2 != dir).toSeq
      if (sessionKeys.size >= EDGE_CACHE_MAX_PER_SESSION)
        // map iteration order is stable enough for "evict one"; exact
        // LRU is overkill for a cache whose hot set is one dir per run
        sessionKeys.headOption.foreach { k =>
          edgeCache.remove(k).foreach(_.unpersist(blocking = false))
        }
      val t = Tables(spark, dir)
      val trade = t.orders.select(col("o_orderkey"), col("o_custkey"))
        .join(t.lineitem.select(col("l_orderkey"), col("l_suppkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .distinct()
      val df = trade
        .select(col("c").as("src"), (col("s") + SUPP).as("dst"))
        .union(trade.select((col("s") + SUPP).as("src"), col("c").as("dst")))
        .repartition(16, col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }

  /** Scaled-long PageRank (d=0.85, 5 synchronous iterations) over a
    * doubled (undirected) edge list: r0 = S/N; r' = ((15·S/100)/N) +
    * (85·Σ_in(r/outdeg))/100, every division truncating-integer, so the
    * result is bit-exact across engines. Shared by the batch gate
    * (q_graph_pagerank) and the CDC-maintained variant
    * (q_stream_graph_cdc) — identical recurrence, different edge source.
    * Returns (node, r). */
  private def pageRankScaled(
      spark: SparkSession, edges0: DataFrame): DataFrame = {
    // one lazy materialization of the edge source: the degree agg, the
    // per-iteration table, and the node constants all derive from it —
    // without this, a computed edge source (q_graph_web_authority's
    // link extraction, q_stream_graph_cdc's snapshot read) re-evaluates
    // per derived tree (r15)
    val edges = Scratch.checkpointLazy(edges0)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // edges carry outdeg from here on: the per-iteration join touches
    // ONE prebuilt src-keyed table, checkpointed so 5 rounds share the
    // materialization instead of re-running the degree aggregation
    val ed = Scratch.checkpointLazy(edges.join(deg, "src"))
    val nodes = deg.select(col("src").as("node"))
    val nn = nodes.agg(count(lit(1)).as("n"))
    // per-node constants ((1-d)·S/N base, S/N seed) via the
    // broadcast-scalar idiom — the node count never hits the driver
    val nodesK = Scratch.checkpointLazy(nodes.crossJoin(broadcast(nn))
      .select(col("node"),
        expr(s"(($SCALE * 15) div 100) div n").as("b"),
        expr(s"$SCALE div n").as("r")))
    // the edge build above runs at session width; only the iteration
    // rounds — whose frames are node- and edge-sized, tiny next to the
    // corpus — shuffle narrow (q_dedup_clusters' pattern)
    GraftQuery.withShufflePartitions(spark, 16) {
      var r = nodesK.select(col("node"), col("r"))
      for (_ <- 1 to 5) {
        val acc = ed.join(r, col("node") === col("src"))
          .select(col("dst").as("node"), expr("r div outdeg").as("contrib"))
          .groupBy("node").agg(sum(col("contrib")).as("acc"))
        r = nodesK.join(acc, Seq("node"), "left")
          .select(col("node"),
            (col("b") + expr("(85 * coalesce(acc, CAST(0 AS BIGINT))) div 100"))
              .as("r"))
      }
      r
    }
  }

  /** The shared DuckDB mirror of [[pageRankScaled]]: the iterated CTE
    * chain from `deg` through `it5`, parameterized by an `edges` CTE the
    * caller prepends. */
  private def pageRankSql: String =
    s"""deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d USING (src)),
       |nodes AS (SELECT src AS node FROM deg),
       |k AS (SELECT (($SCALE * 15) // 100) // COUNT(*) AS b,
       |             $SCALE // COUNT(*) AS r0 FROM nodes),
       |it0 AS (SELECT node, r0 AS r FROM nodes CROSS JOIN k),
       |${(1 to 5).map { i =>
           s"""it$i AS (
              |  SELECT n.node, k.b + ((85 * COALESCE(a.acc, 0)) // 100) AS r
              |  FROM nodes n CROSS JOIN k
              |  LEFT JOIN (
              |    SELECT e.dst AS node, CAST(SUM(p.r // e.outdeg) AS BIGINT) AS acc
              |    FROM ed e JOIN it${i - 1} p ON p.node = e.src
              |    GROUP BY e.dst) a ON a.node = n.node)"""
         }.mkString(",\n")}""".stripMargin

  val all: Map[String, GraftQuery] = Map(

    // ---- PageRank (Brin & Page 1998), damping 0.85, 5 synchronous
    // iterations over the undirected (doubled-edge) trade graph, all in
    // scaled-long arithmetic: r0 = S/N; r' = ((15·S/100)/N) +
    // (85·Σ_in(r/outdeg))/100 with S = 10^12 and every division a
    // truncating integer div. Undirected doubling means no dangling
    // nodes, so no leaked-mass correction term is needed.
    "q_graph_pagerank" -> GraftQuery.sql(
      "PageRank(d=0.85, 5 iters) over the customer↔supplier trade graph, scaled-long exact",
      s"""WITH trade AS (
         |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
         |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
         |edges AS (
         |  SELECT c AS src, s + $SUPP AS dst FROM trade
         |  UNION ALL
         |  SELECT s + $SUPP AS src, c AS dst FROM trade),
         |$pageRankSql
         |SELECT node,
         |  CASE WHEN node >= $SUPP THEN 'supplier' ELSE 'customer' END AS kind,
         |  r AS pr_scaled
         |FROM it5""".stripMargin) { (spark, dir) =>
      pageRankScaled(spark, tradeEdges(spark, dir))
        .select(col("node"),
          when(col("node") >= SUPP, lit("supplier"))
            .otherwise(lit("customer")).as("kind"),
          col("r").as("pr_scaled"))
    },

    // ---- GRAPH MAINTENANCE UNDER CDC (the lakehouse pattern a 100 TB
    // link-graph pipeline actually runs): an edge change stream — each
    // event an UPSERT of edge (user_id % 30, 30 + event_id % 40), with
    // event_type='error' a DELETE — replays through micro-batches, a
    // foreachBatch MERGE maintains the persisted live-edge snapshot
    // (q_stream_cdc's last-writer-wins by (ts, event_id), replay-safe),
    // and the SAME scaled-long PageRank as q_graph_pagerank runs on the
    // maintained snapshot. The oracle rebuilds the final edge set from
    // the raw events in batch and applies the identical recurrence — so
    // a hash match PROVES streaming-maintained == batch-rebuilt, edge
    // set and ranks both. Node spaces are disjoint (src < 30 ≤ dst),
    // so the doubled graph has no self-loops. The snapshot is
    // SnapshotStore's (a,b)-hash-bucketed layout: merges read back and
    // dynamic-partition-overwrite ONLY the buckets the batch touches
    // (untouched bucket files byte-stable — SnapshotStoreSpec), so the
    // per-batch cost is the delta, not the edge table; the recompute is
    // the same one-join-per-iteration loop.
    "q_stream_graph_cdc" -> GraftQuery.sql(
      "CDC edge stream -> maintained snapshot -> PageRank == batch rebuild",
      s"""WITH ev AS (
         |  SELECT event_id, CAST(ts AS TIMESTAMP) AS tsx,
         |         user_id % 30 AS a, 30 + event_id % 40 AS b, event_type
         |  FROM events),
         |latest AS (
         |  SELECT a, b, event_type,
         |    row_number() OVER (PARTITION BY a, b
         |      ORDER BY tsx DESC, event_id DESC) AS rn
         |  FROM ev),
         |live AS (SELECT a, b FROM latest WHERE rn = 1 AND event_type <> 'error'),
         |edges AS (SELECT a AS src, b AS dst FROM live
         |          UNION ALL SELECT b AS src, a AS dst FROM live),
         |$pageRankSql
         |SELECT node,
         |  CASE WHEN node < 30 THEN 'user' ELSE 'item' END AS kind,
         |  r AS pr_scaled
         |FROM it5""".stripMargin) { (spark, dir) =>
      import graft.streaming.{SnapshotStore, Streams}
      val name = Streams.fresh("stream_graph_cdc", dir)
      val snap = s"${Streams.scratchRoot}/graph/$name/snap"
      Streams.drainStaged(spark,
          Tables(spark, dir).events
            .select(col("event_id"), col("ts"),
              (col("user_id") % 30).as("a"),
              (lit(30) + col("event_id") % 40).as("b"),
              col("event_type")),
          name, files = 4, filesPerTrigger = 2, partitions = 4) {
        (batch: DataFrame, _: Long) =>
          SnapshotStore.mergeLww(spark, snap,
            batch.select(col("event_id"), col("ts"),
              col("a"), col("b"), col("event_type")),
            keys = Seq("a", "b"),
            ordering = Seq(col("ts").desc, col("event_id").desc))
      }
      val live = SnapshotStore.read(spark, snap)
        .filter(col("event_type") =!= "error")
        .select(col("a"), col("b"))
      val edges = live.select(col("a").as("src"), col("b").as("dst"))
        .union(live.select(col("b").as("src"), col("a").as("dst")))
      pageRankScaled(spark, edges)
        .select(col("node"),
          when(col("node") < 30, lit("user")).otherwise(lit("item")).as("kind"),
          col("r").as("pr_scaled"))
    },

    // ---- WEB AUTHORITY end to end: raw page shells → href extraction →
    // URL canonicalization → target-id parse → directed PageRank — the
    // full crawl-to-authority pipeline composed from the engine's own
    // operators (TextQueries.linkEdges drives the ingestion; the
    // recurrence is the shared scaled-long pageRankScaled). The oracle
    // builds the SAME edge multiset in closed form ((7d+1)%500 and
    // (13d+2)%500 per doc — parallel links stay parallel edges) and
    // replays the identical integer recurrence, so a hash match proves
    // the whole chain: a broken extraction, canonicalization, or parse
    // surfaces as a rank mismatch. Every doc has out-degree 2 (no
    // dangling mass) and every target id also exists as a source, so
    // the directed recurrence needs no leak correction.
    "q_graph_web_authority" -> GraftQuery.sql(
      "link extraction -> canonical URLs -> directed PageRank (web authority)",
      s"""WITH edges AS (
         |  SELECT doc_id AS src, (doc_id * 7 + 1) % 500 AS dst FROM documents
         |  UNION ALL
         |  SELECT doc_id, (doc_id * 13 + 2) % 500 FROM documents),
         |$pageRankSql
         |SELECT node, r AS pr_scaled FROM it5""".stripMargin) { (spark, dir) =>
      pageRankScaled(spark, TextQueries.linkEdges(spark, dir))
        .select(col("node"), col("r").as("pr_scaled"))
    },

    // ---- triangle counting over the part co-order graph (parts adjacent
    // when some order contains both), by degree-ordered edge orientation
    // (Schank & Wagner 2005 / Suri & Vassilvitskii's MR adaptation):
    // orient every undirected edge from its lower-(degree, id) endpoint
    // to the higher, enumerate wedges only at each edge's SOURCE (whose
    // out-degree is O(√m) after orientation — the step that keeps a
    // hub's wedge count from exploding quadratically at 100 TB), and
    // close each wedge with an equi-join on the oriented third edge.
    // Every join is keyed (wedges on u, closure on (y, z)); nothing is
    // enumerated per-pair outside a vertex's oriented neighborhood.
    // Edges require ≥2 co-occurrence instances: single co-occurrence is
    // noise that makes the graph quadratically dense (1.2M edges at
    // sf0.1, 79 s), while the repeat-pair graph SATURATES (~2.5k/3.6k/
    // 3.9k edges at sf0.001/0.01/0.1) — the association-graph analogue
    // of a min-support threshold, and the difference between a graph
    // that survives 100 TB and one that doesn't. Output is each part's
    // triangle participation count — an integer, hashed exactly.
    "q_graph_triangles" -> GraftQuery.sql(
      "per-node triangle counts of the repeat-co-order part graph, oriented-wedge method",
      s"""WITH pe AS (
         |  SELECT l1.l_partkey AS a, l2.l_partkey AS b
         |  FROM lineitem l1 JOIN lineitem l2
         |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
         |  GROUP BY l1.l_partkey, l2.l_partkey HAVING COUNT(*) >= 2),
         |deg AS (
         |  SELECT node, COUNT(*) AS d FROM (
         |    SELECT a AS node FROM pe UNION ALL SELECT b FROM pe)
         |  GROUP BY node),
         |ornt AS (
         |  SELECT
         |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN a ELSE b END AS u,
         |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN b ELSE a END AS v,
         |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN db.d ELSE da.d END AS dv
         |  FROM pe JOIN deg da ON da.node = a JOIN deg db ON db.node = b),
         |tri AS (
         |  SELECT w.x, w.y, w.z FROM (
         |    SELECT e1.u AS x, e1.v AS y, e1.dv AS dy, e2.v AS z, e2.dv AS dz
         |    FROM ornt e1 JOIN ornt e2 ON e1.u = e2.u) w
         |  JOIN ornt c ON c.u = w.y AND c.v = w.z
         |  WHERE w.dy < w.dz OR (w.dy = w.dz AND w.y < w.z))
         |SELECT node, COUNT(*) AS tri_cnt FROM (
         |  SELECT x AS node FROM tri
         |  UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri)
         |GROUP BY node""".stripMargin) { (spark, dir) =>
      val li = Tables(spark, dir).lineitem
        .select(col("l_orderkey"), col("l_partkey"))
      val pe = Scratch.checkpointLazy(li.as("l1")
        .join(li.as("l2"),
          col("l1.l_orderkey") === col("l2.l_orderkey")
            && col("l1.l_partkey") < col("l2.l_partkey"))
        .groupBy(col("l1.l_partkey").as("a"), col("l2.l_partkey").as("b"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("a"), col("b")))
      val deg = pe.select(col("a").as("node"))
        .union(pe.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val lower = (col("da") < col("db")) ||
        (col("da") === col("db") && col("a") < col("b"))
      val ornt = Scratch.checkpointLazy(pe
        .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
        .select(
          when(lower, col("a")).otherwise(col("b")).as("u"),
          when(lower, col("b")).otherwise(col("a")).as("v"),
          when(lower, col("db")).otherwise(col("da")).as("dv")))
      // wedges at the oriented source, legs ordered by (deg, id) so the
      // closing edge can be fetched by ONE oriented equi-join
      val wedges = ornt.as("e1").join(ornt.as("e2"),
          col("e1.u") === col("e2.u"))
        .select(col("e1.u").as("x"),
          col("e1.v").as("y"), col("e1.dv").as("dy"),
          col("e2.v").as("z"), col("e2.dv").as("dz"))
        .filter(col("dy") < col("dz") ||
          (col("dy") === col("dz") && col("y") < col("z")))
      val tri = wedges.join(
        ornt.select(col("u").as("y"), col("v").as("z")), Seq("y", "z"))
      tri.select(col("x").as("node"))
        .union(tri.select(col("y").as("node")))
        .union(tri.select(col("z").as("node")))
        .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
    },

    // ---- community detection by synchronous label propagation (Raghavan
    // et al. 2007) over the same trade graph: 4 fixed synchronous rounds,
    // each node adopting its neighbors' most frequent label with ties
    // broken by the SMALLEST label — a total order, so the recurrence is
    // fully deterministic (classic LPA's random tie-break is replaced by
    // min-label, the standard determinization; fixed round count sidesteps
    // bipartite oscillation). Integer labels only — hashed exactly.
    // Scale: each round is one edge-sized equi-join (dst-keyed) + one
    // (src,lbl) count + one src-partitioned top-1 window; nothing is
    // broadcast, nothing corpus-sized iterates — the q_dedup_clusters /
    // q_graph_pagerank loop discipline.
    "q_graph_communities" -> GraftQuery.sql(
      "label-propagation communities (4 sync rounds, min-label ties) over the trade graph",
      s"""WITH trade AS (
         |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
         |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
         |edges AS (
         |  SELECT c AS src, s + $SUPP AS dst FROM trade
         |  UNION ALL
         |  SELECT s + $SUPP AS src, c AS dst FROM trade),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |it0 AS (SELECT node, node AS lbl FROM nodes),
         |${(1 to 4).map { i =>
             s"""it$i AS (
                |  SELECT node, lbl FROM (
                |    SELECT e.src AS node, p.lbl, COUNT(*) AS c,
                |           row_number() OVER (PARTITION BY e.src
                |             ORDER BY COUNT(*) DESC, p.lbl) AS rn
                |    FROM edges e JOIN it${i - 1} p ON p.node = e.dst
                |    GROUP BY e.src, p.lbl) x WHERE rn = 1)"""
           }.mkString(",\n")}
         |SELECT node,
         |  CASE WHEN node >= $SUPP THEN 'supplier' ELSE 'customer' END AS kind,
         |  lbl AS community
         |FROM it4""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val edges = tradeEdges(spark, dir)
      val nodes = edges.select(col("src").as("node")).distinct()
      GraftQuery.withShufflePartitions(spark, 16) {
        var lbl = nodes.select(col("node"), col("node").as("lbl"))
        for (_ <- 1 to 4) {
          val cnt = edges.join(lbl, col("node") === col("dst"))
            .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
          val top = Window.partitionBy(col("src"))
            .orderBy(col("c").desc, col("lbl").asc)
          lbl = cnt.withColumn("rn", row_number().over(top))
            .filter(col("rn") === 1)
            .select(col("src").as("node"), col("lbl"))
        }
        lbl.select(col("node"),
          when(col("node") >= SUPP, lit("supplier"))
            .otherwise(lit("customer")).as("kind"),
          col("lbl").as("community"))
      }
    }
  )
}
